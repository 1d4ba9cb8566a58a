"""Per-layer metrics of a traced run, from spans and the reduced event log.

Per-chunk values are medians over the steady cycles; query values are
medians per execution.  Layers a workload leaves idle read 0.
"""

from __future__ import annotations

from .common import median
from .replicate import STEP_METRICS

PER_LAYER = {
    # pipeline.store / pipeline.upload / pipeline.promote (stage + 7 steps)
    "store.s": "s",
    "store.jobs": "count",
    "upload.s": "s",
    "stage.s": "s",
    "stage.jobs": "count",
    "promote.s": "s",
    "promote.jobs": "count",
    "promote.tasks": "count",
    "promote.driver_s": "s",
    "promote.executor_cpu_s": "s",
    "promote.failed_tasks": "count",
    **{m: "s" for m in STEP_METRICS.values()},
    "promote.public_snapshot_jobs": "count",
    "promote.public_snapshot_failed_tasks": "count",
    "catchup.promote_s": "s",
    "catchup.promote_jobs": "count",
    "catchup.rows_per_s": "rows/s",
    "replicate.rows_per_s": "rows/s",
    # ledger
    "ledger.calls_per_chunk": "count",
    "ledger.commits_per_chunk": "count",
    "ledger.s": "s",
    # io.table
    "io_table.commits_per_chunk": "count",
    "io_table.s": "s",
    "io_table.data_files": "count",
    "write_bytes_per_input_byte": "ratio",
    "stored_bytes_per_input_byte": "ratio",
    # driver_queries / llm_queries: plan build and eager driver-side jobs
    "query.build_s": "s",
    "query.build_jobs": "count",
    "query.driver_s": "s",
    # ops.* / llm.* execution
    "query.execute_s": "s",
    "query.jobs": "count",
    "query.tasks": "count",
    "query.executor_cpu_s": "s",
    "query.gc_s": "s",
    "query.shuffle_bytes": "bytes",
    "query.spill_bytes": "bytes",
    "query.failed_tasks": "count",
    "query.tail_s": "s",
    # session: peak resident memory of the benchmark process plus its
    # Spark JVM, read before the correctness gate
    "session.peak_rss_mb": "MB",
    # the same run's end-to-end figure: tracing overhead is its
    # difference from a plain run of the same seed
    "traced.op_p50_s": "s",
}


class _Tree:
    def __init__(self, spans: list[dict]) -> None:
        self.by_id = {s["id"]: s for s in spans}
        self.kids: dict[int, list[int]] = {s["id"]: [] for s in spans}
        for s in spans:
            if s["parent"] is not None:
                self.kids[s["parent"]].append(s["id"])

    def child(self, sid: int, name: str):
        for k in self.kids[sid]:
            if self.by_id[k]["name"] == name:
                return k
        return None

    def subtree(self, sid: int):
        stack = list(self.kids[sid])
        while stack:
            k = stack.pop()
            yield self.by_id[k]
            stack.extend(self.kids[k])

    def has_ancestor(self, s: dict, name: str, stop: int) -> bool:
        p = s["parent"]
        while p is not None and p != stop:
            if self.by_id[p]["name"] == name:
                return True
            p = self.by_id[p]["parent"]
        return False


def replicate_layers(spans: list[dict], red: dict[int, dict], res: dict) -> dict:
    tree = _Tree(spans)
    per: dict[str, list[float]] = {}

    def add(k, v):
        per.setdefault(k, []).append(v)

    for c in res["cycles"]:
        steps = c["steps"]
        for stage, metric in STEP_METRICS.items():
            add(metric, steps.get(stage, 0.0))
    for s in spans:
        if s["name"] != "cycle":
            continue
        cid = s["id"]
        store, upload, promote = (tree.child(cid, n) for n in ("store", "upload", "promote"))
        if None in (store, upload, promote):
            continue  # a failed cycle
        stage = tree.child(upload, "stage")
        add("store.s", red[store]["wall_s"])
        add("store.jobs", red[store]["jobs"])
        stage_s = red[stage]["wall_s"] if stage is not None else 0.0
        add("upload.s", red[upload]["wall_s"] - stage_s)
        add("stage.s", stage_s)
        add("stage.jobs", red[stage]["jobs"] if stage is not None else 0)
        p = red[promote]
        add("promote.s", p["wall_s"])
        add("promote.jobs", p["jobs"])
        add("promote.tasks", p["tasks"])
        add("promote.driver_s", p["driver_s"])
        add("promote.executor_cpu_s", p["cpu_s"])
        add("promote.failed_tasks", p["failed_tasks"])
        snap = tree.child(promote, "promote.public_snapshot")
        add("promote.public_snapshot_jobs", red[snap]["jobs"] if snap is not None else 0)
        add("promote.public_snapshot_failed_tasks", red[snap]["failed_tasks"] if snap is not None else 0)
        sub = list(tree.subtree(cid))
        ledger_top = [x for x in sub if x["name"] == "ledger" and not tree.has_ancestor(x, "ledger", cid)]
        table_top = [x for x in sub if x["name"] == "io_table" and not tree.has_ancestor(x, "io_table", cid)]
        commits = [x for x in sub if x["name"] == "io_table.commit"]
        add("ledger.calls_per_chunk", len(ledger_top))
        add("ledger.commits_per_chunk", sum(tree.has_ancestor(x, "ledger", cid) for x in commits))
        add("ledger.s", sum(x["end"] - x["start"] for x in ledger_top))
        add("io_table.commits_per_chunk", len(commits))
        add("io_table.s", sum(x["end"] - x["start"] for x in table_top))
        chunk = next((c["chunk"] for c in res["cycles"] if c["chunk"]["chunk_id"] == s["trace"]), None)
        if chunk is not None:
            add("write_bytes_per_input_byte", red[cid]["written_bytes"] / chunk["bytes"])
    out = {k: median(v) for k, v in per.items()}
    for s in spans:
        if s["name"] == "catchup":
            promote = tree.child(s["id"], "promote")
            if promote is not None:
                out["catchup.promote_s"] = red[promote]["wall_s"]
                out["catchup.promote_jobs"] = red[promote]["jobs"]
    out["catchup.rows_per_s"] = res["catchup_rows_per_s"]
    out["replicate.rows_per_s"] = res["replicate_rows_per_s"]
    out["io_table.data_files"] = res["data_files"]
    out["stored_bytes_per_input_byte"] = res["stored_bytes_per_input_byte"]
    return out


def query_layers(spans: list[dict], red: dict[int, dict], res: dict) -> dict:
    tree = _Tree(spans)
    per: dict[str, list[float]] = {}
    for s in spans:
        if s["name"] != "query":
            continue
        build, execute = tree.child(s["id"], "build"), tree.child(s["id"], "execute")
        if build is None or execute is None or red[execute]["wall_s"] <= 0:
            continue
        b, e = red[build], red[execute]
        for k, v in (
            ("query.build_s", b["wall_s"]),
            ("query.build_jobs", b["jobs"]),
            ("query.driver_s", red[s["id"]]["driver_s"]),
            ("query.execute_s", e["wall_s"]),
            ("query.jobs", e["jobs"]),
            ("query.tasks", e["tasks"]),
            ("query.executor_cpu_s", e["cpu_s"]),
            ("query.gc_s", e["gc_s"]),
            ("query.shuffle_bytes", e["shuffle_bytes"]),
            ("query.spill_bytes", e["spill_bytes"]),
            ("query.failed_tasks", e["failed_tasks"]),
        ):
            per.setdefault(k, []).append(v)
    out = {k: median(v) for k, v in per.items()}
    if res.get("query_tail"):
        out["query.tail_s"] = res["query_tail"]["s"]
    return out


def layer_metrics(workload: str, spans, red, res) -> dict:
    vals = {k: 0.0 for k in PER_LAYER}
    if workload == "replicate":
        vals.update(replicate_layers(spans, red, res))
    else:
        vals.update(query_layers(spans, red, res))
    vals["session.peak_rss_mb"] = res["peak_rss_mb"]
    vals["traced.op_p50_s"] = res["op_p50_s"]
    return vals
