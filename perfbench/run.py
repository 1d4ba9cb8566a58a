"""Run one benchmark workload from a seed and print its metrics.

    python3 perfbench/run.py --workload replicate --seed 1 --seconds 10 --trace 0

Workloads: ``replicate`` (store -> upload -> stage -> promote) and
``queries`` (PPDB and curation registry rows).  With ``--trace 0`` the
last stdout line carries the end-to-end metrics; with ``--trace 1`` the
run also writes Spark's event log and prints per-layer metrics instead.
The line before it carries the run context (versions, commit, seed,
calibration anchors).  Full details go to ``.perfbench_work/results/``;
a traced run's details include its tracing overhead against the latest
plain run of the same workload and seed.  The exit code is 1 when the
correctness gate fails and 2 when the program or the query tables are
missing.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("replicate", "queries")
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s"}
SETUP_REPEATS = 3


def _dir_digest(d: str) -> str:
    h = hashlib.sha256()
    for base, _dirs, files in sorted(os.walk(d)):
        for f in sorted(files):
            with open(os.path.join(base, f), "rb") as fh:
                h.update(os.path.relpath(os.path.join(base, f), d).encode())
                h.update(fh.read())
    return h.hexdigest()


def _overhead(args, traced: dict) -> dict | None:
    """Traced minus plain end-to-end figures, against the latest plain
    run of the same workload and seed in the results directory."""
    from perfbench.common import WORK

    pattern = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace0-*.json")
    plain = sorted(glob.glob(pattern))
    if not plain:
        return None
    with open(plain[-1]) as f:
        base = json.load(f)["end_to_end"]
    return {"op_p50_s": traced["op_p50_s"] - base["op_p50_s"]}


def main() -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "dax_ppdb_spark")):
        print(f"perfbench: no dax_ppdb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import common

    run_dir = os.path.join(common.WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    common.clean(run_dir)
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    common.prepare_env(run_dir, event_dir)
    common.adopt_orphans()
    # A terminated run still stops its processes and removes its work
    # directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, run_dir, event_dir, started)
    finally:
        common.stop_processes()
        common.clean(run_dir)


def _run(args, run_dir: str, event_dir: str | None, started: float) -> int:
    from perfbench import common, layers

    if args.workload == "replicate":
        from perfbench import replicate as wl
    else:
        from perfbench import queries as wl

        try:
            data_dir = wl.data_dir()
        except FileNotFoundError as e:
            print(f"perfbench: {e}", file=sys.stderr)
            return 2
        oracle = wl.oracle_hashes(data_dir, wl.ROWS)

    t0 = time.perf_counter()
    spark = common.start_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    common.note(f"session {session_s:.1f}s")

    tracer = common.Tracer()
    if args.trace:
        common.instrument_layers(tracer)
    problems, gen_s = [], []
    if args.workload == "replicate":
        # Inputs are generated SETUP_REPEATS times into fresh directories
        # (median time reported); every copy must be byte-identical.
        digests, meta = set(), None
        for k in range(SETUP_REPEATS):
            in_dir = os.path.join(run_dir, f"input-{k}")
            t0 = time.perf_counter()
            meta = wl.generate(in_dir, args.seed)
            gen_s.append(time.perf_counter() - t0)
            digests.add(_dir_digest(in_dir))
            if k < SETUP_REPEATS - 1:
                common.clean(in_dir)
        common.note(f"inputs {gen_s}")
        if len(digests) != 1:
            problems.append("input generation is not deterministic")
        # The catch-up phase runs in traced runs only: a plain run's time
        # budget holds the warm-up batch and the steady phase.
        res = wl.run(spark, meta, run_dir, tracer, catchup=bool(args.trace), started=started)
        warmup_s = res["warmup_s"]
    else:
        gate, warmup_s = wl.check_pass(spark, data_dir, wl.ROWS, oracle)
        problems += gate
        res = wl.run(spark, data_dir, wl.ROWS, args.seed, args.seconds, tracer)
    setup_s = session_s + (common.median(gen_s) if gen_s else 0.0) + warmup_s
    common.note(f"warm-up {warmup_s:.1f}s, measured {len(res['op_latencies'])} ops")
    # Peak RSS is read before the replicate gate, so its DuckDB replay
    # stays out of it (the query oracle runs in a child process).
    res["peak_rss_mb"] = common.peak_rss_mb(spark)
    context = common.run_context(spark, args.seed)
    if args.workload == "replicate":
        problems += wl.check(spark, res)
    common.note("gate done")
    spark.stop()

    e2e = {
        "setup_s": setup_s,
        "op_p50_s": res["op_p50_s"],
    }
    detail = {
        "workload": args.workload,
        "trace": args.trace,
        "context": context,
        "setup": {"session_s": session_s, "generate_s": gen_s, "warmup_s": warmup_s},
        "end_to_end": e2e,
        "problems": problems,
        **{k: v for k, v in res.items() if k not in ("rep", "used", "cycles", "executions")},
    }
    if args.workload == "replicate":
        detail["cycles"] = [
            {"chunk": c["chunk"]["chunk_id"], "s": c["s"], "steps": c["steps"]} for c in res["cycles"]
        ]
    else:
        detail["executions"] = res["executions"]
    if args.trace:
        from perfbench import eventlog

        jobs = eventlog.read_jobs(eventlog.find_log(event_dir))
        red = eventlog.reduce(tracer.spans, jobs)
        vals = layers.layer_metrics(args.workload, tracer.spans, red, res)
        metrics = {k: {"value": vals[k], "unit": u} for k, u in layers.PER_LAYER.items()}
        detail["per_layer"] = vals
        detail["spans"] = [dict(s, **red.get(s["id"], {})) for s in tracer.spans]
        detail["unattributed_jobs"] = len(jobs) - sum(
            red[s["id"]]["jobs"] for s in tracer.spans if s["parent"] is None
        )
        detail["tracing_overhead"] = _overhead(args, e2e)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}

    out_dir = os.path.join(common.WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    for p in problems:
        print(f"perfbench: INCORRECT: {p}", flush=True)
    correct = not problems
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
