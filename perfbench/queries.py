"""``queries``: registry rows over the repository's test tables, one client.

The rows read the program's oracle data directory
(``driver_queries.oracle_sf_dir()``: the sf0.01 test tables unless
``SPARK_GRAFT_ORACLE_SF_DIR`` names another), read-only; the seed fixes
only the order of each pass.

A run first makes one untimed pass that doubles as warm-up and as the
correctness gate: every row is collected and its canonical hash
(``tools/selfcheck.py``) compared with the row's DuckDB oracle.  The
oracle runs in a child process, so its memory stays out of the
benchmark's peak RSS, once per data directory content and program
version; its hashes are cached.  Then timed passes run, each in a
seed-fixed order: at least ``MIN_PASSES``, and whole passes until
``--seconds`` have passed.  A pass takes ~6 s on four cores, so with
the benchmark's 10 s the minimum decides: every run times the same
work, and the per-row median of three passes leaves out the slowest,
usually the first, still warming.  One execution is plan build (the
registry builder, including any eager driver-side jobs) plus a ``noop``
write of the result.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import subprocess
import sys
import time

from .common import ROOT, WORK, Tracer, median, note, program_digest, tail_percentile

MIN_PASSES = 3

# Few rows, so a run fits the run budget on four cores: the read side
# of ops.validity, latest, merge and updates, and two D3 embedding/ANN
# rows of llm.*.
ROWS = (
    "validity_fill_pruned latest_only merge_upsert pivot_patch "
    "ann_topk_ivf dedup_embedding_banded"
).split()


def data_dir() -> str:
    from dax_ppdb_spark import driver_queries

    d = driver_queries.oracle_sf_dir()
    if not os.path.isdir(d):
        raise FileNotFoundError(f"query tables not found in {d} (set SPARK_GRAFT_ORACLE_SF_DIR)")
    return d


def _selfcheck():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import selfcheck

    return selfcheck


def _oracle_key(data_dir: str, names: list[str]) -> str:
    h = hashlib.sha256(repr(sorted(names)).encode())
    h.update(program_digest().encode())
    with open(os.path.join(ROOT, "tools", "selfcheck.py"), "rb") as fh:
        h.update(fh.read())
    for f in sorted(os.listdir(data_dir)):
        with open(os.path.join(data_dir, f), "rb") as fh:
            h.update(f.encode())
            h.update(fh.read())
    return h.hexdigest()[:24]


def _compute_oracle(data_dir: str, names: list[str], out: str) -> None:
    """Child-process side: run each row's DuckDB oracle and write its
    row count, columns and canonical hash to ``out``."""
    import duckdb

    from dax_ppdb_spark import driver_queries
    from dax_ppdb_spark.session import TABLES

    sc = _selfcheck()
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = data_dir
    sql = driver_queries.all_oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    hashes = {}
    for n in names:
        df = sc._canon(con.execute(sql[n]).df())
        hashes[n] = {"rows": len(df), "cols": sorted(df.columns), "hash": sc._value_hash(df)}
    with open(out + ".tmp", "w") as f:
        json.dump(hashes, f)
    os.replace(out + ".tmp", out)


def oracle_hashes(data_dir: str, names: list[str]) -> dict[str, dict]:
    """Row count and canonical hash of each row's DuckDB oracle, from
    the cache or from a child process that fills it."""
    cache = os.path.join(WORK, "oracle-cache", _oracle_key(data_dir, names) + ".json")
    if not os.path.exists(cache):
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        note("computing the DuckDB oracle")
        subprocess.run(
            [sys.executable, "-m", "perfbench.queries", data_dir, cache, *names],
            cwd=ROOT, check=True, timeout=150,
            env={**os.environ, "PYTHONPATH": ROOT},
        )
    with open(cache) as f:
        return json.load(f)


def check_pass(spark, data_dir: str, names: list[str], want: dict[str, dict]) -> tuple[list[str], float]:
    """The untimed warm pass: collect every row and compare it with its
    oracle hashes ``want``.  Returns the problems and the pass's wall
    time."""
    from dax_ppdb_spark import driver_queries

    sc = _selfcheck()
    qs = driver_queries.all_queries()
    problems = []
    t0 = time.perf_counter()
    for n in names:
        try:
            df = sc._canon(qs[n](spark, data_dir).toPandas())
        except Exception as e:
            problems.append(f"{n}: spark error {e!r}"[:300])
            continue
        got = {"rows": len(df), "cols": sorted(df.columns), "hash": sc._value_hash(df)}
        if got != want[n]:
            problems.append(f"{n}: {got['rows']} rows, oracle {want[n]['rows']}; hash differs")
    return problems, time.perf_counter() - t0


def _execute(spark, qs, data_dir: str, n: str, tracer: Tracer) -> float:
    t0 = time.perf_counter()
    with tracer.span("query", query=n):
        with tracer.span("build"):
            df = qs[n](spark, data_dir)
        with tracer.span("execute"):
            df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def run(spark, data_dir: str, names: list[str], seed: int, seconds: float, tracer: Tracer) -> dict:
    from dax_ppdb_spark import driver_queries

    qs = driver_queries.all_queries()
    rng = random.Random(seed)
    execs, failed, attempted = [], 0, 0

    t_start = time.perf_counter()
    n_pass = 0
    # Whole passes only, so every row has the same number of timings.
    while n_pass < MIN_PASSES or time.perf_counter() - t_start < seconds:
        order = list(names)
        rng.shuffle(order)
        n_pass += 1
        for n in order:
            attempted += 1
            tracer.trace_id = f"{n_pass}:{n}"
            try:
                s = _execute(spark, qs, data_dir, n, tracer)
            except Exception as e:  # counted; the run goes on
                failed += 1
                note(f"query {n} failed: {e!r}"[:300])
                continue
            execs.append({"query": n, "s": s})
    elapsed = time.perf_counter() - t_start
    tracer.trace_id = None
    lat = [e["s"] for e in execs]
    row_p50 = {n: median([e["s"] for e in execs if e["query"] == n]) for n in names}
    # The rows differ in cost, so a median over all executions would
    # jump between rows; the geometric mean of per-row medians does not.
    timed = [v for v in row_p50.values() if v > 0]
    tail = tail_percentile(lat)
    return {
        "attempted": attempted,
        "failed": failed,
        "executions": execs,
        "passes": n_pass,
        "op_latencies": lat,
        "row_p50_s": row_p50,
        "op_p50_s": math.exp(sum(map(math.log, timed)) / len(timed)) if timed else 0.0,
        "queries_per_min": 60.0 * len(execs) / elapsed,
        "query_tail": {"percentile": tail[0], "s": tail[1]} if tail else None,
    }


if __name__ == "__main__":
    _compute_oracle(sys.argv[1], sys.argv[3:], sys.argv[2])
