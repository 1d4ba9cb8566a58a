"""Benchmark-local tests: seeded inputs, the event-log reducer, the
replicate gate's replay and process teardown.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dax_ppdb_spark.ops.updates import TYPE_SPECS  # noqa: E402
from perfbench import eventlog, gen, layers, replicate  # noqa: E402
from perfbench.common import Tracer, stop_processes  # noqa: E402
from perfbench.run import E2E_UNITS, _dir_digest  # noqa: E402


def test_chunks_same_seed_identical_other_seed_different(tmp_path):
    a = gen.write_chunks(str(tmp_path / "a"), 5, 3, 300)
    b = gen.write_chunks(str(tmp_path / "b"), 5, 3, 300)
    c = gen.write_chunks(str(tmp_path / "c"), 6, 3, 300)
    assert [m["rows"] for m in a] == [m["rows"] for m in b]
    assert _dir_digest(str(tmp_path / "a")) == _dir_digest(str(tmp_path / "b"))
    assert _dir_digest(str(tmp_path / "a")) != _dir_digest(str(tmp_path / "c"))


def test_chunks_carry_all_update_types_and_cross_chunk_overlap(tmp_path):
    meta = gen.write_chunks(str(tmp_path), 1, 3, 400)
    ids = [set(pq.read_table(f"{m['dir']}/DiaObject.parquet")["diaObjectId"].to_pylist()) for m in meta]
    assert ids[1] & ids[0] and ids[2] & (ids[0] | ids[1])
    types = set(pq.read_table(f"{meta[2]['dir']}/updates.parquet")["update_type"].to_pylist())
    assert types == set(TYPE_SPECS)


def test_replay_present_null_ndiasources_wins_and_keeps_target(tmp_path):
    """A later close_diaobject_validity whose nDiaSources is present but
    null beats an earlier update_ndiasources, and keeps the target value
    (the program's merge_diaobject_updates semantics)."""
    obj = {f.name: [None] for f in gen._OBJ_SCHEMA}
    obj.update(diaObjectId=[7], validityStartMjdTai=[1.0], nDiaSources=[46])
    upd = [
        (10, 0, "update_ndiasources", {"diaObjectId": 7, "nDiaSources": 29}),
        (20, 1, "close_diaobject_validity",
         {"diaObjectId": 7, "nDiaSources": None, "validityEndMjdTai": 2.0}),
    ]
    chunks = []
    for cid in (1, 2):
        d = tmp_path / f"chunk_{cid}"
        gen._write(pa.table(obj if cid == 1 else {k: [] for k in obj}, gen._OBJ_SCHEMA), f"{d}/DiaObject.parquet")
        gen._write(gen._SRC_SCHEMA.empty_table(), f"{d}/DiaSource.parquet")
        gen._write(gen._FSRC_SCHEMA.empty_table(), f"{d}/DiaForcedSource.parquet")
        rows = upd if cid == 2 else []
        gen._write(pa.table({
            "update_time_ns": [r[0] for r in rows], "update_order": [r[1] for r in rows],
            "update_type": [r[2] for r in rows], "json_payload": [json.dumps(r[3]) for r in rows],
        }, gen._UPD_SCHEMA), f"{d}/updates.parquet")
        chunks.append({"chunk_id": cid, "dir": str(d)})
    con = replicate.replay(chunks, [[1], [2]])
    assert con.execute("SELECT nDiaSources, validityEndMjdTai FROM DiaObject").fetchall() == [(46, 2.0)]


def test_stop_processes_waits_for_orphans():
    """A grandchild whose parent has exited is still stopped and waited
    for, so nothing the run started outlives it."""
    code = (
        "import subprocess, sys; from perfbench import common; common.adopt_orphans(); "
        "out = subprocess.run(['sh', '-c', 'sleep 300 >/dev/null 2>&1 & echo $!'], capture_output=True, text=True); "
        "print(out.stdout.strip(), flush=True); common.stop_processes(grace_s=0.5)"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root, capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert not os.path.exists(f"/proc/{int(out.stdout.split()[0])}")


def test_benchmark_json_names_every_metric():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER


@pytest.fixture(scope="module")
def tiny_app(tmp_path_factory):
    """A local app with a known job layout: outer span -> 1 job, inner
    span -> 2 jobs, one of which has a forced task failure."""
    from pyspark.sql import SparkSession

    log_dir = tmp_path_factory.mktemp("events")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("reducer-pin")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    tracer = Tracer()
    with tracer.span("outer"):
        sc.parallelize(range(100), 3).count()
        with tracer.span("inner"):
            sc.parallelize(range(100), 2).sum()
            with pytest.raises(Exception):
                spark.range(1, numPartitions=1).selectExpr("assert_true(id < 0)").collect()
    sc.parallelize(range(10), 1).count()  # outside every span
    stop_processes()
    jobs = eventlog.read_jobs(eventlog.find_log(str(log_dir)))
    return tracer.spans, jobs, eventlog.reduce(tracer.spans, jobs)


def test_reducer_counts_jobs_tasks_and_failures(tiny_app):
    spans, jobs, red = tiny_app
    outer, inner = spans[0]["id"], spans[1]["id"]
    assert len(jobs) == 4
    assert red[inner]["jobs"] == 2 and red[outer]["jobs"] == 3
    assert red[inner]["tasks"] == 3 and red[outer]["tasks"] == 6
    assert red[inner]["failed_tasks"] == 1 and red[outer]["failed_tasks"] == 1


def test_reducer_times(tiny_app):
    spans, _jobs, red = tiny_app
    for s in spans:
        r = red[s["id"]]
        assert 0 <= r["driver_s"] <= r["wall_s"]
        assert 0 <= r["self_s"] <= r["wall_s"]
    outer, inner = red[spans[0]["id"]], red[spans[1]["id"]]
    assert outer["self_s"] == pytest.approx(outer["wall_s"] - inner["wall_s"], abs=1e-6)
