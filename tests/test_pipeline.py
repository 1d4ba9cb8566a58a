"""End-to-end store -> stage -> promote test.

Mirrors the reference's promotion integration test
(``tests/test_chunk_promoter.py:278-361``): fill two chunks of
synthetic catalogs + update records, run the full pipeline, verify
validity chains, applied updates, public snapshot, ledger states, and
staged-partition cleanup.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from dax_ppdb_spark.io.parquet_io import validate_manifest
from dax_ppdb_spark.pipeline.promote import Promoter
from dax_ppdb_spark.pipeline.store import store_chunk
from dax_ppdb_spark.schema.registry import ChunkStatus

T0 = 1640995200000000000


def _obj(spark, rows):
    return spark.createDataFrame(
        rows,
        "diaObjectId LONG, validityStartMjdTai DOUBLE, validityEndMjdTai DOUBLE, "
        "ra DOUBLE, dec DOUBLE, nDiaSources INT",
    )


def _src(spark, rows):
    return spark.createDataFrame(
        rows,
        "diaSourceId LONG, diaObjectId LONG, ssObjectId LONG, ra DOUBLE, dec DOUBLE, "
        "midpointMjdTai DOUBLE, ssObjectReassocTimeMjdTai DOUBLE, timeWithdrawnMjdTai DOUBLE",
    )


def _updates(spark, rows):
    return spark.createDataFrame(
        rows,
        "update_time_ns LONG, update_order LONG, update_type STRING, json_payload STRING",
    )


@pytest.fixture()
def promoted(spark, tmp_path):
    root = str(tmp_path)
    promoter = Promoter(spark, root)
    ledger = promoter.ledger

    # Chunk 1: two objects (one with two versions), two sources.
    c1_dir = store_chunk(
        spark,
        root + "/export",
        1,
        {
            "DiaObject": _obj(
                spark,
                [
                    (10, 100.0, None, 45.0, -30.0, 1),
                    (10, 110.0, None, 45.0, -30.0, 2),
                    (20, 100.0, None, 46.0, -31.0, 1),
                ],
            ),
            "DiaSource": _src(
                spark,
                [
                    (1001, 10, None, 45.0, -30.0, 100.0, None, None),
                    (1002, 20, None, 46.0, -31.0, 100.0, None, None),
                ],
            ),
        },
        ledger=ledger,
    )
    # Chunk 2: new version of object 10 + updates (withdraw source 1002,
    # reassign source 1001 to ssobject).
    c2_dir = store_chunk(
        spark,
        root + "/export",
        2,
        {
            "DiaObject": _obj(spark, [(10, 120.0, None, 45.0, -30.0, 3)]),
        },
        updates=_updates(
            spark,
            [
                (T0, 0, "withdraw_diasource",
                 json.dumps({"diaSourceId": 1002, "timeWithdrawnMjdTai": 130.0})),
                (T0, 1, "reassign_diasource_to_ssobject",
                 json.dumps({"diaSourceId": 1001, "ssObjectId": 7,
                             "ssObjectReassocTimeMjdTai": 130.0})),
            ],
        ),
        ledger=ledger,
    )
    validate_manifest(c1_dir)
    promoter.stage_chunk_dir(c1_dir, 1)
    promoter.stage_chunk_dir(c2_dir, 2)
    assert ledger.promotable_chunks() == [1, 2]
    assert promoter.promote() == [1, 2]
    return promoter


def test_validity_chain_filled(spark, promoted):
    objs = promoted.internal["DiaObject"].read(spark)
    rows = {
        (r.diaObjectId, r.validityStartMjdTai): r.validityEndMjdTai
        for r in objs.collect()
    }
    assert rows[(10, 100.0)] == 110.0
    assert rows[(10, 110.0)] == 120.0
    assert rows[(10, 120.0)] is None
    assert rows[(20, 100.0)] is None


def test_updates_applied(spark, promoted):
    srcs = {r.diaSourceId: r for r in promoted.internal["DiaSource"].read(spark).collect()}
    assert srcs[1002].timeWithdrawnMjdTai == 130.0
    assert srcs[1001].ssObjectId == 7
    assert srcs[1001].diaObjectId is None  # nulled by SSObject reassign


def test_public_snapshot(spark, promoted):
    pub = promoted.public_diaobject.read(spark)
    assert "validityEndMjdTai" not in pub.columns
    assert "geo_point" in pub.columns
    keys = sorted((r.diaObjectId, r.validityStartMjdTai) for r in pub.collect())
    assert keys == [(10, 120.0), (20, 100.0)]  # only current versions


def test_ledger_and_cleanup(spark, promoted):
    statuses = {
        r.apdb_replica_chunk: r.status for r in promoted.ledger.read().collect()
    }
    assert statuses == {1: "PROMOTED", 2: "PROMOTED"}
    # Staged partitions dropped (no parquet left under the data dir).
    staged_dir = promoted.staging["DiaObject"].data_dir()
    leftover = [
        f for _r, _d, fs in os.walk(staged_dir) for f in fs if f.endswith(".parquet")
    ]
    assert leftover == []
    # Promotion workspace cleaned.
    assert not promoted.promotion["DiaObject"].exists()


def test_promote_idempotent_when_nothing_staged(spark, promoted):
    assert promoted.promote() == []


def test_promote_chunk_without_updates_after_one_with_updates(spark, promoted):
    """Promoting chunk 2 dropped its update partitions, leaving the
    staging updates table with none.  A later chunk that carries no
    updates must still promote (the staging reader treats the empty
    table as nothing staged), and the incremental promote must run
    without a failed task."""
    promoter = promoted
    c3_dir = store_chunk(
        spark,
        promoter.root + "/export",
        3,
        {"DiaObject": _obj(spark, [(30, 200.0, None, 12.0, 5.0, 1)])},
        ledger=promoter.ledger,
    )
    promoter.stage_chunk_dir(c3_dir, 3)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    last_job = max(tracker.getJobIdsForGroup(None), default=-1)
    group = "promote-chunk-without-updates"
    sc.setJobGroup(group, "incremental promote of a chunk without updates")
    try:
        assert promoter.promote() == [3]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs
    # the per-table pool threads carry the caller's group too
    assert [j for j in tracker.getJobIdsForGroup(None) if j > last_job] == []
    stages = [
        tracker.getStageInfo(s) for j in jobs for s in tracker.getJobInfo(j).stageIds
    ]
    assert sum(s.numFailedTasks for s in stages if s is not None) == 0
    statuses = {
        r.apdb_replica_chunk: r.status for r in promoter.ledger.read().collect()
    }
    assert statuses[3] == ChunkStatus.PROMOTED.value
    pub = promoter.public_diaobject.read(spark)
    assert sorted(r.diaObjectId for r in pub.collect()) == [10, 20, 30]


def test_corrupt_staged_file_fails_promote_and_keeps_chunk(spark, promoted):
    """A staged file whose parquet footer is corrupt must fail the
    promotion loudly: the chunk stays STAGED with its staging
    partition in place and internal is untouched — never a PROMOTED
    chunk whose rows silently never reached internal."""
    import glob

    promoter = promoted
    c3_dir = store_chunk(
        spark,
        promoter.root + "/export",
        3,
        {"DiaObject": _obj(spark, [(30, 200.0, None, 12.0, 5.0, 1)])},
        updates=_updates(
            spark,
            [
                (T0 + 10, 0, "update_ndiasources",
                 json.dumps({"diaObjectId": 10, "nDiaSources": 9})),
            ],
        ),
        ledger=promoter.ledger,
    )
    promoter.stage_chunk_dir(c3_dir, 3)
    part = os.path.join(
        promoter.staging["DiaObject"].data_dir(), "apdb_replica_chunk=3"
    )
    files = glob.glob(os.path.join(part, "*.parquet"))
    assert files
    for f in files:
        # overwrite the footer length and the trailing magic bytes
        with open(f, "r+b") as fh:
            fh.seek(-8, os.SEEK_END)
            fh.write(b"\0" * 8)
    versions = {t: promoter.internal[t].current_version() for t in promoter.internal}

    with pytest.raises(Exception, match="(?i)parquet"):
        promoter.promote()

    statuses = {
        r.apdb_replica_chunk: r.status for r in promoter.ledger.read().collect()
    }
    assert statuses[3] == ChunkStatus.STAGED.value
    assert sorted(glob.glob(os.path.join(part, "*.parquet"))) == sorted(files)
    assert {t: promoter.internal[t].current_version() for t in promoter.internal} == versions
    objs = promoter.internal["DiaObject"].read(spark)
    assert 30 not in {r.diaObjectId for r in objs.collect()}


def test_promotion_failure_cleans_workspace_and_keeps_ledger(spark, tmp_path, monkeypatch):
    """D14: a failing step must drop the promotion workspace (cleanup
    in finally) and leave the ledger un-promoted so a retry can rerun
    the chunk."""
    root = str(tmp_path)
    promoter = Promoter(spark, root)
    ledger = promoter.ledger
    c_dir = store_chunk(
        spark, root + "/export", 1,
        {"DiaObject": _obj(spark, [(1, 100.0, None, 45.0, -30.0, 1)])},
        ledger=ledger,
    )
    promoter.stage_chunk_dir(c_dir, 1)

    def boom(chunk_ids):
        raise RuntimeError("swap failed")

    monkeypatch.setattr(promoter, "_apply_updates", boom)
    with pytest.raises(RuntimeError, match="swap failed"):
        promoter.promote()
    # workspace dropped, ledger still STAGED, staged data intact
    assert not promoter.promotion["DiaObject"].exists()
    row = ledger.read().first()
    assert row.status == ChunkStatus.STAGED.value
    assert promoter.staging["DiaObject"].read(spark).count() == 1
    # retry succeeds
    monkeypatch.undo()
    assert promoter.promote() == [1]


def test_incremental_snapshot_matches_full_recompute(spark, promoted):
    """Step 5 is incremental after the first promotion: a second batch
    must leave the public table identical to a from-scratch rebuild
    (new object inserted, superseded version replaced, everything
    else untouched)."""
    promoter = promoted
    root = promoter.root
    # Chunk 3: new version of object 20 (supersedes 100.0) + new object 30,
    # plus an update closing nothing (nDiaSources bump on object 10).
    c3_dir = store_chunk(
        spark,
        root + "/export",
        3,
        {
            "DiaObject": _obj(
                spark,
                [
                    (20, 130.0, None, 46.0, -31.0, 2),
                    (30, 200.0, None, 12.0, 5.0, 1),
                ],
            ),
        },
        updates=_updates(
            spark,
            [
                (T0 + 10, 0, "update_ndiasources",
                 json.dumps({"diaObjectId": 10, "nDiaSources": 9})),
            ],
        ),
        ledger=promoter.ledger,
    )
    promoter.stage_chunk_dir(c3_dir, 3)
    assert promoter.promote() == [3]

    pub = promoted.public_diaobject.read(spark)
    internal = promoter.internal["DiaObject"].read(spark)
    full = internal.filter(F.col("validityEndMjdTai").isNull()).drop(
        "validityEndMjdTai", "obj_bucket"
    )
    got = sorted(
        (r.diaObjectId, r.validityStartMjdTai, r.nDiaSources)
        for r in pub.collect()
    )
    want = sorted(
        (r.diaObjectId, r.validityStartMjdTai, r.nDiaSources)
        for r in full.collect()
    )
    assert got == want
    assert [g[0] for g in got] == [10, 20, 30]
    # the patched nDiaSources reached the public snapshot
    assert dict((g[0], g[2]) for g in got)[10] == 9


def test_public_snapshot_partition_prunes_sky_queries(spark, promoted):
    """The public table is partitioned by coarse Z-order cell: a sky
    query filtered on geo_cell must show PartitionFilters in the scan
    (metadata-level pruning, no data read outside the region)."""
    pub = promoted.public_diaobject.read(spark)
    assert "geo_cell" in pub.columns
    one_cell = pub.select("geo_cell").first().geo_cell
    q = pub.filter(F.col("geo_cell") == one_cell)
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    assert "geo_cell" in plan.split("PartitionFilters", 1)[1].split("\n")[0]


def test_dml_metrics_logged(spark, promoted):
    """Promotion's per-table MERGEs report row counts (the reference
    logs DML affected-row stats per MERGE, updates_manager.py:242-271)."""
    from dax_ppdb_spark import metrics

    entries = metrics.recent("merge_DiaSource", kind="dml")
    assert entries, "promotion should have recorded MERGE stats"
    last = entries[-1]
    assert last["op"] == "merge_patch"
    # chunk 2's updates withdraw 1002 and reassign 1001 -> 2 updated rows
    assert last["updated"] == 2 and last["rows"] >= 2


def test_promote_exposes_dml_struct(spark, promoted):
    """promote() collects every step's DML observation into
    ``Promoter.last_dml`` (matched/updated/filled counts per MERGE) —
    the reference logs these per DML statement
    (updates_manager.py:242-271, query_runner.py:63-100)."""
    stages = {e["stage"]: e for e in promoted.last_dml}
    # Validity fill: object 10 has versions at 100/110/120 -> two
    # intervals closed; object 20's single version stays open.
    fv = stages["fill_validity_end_DiaObject"]
    assert fv["op"] == "fill_validity_end"
    assert fv["filled"] == 2
    assert fv["touched"] == 4 and fv["rows"] == 4
    # Update MERGE: withdraw 1002 + reassign 1001 -> 2 updated.
    assert stages["merge_DiaSource"]["updated"] == 2
    from dax_ppdb_spark import metrics

    fills = metrics.recent("fill_validity_end_DiaObject", kind="dml")
    assert fills and fills[-1]["filled"] == 2


def test_internal_files_sorted_by_merge_key(spark, promoted):
    """Write path keeps every internal data file sorted by its MERGE
    key (search-index analog, dataset_builder.py:257-265): row-group
    min/max id stats stay tight, so id point lookups skip row groups."""
    import glob

    import pyarrow.parquet as pq

    for t, key in (("DiaObject", "diaObjectId"), ("DiaSource", "diaSourceId")):
        files = glob.glob(
            os.path.join(promoted.root, "internal", t, "**", "*.parquet"),
            recursive=True,
        )
        assert files
        for f in files:
            vals = pq.read_table(f, columns=[key]).column(key).to_pylist()
            assert vals == sorted(vals), f"{f} not sorted by {key}"


def test_drop_pending_prevents_flush_hang(spark):
    """An observed DataFrame whose action never ran must be droppable:
    flush would block forever on it (Observation.get blocks)."""
    from dax_ppdb_spark import metrics
    from dax_ppdb_spark.ops.merge import merge_patch

    t = spark.createDataFrame([(1, "a")], "id LONG, v STRING")
    p = spark.createDataFrame([(1, "A")], "id LONG, v STRING")
    merge_patch(t, p, ["id"], observe_as="never_run")  # no action
    assert metrics.drop_pending() == 1
    assert metrics.flush_observations() == []  # returns, no hang


def test_promote_with_delta_export_publishes_log(spark, tmp_path):
    """export_delta_log after a promotion leaves a Delta-protocol
    _delta_log over the public snapshot whose replayed live files
    equal the table's own view."""
    import os

    from dax_ppdb_spark.io.delta_export import delta_live_files, export_delta_log

    root = str(tmp_path)
    promoter = Promoter(spark, root)
    store_chunk(
        spark,
        root + "/export",
        1,
        {
            "DiaObject": _obj(
                spark,
                [(10, 100.0, None, 45.0, -30.0, 1), (20, 100.0, None, 46.0, -31.0, 1)],
            ),
            "DiaSource": _src(spark, []),
            "DiaForcedSource": spark.createDataFrame(
                [], "diaForcedSourceId LONG, diaObjectId LONG, midpointMjdTai DOUBLE"
            ),
        },
        ledger=promoter.ledger,
    )
    promoter.stage_chunk_dir(os.path.join(root, "export", "chunk_1"), 1)
    assert promoter.promote() == [1]
    export_delta_log(promoter.public_diaobject, spark)
    pub_root = promoter.public_diaobject.path
    live = delta_live_files(pub_root)
    assert live, "no _delta_log emitted"
    paths = [os.path.join(pub_root, p) for p in live]
    got = spark.read.parquet(*paths)
    assert got.count() == promoter.public_diaobject.read(spark).count() == 2


def test_stage_chunk_dirs_one_ledger_commit(spark, tmp_path):
    """Batched staging: k chunks landed in one poll cycle flip to
    STAGED in ONE event-log commit — both STAGED events share one
    __event_seq (the same batching rule promotion applies at its
    PROMOTED transition; a per-chunk loop would burn k commits)."""
    from dax_ppdb_spark.ledger import EVENT_SEQ, ChunkStatus

    root = str(tmp_path)
    promoter = Promoter(spark, root)
    dirs = []
    for cid in (1, 2):
        dirs.append(
            (
                store_chunk(
                    spark,
                    root + "/export",
                    cid,
                    {
                        "DiaObject": _obj(
                            spark, [(10 * cid, 100.0, None, 45.0, -30.0, 1)]
                        )
                    },
                    ledger=promoter.ledger,
                ),
                cid,
            )
        )
    promoter.stage_chunk_dirs(dirs)
    log = promoter.ledger.read_log()
    staged = log.filter(F.col("status") == ChunkStatus.STAGED)
    seqs = [r[0] for r in staged.select(EVENT_SEQ).collect()]
    assert len(seqs) == 2
    assert len(set(seqs)) == 1  # one commit for the whole batch
    assert promoter.ledger.promotable_chunks() == [1, 2]


def test_promote_legacy_validity_schema_end_to_end(spark, tmp_path):
    """A pre-rename APDB chunk (TIMESTAMP validityStart/validityEnd)
    must replicate end to end: the validity fill closes the open
    interval under the LEGACY names (schema sniff threaded through
    the promoter) and the public snapshot keeps current rows only,
    dropping the legacy end column."""
    import datetime as dt

    root = str(tmp_path)
    promoter = Promoter(spark, root)
    t = lambda h: dt.datetime(2024, 6, 1, h)
    legacy = spark.createDataFrame(
        [
            (10, t(1), None, 45.0, -30.0, 1),
            (10, t(2), None, 45.0, -30.0, 2),
            (20, t(1), None, 46.0, -31.0, 1),
        ],
        "diaObjectId LONG, validityStart TIMESTAMP, validityEnd TIMESTAMP, "
        "ra DOUBLE, dec DOUBLE, nDiaSources INT",
    )
    c_dir = store_chunk(
        spark, root + "/export", 1, {"DiaObject": legacy}, ledger=promoter.ledger
    )
    promoter.stage_chunk_dir(c_dir, 1)
    assert promoter.promote() == [1]

    objs = promoter.internal["DiaObject"].read(spark)
    rows = {
        (r.diaObjectId, r.validityStart): r.validityEnd for r in objs.collect()
    }
    assert rows[(10, t(1))] == t(2)   # chain filled under legacy names
    assert rows[(10, t(2))] is None
    assert rows[(20, t(1))] is None

    pub = promoter.public_diaobject.read(spark)
    assert "validityEnd" not in pub.columns
    assert sorted((r.diaObjectId, r.validityStart) for r in pub.collect()) == [
        (10, t(2)),
        (20, t(1)),
    ]


def test_parquet_compression_levels(spark, tmp_path):
    """zstd_lvl<N> parity (reference cli/options.py:205-213): the codec
    reaches the footer and the LEVEL reaches the encoder (higher level
    -> smaller file on compressible data)."""
    import glob

    import pyarrow.parquet as pq

    from dax_ppdb_spark.io.parquet_io import parse_compression, write_parquet

    assert parse_compression("snappy") == ("snappy", {})
    assert parse_compression("zstd_lvl8") == (
        "zstd", {"parquet.compression.codec.zstd.level": "8"}
    )
    with pytest.raises(ValueError, match="only supported for zstd"):
        parse_compression("gzip_lvl9")
    with pytest.raises(ValueError, match="bad compression level"):
        parse_compression("zstd_lvlx")

    df = spark.range(40_000).select(
        F.col("id"),
        F.concat(F.lit("the quick brown fox jumps over the lazy dog "),
                 (F.col("id") % 97).cast("string")).alias("text"),
    ).coalesce(1)

    def size_of(setting, name):
        out = str(tmp_path / name)
        write_parquet(df, out, compression=setting)
        files = glob.glob(os.path.join(out, "*.parquet"))
        assert files
        meta = pq.ParquetFile(files[0]).metadata
        codec = meta.row_group(0).column(0).compression
        return codec, sum(os.path.getsize(f) for f in files)

    codec1, s1 = size_of("zstd_lvl1", "z1")
    codec15, s15 = size_of("zstd_lvl15", "z15")
    assert codec1 == codec15 == "ZSTD"
    assert s15 < s1  # the level actually reached the encoder


def test_store_chunk_plumbs_compression(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    tables = {
        "DiaObject": spark.range(100).select(
            F.col("id").alias("diaObjectId"), F.lit(1.0).alias("ra")
        )
    }
    d = store_chunk(
        spark, str(tmp_path / "exp"), 7, tables, compression="zstd_lvl8"
    )
    files = glob.glob(os.path.join(d, "DiaObject", "*.parquet"))
    assert files
    assert pq.ParquetFile(files[0]).metadata.row_group(0).column(0).compression == "ZSTD"


def test_promotion_constraint_gate_blocks_bad_batch(spark, tmp_path):
    """A configured data-quality gate aborts promotion BEFORE any
    write: staging and the ledger stay untouched, and the same staged
    batch promotes cleanly once the gate passes."""
    from dax_ppdb_spark.ops.constraints import (
        ConstraintViolationError,
        InRange,
        NotNull,
    )

    root = str(tmp_path)
    gated = Promoter(
        spark,
        root,
        constraints={
            "DiaObject": [NotNull("diaObjectId"), InRange("ra", -360.0, 360.0)]
        },
    )
    ledger = gated.ledger
    c_dir = store_chunk(
        spark,
        root + "/export",
        1,
        {
            "DiaObject": _obj(
                spark,
                [
                    (10, 100.0, None, 45.0, -30.0, 1),
                    (20, 100.0, None, 9999.0, -31.0, 1),  # ra out of range
                ],
            ),
        },
        ledger=ledger,
    )
    gated.stage_chunk_dir(c_dir, 1)

    with pytest.raises(ConstraintViolationError) as ei:
        gated.promote()
    assert "in_range(ra)" in str(ei.value)
    assert "1/2" in str(ei.value)  # one violating row of two checked

    # Nothing moved: chunk still promotable, no internal/public tables.
    assert ledger.promotable_chunks() == [1]
    assert not gated.internal["DiaObject"].exists()
    assert not gated.public_diaobject.exists()
    # Staged rows intact.
    staged = gated._staged("DiaObject", [1])
    assert staged is not None and staged.count() == 2

    # Same warehouse, gate relaxed to rules the batch satisfies ->
    # promotion proceeds normally.
    ok = Promoter(
        spark, root, constraints={"DiaObject": [NotNull("diaObjectId")]}
    )
    assert ok.promote() == [1]
    assert ok.internal["DiaObject"].read(spark).count() == 2
