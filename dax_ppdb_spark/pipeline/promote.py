"""Chunk promotion: staging -> promotion -> internal -> public.

Reference orchestration (``bigquery/chunk_promoter.py:117-177``), seven
ordered steps with cleanup in ``finally``:

1. copy staging rows for the chunk ids into promotion workspace tables
   cloned from internal, computing ``geo_point`` (S10/P10),
2. fill DiaObject validity ends, semi-join-pruned to staged objects
   (W2/P8/J4),
3. apply retroactive updates (expand -> latest-only -> per-table MERGE,
   ``bigquery/updates/updates_manager.py:106-150``),
4. atomically swap promotion into internal (D9),
5. re-materialize the public latest snapshot, clustered by geo_point
   (D10),
6. delete the staged chunk partitions (D11 — partition drops, no
   rewrite),
7. mark ledger rows PROMOTED (D5).

Ordering invariant (SURVEY §3.3): updates apply after inserts within a
batch; last-writer-wins resolves by (chunk, time_ns, order) DESC.

Each batch fact is derived once.  :meth:`Promoter._staged` is the only
reader of the staging tables (updates included); ``promote()`` calls it
once per table, expands + latest-dedups + checkpoints the staged
updates once, derives the touched DiaObject ids from those two, and
hands the resulting :class:`Batch` to every step.  A staging table with
no partition for the batch reads as ``None``; any other read error
(a corrupt staged file, say) propagates, so the chunk stays STAGED.

Scale notes — every step is O(batch), never O(table):

- staging tables are partitioned by ``apdb_replica_chunk`` so step 1
  reads only the promoted chunks (partition pruning) and step 6 is a
  metadata-only partition drop;
- step 1 clones internal into promotion by hardlink (zero bytes
  copied) and appends just the staged rows, like the reference's
  CLONE + INSERT-SELECT (``chunk_promoter.py:199-227``);
- internal tables are range-bucketed on their MERGE key (the BigQuery
  id-clustering analog — range, so one batch's roughly-contiguous ids
  land in a handful of buckets), and steps 2-3 read and rewrite only
  the buckets a batch touches (``ParquetTable.replace_partitions``
  hardlinks the rest) — the touched-rows-only IO of the reference's
  MERGE statements;
- update patch sets are one batch's worth — broadcast merges, no
  target-side shuffle;
- within steps 1 and 3 the per-table jobs are INDEPENDENT (distinct
  promotion tables, no shared state beyond the Spark scheduler) and
  are submitted concurrently from a thread pool (each thread tagged
  with its own scheduler pool, honored under FAIR mode and harmless
  under FIFO) — a cluster promotes DiaObject/DiaSource/DiaForcedSource
  in parallel instead of serializing three half-idle jobs.

The public snapshot is range-partitioned + sorted on ``geo_point`` so
row-group min/max stats prune sky-region queries (the BigQuery
clustering analog); it remains a full rewrite by design (the
reference's CTAS does too).
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.table import ParquetTable
from ..ledger import Ledger
from ..metrics import flush_observations, timer
from ..ops.merge import merge_patch
from ..ops.spatial import with_geo_point
from ..ops.updates import TABLE_PATCHES, expand_updates, latest_updates, table_patch
from ..ops.validity import fill_validity_end
from ..schema.registry import CHUNK_COLUMN, ChunkStatus, validity_columns

_LOG = logging.getLogger("dax_ppdb_spark.promote")

DIA_TABLES = ("DiaObject", "DiaSource", "DiaForcedSource")
# Staging holds the three Dia tables plus the update records.
UPDATES = "updates"
STAGED_TABLES = (*DIA_TABLES, UPDATES)

# Internal/promotion tables are RANGE-bucketed on the column their
# point-MERGEs key on — the analog of the reference's BigQuery
# clustering + search index on ``diaObjectId``
# (``bigquery/schema/dataset_builder.py:250-265``), which is itself
# range-based block clustering.  Range (not hash) is what makes a
# batch's IO O(batch): ids are assigned roughly monotonically, so one
# replication chunk's keys cover a handful of contiguous ranges and
# its MERGEs touch a handful of buckets no matter how big the table
# has grown; a hash would smear every batch across all buckets.
# DiaSource updates key on diaSourceId (reassign/withdraw), the other
# two tables on diaObjectId.
OBJ_BUCKET = "obj_bucket"
# Ids per bucket: sized so one bucket's rows are a comfortable rewrite
# unit (a few GB at production row sizes).
BUCKET_WIDTH = 1_000_000
BUCKET_KEYS = {
    "DiaObject": "diaObjectId",
    "DiaSource": "diaSourceId",
    "DiaForcedSource": "diaObjectId",
}


@dataclass(frozen=True)
class Batch:
    """One ``promote()`` call's inputs, each derived once.

    ``staged`` maps every :data:`STAGED_TABLES` name to its staged
    slice of the batch (``None``: nothing staged); ``latest`` is the
    expanded, latest-only, checkpointed update set (``None``: the batch
    carries no updates); ``touched_ids`` holds the DiaObject ids the
    batch inserts or patches (``None``: neither)."""

    staged: dict[str, DataFrame | None]
    latest: DataFrame | None
    touched_ids: DataFrame | None


class Promoter:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        constraints: dict | None = None,
    ) -> None:
        self.spark = spark
        self.root = root
        # Optional per-table data-quality gate (ops/constraints): rules
        # audited against the STAGED batch (only the chunks being
        # promoted — O(batch), never O(table)) BEFORE any promotion
        # write.  A failing rule aborts with ConstraintViolationError,
        # leaving staging and the ledger untouched — the table-wide
        # generalization of the reference's per-write integrity guards
        # (rowcount==1 point updates, bigquery/ppdb_bigquery.py:620-657).
        self.constraints = constraints or {}
        # DML stats of the most recent promote() (reset per call).
        self.last_dml: list[dict] = []
        self.staging = {t: ParquetTable(os.path.join(root, "staging", t)) for t in DIA_TABLES}
        self.staging_updates = ParquetTable(os.path.join(root, "staging", UPDATES))
        self.internal = {t: ParquetTable(os.path.join(root, "internal", t)) for t in DIA_TABLES}
        self.promotion = {t: ParquetTable(os.path.join(root, "promotion", t)) for t in DIA_TABLES}
        self.public_diaobject = ParquetTable(os.path.join(root, "public", "DiaObject"))
        self.ledger = Ledger(spark, os.path.join(root, "ledger"))

    # -- bucketing ----------------------------------------------------------

    @staticmethod
    def _bucket_expr(key: Column) -> Column:
        return F.floor(key / F.lit(BUCKET_WIDTH)).cast("long")

    def _with_bucket(self, df: DataFrame, table: str) -> DataFrame:
        return df.withColumn(OBJ_BUCKET, self._bucket_expr(F.col(BUCKET_KEYS[table])))

    def _id_sorted(self, df: DataFrame, table: str) -> DataFrame:
        """Sort within write tasks by the MERGE key so every data file's
        row groups carry tight min/max id stats — the search-index-on-id
        analog (``dataset_builder.py:257-265``): point lookups and
        batch MERGE probes skip row groups, not just bucket partitions.
        Task-local sort, no shuffle.
        """
        return df.sortWithinPartitions(OBJ_BUCKET, BUCKET_KEYS[table])

    def _buckets_of(self, keys: DataFrame, key_col: str) -> list[int]:
        """Distinct buckets hit by a batch's keys — driver-side control
        data, one long per touched id range."""
        rows = (
            keys.select(self._bucket_expr(F.col(key_col)).alias("b"))
            .distinct()
            .collect()
        )
        return [r.b for r in rows]

    # -- staging (the external-Dataflow-job analog) -------------------------

    def stage_chunk_dir(self, chunk_dir: str, chunk_id: int) -> None:
        """Land one exported chunk into the staging tables (status
        STAGED).  Stands in for the reference's external Dataflow
        staging job whose contract is the staging schemas
        (``dataset_builder.py:202-232``).  A poll cycle that landed
        several chunks should call :meth:`stage_chunk_dirs` — one
        ledger commit for the whole batch."""
        self.stage_chunk_dirs([(chunk_dir, chunk_id)])

    def stage_chunk_dirs(self, chunks: list[tuple[str, int]]) -> None:
        """Land k exported chunks into the staging tables and flip all
        their ledger rows to STAGED in ONE event-log commit
        (``ledger.update_chunks``) — the same batching rule promotion
        applies at its PROMOTED transition; per-chunk commits in a
        loop were the one remaining O(k)-commit stager path."""
        if not chunks:
            return
        for chunk_dir, _ in chunks:
            for t in DIA_TABLES:
                path = os.path.join(chunk_dir, t)
                if os.path.exists(path):
                    self.staging[t].append(
                        self.spark.read.parquet(path),
                        partition_by=(CHUNK_COLUMN,),
                    )
            upd = os.path.join(chunk_dir, "updates")
            if os.path.exists(upd):
                self.staging_updates.append(
                    self.spark.read.parquet(upd), partition_by=(CHUNK_COLUMN,)
                )
        self.ledger.update_chunks(
            [cid for _, cid in chunks], status=ChunkStatus.STAGED
        )

    def _staged(self, table: str, chunk_ids: list[int]) -> DataFrame | None:
        """The only reader of the staging tables: ``table``'s rows for
        ``chunk_ids`` (chunk-partition-pruned), or ``None`` when the
        table holds no partition directory for any of them — never
        written, or dropped by an earlier promotion.  Any read error
        propagates."""
        t = self.staging_updates if table == UPDATES else self.staging[table]
        d = t.data_dir()
        if d is None or not any(
            os.path.isdir(os.path.join(d, f"{CHUNK_COLUMN}={c}")) for c in chunk_ids
        ):
            return None
        return t.read(self.spark).filter(F.col(CHUNK_COLUMN).isin(chunk_ids))

    def _validate_constraints(
        self, staged: dict[str, DataFrame | None], chunk_ids: list[int]
    ) -> None:
        """Audit each configured table's STAGED slice of this batch;
        raise ``ConstraintViolationError`` on the first failing table.
        The audit collect is O(rules); the scanned data is O(batch)."""
        from ..ops.constraints import enforce_constraints

        for table, rules in self.constraints.items():
            df = staged[table]
            if df is not None:
                enforce_constraints(df, rules, f"staged {table} chunks={chunk_ids}")

    def _batch(self, chunk_ids: list[int]) -> Batch:
        """Read the batch's staging slices, gate them, and derive the
        update set and touched ids — once per ``promote()``."""
        staged = {t: self._staged(t, chunk_ids) for t in STAGED_TABLES}
        if self.constraints:
            # Validate BEFORE the first write: a failing batch aborts
            # with staging + ledger untouched.
            with timer("validate_constraints", chunks=chunk_ids):
                self._validate_constraints(staged, chunk_ids)
        raw = staged[UPDATES]
        latest = (
            latest_updates(expand_updates(raw)).localCheckpoint()
            if raw is not None
            else None
        )
        ids = []
        if staged["DiaObject"] is not None:
            ids.append(staged["DiaObject"].select("diaObjectId"))
        if latest is not None:
            ids.append(table_patch(latest, "DiaObject").select("diaObjectId"))
        touched = reduce(DataFrame.unionByName, ids).distinct() if ids else None
        return Batch(staged, latest, touched)

    # -- promotion ----------------------------------------------------------

    def promote(self, chunk_ids: list[int] | None = None) -> list[int]:
        """Run the 7-step promotion for the given (default: promotable)
        chunks; returns the promoted ids."""
        if chunk_ids is None:
            chunk_ids = self.ledger.promotable_chunks()
        if not chunk_ids:
            return []
        # Per-promotion DML stats (the reference logs inserted/updated/
        # deleted counts per MERGE, updates_manager.py:242-271): each
        # merge/fill step appends its resolved observation here, and a
        # one-line summary lands in the promote log at the end.
        self.last_dml: list[dict] = []
        try:
            batch = self._batch(chunk_ids)
            steps = (
                ("copy_staging_to_promotion", self._copy_staging_to_promotion),
                ("fill_validity_end", self._fill_validity_end),
                ("apply_updates", self._apply_updates),
            )
            for name, step in steps:
                with timer(name, chunks=chunk_ids):
                    step(batch)
            with timer("swap_promotion_to_internal", chunks=chunk_ids):
                self._swap_promotion_to_internal()
            with timer("create_public_snapshot", chunks=chunk_ids):
                self._update_public_snapshot(batch)
            with timer("delete_staged", chunks=chunk_ids):
                self._delete_staged(chunk_ids)
            # One ledger commit for the whole batch (k event rows), not
            # k table writes — see ledger.update_chunks.
            self.ledger.update_chunks(chunk_ids, status=ChunkStatus.PROMOTED)
            if self.last_dml:
                summary = {
                    "stages": len(self.last_dml),
                    "updated": sum(int(e.get("updated", 0)) for e in self.last_dml),
                    "filled": sum(int(e.get("filled", 0)) for e in self.last_dml),
                    "rows": sum(int(e.get("rows", 0)) for e in self.last_dml),
                }
                _LOG.info(
                    "promote dml summary chunks=%s %s",
                    chunk_ids,
                    " ".join(f"{k}={v}" for k, v in summary.items()),
                )
            return chunk_ids
        finally:
            self._cleanup()

    def _concurrent(self, thunks) -> None:
        """Run independent per-table Spark thunks concurrently.

        Spark job submission is thread-safe; each thread names its own
        scheduler pool so a FAIR-mode cluster interleaves the jobs
        (FIFO ignores the property — the threads still overlap wherever
        task slots are free) and carries the caller's job group, so
        job-group status and cancellation cover the whole promotion.
        The first failure propagates after all threads finish, so a
        crashed table never leaves a sibling mid-write."""
        thunks = list(thunks)
        if len(thunks) <= 1:
            for t in thunks:
                t()
            return
        from concurrent.futures import ThreadPoolExecutor

        sc = self.spark.sparkContext
        inherited = {
            k: sc.getLocalProperty(k)
            for k in (
                "spark.jobGroup.id",
                "spark.job.description",
                "spark.job.interruptOnCancel",
            )
        }

        def pooled(i, t):
            def run():
                props = {**inherited, "spark.scheduler.pool": f"promote-{i}"}
                for k, v in props.items():
                    sc.setLocalProperty(k, v)
                t()

            return run

        with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
            futures = [ex.submit(pooled(i, t)) for i, t in enumerate(thunks)]
            errs = [f.exception() for f in futures]
        for e in errs:
            if e is not None:
                raise e

    def _copy_staging_to_promotion(self, batch: Batch) -> None:
        """Step 1: promo := zero-copy clone(internal) + append of the
        staged rows only, with geo_point and bucket computed.

        Matches ``bigquery/chunk_promoter.py:199-227`` (CLONE + INSERT
        INTO ... SELECT): the clone is hardlinks (O(files)), the insert
        writes one batch — promotion IO is O(batch), never O(table).
        The three tables' copies are independent jobs, submitted
        concurrently (:meth:`_concurrent`)."""
        self._concurrent(
            (lambda t=t: self._copy_one_table(t, batch.staged[t])) for t in DIA_TABLES
        )

    def _copy_one_table(self, t: str, staged: DataFrame | None) -> None:
        add = (
            self._with_bucket(with_geo_point(staged.drop(CHUNK_COLUMN)), t)
            if staged is not None
            else None
        )
        if self.internal[t].exists():
            self.promotion[t].clone_from(self.internal[t])
            if add is not None:
                cur_cols = set(self.promotion[t].read(self.spark).columns)
                if set(add.columns) == cur_cols:
                    self.promotion[t].append(
                        self._id_sorted(add, t), partition_by=(OBJ_BUCKET,)
                    )
                else:
                    # Schema drift (new/dropped columns in a batch):
                    # fall back to a full rewrite — rare by design.
                    combined = self.promotion[t].read(self.spark).unionByName(
                        add, allowMissingColumns=True
                    )
                    self.promotion[t].overwrite(
                        self._id_sorted(combined, t), partition_by=(OBJ_BUCKET,)
                    )
        elif add is not None:
            self.promotion[t].overwrite(
                self._id_sorted(add, t), partition_by=(OBJ_BUCKET,)
            )

    def _fill_validity_end(self, batch: Batch) -> None:
        """Step 2: close open DiaObject intervals — touched buckets only.

        The staged id set names a handful of id-range buckets; only
        those partitions are read (partition-pruned scan) and
        rewritten (``replace_partitions`` hardlinks the rest), matching
        the reference MERGE's touched-rows-only IO
        (``fill_diaobject_validity_end.sql:25-40``).
        """
        staged = batch.staged["DiaObject"]
        if staged is None or not self.promotion["DiaObject"].exists():
            return
        ids = staged.select("diaObjectId").distinct()
        buckets = self._buckets_of(ids, "diaObjectId")
        target = self.promotion["DiaObject"].read(self.spark)
        start_col, end_col = validity_columns(target.columns)
        touched = target.filter(F.col(OBJ_BUCKET).isin(buckets))
        filled = fill_validity_end(
            touched,
            ids,
            start_col=start_col,
            end_col=end_col,
            observe_as="fill_validity_end_DiaObject",
        )
        self.promotion["DiaObject"].replace_partitions(
            self._id_sorted(filled, "DiaObject"), OBJ_BUCKET, buckets
        )
        self.last_dml.extend(flush_observations())

    def _apply_updates(self, batch: Batch) -> None:
        """Step 3: per-table bucket-pruned merge of the batch's
        latest-only updates (expanded once, in :meth:`_batch`).

        Each table's patch keys map to a handful of id-range buckets; the
        MERGE reads and rewrites only those partitions.
        """
        latest = batch.latest
        if latest is None:
            return
        # The per-table merges are independent (distinct promotion
        # tables, patch slices of the shared checkpointed `latest`) —
        # submit them concurrently; observations resolve after the pool
        # joins (each entry is stage-tagged, so attribution survives
        # the interleave).
        self._concurrent(
            (lambda t=t, kc=key_cols: self._merge_one_table(t, kc, latest))
            for t, (key_cols, _fields) in TABLE_PATCHES.items()
        )
        self.last_dml.extend(flush_observations())

    def _merge_one_table(self, t: str, key_cols, latest: DataFrame) -> None:
        if not self.promotion[t].exists():
            return
        patch = table_patch(latest, t)
        buckets = self._buckets_of(patch, key_cols[0])
        if not buckets:
            return
        target = self.promotion[t].read(self.spark)
        touched = target.filter(F.col(OBJ_BUCKET).isin(buckets))
        # observe_as rides the write job below: per-MERGE scanned/
        # updated row counts land in the metrics log, the analog of
        # the reference's DML stats (updates_manager.py:242-271).
        merged = merge_patch(touched, patch, key_cols, observe_as=f"merge_{t}")
        self.promotion[t].replace_partitions(
            self._id_sorted(merged, t), OBJ_BUCKET, buckets
        )

    def _swap_promotion_to_internal(self) -> None:
        """Step 4: atomic truncate-swap (zero-copy clone + pointer flip)."""
        for t in DIA_TABLES:
            if self.promotion[t].exists():
                self.internal[t].clone_from(self.promotion[t])

    GEO_LEVEL = 4  # coarse cell for partitioning: at most 256 directories

    def _update_public_snapshot(self, batch: Batch) -> None:
        """Step 5: public DiaObject = current rows only, without
        validityEndMjdTai, clustered by geo_point (D10/P3/P4).

        Two-level clustering: partitioned by the coarse Z-order cell
        (``geo_cell``) so sky queries prune whole partitions at the
        metadata level, and sorted by the full ``geo_point`` within
        files so row-group min/max stats prune inside each partition —
        together the BigQuery ``CLUSTER BY geo_point`` access path.

        The reference re-runs a full CTAS per batch
        (``chunk_promoter.py:261-301``); at 100 TB that is an O(table)
        copy every 10 minutes, so here the snapshot is maintained
        *incrementally*: only the geo cells that a touched object's
        versions can occupy are rewritten (old current rows of touched
        ids removed, new current rows inserted), every other cell is
        hardlinked.  First promotion (no public table yet) falls back
        to the full build.  Equivalence with the full recompute is
        pinned by test_pipeline.
        """
        if not self.internal["DiaObject"].exists():
            return
        if not self.public_diaobject.exists():
            self._create_public_snapshot_full()
            return
        if batch.touched_ids is not None:
            self._update_public_snapshot_incremental(batch.touched_ids)

    def _create_public_snapshot_full(self) -> None:
        from ..ops.spatial import zorder_cell

        src = self.internal["DiaObject"].read(self.spark)
        _, end_col = validity_columns(src.columns)
        cur = (
            src.filter(F.col(end_col).isNull())
            .drop(end_col, OBJ_BUCKET)
            .withColumn("geo_cell", zorder_cell(F.col("geo_point"), self.GEO_LEVEL))
        )
        clustered = cur.repartitionByRange(F.col("geo_point")).sortWithinPartitions(
            "geo_point"
        )
        self.public_diaobject.overwrite(clustered, partition_by=("geo_cell",))

    def _update_public_snapshot_incremental(self, touched_ids: DataFrame) -> None:
        """Rewrite only the geo cells touched objects can occupy.

        Every version of a touched object lives in its id-range
        bucket, so the candidate cell set (old position and new) comes
        from a bucket-pruned read of internal — the public table is
        never scanned by id, only its touched cell partitions are read
        back.
        """
        from ..ops.spatial import zorder_cell

        internal = self.internal["DiaObject"].read(self.spark)
        buckets = self._buckets_of(touched_ids, "diaObjectId")
        ids = F.broadcast(touched_ids.distinct())
        versions = internal.filter(F.col(OBJ_BUCKET).isin(buckets)).join(
            ids, "diaObjectId", "left_semi"
        )
        cells = [
            r.c
            for r in versions.select(
                zorder_cell(F.col("geo_point"), self.GEO_LEVEL).alias("c")
            )
            .distinct()
            .collect()
        ]
        if not cells:
            return
        _, end_col = validity_columns(internal.columns)
        new_rows = (
            versions.filter(F.col(end_col).isNull())
            .drop(end_col, OBJ_BUCKET)
            .withColumn("geo_cell", zorder_cell(F.col("geo_point"), self.GEO_LEVEL))
        )
        pub = self.public_diaobject.read(self.spark)
        kept = pub.filter(F.col("geo_cell").isin(cells)).join(
            ids, "diaObjectId", "left_anti"
        )
        replacement = (
            kept.unionByName(new_rows)
            .repartitionByRange(F.col("geo_point"))
            .sortWithinPartitions("geo_point")
        )
        self.public_diaobject.replace_partitions(replacement, "geo_cell", cells)

    def _delete_staged(self, chunk_ids: list[int]) -> None:
        """Step 6: partition drops on staging tables (D11)."""
        for t in DIA_TABLES:
            self.staging[t].delete_partitions(CHUNK_COLUMN, chunk_ids)
        self.staging_updates.delete_partitions(CHUNK_COLUMN, chunk_ids)

    def _cleanup(self) -> None:
        """Finally: drop promotion workspace (chunk_promoter.py:336-348)
        and any DML observations whose write never completed (flushing
        those would block forever)."""
        from ..metrics import drop_pending

        for t in DIA_TABLES:
            self.promotion[t].drop()
        drop_pending()
