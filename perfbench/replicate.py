"""``replicate``: the paper's write path, store -> upload (+stage) -> promote.

Phases, all on one PPDB root and one client:

1. base (set-up, untimed): ``BASE_CHUNKS`` chunk(s) stored, uploaded
   and promoted in one batch, updates included.  It warms the JVM and
   leaves non-empty internal and public tables, so every timed cycle
   takes the incremental public-snapshot path.
2. steady (timed): ``STEADY_CYCLES`` chunk(s), one per cycle, store ->
   upload poll (stage trigger) -> promote.  A cycle takes 20-35 s on
   four cores, so the run budget holds one; ``--seconds`` does not
   change it.  The timed chunk is the second ever promoted, and cycle
   time has not levelled off there: it times an early, not a
   long-running, replica.
3. catch-up (timed, traced runs only): a backlog of ``CATCHUP_CHUNKS``
   is stored, then drained by one upload poll and one batched promote.
   Its chunks are generated in every run, so the traced and the plain
   run of a seed share their inputs.  A run must end within 180 s; on
   a host slow enough that the phase would not end by ``RUN_LIMIT_S``
   (judged from the steady cycle's time), it is skipped, its per-layer
   figures read 0 and the detail file says so.

The correctness gate replays the same chunks, batch by batch, in
DuckDB and compares the end state by an order-independent hash.
"""

from __future__ import annotations

import hashlib
import os
import time

from . import gen
from .common import Tracer, clean, median, note

N_OBJ = 1000
BASE_CHUNKS = 1
CATCHUP_CHUNKS = 2
STEADY_CYCLES = 1
RUN_LIMIT_S = 160.0  # the 180 s a run may take, less a margin
# Catch-up plus the gate and the trace reduction after it, in steady
# cycle times (about 1.5 + 1 on four cores).
CATCHUP_COST_CYCLES = 2.5
DIA_TABLES = ("DiaObject", "DiaSource", "DiaForcedSource")
# metrics.timer stage names of promote's steps -> per-layer metric names
STEP_METRICS = {
    "copy_staging_to_promotion": "promote.copy_s",
    "fill_validity_end": "promote.fill_validity_s",
    "apply_updates": "promote.apply_updates_s",
    "swap_promotion_to_internal": "promote.swap_s",
    "create_public_snapshot": "promote.public_snapshot_s",
    "delete_staged": "promote.delete_staged_s",
}


def generate(in_dir: str, seed: int) -> list[dict]:
    return gen.write_chunks(in_dir, seed, BASE_CHUNKS + STEADY_CYCLES + CATCHUP_CHUNKS, N_OBJ)


class Replicator:
    """The benchmark's client: drives one PPDB root through the
    program's public entry points, one span per layer call."""

    def __init__(self, spark, root: str, tracer: Tracer) -> None:
        from dax_ppdb_spark.pipeline.promote import Promoter
        from dax_ppdb_spark.pipeline.upload import ChunkUploader

        self.spark = spark
        self.root = root
        self.tracer = tracer
        self.promoter = Promoter(spark, root)
        self.uploader = ChunkUploader(
            self.promoter.ledger,
            os.path.join(root, "export"),
            os.path.join(root, "bucket"),
            stage_trigger=self._stage,
            exit_on_error=True,
        )

    def _stage(self, chunk_dir: str, chunk_id: int) -> None:
        with self.tracer.span("stage"):
            self.promoter.stage_chunk_dir(chunk_dir, chunk_id)

    def store(self, chunk: dict) -> None:
        from dax_ppdb_spark.pipeline.store import store_chunk

        read = self.spark.read.parquet
        tables = {t: read(os.path.join(chunk["dir"], f"{t}.parquet")) for t in DIA_TABLES}
        with self.tracer.span("store"):
            store_chunk(
                self.spark,
                os.path.join(self.root, "export"),
                chunk["chunk_id"],
                tables,
                updates=read(os.path.join(chunk["dir"], "updates.parquet")),
                ledger=self.promoter.ledger,
            )

    def upload(self) -> list[int]:
        with self.tracer.span("upload"):
            return self.uploader.run_once()

    def promote(self) -> tuple[list[int], dict]:
        from dax_ppdb_spark import metrics

        metrics.clear()
        with self.tracer.span("promote"):
            done = self.promoter.promote()
        steps = {r["stage"]: r["seconds"] for r in metrics.recent(kind="timer")}
        return done, steps

    def batch(self, chunks: list[dict]) -> None:
        """Store a backlog, drain it with one poll and one promote."""
        for c in chunks:
            self.store(c)
        ids = [c["chunk_id"] for c in chunks]
        uploaded = self.upload()
        done, _ = self.promote()
        if uploaded != ids or done != ids:
            raise RuntimeError(f"batch {ids}: uploaded {uploaded}, promoted {done}")


def run(spark, chunks: list[dict], work: str, tracer: Tracer, catchup: bool, started: float) -> dict:
    """``started`` is the run's start on the ``time.perf_counter`` clock."""
    root = os.path.join(work, "ppdb")
    clean(root)
    rep = Replicator(spark, root, tracer)
    base = chunks[:BASE_CHUNKS]
    t0 = time.perf_counter()
    with tracer.span("base"):
        rep.batch(base)
    warmup_s = time.perf_counter() - t0
    note(f"base batch {warmup_s:.1f}s")
    batches = [[c["chunk_id"] for c in base]]

    rest = chunks[BASE_CHUNKS:]
    cycles, failed = [], 0
    steady = rest[:STEADY_CYCLES]
    for c in steady:
        tracer.trace_id = c["chunk_id"]
        t0 = time.perf_counter()
        try:
            with tracer.span("cycle"):
                rep.store(c)
                rep.upload()
                done, steps = rep.promote()
            if done != [c["chunk_id"]]:
                raise RuntimeError(f"chunk {c['chunk_id']}: promoted {done}")
        except Exception as e:  # counted; the run goes on
            failed += 1
            note(f"cycle failed: {e!r}")
            continue
        finally:
            batches.append([c["chunk_id"]])
        cycles.append({"chunk": c, "s": time.perf_counter() - t0, "steps": steps})
        note(f"chunk {c['chunk_id']} {cycles[-1]['s']:.1f}s")

    backlog = rest[STEADY_CYCLES : STEADY_CYCLES + CATCHUP_CHUNKS] if catchup else []
    catchup_skipped = False
    if backlog and cycles:
        need = CATCHUP_COST_CYCLES * cycles[-1]["s"]
        if time.perf_counter() - started + need > RUN_LIMIT_S:
            note(f"catch-up skipped: {need:.0f}s would pass the {RUN_LIMIT_S:.0f}s run limit")
            backlog, catchup_skipped = [], True
    catchup_s = None
    if backlog:
        tracer.trace_id = "catchup"
        t0 = time.perf_counter()
        try:
            with tracer.span("catchup"):
                rep.batch(backlog)
            catchup_s = time.perf_counter() - t0
            note(f"catch-up {catchup_s:.1f}s")
        except Exception as e:
            failed += 1
            note(f"catch-up failed: {e!r}")
        batches.append([c["chunk_id"] for c in backlog])
        tracer.trace_id = None

    used = base + steady + backlog
    input_bytes = sum(c["bytes"] for c in used)
    stored_bytes, data_files = disk_usage(root)
    steady_rows = sum(c["chunk"]["rows"] for c in cycles)
    lat = [c["s"] for c in cycles]
    return {
        "rep": rep,
        "root": root,
        "used": used,
        "batches": batches,
        "cycles": cycles,
        "attempted": len(steady) + bool(backlog),
        "failed": failed,
        "warmup_s": warmup_s,
        "op_latencies": lat,
        "op_p50_s": median(lat),
        "replicate_rows_per_s": steady_rows / sum(lat) if lat else 0.0,
        "catchup_skipped": catchup_skipped,
        "catchup_rows_per_s": (
            sum(c["rows"] for c in backlog) / catchup_s if catchup_s else 0.0
        ),
        "stored_bytes_per_input_byte": stored_bytes / input_bytes,
        "data_files": data_files,
        "input_bytes": input_bytes,
    }


def disk_usage(root: str) -> tuple[int, int]:
    """Bytes and parquet data files under ``root``, every hardlinked
    file counted once."""
    seen, total, parquet = set(), 0, 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(d, f))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
                parquet += f.endswith(".parquet")
    return total, parquet


# -- correctness gate ----------------------------------------------------------

_FIELDS = {
    # update_type -> (table, key fields, [(field, always_emitted)])
    "close_diaobject_validity": (
        "DiaObject", ("diaObjectId",), [("validityEndMjdTai", True), ("nDiaSources", False)]),
    "update_ndiasources": ("DiaObject", ("diaObjectId",), [("nDiaSources", True)]),
    "reassign_diasource_to_diaobject": ("DiaSource", ("diaSourceId",), [("diaObjectId", True)]),
    "reassign_diasource_to_ssobject": (
        "DiaSource", ("diaSourceId",),
        [("ssObjectId", True), ("ssObjectReassocTimeMjdTai", True), ("diaObjectId", True)]),
    "withdraw_diasource": ("DiaSource", ("diaSourceId",), [("timeWithdrawnMjdTai", True)]),
    "withdraw_diaforcedsource": (
        "DiaForcedSource", ("diaObjectId", "visit", "detector"), [("timeWithdrawnMjdTai", True)]),
}
_TYPES = {
    "validityEndMjdTai": "DOUBLE", "nDiaSources": "INTEGER", "diaObjectId": "BIGINT",
    "ssObjectId": "BIGINT", "ssObjectReassocTimeMjdTai": "DOUBLE", "timeWithdrawnMjdTai": "DOUBLE",
}


def replay(chunks: list[dict], batches: list[list[int]]):
    """DuckDB replay of the promotion semantics, batch by batch:
    insert the batch, close open validity intervals of the batch's
    objects from the next version's start, then apply the batch's
    updates last-writer-wins by (chunk, time, order).  Returns a
    connection holding tables DiaObject, DiaSource, DiaForcedSource."""
    import duckdb

    by_id = {c["chunk_id"]: c for c in chunks}
    con = duckdb.connect()
    first = chunks[0]["dir"]
    for t in DIA_TABLES:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{first}/{t}.parquet') LIMIT 0")
    for batch in batches:
        if not batch:
            continue
        dirs = [by_id[c]["dir"] for c in batch]
        for t in DIA_TABLES:
            files = ", ".join(f"'{d}/{t}.parquet'" for d in dirs)
            con.execute(f"INSERT INTO {t} SELECT * FROM read_parquet([{files}])")
        files = ", ".join(f"'{d}/DiaObject.parquet'" for d in dirs)
        con.execute(f"""
            UPDATE DiaObject SET validityEndMjdTai = f.nxt FROM (
                SELECT diaObjectId, validityStartMjdTai,
                       lead(validityStartMjdTai) OVER (
                           PARTITION BY diaObjectId ORDER BY validityStartMjdTai) AS nxt
                FROM DiaObject
                WHERE diaObjectId IN (SELECT diaObjectId FROM read_parquet([{files}]))
            ) f
            WHERE DiaObject.diaObjectId = f.diaObjectId
              AND DiaObject.validityStartMjdTai = f.validityStartMjdTai
              AND DiaObject.validityEndMjdTai IS NULL""")
        raw = " UNION ALL ".join(
            f"SELECT {c} AS chunk, * FROM read_parquet('{by_id[c]['dir']}/updates.parquet')"
            for c in batch
        )
        parts = []
        for utype, (table, keys, fields) in _FIELDS.items():
            kcols = ", ".join(
                f"CAST(json_extract_string(json_payload, '$.{k}') AS BIGINT) AS k{i}"
                for i, k in enumerate(keys)
            ) + "".join(f", NULL::BIGINT AS k{i}" for i in range(len(keys), 3))
            for f, always in fields:
                # An optional field takes part when its key is present,
                # even with a JSON null value (DuckDB's json_extract reads
                # that null as SQL NULL, so presence is tested by key).
                cond = "" if always else f" AND list_contains(json_keys(json_payload), '{f}')"
                parts.append(
                    f"SELECT '{table}' AS tbl, {kcols}, '{f}' AS field, "
                    f"json_extract_string(json_payload, '$.{f}') AS v, "
                    f"chunk, update_time_ns, update_order FROM raw "
                    f"WHERE update_type = '{utype}'{cond}"
                )
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE latest AS
            WITH raw AS ({raw}), x AS ({' UNION ALL '.join(parts)})
            SELECT * FROM x QUALIFY row_number() OVER (
                PARTITION BY tbl, k0, k1, k2, field
                ORDER BY chunk DESC, update_time_ns DESC, update_order DESC) = 1""")
        for _utype, (table, keys, fields) in _FIELDS.items():
            match = " AND ".join(f"{table}.{k} = l.k{i}" for i, k in enumerate(keys))
            for f, _ in fields:
                skip_null = " AND l.v IS NOT NULL" if f == "nDiaSources" else ""
                con.execute(f"""
                    UPDATE {table} SET {f} = CAST(l.v AS {_TYPES[f]}) FROM latest l
                    WHERE l.tbl = '{table}' AND l.field = '{f}' AND {match}{skip_null}""")
    return con


def table_hash(tbl) -> str:
    """Order-independent hash of an Arrow table: columns by name, rows
    sorted by their canonical text."""
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = sorted(repr(tuple(col[i] for col in data)) for i in range(tbl.num_rows))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def _arrow(table):
    """A ParquetTable's current version read straight from its files
    (pyarrow, no Spark job), partition columns dropped."""
    import pyarrow.dataset as ds

    d = table.data_dir()
    if d is None:
        return None
    data = ds.dataset(d, format="parquet", partitioning="hive")
    keep = [f.name for f in data.schema if f.name not in ("geo_point", "obj_bucket", "geo_cell")]
    return data.to_table(columns=keep)


def check(spark, result: dict) -> list[str]:
    """Compare the end state with the DuckDB replay; return problems."""
    from pyspark.sql import functions as F

    from dax_ppdb_spark.schema.registry import ChunkStatus

    p = result["rep"].promoter
    con = replay(result["used"], result["batches"])
    problems = []
    for t in DIA_TABLES:
        got = _arrow(p.internal[t])
        want = con.execute(f"SELECT * FROM {t}").arrow()
        if got is None or table_hash(got) != table_hash(want):
            n = got.num_rows if got is not None else 0
            problems.append(f"internal {t}: {n} rows vs replay {want.num_rows}, hash differs")
    pub = _arrow(p.public_diaobject)
    cur = con.execute(
        "SELECT * EXCLUDE (validityEndMjdTai) FROM DiaObject WHERE validityEndMjdTai IS NULL"
    ).arrow()
    if pub is None or table_hash(pub) != table_hash(cur):
        problems.append(f"public snapshot differs from the {cur.num_rows} current versions")
    statuses = p.ledger.read().groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
    by_status = {r.status: r.n for r in statuses}
    n_used = len(result["used"])
    if by_status != {ChunkStatus.PROMOTED.value: n_used}:
        problems.append(f"ledger statuses {by_status}, want all {n_used} PROMOTED")
    for name, t in [*p.staging.items(), ("updates", p.staging_updates)]:
        left = _arrow(t)
        if left is not None and left.num_rows:
            problems.append(f"staging {name} still holds {left.num_rows} rows")
    return problems
