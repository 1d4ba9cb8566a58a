"""Seeded input generator of the ``replicate`` workload.

Everything the program receives is written here, as parquet, before any
timing starts.  The same seed gives byte-identical files; a different
seed gives different ones (``test_perfbench.py`` pins both).

:func:`write_chunks` makes APDB-side replica chunks: DiaObject versions
(new objects plus new versions of earlier ones, so validity chains
close), DiaSource, DiaForcedSource and all six update types, aimed at
rows of earlier chunks, with last-writer-wins collisions inside and
across chunks.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MJD0 = 60000.0
CHUNK_MJD = 0.01  # one replica chunk per ~14 minutes of MJD
SOURCES_PER_OBJECT = 2

_OBJ_SCHEMA = pa.schema(
    [
        ("diaObjectId", pa.int64()),
        ("validityStartMjdTai", pa.float64()),
        ("validityEndMjdTai", pa.float64()),
        ("ra", pa.float64()),
        ("dec", pa.float64()),
        ("parallax", pa.float32()),
        ("nDiaSources", pa.int32()),
        ("firstDiaSourceMjdTai", pa.float64()),
    ]
)
_SRC_SCHEMA = pa.schema(
    [
        ("diaSourceId", pa.int64()),
        ("visit", pa.int64()),
        ("detector", pa.int16()),
        ("diaObjectId", pa.int64()),
        ("ssObjectId", pa.int64()),
        ("parentDiaSourceId", pa.int64()),
        ("ra", pa.float64()),
        ("dec", pa.float64()),
        ("ssObjectReassocTimeMjdTai", pa.float64()),
        ("midpointMjdTai", pa.float64()),
        ("centroid_flag", pa.bool_()),
        ("timeProcessedMjdTai", pa.float64()),
        ("timeWithdrawnMjdTai", pa.float64()),
    ]
)
_FSRC_SCHEMA = pa.schema(
    [
        ("diaObjectId", pa.int64()),
        ("visit", pa.int64()),
        ("detector", pa.int16()),
        ("ra", pa.float64()),
        ("dec", pa.float64()),
        ("midpointMjdTai", pa.float64()),
        ("flags", pa.int64()),
        ("timeWithdrawnMjdTai", pa.float64()),
    ]
)
_UPD_SCHEMA = pa.schema(
    [
        ("update_time_ns", pa.int64()),
        ("update_order", pa.int64()),
        ("update_type", pa.string()),
        ("json_payload", pa.string()),
    ]
)


def _write(table: pa.Table, path: str) -> int:
    """Write one parquet file deterministically; return its size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", store_schema=False)
    return os.path.getsize(path)


def _r(x: float, nd: int = 6) -> float:
    return float(round(float(x), nd))


def write_chunks(
    out_dir: str, seed: int, n_chunks: int, n_obj: int, first_chunk: int = 1
) -> list[dict]:
    """Write ``n_chunks`` replica chunks under ``out_dir/chunk_<id>/``.

    Returns one dict per chunk: ``chunk_id``, ``dir``, ``rows`` (all
    tables plus updates) and ``bytes`` (parquet size on disk).
    """
    rng = np.random.default_rng(seed)
    id0 = 1_000_000 + int(rng.integers(0, 1000))
    cap = n_chunks * n_obj
    pos_ra = np.round(rng.uniform(0, 360, cap), 6)
    pos_dec = np.round(np.degrees(np.arcsin(rng.uniform(-1, 1, cap))), 6)
    obj_ids = np.empty(0, dtype=np.int64)  # every object seen so far
    src_ids = np.empty(0, dtype=np.int64)  # every DiaSource row seen so far
    fsrc_keys = np.empty((0, 3), dtype=np.int64)
    next_obj, next_src = id0, 1
    prev_updates: list[tuple[str, dict]] = []
    out = []
    for k in range(n_chunks):
        cid = first_chunk + k
        mjd = MJD0 + cid * CHUNK_MJD
        # 30% of the chunk's objects are new versions of earlier ones.
        n_old = min(len(obj_ids), int(n_obj * 0.3))
        old = rng.choice(obj_ids, size=n_old, replace=False) if n_old else obj_ids[:0]
        new = np.arange(next_obj, next_obj + n_obj - n_old, dtype=np.int64)
        next_obj += len(new)
        ids = np.sort(np.concatenate([old, new]))
        n = len(ids)
        ra, dec = pos_ra[ids - id0], pos_dec[ids - id0]
        start = mjd + (ids % 97) * 1e-5
        # 5% of versions carry an explicit end (a gap the fill keeps).
        explicit = rng.random(n) < 0.05
        obj = pa.table(
            {
                "diaObjectId": pa.array(ids),
                "validityStartMjdTai": pa.array(np.round(start, 5)),
                "validityEndMjdTai": pa.array(np.round(start + 0.003, 5), mask=~explicit),
                "ra": pa.array(ra),
                "dec": pa.array(dec),
                "parallax": pa.array(
                    rng.normal(0, 1, n).astype(np.float32), mask=rng.random(n) < 0.2
                ),
                "nDiaSources": pa.array(rng.integers(1, 50, n).astype(np.int32)),
                "firstDiaSourceMjdTai": pa.array(np.round(start - 0.5, 5)),
            },
            schema=_OBJ_SCHEMA,
        )
        m = n * SOURCES_PER_OBJECT
        s_ids = np.arange(next_src, next_src + m, dtype=np.int64)
        next_src += m
        jitter = rng.normal(0, 1e-4, (2, m))
        src = pa.table(
            {
                "diaSourceId": pa.array(s_ids),
                "visit": pa.array(np.full(m, cid, dtype=np.int64)),
                "detector": pa.array(rng.integers(0, 200, m).astype(np.int16)),
                "diaObjectId": pa.array(np.repeat(ids, SOURCES_PER_OBJECT)),
                "ssObjectId": pa.nulls(m, pa.int64()),
                "parentDiaSourceId": pa.nulls(m, pa.int64()),
                "ra": pa.array(np.round(np.repeat(ra, SOURCES_PER_OBJECT) + jitter[0], 7)),
                "dec": pa.array(np.round(np.repeat(dec, SOURCES_PER_OBJECT) + jitter[1], 7)),
                "ssObjectReassocTimeMjdTai": pa.nulls(m, pa.float64()),
                "midpointMjdTai": pa.array(np.full(m, mjd)),
                "centroid_flag": pa.array(rng.random(m) < 0.1),
                "timeProcessedMjdTai": pa.array(np.full(m, mjd + 0.001)),
                "timeWithdrawnMjdTai": pa.nulls(m, pa.float64()),
            },
            schema=_SRC_SCHEMA,
        )
        f_det = rng.integers(0, 200, n).astype(np.int16)
        fsrc = pa.table(
            {
                "diaObjectId": pa.array(ids),
                "visit": pa.array(np.full(n, cid, dtype=np.int64)),
                "detector": pa.array(f_det),
                "ra": pa.array(ra),
                "dec": pa.array(dec),
                "midpointMjdTai": pa.array(np.full(n, mjd)),
                "flags": pa.array(rng.integers(0, 4, n).astype(np.int64)),
                "timeWithdrawnMjdTai": pa.nulls(n, pa.float64()),
            },
            schema=_FSRC_SCHEMA,
        )
        f_keys = np.stack([ids, np.full(n, cid), f_det.astype(np.int64)], axis=1)
        # Updates hit rows of earlier chunks; the first chunk has none, so
        # its updates hit its own rows (applied after the same promotion's
        # inserts).
        targets = (obj_ids, src_ids, fsrc_keys) if k else (new, s_ids, f_keys)
        updates = _chunk_updates(rng, cid, mjd, *targets, prev_updates)
        prev_updates = updates
        upd = pa.table(
            {
                "update_time_ns": pa.array([u[1]["t"] for u in updates], pa.int64()),
                "update_order": pa.array(list(range(len(updates))), pa.int64()),
                "update_type": pa.array([u[0] for u in updates], pa.string()),
                "json_payload": pa.array(
                    [json.dumps(u[1]["p"], sort_keys=True) for u in updates], pa.string()
                ),
            },
            schema=_UPD_SCHEMA,
        )
        obj_ids = np.concatenate([obj_ids, new])
        src_ids = np.concatenate([src_ids, s_ids])
        fsrc_keys = np.concatenate([fsrc_keys, f_keys])
        d = os.path.join(out_dir, f"chunk_{cid}")
        size = sum(
            _write(t, os.path.join(d, f"{name}.parquet"))
            for name, t in (
                ("DiaObject", obj),
                ("DiaSource", src),
                ("DiaForcedSource", fsrc),
                ("updates", upd),
            )
        )
        rows = obj.num_rows + src.num_rows + fsrc.num_rows + upd.num_rows
        out.append({"chunk_id": cid, "dir": d, "rows": rows, "bytes": size})
    return out


def _chunk_updates(rng, cid, mjd, obj_ids, src_ids, fsrc_keys, prev):
    """All six update types against the given target rows.

    Each type hits ~1% of its target rows.  Collisions exercise the
    last-writer-wins order (chunk, update_time_ns, update_order): a
    later time wins, an earlier one loses, equal times fall to the
    higher order, and a few of the previous chunk's targets are hit
    again (cross-chunk collisions)."""
    t0 = 1_700_000_000_000_000_000 + cid * 1_000_000_000
    out: list[tuple[str, dict]] = []

    def pick(pool, frac):
        k = max(2, int(len(pool) * frac))
        idx = np.sort(rng.choice(len(pool), size=min(k, len(pool)), replace=False))
        return pool[idx].tolist()

    def t(i):
        return t0 + int(rng.integers(0, 1000)) * 1000 + i

    for oid in pick(obj_ids, 0.01):
        p = {"diaObjectId": oid, "validityEndMjdTai": _r(mjd - 0.002, 5)}
        r = rng.random()
        if r < 0.3:
            p["nDiaSources"] = int(rng.integers(1, 99))
        elif r < 0.45:
            p["nDiaSources"] = None  # present but NULL: target value kept
        out.append(("close_diaobject_validity", {"t": t(len(out)), "p": p}))
    for oid in pick(obj_ids, 0.01):
        out.append(
            ("update_ndiasources",
             {"t": t(len(out)), "p": {"diaObjectId": oid, "nDiaSources": int(rng.integers(1, 99))}})
        )
    for sid in pick(src_ids, 0.01):
        out.append(
            ("reassign_diasource_to_diaobject",
             {"t": t(len(out)), "p": {"diaSourceId": sid, "diaObjectId": int(rng.choice(obj_ids))}})
        )
    for sid in pick(src_ids, 0.005):
        out.append(
            ("reassign_diasource_to_ssobject",
             {"t": t(len(out)), "p": {
                 "diaSourceId": sid,
                 "ssObjectId": int(rng.integers(1, 10**9)),
                 "ssObjectReassocTimeMjdTai": _r(mjd - 0.001, 5)}})
        )
    for sid in pick(src_ids, 0.01):
        out.append(
            ("withdraw_diasource",
             {"t": t(len(out)), "p": {"diaSourceId": sid, "timeWithdrawnMjdTai": _r(mjd - 0.0015, 5)}})
        )
    for oid, visit, det in pick(fsrc_keys, 0.01):
        out.append(
            ("withdraw_diaforcedsource",
             {"t": t(len(out)), "p": {
                 "diaObjectId": oid, "visit": visit, "detector": det,
                 "timeWithdrawnMjdTai": _r(mjd - 0.0015, 5)}})
        )
    # Same-chunk collisions: re-emit some records with a later time
    # (wins), an earlier time (loses) or the same time (higher order
    # wins), each with a different value.
    base = list(out)
    for i in rng.choice(len(base), size=max(3, len(base) // 20), replace=False):
        utype, u = base[int(i)]
        p = _perturb(rng, utype, u["p"], mjd)
        shift = int(rng.choice([-1, 0, 1])) * 7
        out.append((utype, {"t": u["t"] + shift, "p": p}))
    # Cross-chunk collisions with the previous chunk's targets.
    for utype, u in prev[: max(2, len(prev) // 50)]:
        out.append((utype, {"t": t(len(out)), "p": _perturb(rng, utype, u["p"], mjd)}))
    return out


def _perturb(rng, utype, p, mjd):
    q = dict(p)
    if utype == "close_diaobject_validity":
        q["validityEndMjdTai"] = _r(mjd - 0.0025, 5)
    elif utype == "update_ndiasources":
        q["nDiaSources"] = int(rng.integers(100, 200))
    elif utype == "reassign_diasource_to_diaobject":
        q["diaObjectId"] = int(q["diaObjectId"]) + 1
    elif utype == "reassign_diasource_to_ssobject":
        q["ssObjectId"] = int(rng.integers(1, 10**9))
    else:
        q["timeWithdrawnMjdTai"] = _r(mjd - 0.0005, 5)
    return q

