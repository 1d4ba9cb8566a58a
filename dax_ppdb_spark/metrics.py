"""Per-stage instrumentation: the Timer / MonAgent / log_job analog.

Reference: operation timers tagged per table/chunk with row counts
(``sql/_ppdb_sql.py:197-251``, ``sql/bulk_insert.py:80-85``) and DML
row-count reporting (``bigquery/updates/updates_manager.py:242-271``).

Spark equivalent: wall-clock timers around driver-side stage
boundaries, plus DML counts computed by Spark ``Observation``s inside
the very job that writes the rows — nothing here re-runs or walks an
executed plan.  Per-job cost (bytes, tasks, CPU) belongs to Spark's own
event log, reduced outside the program.  Entries are emitted through
standard logging so deployments route them like any other telemetry.
"""

from __future__ import annotations

import logging
import time
from collections import deque
from contextlib import contextmanager

_LOG = logging.getLogger("dax_ppdb_spark.metrics")

# In-process record of recent stage timings / row counts so tests and
# benches can assert on instrumentation without scraping logs (the
# reference's MonAgent buffer analog).
_RECENT: deque[dict] = deque(maxlen=4096)


@contextmanager
def timer(stage: str, **tags):
    """Log wall-clock for a pipeline stage, tagged like the
    reference's ``Timer(..., tags={...})``."""
    t0 = time.time()
    try:
        yield
    finally:
        dt = time.time() - t0
        _RECENT.append({"kind": "timer", "stage": stage, "seconds": dt, **tags})
        tag_s = " ".join(f"{k}={v}" for k, v in tags.items())
        _LOG.info("%s took %.3fs %s", stage, dt, tag_s)


# Pending Observations: attached to a plan, resolvable only after the
# caller runs an action on the observed DataFrame (write/collect).
_PENDING: deque[tuple[str, object, dict]] = deque(maxlen=256)


def observe(df, stage: str, exprs: dict, **tags):
    """Attach named aggregate metrics to a DataFrame's next action.

    Spark's ``Observation`` computes the aggregates inside the same job
    that materializes the plan — the analog of BigQuery's per-job
    ``num_dml_affected_rows`` / bytes-processed stats the reference
    logs (``query_runner.py:63-100``, ``updates_manager.py:242-271``),
    with zero extra scans.  Call :func:`flush_observations` after the
    action to move the values into the metrics buffer and the log.
    """
    from pyspark.sql import Observation

    obs = Observation()
    out = df.observe(obs, *[e.alias(name) for name, e in exprs.items()])
    _PENDING.append((stage, obs, dict(tags)))
    return out


def flush_observations() -> list[dict]:
    """Resolve every pending observation (the observed DataFrames must
    have been acted on — ``Observation.get`` blocks otherwise) and log
    them as ``kind="dml"`` entries.  Returns the new entries."""
    out = []
    while _PENDING:
        stage, obs, tags = _PENDING.popleft()
        vals = dict(obs.get)
        entry = {"kind": "dml", "stage": stage, **vals, **tags}
        _RECENT.append(entry)
        tag_s = " ".join(f"{k}={v}" for k, v in {**vals, **tags}.items())
        _LOG.info("%s dml %s", stage, tag_s)
        out.append(dict(entry))
    return out


def drop_pending() -> int:
    """Discard unresolved observations (their DataFrame's action never
    ran — e.g. a failed write).  ``Observation.get`` blocks until an
    action completes, so a failure path must drop instead of flush or
    the next flush would hang.  Returns the number dropped."""
    n = len(_PENDING)
    _PENDING.clear()
    return n


def log_rows(stage: str, n: int, **tags) -> None:
    """DML-stats logging (inserted/updated/deleted row counts)."""
    _RECENT.append({"kind": "rows", "stage": stage, "rows": n, **tags})
    tag_s = " ".join(f"{k}={v}" for k, v in tags.items())
    _LOG.info("%s rows=%d %s", stage, n, tag_s)


def recent(stage: str | None = None, kind: str | None = None) -> list[dict]:
    """Recorded entries, newest last, optionally filtered."""
    return [
        dict(r)
        for r in _RECENT
        if (stage is None or r["stage"] == stage)
        and (kind is None or r["kind"] == kind)
    ]


def clear() -> None:
    _RECENT.clear()
