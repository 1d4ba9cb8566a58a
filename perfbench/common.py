"""Shared plumbing: work directory, Spark launch, spans, statistics.

The benchmark measures the program only from outside: it wraps the
calls it makes into each layer in spans (:class:`Tracer`), and in a
traced run it also wraps the public write methods of ``Ledger`` and
``ParquetTable`` (:func:`instrument_layers`) so Spark jobs launched
inside promote are attributed to the layer that launched them.
"""

from __future__ import annotations

import functools
import hashlib
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def note(msg: str) -> None:
    """Progress on stderr; stdout is reserved for the result lines."""
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str, event_log_dir: str | None) -> None:
    """Point every scratch location of Spark and Python at ``run_dir``
    and set launch-time Spark configuration.  Must run before the JVM
    starts.  The event log is uncompressed and non-rolling so the
    reducer can read it as one JSON-lines file."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # No JVM of the run (spark-submit's launcher included) writes
    # hsperfdata files outside the checkout.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def start_spark(app: str):
    from dax_ppdb_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this process plus the Spark JVM."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm)) / 1024.0


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """The highest sample with at least ten samples above it, as
    (percentile rank, value); None when there are too few samples."""
    n = len(values)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(values)[n - 11]


def median(values):
    return statistics.median(values) if values else 0.0


def calibration() -> dict:
    """Fixed-work anchors for reading box drift across sessions: one
    NumPy kernel and (via :func:`jvm_anchor`) one JVM job."""
    import numpy as np

    a = np.random.default_rng(0).random((400, 400))
    t0 = time.perf_counter()
    for _ in range(20):
        a = (a @ a) / 400.0
    return {"numpy_matmul_s": time.perf_counter() - t0}


def jvm_anchor(spark) -> float:
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(4_000_000, numPartitions=nproc()).select(
        F.sum(F.sqrt(F.col("id").cast("double")))
    ).collect()
    return time.perf_counter() - t0


def program_digest() -> str:
    """sha256 over the program's sources (``dax_ppdb_spark/**.py``)."""
    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(os.path.join(ROOT, "dax_ppdb_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def run_context(spark, seed: int) -> dict:
    import numpy
    import pyspark

    commit = None
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "commit": commit,
        "program_sha256": program_digest(),
        "seed": seed,
        **calibration(),
        "jvm_anchor_s": jvm_anchor(spark),
    }


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# -- process lifetime --------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so
    descendants whose parent dies first (Spark's Python workers once the
    JVM is gone) are re-parented here and can be waited for."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _descendants(root: int) -> list[int]:
    """Descendants of ``root`` that have not been reaped, from /proc.

    Zombies count: a JVM whose main thread has exited shows as a zombie
    while its other threads still run, and only waiting for it (see
    :func:`_reap`) tells that it has ended."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    found, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        found += kids
        frontier += kids
    return found


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(grace_s: float = 20.0) -> None:
    """Stop every process the run started and wait until each has ended.

    Spark's gateway JVM only exits on its own after this process has
    exited (it watches its stdin), so it is stopped here: the context is
    stopped, the JVM's stdin is closed, and whatever is still alive after
    ``grace_s`` is terminated, then killed."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            try:
                sc.stop()
            except Exception as e:  # noqa: BLE001 - the JVM may be gone already
                note(f"stopping Spark: {e}")
        gw = SparkContext._gateway
        if gw is not None and getattr(gw, "proc", None) is not None:
            try:
                gw.proc.stdin.close()
            except OSError:
                pass
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    signalled = None
    while True:
        _reap()
        alive = _descendants(me)
        if not alive:
            return
        now = time.monotonic()
        sig = None
        if now > deadline + 20:
            note(f"processes {alive} did not end")
            return
        if now > deadline + 10:
            sig = signal.SIGKILL
        elif now > deadline and signalled is None:
            sig = signal.SIGTERM
        if sig is not None and sig != signalled:
            note(f"sending signal {int(sig)} to {alive}")
            for p in alive:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            signalled = sig
        time.sleep(0.02)


# -- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent, trace id.

    Spans opened on a helper thread (promote's per-table pool) with no
    span of their own parent to the innermost open span of the main
    thread, so pool work lands under the promote call that started it.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self.trace_id = None

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        rec = {"name": name, "start": time.time(), "end": None, "parent": parent,
               "trace": self.trace_id, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        st.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            st.pop()


def _wrap(cls, method: str, tracer: Tracer, span_name: str) -> None:
    orig = getattr(cls, method)

    @functools.wraps(orig)
    def wrapped(*a, **k):
        with tracer.span(span_name, method=method):
            return orig(*a, **k)

    setattr(cls, method, wrapped)


LEDGER_MUTATORS = ("insert_chunks", "upsert_chunk", "update_chunk", "update_chunks", "compact_log")
TABLE_WRITES = (
    "overwrite", "append", "append_commit", "clone_from", "replace_partitions",
    "delete_partitions", "compact",
)


# Promoter step methods -> span names (the steps metrics.timer reports).
PROMOTE_STEPS = {
    "_copy_staging_to_promotion": "promote.copy",
    "_fill_validity_end": "promote.fill_validity",
    "_apply_updates": "promote.apply_updates",
    "_swap_promotion_to_internal": "promote.swap",
    "_update_public_snapshot": "promote.public_snapshot",
    "_delete_staged": "promote.delete_staged",
}


def instrument_layers(tracer: Tracer) -> None:
    """Traced runs only: span every Ledger mutator, every ParquetTable
    write and pointer commit, and each promote step."""
    from dax_ppdb_spark.io.table import ParquetTable
    from dax_ppdb_spark.ledger import Ledger
    from dax_ppdb_spark.pipeline.promote import Promoter

    for m, name in PROMOTE_STEPS.items():
        _wrap(Promoter, m, tracer, name)

    for m in LEDGER_MUTATORS:
        _wrap(Ledger, m, tracer, "ledger")
    for m in TABLE_WRITES:
        _wrap(ParquetTable, m, tracer, "io_table")
    _wrap(ParquetTable, "_commit", tracer, "io_table.commit")
