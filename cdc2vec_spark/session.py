"""SparkSession factory.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (driver-only JVM),
but every config here is chosen so the same session settings scale to a
multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong for some stage; AQE fixes it at
  runtime.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster you'd set it ~2-3x total cores and let AQE coalesce.
- Arrow enabled for every pandas_udf / toPandas boundary.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).

It also owns the one memo for derived state that several reports read
(shared pair sets, ANN indexes, replayed IVM states): ``memo`` /
``clear``. Entries belong to the SparkContext that built them.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile
from collections import OrderedDict
from typing import Any, Callable, TypeVar

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import SparkSession

T = TypeVar("T")


# cgroup v2 and v1 memory limits; a file holding "max" (or absent) sets none
CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def memory_limit_bytes(cgroup_files: tuple[str, ...] = CGROUP_MEMORY_LIMITS) -> int:
    """Physical memory, or the container's cgroup memory limit if smaller."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in cgroup_files:
        try:
            with open(path) as f:
                text = f.read().strip()
        except OSError:
            continue
        if text.isdigit():
            limit = min(limit, int(text))
    return limit


def driver_memory(mem_bytes: int | None = None) -> str:
    """``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM`` if set, else
    min(16g, 60% of ``mem_bytes``, by default ``memory_limit_bytes()``).
    In local mode the driver JVM holds every task, and its RSS runs well
    past the heap, so a 16g heap on a 15 GB host gets the JVM OOM-killed."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    if mem_bytes is None:
        mem_bytes = memory_limit_bytes()
    return f"{min(16 * 1024, int(mem_bytes * 0.6) >> 20)}m"


def get_spark(
    app_name: str = "cdc2vec_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or return the active) SparkSession with engine defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or 0
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus or (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert in io.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# LRU bound per memo namespace: a long-lived service hopping across
# datasets must not accumulate pinned executor storage or state dirs
MEMO_MAX = 4

# (applicationId, namespace, *rest) -> (value, release)
_MEMO: OrderedDict[tuple, tuple[Any, Callable[[Any], None] | None]] = OrderedDict()
_STATE_DIRS: set[str] = set()


def _drop(full_key: tuple, live_app: str | None) -> None:
    value, release = _MEMO.pop(full_key)
    if release is None:
        return
    if full_key[0] == live_app:
        release(value)
    else:
        # built under a stopped SparkContext: unpersist raises (NPE in its
        # dead BlockManagerMaster) and its blocks died with it, but file
        # releases must still run
        with contextlib.suppress(Py4JJavaError):
            release(value)


def memo(
    spark: SparkSession,
    key: tuple,
    build: Callable[[], T],
    release: Callable[[T], None] | None = None,
) -> T:
    """Return the value memoized under ``key`` for this SparkContext,
    calling ``build()`` on a miss. ``key[0]`` names the caller's
    namespace; each namespace keeps its ``MEMO_MAX`` most recently used
    entries. ``release(value)`` runs when an entry is evicted, dropped
    or cleared. Entries built under another applicationId reference a
    dead context: they are dropped here and never returned."""
    app = spark.sparkContext.applicationId
    for stale in [k for k in _MEMO if k[0] != app]:
        _drop(stale, app)
    full = (app, *key)
    if full in _MEMO:
        _MEMO.move_to_end(full)
        return _MEMO[full][0]
    value = build()
    _MEMO[full] = (value, release)
    same_ns = [k for k in _MEMO if k[1] == key[0]]
    for old in same_ns[:-MEMO_MAX]:
        _drop(old, app)
    return value


def clear() -> None:
    """Release and drop every memo entry (before ``spark.stop()``, in
    tests and benchmarks)."""
    sc = SparkContext._active_spark_context
    live_app = sc.applicationId if sc is not None else None
    while _MEMO:
        _drop(next(iter(_MEMO)), live_app)


def state_dir(prefix: str) -> str:
    """A fresh temp dir for a memo entry's on-disk state. The entry's
    ``release`` deletes it; whatever is left is deleted at process exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    _STATE_DIRS.add(path)
    return path


@atexit.register
def _remove_state_dirs() -> None:
    # file deletes only: at exit the JVM may already be gone
    for path in _STATE_DIRS:
        shutil.rmtree(path, ignore_errors=True)
