"""SparkSession factory + defensive per-session tuning.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM), but every
query in this engine is written for a real multi-executor cluster:
declarative plans (Catalyst does pushdown/pruning/join selection), AQE on
for runtime coalescing + skew-join handling, Arrow for the Python
boundary, and UTC session time so results are reproducible against the
DuckDB oracle regardless of host timezone.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import threading
import time

from pyspark.sql import SparkSession

# Runtime-settable confs we also apply defensively to externally-created
# sessions (the driver builds its own SparkSession before calling us).
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Fixture-generation compatibility: earlier driver testdata stored
    # events.ts as TIMESTAMP(NANOS), which Spark's vectorized reader
    # rejects; with this conf such files arrive as int64 nanos and
    # io.table() converts. Current testdata stores naive micros
    # (TIMESTAMP_NTZ) — io.table()'s dtype guard makes this a no-op
    # there, so both generations read correctly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


_shuffle_override_lock = threading.RLock()


#: Upper bound (seconds) a single override-guarded streaming drain may
#: hold the process-wide lock. availableNow drains at fixture scale
#: finish in seconds; a genuinely hung query should surface as an error
#: in ITS operator rather than silently blocking every other override
#: user forever (r11 advisor finding).
DRAIN_TIMEOUT_SEC = 600


def await_drain(q, timeout_sec: int = DRAIN_TIMEOUT_SEC) -> None:
    """Bounded awaitTermination for streaming drains: raises TimeoutError
    (after stopping the query) instead of returning a partial result or
    holding the ``shuffle_partitions_override`` lock indefinitely. The
    message names the query and the seconds this process waited, so a
    hang is attributable to its operator."""
    t0 = time.monotonic()
    if not q.awaitTermination(timeout_sec):
        waited = time.monotonic() - t0
        try:
            q.stop()
        finally:
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not finish: "
                f"waited {waited:.1f}s (limit {timeout_sec}s); query stopped"
            )


@contextlib.contextmanager
def shuffle_partitions_override(spark: SparkSession, n: int | str):
    """Temporarily set the session-global ``spark.sql.shuffle.partitions``.

    ``spark.sql.shuffle.partitions`` has no per-plan override for window
    functions and streaming state-store sizing (a ``repartition(n)`` is
    ignored by the state-store operator), so the streaming drains and a
    few window-heavy operators size it session-wide for the duration of
    one materialized execution. That mutation is inherently visible to
    any OTHER query running concurrently in the same SparkSession — the
    helper serializes all users behind one process-wide RLock so
    overlapping save/restore pairs can never clobber the saved value
    (r10 advisor finding), and documents the remaining contract: code
    inside the block must fully materialize its result (count/collect/
    localCheckpoint/stream drain) before exiting, and independent
    queries sharing the session should not run concurrently with it.
    Relational operators should prefer true per-plan sizing
    (``repartition(n, key)`` feeding groupBy/join — see
    operators/cc_kernel.py) and reserve this helper for the cases Spark
    cannot express per-plan."""
    with _shuffle_override_lock:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        # int(n) first: callers pass int or str interchangeably, and a
        # non-numeric string should fail HERE, not deep inside Catalyst.
        spark.conf.set("spark.sql.shuffle.partitions", str(int(n)))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def get_spark(app_name: str = "thsa-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or get) a tuned local session for tests/bench."""
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_shipped_sessions: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable inside Spark's Python workers.

    Closures that reference module-level code (the row sentiment UDF,
    mapInPandas featurizers) are cloudpickled BY REFERENCE, so workers
    must import the package — which fails if the driver process was
    launched from a different cwd. Shipping a zip via addPyFile fixes
    that for any session, ours or the driver's. Once per session.
    """
    key = id(spark)
    if key in _shipped_sessions:
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"thsa_pkg_{os.getpid()}_{key}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fname in files:
                    if fname.endswith(".py"):
                        full = os.path.join(root, fname)
                        rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                        zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:  # pragma: no cover - e.g. Spark Connect without SC
        pass
    _shipped_sessions.add(key)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-created session.

    Idempotent and cheap; called from the fixture loader so driver-owned
    sessions get UTC timestamps + AQE without us owning their builder.
    """
    # PySpark's TimestampType.fromInternal renders collected timestamps
    # in the PROCESS timezone (datetime.fromtimestamp), so a non-UTC
    # host would shift every timestamp output relative to the DuckDB
    # oracle's naive UTC values even though the Spark session TZ is
    # pinned. Pin the Python side too: reproducibility is part of the
    # engine contract.
    if os.environ.get("TZ") != "UTC":
        os.environ["TZ"] = "UTC"
        try:
            import time

            time.tzset()
        except AttributeError:  # pragma: no cover - tzset is POSIX-only
            pass
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in some builds
            pass
    try:
        # 10 MB default is tiny next to 100+ GiB executors: dimension-ish
        # sides up to 64 MB (e.g. the embeddings table against a candidate
        # pair set) should map-side join rather than shuffle the big side.
        # Only raised from the stock default so explicit settings (tests
        # pinning -1 to observe shuffle plans) are respected.
        if spark.conf.get("spark.sql.autoBroadcastJoinThreshold") in (
            "10485760b",
            "10485760",
        ):
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
    except Exception:  # pragma: no cover
        pass
    _ship_package(spark)
    try:
        # 200 default shuffle partitions dominates wall-clock at fixture
        # scale; AQE coalesces anyway, this just trims scheduling overhead.
        cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if cur > 64:
            spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    except Exception:  # pragma: no cover
        pass
    return spark
