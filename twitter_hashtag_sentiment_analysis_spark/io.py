"""Fixture loaders for the driver-generated parquet tables (TESTDATA.md).

One function: ``table(spark, sf_dir, name)``. Reads are plain
``spark.read.parquet`` so Catalyst's column pruning / predicate pushdown
reach the parquet scan (verify with ``df.explain`` -> ``PushedFilters``,
``ReadSchema``). At cluster scale the same call distributes across
executors; nothing here collects to the driver.
"""

from __future__ import annotations

import atexit
import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any realistic scale
#: factor (region=5, nation=25 rows fixed by the TPC-H-ish schema).
BROADCAST_DIMS = ("region", "nation", "supplier", "part")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def epoch_us(col: Column | str) -> Column:
    """Microseconds since the epoch, for BOTH timestamp flavors.

    The driver-generated parquet stores naive timestamps (Spark reads
    them as TIMESTAMP_NTZ), which `unix_micros` rejects outright.
    `to_utc_timestamp(c, 'UTC')` is the type-bridging identity: for NTZ
    it declares the wall time to BE UTC (exactly DuckDB's `epoch_us` on
    a naive timestamp), for LTZ under the pinned-UTC session it is a
    no-op — so one expression is exact on either input, engine-agnostic,
    and stays JVM-side in whole-stage codegen. Projection-only: never
    wrap a pushdown filter column with this (compare timestamps
    directly; literals coerce)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(F.to_utc_timestamp(c, "UTC"))


def spread(df: DataFrame) -> DataFrame:
    """Ensure a CPU-heavy map stage can use every core.

    Small parquet files arrive as ONE scan split (a file below the
    row-group size cannot be byte-range split), which serializes any
    expensive per-row kernel downstream — brute-force cosine over a
    single-row-group embeddings file ran 32x under-parallel locally.
    If (and only if) the scan has fewer partitions than cores, pay one
    small shuffle to re-split; at real scale the input has thousands
    of row groups and this is a no-op, so the plan keeps its natural
    partitioning exactly when repartitioning would be expensive."""
    from .session import default_parallelism

    target = default_parallelism()
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    tune(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects; session.tune() sets nanosAsLong so it arrives as
        # int64 nanos. Truncate to micros exactly like DuckDB does when it
        # coerces ns -> its native us timestamps, so oracles agree.
        # Integer DIV (not /): ns values ~1.7e18 exceed double's 53-bit
        # mantissa, float division would corrupt low digits.
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def fixture_sig(sf_dir: str, name: str) -> str:
    """Size+mtime signature of one fixture parquet (file or dir) —
    the shared invalidation key for every in-process memo of a derived
    relation (stream drop-dirs, kNN edge sets, CC label sets): a
    fixture regenerated at the same path gets a fresh signature, so a
    memo can never replay stale data."""
    src = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(src)
        if not os.path.isdir(src):
            return f"{st.st_size}:{st.st_mtime_ns}"
        # mtime_ns per entry, matching the single-file branch: a fixture
        # dir regenerated in place with deterministic part names and
        # coincidentally unchanged sizes must still change the signature
        # (r10 advisor finding).
        def ent(n: str) -> str:
            es = os.stat(os.path.join(src, n))
            return f"{n}:{es.st_size}:{es.st_mtime_ns}"

        return ",".join(ent(n) for n in sorted(os.listdir(src)))
    except OSError:
        return "missing"


def fixture_bytes(sf_dir: str, name: str) -> int:
    """Total on-disk bytes of one fixture parquet (file or dir) — a
    no-job input-size probe for a scale-gated plan choice
    (stat_mann_whitney's counts form, see operators/aggregates.py)."""
    src = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(src)
        if not os.path.isdir(src):
            return st.st_size
        # os.walk, not a flat listdir: a nested layout (e.g. a
        # hive-partitioned fixture) must contribute its file bytes,
        # not ~4 KB of directory inodes — under-counting here leaves
        # a size gate off at real scale (r15 advisor finding).
        total = 0
        for root, _dirs, files in os.walk(src):
            for n in files:
                total += os.stat(os.path.join(root, n)).st_size
        return total
    except OSError:
        return 0


#: Retired memo generations awaiting unpersist, one slot per
#: (applicationId, sf_dir) scope. Deferring by ONE generation keeps any
#: handle a caller obtained from the immediately-prior memo hit usable
#: across a fixture regeneration (r11 advisor finding: eager unpersist
#: of a localCheckpoint'd DataFrame truncates lineage, so a surviving
#: handle could never recompute); only the generation BEFORE that —
#: which no live query can still reference by the time two
#: regenerations have happened — has its storage blocks released.
_memo_retired: dict[tuple, DataFrame] = {}


def release_retired_memos() -> int:
    """Best-effort unpersist + drop of every retired memo generation.

    The one-deep retirement slot (see ``memo_put``) intentionally holds
    the LAST retiree until the next regeneration — which at process end
    never comes, so without this hook the final retiree's storage
    blocks are only reclaimed by JVM teardown.  Registered atexit (and
    callable directly by long-lived embedders between workloads) so the
    bound is "zero retirees after release", not "one forever".  Safe
    against an already-stopped session; returns the number of slots
    released for observability."""
    n = 0
    for scope in list(_memo_retired):
        df = _memo_retired.pop(scope)
        try:
            df.unpersist()
        except Exception:  # pragma: no cover - session already stopped
            pass
        n += 1
    return n


atexit.register(release_retired_memos)


def memo_put(cache: dict, key: tuple, df: DataFrame) -> DataFrame:
    """Insert a checkpointed DataFrame into a derived-relation memo,
    EVICTING any prior entry for the same (applicationId, sf_dir)
    scope (key[:2]) into a one-deep retirement slot whose previous
    occupant is unpersisted.

    The kNN-edge / CC-label memos hold one eagerly localCheckpoint'd
    DataFrame per (app, sf_dir, fixture-signature); without eviction a
    long-lived app that regenerates fixtures in place pins every stale
    generation's executor storage blocks for the app lifetime (r10
    advisor finding). The memo itself keeps only the LATEST signature
    per sf_dir; storage is bounded at TWO generations (live + retired),
    and the unpersist is best-effort because the session may already be
    stopped."""
    scope = key[:2]
    for k in [k for k in cache if k[:2] == scope and k != key]:
        prior = _memo_retired.get(scope)
        if prior is not None:
            try:
                prior.unpersist()
            except Exception:  # pragma: no cover - session already stopped
                pass
        _memo_retired[scope] = cache.pop(k)
    cache[key] = df
    return df


#: Central ledger of the IN-PROCESS fixture-DIRECTORY caches (path
#: valued, distinct from the DataFrame memos above): each module
#: registers its get-or-build dict at import so measurement harnesses
#: can snapshot/restore cache state around re-runs.  bench.py's jitter
#: guard uses this to make a RETRY structurally identical to the run it
#: re-measures — without the restore, a retry skips the one-time
#: fixture build its first run paid, and min-of-runs scores a warmer
#: shape than the one BENCH_REF was pinned with (r13 advisor finding).
_dir_caches: list[dict] = []


def register_dir_cache(cache: dict) -> dict:
    """Declare a module-level get-or-build fixture-dir dict; returns it
    unchanged so the declaration composes with the assignment."""
    _dir_caches.append(cache)
    return cache


def dir_cache_snapshot() -> list[tuple[dict, dict]]:
    """Shallow copies of every registered dir cache, paired with the
    cache object itself (values are plain path strings / small tuples,
    so a dict copy captures full state). Identity pairing — not list
    position — so a cache registered between snapshot and restore (a
    lazily imported module mid-sweep) cannot shift the alignment
    (r14 advisor finding)."""
    return [(c, dict(c)) for c in _dir_caches]


def dir_cache_restore(snapshot: list[tuple[dict, dict]]) -> None:
    """Rewind every registered dir cache to a snapshot. Entries built
    after the snapshot point back to still-on-disk temp dirs, so
    dropping them only forces the next caller to rebuild — exactly the
    first-run semantics a jitter-guard retry must reproduce. A cache
    first registered AFTER the snapshot had no pre-run state, so empty
    IS its snapshot state — it is cleared, not skipped."""
    snapped = set()
    for cache, state in snapshot:
        snapped.add(id(cache))
        cache.clear()
        cache.update(state)
    for cache in _dir_caches:
        if id(cache) not in snapped:
            cache.clear()


def durable_fixture_dir(sf_dir: str, src_table: str, tag: str, build) -> str:
    """DURABLE digest-keyed fixture cache with ATOMIC populate.

    The fixture tree is a pure function of a source parquet table, so
    it is keyed by the table's size+mtime digest and reused across
    processes — fresh bench/test runs skip the write entirely, and a
    REGENERATED fixture at the same path gets a fresh digest, never
    stale data. Populate is concurrency-safe: ``build(dir)`` writes
    into a UNIQUE temp root, the ready-marker lands before an atomic
    os.rename into place, so marker-present == complete tree and two
    racing processes each build privately — one rename wins, the loser
    adopts the winner's tree (or, in the worst double-race, its own
    private temp tree). Returns the payload directory to read."""
    import hashlib
    import shutil
    import uuid

    # Shared signature with the in-process memos: fixture_sig takes the
    # per-entry name:size:mtime_ns branch on an explicit isdir() check —
    # os.stat() SUCCEEDS on directories, so the old except-OSError
    # listdir fallback here was unreachable and a multi-part fixture dir
    # was keyed by the directory inode alone (r11 advisor finding: an
    # in-place part overwrite with an unchanged entry set left dir mtime
    # unchanged and reused a stale durable cache).
    sig = fixture_sig(sf_dir, src_table)
    if sig == "missing":
        raise FileNotFoundError(
            os.path.join(sf_dir, f"{src_table}.parquet")
        )
    digest = hashlib.sha256(
        f"{tag}:{os.path.abspath(sf_dir)}:{sig}".encode()
    ).hexdigest()[:16]
    cache_root = os.path.join(
        tempfile.gettempdir(), "thsa_cache", f"{tag}_{digest}"
    )
    payload = os.path.join(cache_root, "data")
    marker = os.path.join(cache_root, "_THSA_READY")
    if os.path.exists(marker):
        return payload
    tmp_root = f"{cache_root}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    build(os.path.join(tmp_root, "data"))
    with open(os.path.join(tmp_root, "_THSA_READY"), "w") as f:
        f.write("ok")
    for _ in range(2):
        try:
            os.rename(tmp_root, cache_root)
            return payload
        except OSError:
            if os.path.exists(marker):  # lost the race to a winner
                shutil.rmtree(tmp_root, ignore_errors=True)
                return payload
            # stale half-written leftover from a pre-atomic version
            # (dir present, no marker): clear it and retry once
            shutil.rmtree(cache_root, ignore_errors=True)
    # double race with a non-marker dir: fall back to the private tree
    return os.path.join(tmp_root, "data")
