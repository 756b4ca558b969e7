"""Streaming operators (SURVEY §2B stream_*).

Two disciplines, per SURVEY §5.2:

* Event-time transforms (tumbling/sliding/session windows) are pure
  functions over a DataFrame — registered in their batch form for the
  DuckDB oracle, and exercised as real streams in tests.
* Stateful / source semantics (watermark late-drop, streaming dedup,
  the R1-R8 pipeline, file stream source) run as REAL Structured
  Streaming queries inside the registered callable — availableNow
  trigger + memory sink, drained synchronously. Their outputs are
  deterministic, so they still carry exact oracles.
"""

from __future__ import annotations

import itertools
import os
import tempfile
import time
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.sentiment import sentiment_sql_cte
from ..io import durable_fixture_dir, fixture_sig, register_dir_cache, table
from ..registry import register
from ..session import await_drain, shuffle_partitions_override
from .pipeline import transform

_sink_counter = itertools.count()

#: Shuffle-partition count for every streaming drain in the engine.
#: Stateful streaming cost trades per-partition state-store
#: maintenance (one store + delta/commit files per shuffle partition
#: per micro-batch) against task parallelism — state partitioning is a
#: PHYSICAL choice pinned at first checkpoint, not a semantic one; a
#: real deployment sizes it to keys/executors, and every checkpoint
#: here is fresh so no restart compatibility is at stake. Measured on
#: the sf0.1 fixture at local[32] (r14, 3 reps, min): 8 beats 4 on
#: every probed class — chained windows 4.9 s vs 7.6 s,
#: applyInPandasWithState 1.9 s vs 2.9 s (more partitions = more
#: parallel Python workers) — so 8 stays; the cheap lever is replay
#: chunk count (see _multibatch_stream), not partition count.
#: Results are partition-count-invariant (oracle-checked).
_DRAIN_PARTS = "8"


def _run_to_memory(sdf, name_prefix: str, output_mode: str = "append") -> str:
    """Start an availableNow streaming query into a memory sink; block
    until drained; return the sink table name. Drains at _DRAIN_PARTS
    shuffle partitions (see the constant's sizing note)."""
    spark = sdf.sparkSession
    name = f"{name_prefix}_{os.getpid()}_{next(_sink_counter)}"
    ck = tempfile.mkdtemp(prefix=f"thsa_ck_{name_prefix}_")
    with shuffle_partitions_override(spark, _DRAIN_PARTS):
        q = (
            sdf.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q)
    return name


# stream-source dirs already materialized this process, keyed by
# (sf_dir, fixture signature, table) — the FileStreamSource needs a
# directory, and round 1 paid the copy on EVERY query call; once per
# process is enough. The signature (source parquet size+mtime) is part
# of the KEY, so a fixture regenerated at the same path during this
# process's lifetime misses the cache instead of replaying stale input
# — the same invalidation the durable drop-dir digest provides across
# processes.
_stream_dir_cache: dict[tuple[str, str, str], str] = register_dir_cache({})


def _watermarkable(df: DataFrame) -> DataFrame:
    """Convert TIMESTAMP_NTZ columns to TIMESTAMP (LTZ, session pinned
    UTC so the wall clock is unchanged). Structured Streaming's
    event-time machinery (withWatermark, stream-stream join bounds)
    accepts only TIMESTAMP; the driver's regenerated fixtures store
    naive timestamps, which parquet surfaces as NTZ."""
    out = df
    for field, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            out = out.withColumn(field, F.to_utc_timestamp(F.col(field), "UTC"))
    return out


def _stream_copy(spark: SparkSession, sf_dir: str, name: str) -> tuple[str, DataFrame]:
    """Materialize a batch table once as a stream-source directory;
    return (dir, batch_df) — the batch df carries the schema."""
    df = _watermarkable(table(spark, sf_dir, name))
    key = (sf_dir, fixture_sig(sf_dir, name), name)
    path = _stream_dir_cache.get(key)
    if path is None:
        path = os.path.join(tempfile.mkdtemp(prefix=f"thsa_{name}stream_"), name)
        df.write.mode("overwrite").parquet(path)
        _stream_dir_cache[key] = path
    return path, df


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File stream source over the events table (R1 analog). The ns->us
    conversion already happened in the cached batch copy (io.table)."""
    path, ev = _stream_copy(spark, sf_dir, "events")
    return spark.readStream.schema(ev.schema).parquet(path)


# ---------------------------------------------------------------------------
# Event-time windows (batch-equivalent registration; streamed in tests)
# ---------------------------------------------------------------------------

@register(
    "stream_tumbling",
    sql="""
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1 h window counts by event_type. Same expression runs
    under readStream + watermark (see tests); batch form feeds the
    oracle via the engine's batch-equivalence property."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


@register(
    "stream_sliding",
    sql="""
        SELECT time_bucket(INTERVAL '15 minutes', ts) - to_minutes(15 * off) AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events, unnest([0, 1, 2, 3]) AS t(off)
        GROUP BY 1, 2
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 15 min slide): every event lands in
    exactly 4 windows. The oracle replicates Spark's window explosion
    with an unnest over the 4 offsets."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


@register(
    "stream_session",
    sql="""
        WITH ordered AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL '30 minutes'
                        OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        sessions AS (
            SELECT user_id, ts, value,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM ordered
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL '30 minutes' AS session_end,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS session_value
        FROM sessions
        GROUP BY user_id, session_id
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30 min gap) per user. Spark's session_window
    merges on event time; the oracle rebuilds identical sessions with
    the lag-gap-cumsum idiom. Session end = last event + gap."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


# ---------------------------------------------------------------------------
# Real streaming executions (stateful semantics observable only in a stream)
# ---------------------------------------------------------------------------

@register(
    "stream_watermark_late",
    sql="""
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1
        HAVING time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
               <= (SELECT max(ts) - INTERVAL '1 hour' FROM events)
    """,
    eager=True,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run: watermark(1 h) + tumbling(1 h) in append
    mode, availableNow, drained to a memory sink. Append mode only
    emits windows the watermark has closed — the final watermark is
    max(ts) - 1 h, so windows still open at end-of-stream are withheld.
    The oracle encodes exactly that semantic (the HAVING clause), which
    is what proves the stateful path, not just the aggregation."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    name = _run_to_memory(agg, "wm")
    return spark.table(name)


@register(
    "stream_dedup_state",
    sql="SELECT DISTINCT user_id, event_type FROM events",
    eager=True,
)
def stream_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming stateful dedup: dropDuplicates on (user_id,
    event_type) under a watermark — state holds one entry per key,
    first arrival wins, emitted exactly once. Projecting just the key
    columns makes the output order-insensitive-deterministic."""
    stream = _events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = _run_to_memory(deduped, "dedup")
    return spark.table(name)


@register(
    "stream_sentiment_pipe",
    sql=f"""
        WITH scored AS ({sentiment_sql_cte()})
        SELECT doc_id, sentiment, score_positive, score_negative,
               score_neutral, score_mixed
        FROM scored
        WHERE lang = 'en' AND contains(lower(text), 'spark')
    """,
    eager=True,
)
def stream_sentiment_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of the R1-R8 pipeline transform (lang +
    keyword filter -> sentiment enrichment) over a document stream.
    The oracle is the batch CTE — batch-equivalence made checkable."""
    path, docs = _stream_copy(spark, sf_dir, "documents")
    stream = spark.readStream.schema(docs.schema).parquet(path)
    enriched = transform(stream, "en", "spark")
    out = enriched.select(
        "doc_id", "sentiment", "score_positive", "score_negative",
        "score_neutral", "score_mixed",
    )
    name = _run_to_memory(out, "pipe")
    return spark.table(name)


#: Socket-pipe corpus geometry: deterministic tweets + planted corrupt
#: lines, small enough that the push drain is wall-clock-bounded.
SOCKET_TWEETS = 30
SOCKET_CORRUPT_EVERY = 10
SOCKET_LANGS = ("en", "es", "de")
#: drawn from the engine lexicon (functions/sentiment.py) so each lang
#: lands a distinct sentiment label
SOCKET_PHRASES = ("fast spark", "slow dup", "table scan filter")


def _socket_pipe_oracle_sql() -> str:
    """DuckDB twin of the socket pipeline: regenerate the SAME corpus
    from the SAME constants (range + modular indexing — corrupt lines
    become NULL-text rows, exactly what the stream's from_json parse
    yields), score it with the shared sentiment CTE, aggregate. Built
    from the module constants so the two sides cannot drift."""
    from ..functions.sentiment import sentiment_sql_cte

    langs = ", ".join(f"'{v}'" for v in SOCKET_LANGS)
    phrases = ", ".join(f"'{p}'" for p in SOCKET_PHRASES)
    k = len(SOCKET_LANGS)
    return f"""
        WITH corpus AS (
            SELECT i,
                   CASE WHEN i % {SOCKET_CORRUPT_EVERY} = {SOCKET_CORRUPT_EVERY - 1}
                        THEN NULL ELSE ([{langs}])[(i % {k}) + 1] END AS lang,
                   CASE WHEN i % {SOCKET_CORRUPT_EVERY} = {SOCKET_CORRUPT_EVERY - 1}
                        THEN NULL
                        ELSE 'tweet ' || i || ' ' || ([{phrases}])[(i % {k}) + 1]
                   END AS text
            FROM range(0, {SOCKET_TWEETS}) t(i)
        ),
        scored AS ({sentiment_sql_cte("corpus")})
        SELECT coalesce(lang, '_corrupt') AS lang,
               sentiment,
               CAST(count(*) AS BIGINT) AS n
        FROM scored
        GROUP BY 1, 2
        ORDER BY lang, sentiment
    """


@register("stream_socket_pipe", sql=_socket_pipe_oracle_sql(), eager=True)
def stream_socket_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 as a true PUSH source, registered end to end: an in-process
    TCP server emits a deterministic newline-framed tweet corpus (every
    10th line planted corrupt), `read_tweet_socket` parses it against
    TWEET_SCHEMA with R9 quarantine semantics (raw line preserved in
    _corrupt_record), sentiment enrichment (R6) rides the stream, and
    the drained rows aggregate per (lang, sentiment). The socket source
    is the closest OSS analog of the reference's long-lived push stream
    (streamer.py:44-48; no OSS Kinesis connector exists — README).
    Exact-hash ORACLE since round 5 (was rows-only): the corpus is
    deterministic integer arithmetic, so the oracle regenerates it in
    SQL from the same constants and scores it with the shared sentiment
    CTE — the whole push pipeline (TCP drain included) is value-checked,
    not just row-counted; the same set is also pinned in
    tests/test_streaming.py. Scale: a push socket is a single-receiver
    dev source by design; the production push path is the
    offset-tracked Python streaming data source (stream_python_source),
    which this query complements for parity."""
    import json as _json
    import socket
    import threading
    import time as _time

    from ..functions.sentiment import with_sentiment
    from .pipeline import read_tweet_socket

    langs = SOCKET_LANGS
    pos_neg = SOCKET_PHRASES
    lines = []
    for i in range(SOCKET_TWEETS):
        if i % SOCKET_CORRUPT_EVERY == SOCKET_CORRUPT_EVERY - 1:
            lines.append(f"corrupt line {i}")
            continue
        lines.append(
            _json.dumps(
                {
                    "id": i,
                    "text": f"tweet {i} {pos_neg[i % 3]}",
                    "lang": langs[i % 3],
                    "created_at": f"2024-01-01T00:{i:02d}:00.000Z",
                }
            )
        )

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    done = threading.Event()

    def serve() -> None:
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            done.wait(60)  # keep the connection up while the stream drains

    threading.Thread(target=serve, daemon=True).start()
    sdf = with_sentiment(read_tweet_socket(spark, "127.0.0.1", port))
    name = f"socketpipe_{os.getpid()}_{next(_sink_counter)}"
    q = (
        sdf.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        deadline = _time.monotonic() + 60
        while _time.monotonic() < deadline:
            if spark.table(name).count() >= len(lines):
                break
            _time.sleep(0.2)
    finally:
        done.set()
        q.stop()
        srv.close()
    n_drained = spark.table(name).count()
    if n_drained < len(lines):
        # a partial drain must surface as a timeout, not be aggregated
        # into a load-dependent "result" a caller would trust
        raise TimeoutError(
            f"socket stream drained {n_drained}/{len(lines)} lines within 60s"
        )
    drained = spark.table(name)
    return (
        drained.groupBy(
            F.coalesce("lang", F.lit("_corrupt")).alias("lang"), "sentiment"
        )
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "sentiment")
    )


@register(
    "stream_static_join",
    sql="""
        SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        WHERE e.event_type = 'purchase'
    """,
    eager=True,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run: stream-static enrichment join — each
    micro-batch of the event stream joins the static customer
    dimension (the canonical streaming-ETL enrich step; the static
    side is re-planned per batch, so dimension updates are picked up).
    Filter-before-join keeps per-batch state at zero: stream-static
    inner joins are STATELESS, unlike stream-stream joins — the right
    default at 100 TB whenever the dimension fits a broadcast."""
    stream = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = stream.join(
        F.broadcast(cust), stream.user_id == cust.c_custkey
    ).select("event_id", "user_id", "event_type", "c_mktsegment")
    name = _run_to_memory(joined, "sjoin")
    return spark.table(name)


@register(
    "stream_stateful_counter",
    sql="""
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY user_id
    """,
    eager=True,
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of a CUSTOM stateful operator:
    applyInPandasWithState keeps one running counter per user across
    micro-batches (the arbitrary-state API for operators Spark's
    built-in aggs can't express — per-key ML state, decaying counters,
    custom session logic). Each batch emits the key's cumulative count;
    the batch-side max per key is the final count, which equals the
    plain groupBy — that identity is the oracle, making the stateful
    path exact-hash checkable regardless of how availableNow slices
    batches. State is Arrow-serialized per key group; at 100 TB the
    shuffle is keyed by user_id and state lives in the state store,
    not executor heap."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    stream = _events_stream(spark, sf_dir)
    counted = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint",
        stateStructType="n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = _run_to_memory(counted, "statecnt", output_mode="update")
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )


@register(
    "stream_stream_join",
    sql="""
        SELECT p.event_id AS purchase_id, c.event_id AS click_id,
               p.user_id
        FROM events p
        JOIN events c
          ON c.user_id = p.user_id
         AND c.ts >= p.ts - INTERVAL 1 HOUR
         AND c.ts < p.ts
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    eager=True,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream inner join — the stateful join the reference's
    single-stream pipeline never needed but any attribution workload
    does: purchases joined to the same user's clicks within the hour
    before. Both sides carry watermarks; the time-range condition lets
    Spark bound join state (clicks older than watermark - 1 h are
    evicted), so state size is O(events per hour), not O(stream). The
    oracle is the equivalent batch interval join — exact, because the
    availableNow run drains the full fixture before any watermark can
    drop rows."""
    ev = _events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
    ).select("purchase_id", "click_id", "user_id")
    name = _run_to_memory(joined, "ssjoin")
    return spark.table(name)


# multi-batch stream-source dirs (n_files files => n_files
# micro-batches under maxFilesPerTrigger=1), cached per
# (sf_dir, table, n_files) like _stream_copy
_multibatch_dir_cache: dict[tuple[str, str, str, int], str] = register_dir_cache({})


def _multibatch_stream(
    spark: SparkSession, sf_dir: str, name: str, n_files: int = 2
):
    """File stream over an ``n_files``-file copy of a fixture table,
    read one file per trigger — forces a genuinely multi-batch
    availableNow run so incremental semantics (foreachBatch merges,
    update-mode re-emits, cross-batch state) are actually exercised,
    not vacuously true on a single batch. Default 2: the MINIMUM that
    keeps every cross-batch property non-vacuous — each extra
    micro-batch costs ~0.5 s of fixed trigger/state-store overhead and
    proves nothing more (r13 verdict item 2; batch-boundary invariance
    itself is pinned by the chunking-invariance tests, not by replay
    count). Results are replay-count-invariant by construction, so the
    trim cannot move an oracle hash."""
    df = _watermarkable(table(spark, sf_dir, name))
    key = (sf_dir, fixture_sig(sf_dir, name), name, n_files)
    path = _multibatch_dir_cache.get(key)
    if path is None:
        path = os.path.join(
            tempfile.mkdtemp(prefix=f"thsa_mb{n_files}_{name}_"), name
        )
        df.repartition(n_files).write.mode("overwrite").parquet(path)
        _multibatch_dir_cache[key] = path
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


@register(
    "stream_foreach_batch",
    sql="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS total_value
        FROM events GROUP BY event_type
    """,
    eager=True,
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch computes a PARTIAL aggregate
    (event_type, n, sum) and appends it to a parquet delta-log-style
    directory; the final answer re-aggregates the partials — the
    incremental-materialized-view pattern (Firehose's buffered S3
    appends, R5+R8, made transactional). Runs as a REAL 2-batch stream
    (maxFilesPerTrigger=1); partial states merge associatively, so the
    result equals the batch aggregate exactly — checked by the oracle.
    At scale each batch shuffles only its own delta; the compaction
    over partials is O(batches x keys), independent of corpus size."""
    sdf = _multibatch_stream(spark, sf_dir, "events")
    out_dir = tempfile.mkdtemp(prefix="thsa_febsink_") + "/partials"
    ck = tempfile.mkdtemp(prefix="thsa_ck_feb_")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
            .write.mode("append")
            .parquet(out_dir)
        )

    with shuffle_partitions_override(spark, _DRAIN_PARTS):
        q = (
            sdf.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q)
    partials = spark.read.parquet(out_dir)
    return partials.groupBy("event_type").agg(
        F.sum("n").alias("n"), F.round(F.sum("sv"), 2).alias("total_value")
    )


@register(
    "stream_update_mode",
    sql="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    """,
    eager=True,
)
def stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update output mode over a REAL 2-batch stream: the running
    groupBy count re-emits a key's row every batch its count changes;
    the memory sink accumulates every intermediate version. Counts are
    monotone, so the final state per key is max(n) — which the oracle
    pins to the batch count, proving both the re-emission semantics
    and the final convergence. (Append mode would never emit an
    unbounded-lateness aggregate; update is the mode an incremental
    dashboard actually uses, R5's buffer flushes generalized.)"""
    sdf = _multibatch_stream(spark, sf_dir, "events")
    counts = sdf.groupBy("event_type").agg(F.count("*").alias("n"))
    name = _run_to_memory(counts, "upd", output_mode="update")
    return spark.table(name).groupBy("event_type").agg(F.max("n").alias("n"))


@register(
    "stream_trending_terms",
    sql="""
        WITH counts AS (
            SELECT source, token, CAST(count(*) AS BIGINT) AS n
            FROM (
                SELECT source, unnest(string_split(text, ' ')) AS token
                FROM documents
            )
            WHERE token <> ''
            GROUP BY source, token
        ),
        ranked AS (
            SELECT source, token, n,
                   row_number() OVER (PARTITION BY source
                       ORDER BY n DESC, token) AS rk
            FROM counts
        )
        SELECT source, token, n, CAST(rk AS INTEGER) AS rk
        FROM ranked WHERE rk <= 3
    """,
    eager=True,
)
def stream_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending terms per source — the engine's 'trending hashtags'
    query (the headline aggregation of a tweet-analytics pipeline,
    reference scope R6/R8) run as a REAL streaming job: document
    stream -> token explode -> per-(source, token) streaming count in
    UPDATE mode over a REAL 2-batch drain (one file per trigger, so
    re-emission and the max-convergence compaction are exercised, not
    vacuous on a single batch); the final
    top-3-per-source rank runs batch-side on the drained counts (rank
    is not a streaming-expressible op — the split is the documented
    production shape: streaming maintains the counts, the serving
    layer ranks). The oracle is the same query in plain SQL — the
    batch-equivalence discipline every streaming op here follows. At
    scale the streaming agg holds |sources x vocab| state rows — a
    vocabulary-sized state store, shuffled once on the group key."""
    stream = _multibatch_stream(spark, sf_dir, "documents")
    counts = (
        stream.select(
            "source", F.explode(F.split("text", " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count("*").cast("long").alias("n"))
    )
    name = _run_to_memory(counts, "trend", output_mode="update")
    from pyspark.sql import Window

    # update mode re-emits a key's row per batch it changes; counts are
    # monotone, so max(n) recovers the final state under any batch split
    # (same convergence contract as stream_update_mode)
    drained = (
        spark.table(name)
        .groupBy("source", "token")
        .agg(F.max("n").alias("n"))
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.col("n").desc(), "token")
    )
    return (
        drained.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select("source", "token", "n", "rk")
    )


@register(
    "stream_two_level_window",
    sql="""
        WITH hourly AS (
            SELECT time_bucket(INTERVAL '1 hour', ts) AS h,
                   event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT CAST(date_trunc('day', h) AS TIMESTAMP) AS day,
               event_type,
               CAST(count(*) AS BIGINT) AS n_active_hours,
               CAST(max(n) AS BIGINT) AS peak_hourly
        FROM hourly GROUP BY 1, 2
    """,
    eager=True,
)
def stream_two_level_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark 4
    multiple-stateful-operator support): an hourly windowed count feeds
    a SECOND, daily windowed aggregate downstream — the rollup cascade
    (minute->hour->day) real metric pipelines run as one job instead
    of two jobs with an intermediate topic. Both stateful stages share
    the event-time watermark; the second window keys on
    window_time() of the first (end - 1us, the API that PROPAGATES the
    event-time watermark through the chain — grouping on the raw
    w.end column drops it and Spark rejects the plan, observed), which
    is what makes the chain late-data-correct.

    The replay discipline is the real lesson here (all three failure
    modes observed while building this): a chained stateful plan
    accepts stage-1 emissions at stage 2 only while they are not late
    against the watermark, and stage 1 only emits a window one batch
    AFTER the watermark passes it — so a single-batch replay (or one
    big watermark jump from a far-future sentinel) silently drops
    everything at stage 2. A bounded replay must advance the watermark
    GRADUALLY, the way a live stream does: the source here replays
    5-day chunks in time order (one file per trigger) — any BOUNDED
    chunk works, because chunk K's emissions surface in batch K+1,
    whose one-batch-lagged late threshold is chunk K-1's end, strictly
    before chunk K's event times — plus ONE trailing flush sentinel
    (+50 h, past every day boundary; filtered back out after the
    drain). r15: the sentinel ladder (+2/+26/+50 h) the key shipped
    with was defensive against the one-big-jump failure mode above,
    but Spark 4.1's multiple-stateful-operator support tracks
    per-operator watermarks through the chain, so a single jump
    cascades correctly — verified output-identical to the ladder at
    sf0.01/sf0.1 before trimming, and worth two micro-batches of
    fixed drain cost (8.0 -> 3.3 s at sf0.01). Drained availableNow;
    the oracle is the batch two-level rollup."""
    _, ev = _stream_copy(spark, sf_dir, "events")
    key = (sf_dir, "events_daily_flush")
    fpath = _stream_dir_cache.get(key)
    cols = ("event_id", "ts", "user_id", "event_type", "value", "props")
    if fpath is None:
        # the drop directory is a pure function of the fixture FILE, so
        # it is cached DURABLY (deterministic /tmp path + ready marker):
        # bench's repeated runs and fresh processes reuse it instead of
        # re-writing ~10 replay jobs each time ("v2" = layout version).
        # The digest folds in the source parquet's size+mtime, so a
        # fixture REGENERATED at the same path (e.g. /tmp/synth_x5 is
        # rebuilt every round) gets a fresh drop dir instead of stale
        # replay input silently diverging from the oracle's read.
        def _build(dest: str) -> None:
            days = [
                r.d
                for r in ev.select(F.to_date("ts").alias("d"))
                .distinct()
                .orderBy("d")
                .collect()
            ]
            # 2 bounded chunks regardless of span (the minimum that
            # keeps the chain exercised across batches, never vacuous
            # single-batch); chunk size only affects replay
            # granularity, not results — any bounded in-order chunking
            # is watermark-correct (see docstring), and per-batch cost
            # is ~1 s of fixed state-store/trigger overhead, so 3
            # total batches (2 data + 1 flush) is the floor (r15)
            step = max(1, -(-len(days) // 2))
            for i in range(0, len(days), step):
                chunk = [str(d) for d in days[i : i + step]]
                ev.filter(
                    F.to_date("ts").cast("string").isin(chunk)
                ).select(*cols).coalesce(1).write.mode("append").parquet(dest)
            max_ts = ev.agg(F.max("ts")).collect()[0][0]
            for hours in (50,):
                flush = spark.range(1).select(
                    F.lit(-hours).cast("long").alias("event_id"),
                    F.lit(max_ts + timedelta(hours=hours)).alias("ts"),
                    F.lit(-1).cast("long").alias("user_id"),
                    F.lit("flush").alias("event_type"),
                    F.lit(0.0).alias("value"),
                    F.lit("{}").alias("props"),
                )
                flush.coalesce(1).write.mode("append").parquet(dest)

        # durable digest-keyed cache with atomic concurrency-safe
        # populate (shared durable_fixture_dir helper; "v3" = helper
        # layout). A fixture REGENERATED at the same path gets a fresh
        # digest instead of stale replay input.
        fpath = durable_fixture_dir(sf_dir, "events", "evdaily-v4", _build)
        _stream_dir_cache[key] = fpath
    stream = (
        spark.readStream.schema(spark.read.parquet(fpath).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(fpath)
    )
    hourly = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    daily = (
        hourly.groupBy(
            F.window(F.window_time("w"), "1 day").alias("d"), "event_type"
        )
        .agg(
            F.count("*").cast("long").alias("n_active_hours"),
            F.max("n").cast("long").alias("peak_hourly"),
        )
        .select(
            F.col("d.start").alias("day"),
            "event_type",
            "n_active_hours",
            "peak_hourly",
        )
    )
    # the flush filter must run AFTER the drain: event_type is a
    # grouping key of both aggregates, so a filter inside the streaming
    # plan pushes down to the SOURCE — silently removing the sentinel
    # events and with them the watermark advance (observed: the final
    # day vanished again with the filter inlined)
    name = _run_to_memory(daily, "twolvl")
    return spark.table(name).filter(F.col("event_type") != "flush")


@register(
    "stream_dedup_within_watermark",
    sql="SELECT event_id, event_type FROM events",
    eager=True,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark (Spark 3.5+): duplicate suppression
    whose state EXPIRES with the watermark — the practical form of
    streaming dedup for at-least-once sources, where duplicates arrive
    close together (a redelivery) and unbounded keep-forever state
    (stream_dedup_state's dropDuplicates) would grow with the key
    space. The source replays the events table TWICE as two files, one
    per trigger: every record is a genuine cross-batch duplicate
    arriving within the 1 h delay, so exactly one copy survives — the
    oracle is the plain projection. At 100 TB the state store holds
    only the keys seen within the watermark horizon, not the corpus."""
    _, ev = _stream_copy(spark, sf_dir, "events")
    key = (sf_dir, fixture_sig(sf_dir, "events"), "events_twice")
    fpath = _stream_dir_cache.get(key)
    cols = ("event_id", "ts", "user_id", "event_type", "value", "props")
    if fpath is None:
        fpath = os.path.join(
            tempfile.mkdtemp(prefix="thsa_evtwice_"), "events"
        )
        for _ in range(2):
            ev.select(*cols).coalesce(1).write.mode("append").parquet(fpath)
        _stream_dir_cache[key] = fpath
    stream = (
        spark.readStream.schema(spark.read.parquet(fpath).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(fpath)
    )
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    name = _run_to_memory(deduped, "dedupwm")
    return spark.table(name)


@register(
    "stream_rocksdb_state",
    sql="""
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS total_value
        FROM events GROUP BY user_id, event_type
    """,
    eager=True,
)
def stream_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming aggregate under the ROCKSDB state store
    provider — the production configuration for state that exceeds
    executor heap (the JVM default keeps every key's state in memory;
    RocksDB spills to local SSD with changelog checkpointing, which is
    what makes 100 TB-scale keyed state feasible at all). The query is
    a per-(user, event_type) running aggregate over a 2-batch replay —
    wide key space by design, the shape that breaks heap-bound state
    first. Run twice identically it proves the provider swap is purely
    physical: the oracle pins the result to the batch aggregate,
    bit-identical to what the default provider produces. The provider
    conf is set only for the drain and restored after (it is pinned
    per-query at first checkpoint, so coexisting queries keep their
    own providers)."""
    sdf = _multibatch_stream(spark, sf_dir, "events")
    counts = sdf.groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(
        conf_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        name = _run_to_memory(counts, "rocks", output_mode="update")
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    # update-mode re-emission compaction, same contract as
    # stream_update_mode: counts are monotone, the final state is the
    # row with the max n per key
    from pyspark.sql import Window

    drained = spark.table(name)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("n").desc()
    )
    return (
        drained.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "event_type", "n", "total_value")
    )


@register(
    "stream_observe_metrics",
    sql="""
        SELECT CAST(count(*) AS BIGINT) AS rows_seen,
               round(sum(value), 2) AS value_seen,
               CAST(4 AS INTEGER) AS n_batches
    FROM events
    """,
    eager=True,
)
def stream_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed metrics on a STREAMING query (df.observe + the
    QueryProgress listener path — the streaming twin of the batch
    `obs_metrics` operator, and the R9 per-record logging made
    zero-cost): count/sum accumulators ride each micro-batch of a
    4-batch replay and surface in `progress.observedMetrics`, the
    monitoring channel a production pipeline exports to its metrics
    system. Per-batch partials are summed driver-side in batch-id
    order (deterministic replay => deterministic order => the float
    sum is reproducible) and pinned by the oracle to the batch
    aggregate — proving the observation sees every row exactly once
    across batches, with no second job."""
    import math

    # 4 files here deliberately (not the 2-file default): the oracle
    # pins n_batches=4, and a longer replay is the point of THIS key —
    # per-batch metric emission is what it publishes
    sdf = _multibatch_stream(spark, sf_dir, "events", n_files=4)
    observed = sdf.observe(
        "batch_metrics",
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum("value").alias("value_seen"),
    )
    # noop sink with a kept handle: the data plane is irrelevant here,
    # the metrics channel is the API under test
    ck = tempfile.mkdtemp(prefix="thsa_ck_obsm_")
    with shuffle_partitions_override(spark, _DRAIN_PARTS):
        handle = (
            observed.groupBy("event_type")
            .count()
            .writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        await_drain(handle)
    rows = 0
    val = 0.0
    n_batches = 0
    for p in sorted(handle.recentProgress, key=lambda p: p["batchId"]):
        m = p.get("observedMetrics", {}).get("batch_metrics")
        if m is None or p["numInputRows"] == 0:
            continue
        n_batches += 1
        rows += m["rows_seen"]
        val += m["value_seen"]
    return spark.createDataFrame(
        # engine-identical half-up form, not Python's banker round
        [(rows, math.floor(val * 100 + 0.5) / 100, n_batches)],
        "rows_seen bigint, value_seen double, n_batches int",
    )


@register(
    "stream_state_reader",
    sql="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    """,
    eager=True,
)
def stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The State Data Source (Spark 4 `statestore` format): after a
    stateful streaming drain, the checkpoint's state store is opened
    as a BATCH DataFrame — the operational superpower behind state
    inspection, debugging a miscounting aggregate, and offline state
    migration (before this API, checkpoint state was a black box).
    The query drains a per-type running count, then reads the final
    counts back OUT OF THE CHECKPOINT itself; the oracle pins what
    the state holds to the batch aggregate — proving the persisted
    state, not the sink, carries exactly the right totals."""
    sdf = _multibatch_stream(spark, sf_dir, "events")
    counts = sdf.groupBy("event_type").agg(F.count("*").alias("n"))
    ck = tempfile.mkdtemp(prefix="thsa_ck_staterd_")
    with shuffle_partitions_override(spark, _DRAIN_PARTS):
        q = (
            counts.writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q)
    state = (
        spark.read.format("statestore").load(ck)
    )
    # the state schema stores the aggregate under its expression name
    # ("count") regardless of the DataFrame alias
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("long").alias("n"),
    )


def _curation_oracle_sql() -> str:
    """Batch twin of the streaming curation pipeline, assembled from
    the SAME gate constants and sentiment CTE so the sides cannot
    drift."""
    from ..functions.sentiment import sentiment_sql_cte
    from ..operators.text_analysis import (
        _GOPHER_STOPS,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WORDS,
    )

    stops = ", ".join(f"'{w}'" for w in _GOPHER_STOPS)
    return f"""
        WITH gated AS (
            SELECT DISTINCT lang, text FROM documents
            WHERE len(string_split(text, ' ')) >= {GOPHER_MIN_WORDS}
              AND len(list_filter(string_split(text, ' '),
                                  w -> w IN ({stops})))
                  >= {GOPHER_MIN_STOP_HITS}
        ),
        scored AS ({sentiment_sql_cte('gated')})
        SELECT lang, sentiment,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                   AS total_tokens
        FROM scored
        GROUP BY lang, sentiment
    """


def curation_pipeline(stream: DataFrame) -> DataFrame:
    """The curation stages over ANY document-shaped DataFrame (batch or
    stream): Gopher-lite gate -> content-keyed dedup -> sentiment ->
    per-(lang, sentiment) report.  Shared by the registered operator
    and the micro-batch-boundary invariance test, which varies only the
    source — so the test can never drift from the shipped stages."""
    from ..functions.sentiment import with_sentiment
    from ..operators.text_analysis import (
        _GOPHER_STOPS,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WORDS,
    )

    ts = F.split("text", " ")
    gated = stream.filter(
        (F.size(ts) >= GOPHER_MIN_WORDS)
        & (
            F.size(F.filter(ts, lambda w: w.isin(*_GOPHER_STOPS)))
            >= GOPHER_MIN_STOP_HITS
        )
    )
    deduped = gated.withColumn("content_hash", F.sha2("text", 256)).dropDuplicates(
        ["lang", "content_hash"]
    )
    scored = with_sentiment(deduped)
    return scored.groupBy("lang", "sentiment").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("total_tokens"),
    )


@register("stream_curation_pipe", sql=_curation_oracle_sql(), eager=True)
def stream_curation_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole thesis in ONE streaming query: the reference's
    streaming shape (push source -> filter -> enrich -> aggregate,
    R1-R8) carrying the north-star's curation stages — a document
    stream passes the Gopher-lite quality gate, streaming exact-dedup
    state (dropDuplicates on (lang, content hash) — content-keyed so
    which duplicate arrives first cannot change the output), sentiment
    enrichment, and a per-(lang, sentiment) corpus report, drained via
    availableNow into a memory sink.

    Determinism by construction: every stage is content-keyed or
    commutative, so micro-batch boundaries and file arrival order
    cannot affect the result — which is why a REAL streaming run can
    carry an exact batch oracle (built from the same constants and
    sentiment CTE).  The dedup state is unwatermarked (a whole-corpus
    identity pass, as in `stream_dedup_state`); a deployment bounds it
    with `stream_dedup_within_watermark`'s horizon when the stream is
    unbounded."""
    path, docs = _stream_copy(spark, sf_dir, "documents")
    stream = spark.readStream.schema(docs.schema).parquet(path)
    agg = curation_pipeline(stream)
    name = _run_to_memory(agg, "curate", output_mode="complete")
    return spark.table(name)


@register(
    "stream_rate_source",
    sql="""
        WITH vals AS (SELECT unnest(range(0, 5000)) AS value)
        SELECT CAST(value % 16 AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(value) AS BIGINT) AS sum_value,
               CAST(max(value) AS BIGINT) AS max_value
        FROM vals GROUP BY 1
    """,
    eager=True,
)
def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The built-in ``rate-micro-batch`` source — Spark's deterministic
    load generator (the tool a streaming deployment uses to soak-test
    state stores and sink throughput before real traffic): with
    ``startTimestamp`` pinned and ``rowsPerBatch`` fixed, every batch's
    (value, timestamp) set is REPRODUCIBLE, unlike the wall-clock
    ``rate`` source. One availableNow drain yields exactly one batch of
    5,000 monotonic values; the pipeline hash-buckets them and
    aggregates per bucket, and the oracle replays the whole run as a
    range() relation — a generator source needs no fixture table at
    all. Unused ``sf_dir`` is the registry-signature constant: the
    source IS the data."""
    _ = sf_dir
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 5000)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    agg = src.groupBy((F.col("value") % 16).alias("bucket")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("value").cast("long").alias("sum_value"),
        F.max("value").cast("long").alias("max_value"),
    )
    name = _run_to_memory(agg, "ratesrc", output_mode="complete")
    return spark.table(name).select(
        F.col("bucket").cast("long").alias("bucket"), "n", "sum_value", "max_value"
    )


# sentinel-augmented events drop dirs, cached like _stream_copy
_sentinel_dir_cache: dict[tuple[str, str, str], str] = register_dir_cache({})


def _events_stream_with_sentinel(spark: SparkSession, sf_dir: str):
    """Events stream plus ONE far-future sentinel row (event_type
    'wm_flush', ts = max + 10 h): the sentinel flows through the
    watermark node (advancing the watermark past every real event) but
    is filtered out of the query domain, so the availableNow drain's
    no-data finalization batch can emit watermark-gated state — outer
    join nulls, final session windows — that would otherwise stay
    parked in the store when the last real event sets the watermark
    short of the tail. The standard production analog is the periodic
    heartbeat record a Kafka producer emits for exactly this reason."""
    df = _watermarkable(table(spark, sf_dir, "events"))
    key = (sf_dir, fixture_sig(sf_dir, "events"), "events_sentinel")
    path = _sentinel_dir_cache.get(key)
    if path is None:
        # user_id -1 is reserved for the sentinel: the timeout-session
        # handler skips that key's rows, so a real -1 would vanish.
        if df.filter(F.col("user_id") == -1).first() is not None:
            raise ValueError(
                f"events fixture in {sf_dir} has user_id -1, the id "
                "reserved for the watermark sentinel"
            )
        path = os.path.join(tempfile.mkdtemp(prefix="thsa_sentinel_"), "ev")
        sentinel = df.orderBy(F.desc("ts")).limit(1).select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("ts") + F.expr("INTERVAL 10 HOURS")).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("wm_flush").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        df.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).unionAll(sentinel).write.mode("overwrite").parquet(path)
        _sentinel_dir_cache[key] = path
    schema = df.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).schema
    return spark.readStream.schema(schema).parquet(path)


@register(
    "stream_outer_join_watermark",
    sql="""
        SELECT p.event_id AS purchase_id, c.event_id AS click_id,
               p.user_id,
               CASE WHEN c.event_id IS NULL THEN 0 ELSE 1 END AS matched
        FROM events p
        LEFT JOIN events c
          ON c.user_id = p.user_id
         AND c.event_type = 'click'
         AND c.ts >= p.ts - INTERVAL 1 HOUR
         AND c.ts < p.ts
        WHERE p.event_type = 'purchase'
    """,
    eager=True,
)
def stream_outer_join_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the attribution join that also
    reports the purchases with NO preceding click, which is a
    different stateful machine than the inner form
    (`stream_stream_join`): a null-extended row can only be emitted
    once the watermark PROVES no matching click can still arrive, so
    unmatched purchases sit in the state store until eviction time.
    That exposes the classic outer-join-finalization trap: with the
    watermark pinned at max(event_time) - delay, the last window of
    purchases would never flush in a bounded drain. The operator
    closes it the way production pipelines do — a far-future
    heartbeat row (see _events_stream_with_sentinel) advances the
    watermark past every real event and the no-data finalization
    micro-batch emits the remaining nulls — making the availableNow
    result EXACTLY the batch left join, which is the oracle.
    State stays O(events per hour) via the time-range condition on
    both watermarked sides.

    Sentinel-survival discipline (the r7 bug): a per-side filter that
    EXCLUDES the sentinel (`event_type == 'purchase'`) is pushed by
    Catalyst below the EventTimeWatermark node — the sentinel is
    dropped before the watermark operator ever sees it, the watermark
    stays at real-max − 2 h, and the last ~2 h of unmatched purchases
    never null-finalize (observed: 1975 vs 1981 rows at sf0.01). So
    each side's filter INCLUDES the sentinel type (pushdown is then
    harmless — the sentinel still reaches the watermark node), and the
    sentinel's own rows are removed AFTER the drain as a batch filter
    on the memory sink (`purchase_id >= 0`), exactly the
    stream_two_level_window discipline. The sentinel purchase cannot
    leak a matched row: its user_id (−1) pairs only with the sentinel
    click, whose identical ts fails the strict `c_ts < p_ts` bound."""
    ev = _events_stream_with_sentinel(spark, sf_dir)
    purchases = (
        ev.select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
            "event_type",
        )
        .withWatermark("p_ts", "2 hours")
        .filter(F.col("event_type").isin("purchase", "wm_flush"))
        .drop("event_type")
    )
    clicks = (
        ev.select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            "event_type",
        )
        .withWatermark("c_ts", "2 hours")
        .filter(F.col("event_type").isin("click", "wm_flush"))
        .drop("event_type")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
        "leftOuter",
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        F.when(F.col("click_id").isNull(), 0).otherwise(1).alias("matched"),
    )
    name = _run_to_memory(joined, "ssojoin")
    # sentinel removal AFTER the drain (batch plan — cannot push into
    # the streaming plan and defeat the watermark advance)
    return spark.table(name).filter(F.col("purchase_id") >= 0)


@register(
    "stream_full_outer_join_watermark",
    sql="""
        WITH p AS (
            SELECT event_id AS purchase_id, user_id, ts AS p_ts
            FROM events WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
            FROM events WHERE event_type = 'click'
        )
        SELECT p.purchase_id, c.click_id,
               coalesce(p.user_id, c.c_user) AS user_id,
               CASE WHEN p.purchase_id IS NULL THEN 'click_only'
                    WHEN c.click_id IS NULL THEN 'purchase_only'
                    ELSE 'matched' END AS side
        FROM p FULL JOIN c
          ON c.c_user = p.user_id
         AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
         AND c.c_ts < p.p_ts
    """,
    eager=True,
)
def stream_full_outer_join_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join (Spark 3.1+): the attribution
    join that reports BOTH unmatched sides — purchases with no
    preceding click AND clicks that preceded no purchase — which is
    the complete reconciliation a billing/attribution audit needs
    (left outer answers only one direction). Both sides' null-extended
    rows are watermark-gated: a row can only be emitted as unmatched
    once the watermark proves no counterpart can still arrive, so
    BOTH state stores face the tail-finalization trap the left-outer
    operator documents. The same wm_flush sentinel discipline applies,
    doubled: each side's pre-join filter keeps the sentinel type (so
    Catalyst pushing the filter below EventTimeWatermark cannot drop
    it), and BOTH sentinel rows — each emitted as an unmatched row of
    its own side (their identical timestamps fail the strict
    c_ts < p_ts bound, so they can never match each other) — are
    removed after the drain with a batch filter on the memory sink.
    Result: the availableNow drain equals the batch FULL JOIN, which
    is the oracle. State stays O(events per hour) via the time-range
    condition on both watermarked sides."""
    ev = _events_stream_with_sentinel(spark, sf_dir)
    purchases = (
        ev.select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
            "event_type",
        )
        .withWatermark("p_ts", "2 hours")
        .filter(F.col("event_type").isin("purchase", "wm_flush"))
        .drop("event_type")
    )
    clicks = (
        ev.select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            "event_type",
        )
        .withWatermark("c_ts", "2 hours")
        .filter(F.col("event_type").isin("click", "wm_flush"))
        .drop("event_type")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
        "fullOuter",
    ).select(
        "purchase_id",
        "click_id",
        F.coalesce(F.col("user_id"), F.col("c_user")).alias("user_id"),
        F.when(F.col("purchase_id").isNull(), "click_only")
        .when(F.col("click_id").isNull(), "purchase_only")
        .otherwise("matched")
        .alias("side"),
    )
    name = _run_to_memory(joined, "ssfojoin")
    # sentinel removal AFTER the drain (batch plan — cannot push into
    # the streaming plan); each sentinel surfaces as an unmatched row
    # of its own side with id -1
    return spark.table(name).filter(
        (F.coalesce(F.col("purchase_id"), F.lit(0)) >= 0)
        & (F.coalesce(F.col("click_id"), F.lit(0)) >= 0)
    )


@register(
    "stream_semi_join",
    sql="""
        SELECT p.event_id AS purchase_id, p.user_id,
               CAST(round(p.value * 100) AS BIGINT) AS value_cents
        FROM events p
        WHERE p.event_type = 'purchase'
          AND EXISTS (
              SELECT 1 FROM events c
              WHERE c.event_type = 'click'
                AND c.user_id = p.user_id
                AND c.ts >= p.ts - INTERVAL 1 HOUR
                AND c.ts < p.ts
          )
    """,
    eager=True,
)
def stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join (Spark 3.1+): purchases that HAD a
    preceding click, emitted WITHOUT click columns — the existence
    filter form of attribution (billing wants 'qualified purchases',
    not the click payload, and semi state can drop a left row the
    moment its first match arrives instead of buffering every match).
    Completes the stream-join family: inner (stream_stream_join), left
    outer (stream_outer_join_watermark), full outer
    (stream_full_outer_join_watermark), semi (this).

    Same sentinel discipline as the outer forms — each side's pre-join
    filter keeps the wm_flush type so the watermark advances past every
    real event and click-side state fully evicts in the drain; the
    sentinel purchase can never match (user −1's only counterpart
    fails the strict c_ts < p_ts bound), so it is dropped by semi
    semantics themselves, and the post-drain filter is pure belt-and-
    braces. Oracle: the ANSI EXISTS form. Exactly-once output per
    qualified purchase — semi joins never duplicate the left side no
    matter how many clicks match."""
    ev = _events_stream_with_sentinel(spark, sf_dir)
    purchases = (
        ev.select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
            F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
            "event_type",
        )
        .withWatermark("p_ts", "2 hours")
        .filter(F.col("event_type").isin("purchase", "wm_flush"))
        .drop("event_type")
    )
    clicks = (
        ev.select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            "event_type",
        )
        .withWatermark("c_ts", "2 hours")
        .filter(F.col("event_type").isin("click", "wm_flush"))
        .drop("event_type")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
        "leftSemi",
    ).select("purchase_id", "user_id", "value_cents")
    name = _run_to_memory(joined, "sssemi")
    return spark.table(name).filter(F.col("purchase_id") >= 0)


@register(
    "stream_session_dynamic_gap",
    sql="""
        WITH e AS (
            SELECT user_id, ts, event_type,
                   CASE WHEN event_type = 'purchase' THEN CAST(3600 AS BIGINT)
                        ELSE CAST(900 AS BIGINT) END AS gap_s
            FROM events
        ),
        marked AS (
            SELECT user_id, ts, gap_s,
                   CASE WHEN epoch_us(ts) > max(epoch_us(ts) + gap_s * 1000000)
                             OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING)
                         OR row_number() OVER (PARTITION BY user_id
                                               ORDER BY ts) = 1
                        THEN 1 ELSE 0 END AS new_session
            FROM e
        ),
        sess AS (
            SELECT user_id, ts, gap_s,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
            FROM marked
        )
        SELECT user_id,
               min(ts) AS session_start,
               CAST(max(epoch_us(ts) + gap_s * 1000000) AS BIGINT)
                   AS session_end_us,
               CAST(count(*) AS BIGINT) AS n_events
        FROM sess
        GROUP BY user_id, session_id
    """,
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap session windows (Spark 3.2+ session_window with a
    gap EXPRESSION): purchases hold a session open for 1 h, everything
    else for 15 min — the per-event-type engagement model real
    sessionization uses (a checkout proves intent; a view does not).
    Spark merges windows whose [ts, ts+gap) ranges overlap; the
    oracle rebuilds identical sessions with the running-max-of-ends
    idiom — a new session starts exactly when an event's time exceeds
    every previous event's (ts + its own gap), which IS the overlap-
    merge semantics in lag form. Boundary semantics (probed, batch AND
    streaming, Spark 4.1): an event landing EXACTLY at a previous
    session end MERGES into that session — equality is inclusive, so
    the oracle's strict `>` is correct; pinned by the planted
    exactly-gap-separated fixture in tests/test_streaming.py. Session
    end is the max per-event end (last event time + ITS gap, not a
    fixed gap — the part the fixed-gap stream_session cannot express).

    Exactness: ends compare in integer microseconds; counts are
    integers. Scale shape: one user-partitioned window chain (running
    max + cumsum share the sort) — the same single-shuffle plan as
    ts_sessionize at any scale. The same expression runs under
    readStream (session_window accepts the gap column in streaming
    aggregations with watermarks)."""
    ev = table(spark, sf_dir, "events")
    # string gap values: session_window requires CalendarIntervalType
    # for a dynamic gap, which the string form provides (the ANSI
    # INTERVAL literal is DayTimeIntervalType and is rejected)
    gap = F.when(F.col("event_type") == "purchase", F.lit("1 hour")).otherwise(
        F.lit("15 minutes")
    )
    return (
        ev.groupBy(
            F.session_window("ts", gap).alias("w"), "user_id"
        )
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.unix_micros(F.to_utc_timestamp(F.col("w.end"), "UTC")).alias(
                "session_end_us"
            ),
            "n_events",
        )
    )


@register(
    "stream_incremental_etl",
    sql="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(2 AS BIGINT) AS n_runs
        FROM documents
        GROUP BY lang
    """,
    eager=True,
)
def stream_incremental_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL-ETL job pattern: a scheduled Trigger.AvailableNow
    query that wakes up, processes exactly the files that arrived since
    its last run (one shared checkpoint carries the file-source log
    across invocations), appends to a parquet sink, and exits — how a
    production pipeline turns a streaming source into an hourly batch
    job WITHOUT ever re-reading old data or double-counting (reference
    analog: the 60 s buffered put loop in `stream_processor.py:292-329`
    re-expressed as resumable pull). Demonstrated end to end: the
    documents corpus lands in a drop dir in two slices with a FULL
    query run after each; run 2 starts from run 1's committed offsets,
    so the aggregate over the sink hash-matches a single batch pass
    over the whole corpus — any re-read or skip would break the count.
    n_runs pins that the job really executed as two availableNow
    invocations (each drains fully and terminates, unlike a
    processing-time trigger).

    Scale shape: each invocation is a normal distributed file-stream
    batch (maxFilesPerTrigger bounds memory); checkpoint state is the
    file log + sink metadata, both O(#files) — the 1e8-blob caveat and
    its compaction answer are scan_binary_files/sink_compact's story."""
    docs = table(spark, sf_dir, "documents")
    drop = tempfile.mkdtemp(prefix="thsa_incr_drop_") + "/docs"
    sink = tempfile.mkdtemp(prefix="thsa_incr_sink_") + "/out"
    ck = tempfile.mkdtemp(prefix="thsa_ck_incr_")
    n_runs = 0
    for part in (0, 1):  # two arrival slices
        docs.filter(F.col("doc_id") % 2 == part).write.mode("append").json(
            drop
        )
        q = (
            spark.readStream.schema(docs.schema)
            .json(drop)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q)
        n_runs += 1
    return (
        spark.read.parquet(sink)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.lit(n_runs).cast("long").alias("n_runs"),
        )
    )


@register(
    "stream_cdc_apply",
    sql="""
        WITH base AS (
            SELECT o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders WHERE o_orderkey < 2000
        )
        SELECT o_orderkey,
               CAST(cents + CASE WHEN o_orderkey % 3 = 0
                                 THEN 1000 ELSE 0 END AS BIGINT) AS cents
        FROM base
        WHERE o_orderkey % 5 <> 0
    """,
    eager=True,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CHANGE-DATA-CAPTURE apply — the Kafka-CDC-to-lakehouse
    pattern: a stream of (key, seq, op, payload) change events drains
    micro-batch by micro-batch through foreachBatch, each batch MERGED
    into a keyed versioned state table (upserts replace, deletes
    remove, LAST SEQUENCE WINS within a batch). The apply is
    batch-boundary-invariant by construction: per-key max-seq dedup
    inside every batch + anti-join merge means any regrouping of
    events into batches (in seq order) produces the same final state —
    the property that makes CDC apply safe under retry and
    repartitioned replay. State versions are written per batch id
    (v{batch_id}), so a retried batch overwrites ITS OWN version
    instead of corrupting the predecessor — the same idempotence
    contract as sink_python_stream_writer's 2PC.

    The change stream is derived deterministically from orders
    (insert every key < 2000, update keys % 3 == 0 with +1000 cents,
    delete keys % 5 == 0), one file per op class drained with
    maxFilesPerTrigger=1 => three micro-batches exercising
    insert-then-update-then-delete across batch boundaries. The oracle
    computes the surviving final state closed-form. Scale shape: each
    batch is one shuffle (key dedup window) + one anti-join against
    state partitioned on the same key — at 100 TB both sides bucket on
    the key and the merge never rewrites untouched partitions (cf.
    sink_dynamic_partition_overwrite)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="thsa_cdc_")
    src = f"{root}/changes"
    state_root = f"{root}/state"
    os.makedirs(state_root)
    # three op-class files, written in seq order (file source drains
    # oldest-first, one per trigger)
    ins = base.select("k", F.lit(1).alias("seq"), F.lit("I").alias("op"), "cents")
    upd = (
        base.filter(F.col("k") % 3 == 0)
        .select("k", F.lit(2).alias("seq"), F.lit("U").alias("op"),
                (F.col("cents") + 1000).alias("cents"))
    )
    dele = base.filter(F.col("k") % 5 == 0).select(
        "k", F.lit(3).alias("seq"), F.lit("D").alias("op"),
        F.lit(None).cast("long").alias("cents"),
    )
    # Pin strictly increasing mtimes per op-class file: the file source
    # orders batches by modification time, and two files landing in the
    # same clock tick would tie — a delete batch processed before its
    # update batch must not depend on filesystem timestamp luck (r9
    # advisor finding). The merge below is additionally seq-aware, so
    # ordering is belt and mtime is suspenders.
    stamped: set = set()
    t0 = int(time.time())
    for i, df in enumerate((ins, upd, dele)):
        df.coalesce(1).write.mode("append").parquet(src)
        for name in os.listdir(src):
            p = os.path.join(src, name)
            if name.startswith("part-") and p not in stamped:
                os.utime(p, (t0 + 10 * i, t0 + 10 * i))
                stamped.add(p)

    def _latest_state(before_id=None):
        # only COMPLETE versions (_SUCCESS marker) strictly before the
        # current batch id: a RETRIED batch must merge against its
        # predecessor, never read its own partial previous attempt
        vs = sorted(
            (
                d
                for d in os.listdir(state_root)
                if d.startswith("v")
                and (before_id is None or int(d[1:]) < before_id)
                and os.path.exists(os.path.join(state_root, d, "_SUCCESS"))
            ),
            key=lambda s: int(s[1:]),
        )
        if not vs:
            return None
        return spark.read.parquet(os.path.join(state_root, vs[-1]))

    def _apply(batch, batch_id: int):
        # SEQ-AWARE merge (not last-batch-wins): state rows carry the
        # sequence that produced them, and the per-key winner across
        # state ∪ batch is the max-seq row (incoming change wins an
        # equal-seq tie — idempotent replay of the same change). An
        # out-of-order batch (older seq than state) is thus a no-op for
        # that key instead of resurrecting it.
        cur = _latest_state(before_id=batch_id)
        cand = batch.select("k", "cents", "seq", "op", F.lit(1).alias("pri"))
        if cur is not None:
            cand = cand.unionByName(
                cur.select("k", "cents", "seq", "op", F.lit(0).alias("pri"))
            )
        w = Window.partitionBy("k").orderBy(
            F.col("seq").desc(), F.col("pri").desc()
        )
        # Deletes stay in state as TOMBSTONES (op='D', max seq): an
        # out-of-order replay of an older insert/update then loses the
        # per-key max-seq race instead of resurrecting the key. The
        # final read filters tombstones out.
        merged = (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("k", "cents", "seq", "op")
        )
        merged.write.mode("overwrite").parquet(
            os.path.join(state_root, f"v{batch_id}")
        )

    stream = (
        spark.readStream.schema("k long, seq int, op string, cents long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    # drain at _DRAIN_PARTS like every other streaming drain (r16): the
    # per-batch merge window otherwise shuffles at the session default
    # (32 at local[32]), so each of the three batches ran 32 tasks and
    # wrote 32 tiny state files for a ~2k-row state — partition sizing
    # is physical, results are partition-count-invariant.
    with shuffle_partitions_override(spark, _DRAIN_PARTS):
        q = (
            stream.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", f"{root}/ck")
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q)
    final = _latest_state()
    return final.filter(F.col("op") != "D").select(
        F.col("k").alias("o_orderkey"), "cents"
    )


#: Session gap for the event-time-timeout sessionizer (seconds).
STATE_TIMEOUT_GAP_S = 1800


@register(
    "stream_state_timeout_sessions",
    sql=f"""
        WITH marked AS (
            SELECT user_id, ts,
                   CASE WHEN epoch_us(ts)
                             - lag(epoch_us(ts)) OVER (
                                   PARTITION BY user_id ORDER BY ts)
                             > {STATE_TIMEOUT_GAP_S} * 1000000
                         OR lag(ts) OVER (
                                PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        sess AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sid
            FROM marked
        )
        SELECT user_id,
               CAST(min(epoch_us(ts)) AS BIGINT) AS session_start_us,
               CAST(max(epoch_us(ts)) AS BIGINT) AS session_end_us,
               CAST(count(*) AS BIGINT) AS n_events
        FROM sess
        GROUP BY user_id, sid
    """,
    eager=True,
)
def stream_state_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME STATE TIMEOUTS — the applyInPandasWithState
    capability the NoTimeout counter (stream_stateful_counter) leaves
    uncovered, and the one real sessionizers need: an OPEN session
    lives in the state store with a timeout pinned at last_event +
    gap, and the engine calls the handler back (hasTimedOut=True,
    empty input) once the WATERMARK passes that instant — eviction is
    event-time-driven and replay-deterministic, unlike
    ProcessingTimeTimeout's wall-clock races. In-batch gap splits emit
    immediately; every still-open session is flushed by the sentinel
    row pushing the watermark 10 h past the data (the
    _events_stream_with_sentinel discipline), so the drained output is
    EXACTLY the batch fixed-gap sessionization — which is the oracle.

    Scale: state is one (start, last, n) triple per ACTIVE user —
    the state store holds live sessions only, timeouts garbage-collect
    idle keys (the unbounded-state leak applyInPandasWithState is
    notorious for when NoTimeout meets an unbounded key space). The
    shuffle keys on user_id once; handler work is a per-user sort of
    its batch slice. Ordering contract: WITHIN a batch any disorder is
    fine (the handler sorts); ACROSS batches events must be
    watermark-bounded in order, the same in-order-chunk contract the
    chained-watermark replay keys (stream_two_level_window) document —
    an already-emitted session is never reopened."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = STATE_TIMEOUT_GAP_S * 1_000_000

    def sessionize(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start_us": [start],
                    "session_end_us": [last],
                    "n_events": [n],
                }
            )
            return
        # The sentinel user (-1) owns every wm_flush row and never emits
        # a session; skip its per-row work entirely (the watermark
        # advance happens in the plan's watermark node, not here). Real
        # users therefore need no event_type mask — their slices hold
        # only real events, so the handler is pure numpy on the ts
        # column (~1500 per-key calls per batch at fixture scale; the
        # per-call pandas mask + per-value int() loop was the cost).
        if key[0] == -1:
            for _ in pdfs:
                pass
            return
        ts_list = []
        for pdf in pdfs:
            # ns -> us integer event times
            ts_list.extend(
                (pdf["ts"].to_numpy(dtype="int64") // 1000).tolist()
            )
        if not ts_list:
            return
        ts_list.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = ts_list[0], ts_list[0], 0
        out = {"user_id": [], "session_start_us": [], "session_end_us": [], "n_events": []}
        for t in ts_list:
            if n > 0 and t - last > gap_us:
                out["user_id"].append(key[0])
                out["session_start_us"].append(start)
                out["session_end_us"].append(last)
                out["n_events"].append(n)
                start, n = t, 0
            last = t
            n += 1
        state.update((start, last, n))
        state.setTimeoutTimestamp(last // 1000 + gap_us // 1000)
        if out["user_id"]:
            yield pd.DataFrame(out)

    ev = _events_stream_with_sentinel(spark, sf_dir)
    sessions = (
        ev.withWatermark("ts", "1 second")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize,
            outputStructType=(
                "user_id bigint, session_start_us bigint,"
                " session_end_us bigint, n_events bigint"
            ),
            stateStructType="start bigint, last bigint, n bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    name = _run_to_memory(sessions, "statetmo", output_mode="append")
    # sentinel user (-1) never emits rows (wm_flush filtered in-handler)
    return spark.table(name)
