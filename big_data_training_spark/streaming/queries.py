"""Registered streaming queries (driver-verifiable via stream-batch
equivalence where the sink is complete-mode).

S1 stream scan, A1 streaming word count, A11/W1 windowed counts, ST1/ST4
keyed state via applyInPandasWithState, ST5 reprocessing diff.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from big_data_training_spark.data import load_table
from big_data_training_spark.functions.numeric import dsum, sql_dsum
from big_data_training_spark.registry import register
from big_data_training_spark.streaming.replay import read_stream_table, run_to_completion
from big_data_training_spark.functions.text import SQL_TOKENS, STOPWORD, tokens


@register(
    "st_stream_wordcount",
    f"""
    SELECT w AS word, count(*) AS n
    FROM (SELECT unnest({SQL_TOKENS.format(col='text')}) AS w FROM documents)
    WHERE w <> '{STOPWORD}'
    GROUP BY w
    """,
    doc="A1 streaming form: word-count topology over the replayed corpus",
)
def st_stream_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → flatMap → filter → keyed stateful count → complete
    sink; equals the batch word count (stream-batch equivalence)."""
    lines = read_stream_table(spark, sf_dir, "documents")
    counts = (
        lines.select(F.explode(tokens("text")).alias("word"))
        .filter(F.col("word") != STOPWORD)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    return run_to_completion(counts, "complete")


@register(
    "st_stream_hourly_counts",
    f"""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour_start, event_type,
           count(*) AS n, {sql_dsum('value', 'total_value')}
    FROM events GROUP BY 1, 2
    """,
    doc="A11/W1 streaming form: tumbling 1-hour windowed counts",
    bench=True,
)
def st_stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation, complete mode — the
    windowed keyed count of the Flink word-count example at event-time."""
    events = read_stream_table(spark, sf_dir, "events")
    agg = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value", "total_value"))
        .select(
            F.col("w.start").alias("hour_start"), "event_type", "n", "total_value"
        )
    )
    return run_to_completion(agg, "complete")


_STATE_SCHEMA = "n BIGINT, total DOUBLE"
_OUT_SCHEMA = "user_id BIGINT, n_events BIGINT, total_value DOUBLE"


def _count_sum_state(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """ST1/ST4: per-key running (count, sum) held in the state store."""
    (n, total) = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
    )


@register(
    "st4_stateful_user_counts",
    """
    SELECT user_id, count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 2) AS total_value
    FROM events GROUP BY user_id
    """,
    doc="ST1/ST4: arbitrary keyed state via applyInPandasWithState",
)
def st4_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ProcessFunction analog (flink/README.md:28): per-key mutable state
    updated per micro-batch via applyInPandasWithState; bounded replay
    arrives as one batch so the emitted running totals equal the batch
    aggregate.

    Note: pandas float sum vs decimal-exact oracle — values are 2-decimal
    fixture doubles summed per small key group, so round(…, 2) agrees."""
    events = read_stream_table(spark, sf_dir, "events")
    result = (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _count_sum_state,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = run_to_completion(result, "update")
    # update mode emits once per key per micro-batch; keep only the final
    # (cumulative) emission so a multi-file replay is equivalent to the
    # single-batch case — running counts are monotone in n_events.
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


from big_data_training_spark.extensions.dedup import _SQL_SIG_CTE as _SIG_ORACLE_CTE


@register(
    "st_minhash_stream",
    _SIG_ORACLE_CTE
    + """
    SELECT doc_id, array_to_string(sig, ',') AS signature FROM sig
    """,
    doc="extension ops run in streaming: MinHash signatures over a document stream",
)
def st_minhash_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup extension as a streaming map: signatures computed
    per micro-batch with the same higher-order expressions — map-only,
    no state, fully pipelined; equals the batch signatures."""
    from big_data_training_spark.extensions.dedup import (
        _BASE,
        _SHINGLES,
        _SIGNATURE,
    )

    docs = read_stream_table(spark, sf_dir, "documents")
    sigs = (
        docs.withColumn("ws", F.expr("filter(split(text, '\\\\s+'), w -> w != '')"))
        .filter(F.size("ws") >= 3)
        .withColumn("shingles", F.expr(_SHINGLES))
        .withColumn("hs", F.expr(_BASE))
        .withColumn("sig", F.expr(_SIGNATURE))
        .select(
            "doc_id",
            F.concat_ws(
                ",", F.expr("transform(sig, x -> cast(x as string))")
            ).alias("signature"),
        )
    )
    return run_to_completion(sigs, "append")


@register(
    "st_q1_pricing_stream",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="the flagship relational query running unchanged on a stream",
)
def st_q1_pricing_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-batch unification: the same filter→groupBy→agg plan that
    answers q1 in batch runs incrementally over the replayed lineitem
    log — no operator changes, only the source and sink differ (the
    table/stream duality of kafka/README.md:319)."""
    li = read_stream_table(spark, sf_dir, "lineitem")
    agg = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(38,6)")), 2)
            .cast("double")
            .alias("sum_qty"),
            F.count("*").alias("count_order"),
        )
    )
    return run_to_completion(agg, "complete")


@register(
    "st_c3_stream_dedup",
    """
    SELECT event_type, count(DISTINCT event_id) AS n_unique
    FROM events GROUP BY event_type
    """,
    doc="C3 streaming form: dropDuplicates over the replayed at-least-once log",
)
def st_c3_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on the offset key: dropDuplicates keeps per-key
    seen-state in the state store (bound it with a watermark in
    production); counts equal exactly-once consumption."""
    events = read_stream_table(spark, sf_dir, "events")
    deduped = events.select("event_id", "event_type").dropDuplicates(["event_id"])
    counts = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    return run_to_completion(counts, "complete")


@register(
    "st_e1_dual_sink",
    f"""
    SELECT event_type, count(*) AS n_dlq
    FROM events WHERE event_type = 'error'
    GROUP BY event_type
    """,
    doc="E1 streaming form: foreachBatch dual-sink split (ok + DLQ topics)",
)
def st_e1_dual_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per micro-batch, foreachBatch writes the valid branch to the ok
    topic and the failing branch to the DLQ topic — two sinks, one
    scan per batch (the reference's DLQ forwarder, kafka/README.md:202).
    Returns the DLQ-side counts read back from its sink."""
    import os
    import uuid

    from big_data_training_spark.streaming.replay import (
        cleanup_scratch,
        materialize,
        scratch_dir,
    )

    events = read_stream_table(spark, sf_dir, "events")
    base = scratch_dir("bdts_dual_")
    ok_dir, dlq_dir = base + "/ok", base + "/dlq"

    def route(batch_df: DataFrame, epoch_id: int) -> None:
        # One partition dir per epoch, overwritten: a retried micro-batch
        # rewrites its own output instead of double-appending (idempotent
        # sink — the foreachBatch contract is at-least-once per epoch).
        batch_df.persist()
        try:
            batch_df.filter(F.col("event_type") != "error").write.mode(
                "overwrite"
            ).parquet(f"{ok_dir}/epoch={epoch_id}")
            batch_df.filter(F.col("event_type") == "error").write.mode(
                "overwrite"
            ).parquet(f"{dlq_dir}/epoch={epoch_id}")
        finally:
            batch_df.unpersist()

    q = (
        events.writeStream.foreachBatch(route)
        .queryName(f"dual_{uuid.uuid4().hex[:8]}")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if not os.path.isdir(dlq_dir):
        # No error events in the stream → the DLQ branch never wrote;
        # an empty result, not a read failure.
        cleanup_scratch()
        return spark.createDataFrame([], "event_type string, n_dlq bigint")
    out = materialize(
        spark.read.parquet(dlq_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_dlq"))
    )
    cleanup_scratch()
    return out


@register(
    "st_j1_stream_static",
    f"""
    SELECT c.c_mktsegment AS mktsegment, count(*) AS n_events,
           {sql_dsum('e.value', 'total_value')}
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="J1 streaming form: stream–static broadcast enrichment",
)
def st_j1_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream side joins the static dimension per micro-batch — the
    static side re-resolves each batch, which is the reference's
    CDC-refreshed cache (kafka/README.md:331-332)."""
    events = read_stream_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = (
        events.join(F.broadcast(customer), events.user_id == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
    )
    return run_to_completion(joined, "complete")


@register(
    "st_j2_stream_stream",
    """
    SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
           s.user_id AS user_id
    FROM events s JOIN events p
      ON s.user_id = p.user_id
     AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 30 MINUTE
    WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
    """,
    doc="J2 streaming form: stream–stream windowed join with watermarks",
    bench=True,
)
def st_j2_stream_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two streams, same-key match within 30 minutes; watermarks bound
    the join state (RocksDB) exactly like Kafka Streams' windowed join
    (kafka/README.md:333). Bounded replay emits every match once."""
    s = (
        read_stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"), "user_id", F.col("ts").alias("s_ts")
        )
        .withWatermark("s_ts", "1 hour")
    )
    p = (
        read_stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = s.join(
        p,
        F.expr(
            "user_id = p_user AND p_ts > s_ts"
            " AND p_ts <= s_ts + INTERVAL 30 MINUTES"
        ),
    ).select("signup_id", "purchase_id", "user_id")
    return run_to_completion(_j2_light(joined), "append")


def _j2_light(joined: DataFrame) -> DataFrame:
    """Re-root the stream-stream join onto the LIGHT shuffle pin, sized
    by the two sides' per-trigger volume (replay.pin_for_trigger_bytes).

    The bounded replay delivers each side as ONE ~600k-row micro-batch,
    so per-trigger cost is task startup across the join's stateful
    operators × partitions — the foreachBatch-replay regime, not the
    Python-state one. Interleaved A/B at sf0.1 under settling-to-norm
    cal axes (VERDICT r13 #5, measured table in docs/SCALING.md):
    pin 4 medians 3.49/3.27 s vs pin 16's 5.69/5.09 s (inner/outer,
    3 reps each, 4-16-16-4-4-16 order) — a 1.6x win; the wider sweep
    read monotone 4 < 8 < 16 < 32. At cluster scale the same rule:
    size the pin to per-trigger volume, never to executor count — the
    plan's source bytes feed the rule, whose floor is this sweep."""
    from big_data_training_spark.streaming.replay import (
        light_stream_session,
        reroot,
        source_bytes,
    )

    return reroot(
        joined,
        light_stream_session(
            joined.sparkSession, trigger_bytes=source_bytes(joined)
        ),
    )


@register(
    "st_j2_outer_stream_stream",
    """
    WITH s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
         p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         wm AS (SELECT least((SELECT max(ts) FROM s), (SELECT max(ts) FROM p))
                       - INTERVAL 1 HOUR AS w),
         matched AS (
            SELECT s.event_id AS signup_id, p.event_id AS purchase_id, s.user_id AS user_id
            FROM s JOIN p ON s.user_id = p.user_id
             AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 30 MINUTE),
         unmatched AS (
            SELECT s.event_id AS signup_id, CAST(NULL AS BIGINT) AS purchase_id,
                   s.user_id AS user_id
            FROM s, wm
            WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = s.user_id
                              AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 30 MINUTE)
              AND s.ts + INTERVAL 30 MINUTE <= wm.w)
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
    doc="J2 outer streaming form: left-outer stream-stream join, null-padded after watermark",
    bench=True,
)
def st_j2_outer_stream_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: matches emit immediately; an
    unmatched left row emits null-padded only once the (min-of-streams)
    watermark passes its last possible match time (s_ts + window) — the
    oracle states exactly that emission rule. Signups younger than the
    final watermark stay in state, never emitted on bounded replay."""
    s = (
        read_stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"), "user_id", F.col("ts").alias("s_ts")
        )
        .withWatermark("s_ts", "1 hour")
    )
    p = (
        read_stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = s.join(
        p,
        F.expr(
            "user_id = p_user AND p_ts > s_ts"
            " AND p_ts <= s_ts + INTERVAL 30 MINUTES"
        ),
        "left_outer",
    ).select("signup_id", "purchase_id", "user_id")
    # same light-pin rationale and measurements as _j2_light above
    return run_to_completion(_j2_light(joined), "append")


@register(
    "st_k1_foreachbatch_topk",
    f"""
    SELECT date_trunc('day', ts) AS day, event_type,
           {sql_dsum('value', 'total_value')}
    FROM events GROUP BY 1, 2
    ORDER BY total_value DESC, day ASC, event_type ASC
    LIMIT 10
    """,
    doc="K1 streaming form: global top-k per micro-batch via foreachBatch",
)
def st_k1_foreachbatch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k isn't expressible inside an update-mode streaming
    plan; the two-stage topology (kafka/README.md:330) runs the windowed
    aggregation in the stream and the top-k in foreachBatch over each
    micro-batch's complete state — the exact two-topic split of the
    reference, with the intermediate topic replaced by the state store."""
    from big_data_training_spark.streaming.replay import (
        cleanup_scratch,
        materialize,
        scratch_dir,
    )

    events = read_stream_table(spark, sf_dir, "events")
    agg = (
        events.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(dsum("value", "total_value"))
    )
    out_dir = scratch_dir("bdts_topk_") + "/out"
    spark_ref = spark

    def emit_topk(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.orderBy(
                F.desc("total_value"), F.asc("day"), F.asc("event_type")
            )
            .limit(10)
            .write.mode("overwrite")
            .parquet(out_dir)
        )

    import uuid

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(emit_topk)
        .queryName(f"topk_{uuid.uuid4().hex[:8]}")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = materialize(spark_ref.read.parquet(out_dir))
    cleanup_scratch()
    return out


@register(
    "w2_session_window_stream",
    f"""
    WITH o AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
        FROM o
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n
    FROM sess GROUP BY user_id, session_id
    """,
    doc="W2 streaming form: session_window(gap=30m) keyed aggregation",
)
def w2_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time session windows in streaming (merging-window state);
    equals batch gap-sessionization on bounded replay — the oracle runs
    the lag/cumsum formulation."""
    events = read_stream_table(spark, sf_dir, "events")
    agg = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("w.start").alias("session_start"), "n")
    )
    return run_to_completion(agg, "complete")


@register(
    "w5_watermark_append",
    """
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour_start, event_type,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    HAVING time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR
           <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
    doc="W5: watermark-finalized append-mode windows (late-data bound)",
)
def w5_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order handling (kafka/README.md:334): a 10-minute watermark
    bounds reordering; append mode emits a window only once the watermark
    passes its end — on bounded replay exactly the windows whose end ≤
    max(event time) − delay, which is what the oracle selects."""
    events = read_stream_table(spark, sf_dir, "events")
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n")
    )
    return run_to_completion(agg, "append")


@register(
    "s7_console_sink",
    """
    SELECT event_type, count(*) AS n FROM events GROUP BY 1
    """,
    doc="S7: console/print sink — streaming aggregate to stdout, verified twin",
    bench=True,
)
def s7_console_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The print/console sink (kafka/README.md console consumer, Flink
    ``print()``): a real ``format("console")`` streaming query runs to
    completion — the sink itself is stdout, so a second identical
    pipeline into a memory sink produces the oracle-checkable result."""
    events = read_stream_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(F.count("*").alias("n"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("console")
        .option("numRows", 5)
        .option("truncate", True)
        .start()
    )
    # run the memory twin CONCURRENTLY with the console query (guide
    # §2.6): the two pipelines are independent single-batch scans, so
    # overlapping them removes one full query's wall time. await_also
    # makes run_to_completion wait for the console query BEFORE cleaning
    # the scratch topics both depend on; q is stopped here either way.
    try:
        events2 = read_stream_table(spark, sf_dir, "events")
        out = run_to_completion(
            events2.groupBy("event_type").agg(F.count("*").alias("n")),
            "complete",
            await_also=(q,),
        )
    finally:
        q.stop()
    return out


_SESS_EVICT_STATE = "n BIGINT, start_us BIGINT, last_us BIGINT"
_SESS_EVICT_OUT = (
    "user_id BIGINT, n_events BIGINT, session_start TIMESTAMP,"
    " session_end TIMESTAMP"
)
SESSION_EVICT_GAP_MS = 10 * 60 * 1000


def _session_evict_state(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """W6 ProcessFunction-with-timers (flink/README.md:28): accumulate a
    session per key, register an event-time timer at last-event + gap,
    and emit the completed session ONLY when the watermark passes the
    timer (``state.hasTimedOut``) — the timer-driven eviction the
    reference's ProcessFunction demonstrates. Data calls emit nothing."""
    if state.hasTimedOut:
        n, start_us, last_us = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us, unit="us")],
            }
        )
        return
    n, start_us, last_us = state.get if state.exists else (0, None, None)
    for pdf in pdfs:
        if not len(pdf):
            continue
        # int64 epoch-µs computed JVM-side (unix_micros) — the previous
        # per-group pd.to_datetime().astype() chain cost ~0.22 ms/group,
        # ~30x this numpy path, and dominated addBatch at ~1500 keys/batch
        us = pdf["us"].values
        n += len(pdf)
        lo, hi = int(us.min()), int(us.max())
        start_us = lo if start_us is None else min(start_us, lo)
        last_us = hi if last_us is None else max(last_us, hi)
    if last_us is None:
        return
    state.update((n, start_us, last_us))
    # event-time timer: fire once the watermark passes last event + gap
    state.setTimeoutTimestamp(last_us // 1000 + SESSION_EVICT_GAP_MS)


def w6_session_timeout(stream: DataFrame) -> DataFrame:
    """W6: timer-evicted sessionization over any (user_id, ts) stream.
    Sessions are emitted exclusively by firing timers, never by data —
    exercised multi-batch in tests/test_streaming.py."""
    wm = stream.withWatermark("ts", "0 seconds")
    # The measured cost of this operator is per-GROUP serializer work in
    # the applyInPandasWithState protocol (~2 ms CPU/group: Arrow slice →
    # pandas per column, state round-trip), so ship the narrowest input
    # Python can take: the key plus ONE int64 epoch-µs column. The
    # analyzer requires a watermark-tagged attribute in the operator
    # input, not the timestamp column itself — alias ts's metadata
    # (spark.watermarkDelayMs) onto the JVM-computed unix_micros column
    # so the expensive per-group timestamp→pandas conversion never runs.
    # Watermark VALUES still come from the upstream EventTimeWatermark
    # node on ts; results are oracle-hash-identical (sf0.001/sf0.01).
    wm_meta = wm.select("ts").schema[0].metadata
    return (
        wm
        .select("user_id", F.unix_micros("ts").alias("us", metadata=wm_meta))
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_evict_state,
            outputStructType=_SESS_EVICT_OUT,
            stateStructType=_SESS_EVICT_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


N_W6_SEGMENTS = 8


@register(
    "w6_session_timeout",
    f"""
    WITH base AS (
        SELECT user_id, ts, event_id,
               ntile({N_W6_SEGMENTS}) OVER (ORDER BY ts, event_id) AS b
        FROM events
    ),
    bm AS (
        SELECT b, max(epoch_us(ts)) // 1000 AS bmax_ms FROM base GROUP BY b
    ),
    gwm AS (SELECT max(epoch_us(ts)) // 1000 AS wm_ms FROM base),
    seq AS (
        SELECT user_id, ts, event_id, b,
               lag(ts) OVER w AS prev_ts,
               lag(b) OVER w AS prev_b
        FROM base
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    -- A session splits between consecutive events of a user exactly when
    -- a micro-batch ran with the user ABSENT (batches strictly between
    -- their segments) whose watermark (= ms-floored max ts of the prior
    -- segment) strictly exceeded the registered timer
    -- (ms-floored last event + gap) — the engine's timeout rule.
    flags AS (
        SELECT user_id, ts, event_id,
               CASE WHEN prev_ts IS NULL THEN 1
                    WHEN b >= prev_b + 2
                         AND (epoch_us(prev_ts) // 1000) + {SESSION_EVICT_GAP_MS}
                             < (SELECT bmax_ms FROM bm WHERE bm.b = seq.b - 2)
                    THEN 1 ELSE 0 END AS new_s
        FROM seq
    ),
    sess AS (
        SELECT user_id, ts,
               sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS sid
        FROM flags
    ),
    agg AS (
        SELECT user_id, sid, count(*) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end
        FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, n_events, session_start, session_end
    FROM (
        SELECT a.*, max(sid) OVER (PARTITION BY user_id) AS max_sid
        FROM agg a
    ), gwm
    -- split-evicted sessions always fired; the tail session fires only
    -- in the closing no-data micro-batch, when the final watermark
    -- strictly passes its timer.
    WHERE sid < max_sid
       OR (epoch_us(session_end) // 1000) + {SESSION_EVICT_GAP_MS} < wm_ms
    """,
    doc="W6: event-time timer-evicted sessions (ProcessFunction timers) "
    "over a deterministic time-ordered replay of the events topic",
    bench=True,
)
def w6_session_timeout_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 driver form (flink/README.md:28 ProcessFunction timers): replay
    events as {N_SEG} time-ordered single-file segments (one micro-batch
    each under maxFilesPerTrigger=1, mtime-ordered), run the
    timer-evicted sessionizer, and return every session the TIMERS
    emitted — data calls emit nothing, so the result is a direct probe of
    event-time timer semantics (eviction in data batches for absent keys,
    plus the closing no-data micro-batch for the final watermark).

    Determinism device: the global ntile() fixes which events share a
    micro-batch, making watermark progression (ms-floored segment maxima)
    reproducible in the SQL oracle. At scale the segment split would be a
    range partition on ts (the topic's natural log order), not a
    single-task window.
    """
    import os

    from big_data_training_spark.streaming.replay import (
        cached_topic,
        materialize,
        stream_session,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")

    def build(topic: str) -> None:
        b = materialize(
            ev.withColumn(
                "b",
                F.ntile(N_W6_SEGMENTS).over(Window.orderBy("ts", "event_id")),
            )
        )
        # ONE write job for all segments: repartition on b gives every
        # segment value a single task, so partitionBy emits exactly one
        # file per b=K dir — the one-file-per-micro-batch invariant
        # maxFilesPerTrigger=1 relies on (was 8 filter+coalesce jobs,
        # each rescanning the materialized base).
        (
            b.repartition(N_W6_SEGMENTS, "b")
            .select("user_id", "ts", "b")
            # write-level pin: a session-level
            # spark.sql.files.maxRecordsPerFile would split a segment
            # into several files and break the one-file-per-micro-batch
            # replay invariant below
            .write.option("maxRecordsPerFile", "0")
            .partitionBy("b")
            .parquet(topic + "/out")
        )
        for k in range(1, N_W6_SEGMENTS + 1):
            path = os.path.join(topic, "out", f"b={k}")
            files = [f for f in os.listdir(path) if f.endswith(".parquet")]
            if len(files) != 1:  # replay determinism invariant (not an
                # assert: must hold under python -O too)
                raise RuntimeError(
                    f"w6 replay segment b={k} must be exactly one file for "
                    f"maxFilesPerTrigger=1 to replay one micro-batch per "
                    f"segment; got {files}"
                )
            # fixed ascending mtimes (the file source orders by mtime);
            # stable across cache reuse
            mt = float(1_600_000_000 + 10 * k)
            os.utime(os.path.join(path, files[0]), (mt, mt))
            os.utime(path, (mt, mt))

    topic = cached_topic(
        ev, f"w6seg:{N_W6_SEGMENTS}", "bdts_w6_topic_", build
    )
    ss = stream_session(spark)
    stream = (
        ss.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(topic + "/out/*")
    )
    return run_to_completion(w6_session_timeout(stream), "update")


def _tws_processor():
    """W6/ST4 on the Spark 4 API: StatefulProcessor with explicit state
    handles (and timer support — the Flink ProcessFunction surface,
    flink/README.md:28). Built lazily so import of this module never
    depends on the newer API being present."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStatsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", "n BIGINT, mx DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n, mx = (0, float("-inf"))
            if self._state.exists():
                n, mx = self._state.get()
            for pdf in rows:
                n += len(pdf)
                if len(pdf):
                    mx = max(mx, float(pdf["value"].max()))
            self._state.update((n, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_value": [round(mx, 2)]}
            )

        def close(self) -> None:
            pass

    return UserStatsProcessor()


def transform_with_state_available() -> bool:
    """transformWithStateInPandas needs the google.protobuf wheel for its
    state-server protocol; absent in this container. Callers (and the
    test suite) use this gate — the working ProcessFunction surface here
    is applyInPandasWithState (st4_stateful_user_counts)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


def w6_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6/ST4 on the Spark 4 API: explicit ValueState per key, timer
    registration via the handle (unused on bounded replay). Supersedes
    applyInPandasWithState as the ProcessFunction analog. NOT registered
    as a driver query: requires transform_with_state_available()."""
    events = read_stream_table(spark, sf_dir, "events")
    result = (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_tws_processor(),
            outputStructType="user_id BIGINT, n_events BIGINT, max_value DOUBLE",
            outputMode="Update",
            timeMode="None",
        )
    )
    return run_to_completion(result, "update")


_COMPACT_STATE = "last_offset BIGINT, last_ts_us BIGINT, last_type STRING"
_COMPACT_OUT = (
    "user_id BIGINT, last_offset BIGINT, last_ts_us BIGINT, last_type STRING"
)


def _latest_per_key_state(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """C1 streaming form: keep only the newest record per key in state
    (the compaction thread's key→latest-offset map, kafka/README.md:433)."""
    if state.exists:
        off, ts_us, typ = state.get
    else:
        off, ts_us, typ = -1, -1, ""
    for pdf in pdfs:
        if not len(pdf):
            continue
        top = pdf.sort_values(["ts", "event_id"]).iloc[-1]
        r_us = int(top["ts"].value // 1000)
        if (r_us, int(top["event_id"])) > (ts_us, off):
            off, ts_us, typ = int(top["event_id"]), r_us, str(top["event_type"])
    state.update((off, ts_us, typ))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "last_offset": [off],
            "last_ts_us": [ts_us],
            "last_type": [typ],
        }
    )


@register(
    "st_c1_stream_compaction",
    """
    WITH ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, event_id AS last_offset, event_type AS last_type
    FROM ranked WHERE rn = 1
    """,
    doc="C1 streaming form: latest-per-key via keyed state (compaction)",
)
def st_c1_stream_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming log compaction: per-key state holds the newest record
    seen; equals batch latest-per-key on bounded replay."""
    events = read_stream_table(spark, sf_dir, "events")
    result = (
        events.select("user_id", "event_id", "ts", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _latest_per_key_state,
            outputStructType=_COMPACT_OUT,
            stateStructType=_COMPACT_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = run_to_completion(result, "update")
    # Final emission per key, ordered by the state's OWN ordering
    # (ts_us, then offset) — not by offset alone, which would pick a
    # stale emission if a later-ts record carried a smaller event_id.
    w = Window.partitionBy("user_id").orderBy(
        F.desc("last_ts_us"), F.desc("last_offset")
    )
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "last_ts_us")
    )


@register(
    "st5_reprocess_diff",
    """
    WITH v1 AS (
        SELECT event_type, count(*) AS n FROM events GROUP BY 1
    ), v2 AS (
        SELECT event_type, count(*) AS n FROM events
        WHERE try_cast(json_extract_string(props, '$.k') AS INT) < 90
        GROUP BY 1
    )
    SELECT coalesce(v1.event_type, v2.event_type) AS event_type,
           coalesce(v1.n, 0) AS n_v1, coalesce(v2.n, 0) AS n_v2,
           coalesce(v1.n, 0) - coalesce(v2.n, 0) AS diff
    FROM v1 FULL OUTER JOIN v2 ON v1.event_type = v2.event_type
    """,
    doc="ST5: reprocess the replayable log with app v2, diff the results",
)
def st5_reprocess_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's cutover methodology (kafka/README.md:335-337): run
    old and new pipeline versions over the same retained log and compare
    result tables (full-outer diff)."""
    events = load_table(spark, sf_dir, "events")
    v1 = events.groupBy("event_type").agg(F.count("*").alias("n_v1"))
    k = F.from_json("props", "k INT").getField("k")
    v2 = (
        events.withColumn("k", k)
        .filter(F.col("k") < 90)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_v2"))
    )
    j = v1.join(v2, "event_type", "full_outer")
    return j.select(
        "event_type",
        F.coalesce("n_v1", F.lit(0)).alias("n_v1"),
        F.coalesce("n_v2", F.lit(0)).alias("n_v2"),
        (F.coalesce("n_v1", F.lit(0)) - F.coalesce("n_v2", F.lit(0))).alias("diff"),
    )


@register(
    "st_w2_sliding_counts",
    """
    SELECT time_bucket(INTERVAL 1 HOUR, ts) - k * INTERVAL 1 HOUR
               AS window_start,
           event_type, count(*) AS n
    FROM events, (VALUES (0), (1)) AS o(k)
    GROUP BY 1, 2
    """,
    doc="W2 sliding-window streaming form: 2h windows sliding by 1h",
)
def st_w2_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding-window count (size 2 h, slide 1 h): each event
    lands in exactly two windows — Spark expands the window set per
    row, state holds one aggregate per (window, type). The oracle
    replicates the expansion with an explicit 2-row offset join. Sliding
    windows multiply state by size/slide, so at scale keep the ratio
    small and let the watermark evict closed windows."""
    events = read_stream_table(spark, sf_dir, "events")
    agg = (
        events.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    return run_to_completion(agg, "complete")


@register(
    "st_decontaminate_stream",
    f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(ws[i:i+7], ' ')
                              for i in generate_series(1, len(ws) - 7)]) AS shingles
        FROM toks WHERE len(ws) >= 8
    )
    SELECT t.doc_id AS doc_id, count(DISTINCT s) AS n_hit_shingles
    FROM (SELECT doc_id, unnest(shingles) AS s FROM sh
          WHERE NOT (doc_id % 20 = 0)) AS t
    JOIN (SELECT doc_id, unnest(shingles) AS s FROM sh
          WHERE doc_id % 20 = 0) AS e USING (s)
    GROUP BY 1
    """,
    doc="streaming decontamination: micro-batch docs vs broadcast eval shingles",
    bench=True,
)
def st_decontaminate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest-time form of dd_decontaminate_overlap: documents
    arrive as a stream, each micro-batch is shingled and joined against
    the static benchmark shingle set (a stream-static join — the static
    side is planned per micro-batch and broadcast). This is how a crawl
    pipeline drops contaminated docs before they ever land in the
    corpus. Same 8-gram collision semantics as the batch form, so the
    oracle is identical."""
    from big_data_training_spark.extensions.curation import (
        _SHINGLE_PAIR_SCHEMA,
        EVAL_PRED,
        _decon_shingled,
        _shingle_pair_batches,
    )

    # distinct eval shingles up front: the train side's shingle pairs
    # are already distinct per doc, so after this the join emits each
    # (doc_id, shingle) hit at most once and a plain count(*) equals
    # count(DISTINCT s) — which streaming aggregation doesn't allow.
    eval_sh = (
        _decon_shingled(spark, sf_dir)
        .filter(EVAL_PRED)
        .select("s")
        .distinct()
    )
    stream = read_stream_table(spark, sf_dir, "documents")
    # fan the shingling out of the single-file input split (the
    # streaming analog of data.repartition_for_compute — at scale the
    # topic is already many splits and this is ~free); width follows
    # the session's parallelism, never a literal. Shingling itself is
    # the SAME Arrow-batched pass as the eval side/_decon_shingled —
    # round-15: the previous higher-order-function chain was not only
    # ~8x slower (interpreted lambdas, the curation module's measured
    # finding) but its explode-inferred `size(shingles) > 0` predicate
    # was PUSHED BELOW the repartition, so the whole transform chain
    # ran twice, once single-threaded on the one input split (executed
    # micro-batch plan in plans/r15/st_decontaminate_stream_before.txt).
    # mapInPandas is opaque to that pushdown; only (doc_id, text) cross
    # the Python boundary (guide §4).
    train = (
        stream.repartition(spark.sparkContext.defaultParallelism)
        .filter(f"NOT ({EVAL_PRED})")
        .select("doc_id", "text")
        .mapInPandas(_shingle_pair_batches, _SHINGLE_PAIR_SCHEMA)
    )
    hits = (
        train.join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_shingles"))
    )
    return run_to_completion(hits, "complete")


@register(
    "st_hll_stream",
    """
    WITH hashed AS (
        SELECT event_type,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM events
    ), parts AS (
        SELECT event_type, h >> 52 AS bucket, h & 4503599627370495 AS w
        FROM hashed
    )
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           CAST(max(CASE WHEN w = 0 THEN 53
                         ELSE 53 - length(bin(w)) END) AS INT) AS register
    FROM parts GROUP BY 1, 2
    """,
    doc="HyperLogLog registers maintained incrementally over the event stream",
)
def st_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL sketch as a *streaming* aggregate: per-batch partial
    registers merge into running state by elementwise max — and because
    max is associative, commutative and idempotent, the result is
    independent of micro-batch boundaries, so the batch oracle is exact.
    This is the streaming twin of sk_hll_registers (extensions/
    sketches.py) and the live-dashboard form of distinct counting: state
    is m registers per key forever, regardless of stream volume."""
    from big_data_training_spark.extensions.sketches import _HLL_W_MASK
    from big_data_training_spark.functions.hashing import hash60

    ev = read_stream_table(spark, sf_dir, "events")
    parts = ev.select(
        "event_type", hash60(F.col("user_id").cast("string")).alias("h")
    ).select(
        "event_type",
        F.shiftright("h", 52).cast("bigint").alias("bucket"),
        F.expr(f"h & {_HLL_W_MASK}").alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin("w"))
    )
    regs = (
        parts.select("event_type", "bucket", rho.alias("rho"))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").cast("int").alias("register"))
    )
    return run_to_completion(regs, "complete")


@register(
    "st_dedup_within_watermark",
    """
    SELECT event_type, count(*) AS n_unique
    FROM (SELECT DISTINCT ON (event_id) event_id, event_type FROM events)
    GROUP BY event_type
    """,
    doc="C3 bounded-state form: dropDuplicatesWithinWatermark expiry",
    bench=True,
)
def st_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-state dedup the unbounded dropDuplicates can't be at
    100 TB: dropDuplicatesWithinWatermark expires each key's dedup state
    once the watermark passes it, so state size tracks the lateness
    bound, not the stream's lifetime key count. The bounded replay fits
    one watermark window, so the result equals exact distinct-by-offset."""
    first = read_stream_table(spark, sf_dir, "events")
    redelivery = read_stream_table(spark, sf_dir, "events")
    # at-least-once log: every event arrives twice (second delivery)
    events = first.select("event_id", "event_type", "ts").unionByName(
        redelivery.select("event_id", "event_type", "ts")
    )
    deduped = events.withWatermark("ts", "10 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    counts = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    return run_to_completion(counts, "complete")


@register(
    "st_zonemap_maintain",
    """
    SELECT date_trunc('month', ts) AS month_start,
           count(*) AS n_rows,
           min(ts) AS ts_min, max(ts) AS ts_max,
           min(value) AS v_min, max(value) AS v_max
    FROM events GROUP BY 1
    """,
    doc="S9 streaming form: per-month file zone maps (min/max stats)"
    " maintained incrementally at ingest",
)
def st_zonemap_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone maps maintained AT INGEST instead of recomputed by a table
    scan: the stream's grouped aggregate keeps per-month min/max/count
    running state exactly the way an Iceberg/Delta writer accumulates
    file statistics on commit. min/max/count are associative, so each
    micro-batch merges into standing state without reprocessing history
    — the streaming twin of s9_zonemap_prune_audit's batch-side zone
    maps, and the reason a 100 TB table's pruning stats are always
    current without a maintenance scan. State is one row per month —
    bounded by the calendar, not the stream."""
    events = read_stream_table(spark, sf_dir, "events")
    agg = (
        events.groupBy(F.date_trunc("month", "ts").alias("month_start"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("ts").alias("ts_min"),
            F.max("ts").alias("ts_max"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )
    )
    return run_to_completion(agg, "complete")


@register(
    "st_dau_stream",
    """
    SELECT date_trunc('day', ts) AS day,
           count(DISTINCT user_id) AS dau
    FROM events GROUP BY 1
    """,
    doc="engagement streaming form: daily active users maintained on the"
    " ingest stream via (day, user) dedup state",
)
def st_dau_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAU dashboard fed directly from the stream: dropDuplicates on
    (day, user_id) holds one state row per active user-day (bound it
    with a watermark on day in production — state then tracks the
    lateness horizon, not history), and the downstream count per day is
    a plain streaming aggregate. The batch twin is ev_dau_wau_mau's dau
    column; the oracle asserts the stream's complete-mode result equals
    the batch exact distinct."""
    events = read_stream_table(spark, sf_dir, "events")
    presence = events.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).dropDuplicates(["day", "user_id"])
    dau = presence.groupBy("day").agg(F.count("*").alias("dau"))
    return run_to_completion(dau, "complete")
