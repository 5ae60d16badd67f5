"""Streaming CDC → SCD2: the warehouse-dimension consumer as a live
pipeline (S10 + ST4, kafka/README.md:332 change capture feeding a
versioned table).

The batch form (operators/cdc.py cdc_scd2_history) computes the whole
history in two window passes. The streaming form here is the production
shape: the change log arrives in time-ordered segments, each micro-batch
is merged incrementally against (a) the per-key last-seen-event state and
(b) the already-written version history — the foreachBatch + MERGE
pattern Delta/Iceberg users run. The result must converge to exactly the
batch table, so the oracle is the SAME SQL, and the whole point of the
query is that the incremental merge algebra is verified against the
two-window closed form.

Scale: state is one row per key (the newest change), versions append-
only; each micro-batch costs one keyed shuffle of batch-size rows. The
final valid_to/lead pass runs over the version table (changes, not
events). The segment replay uses maxFilesPerTrigger=1, the knob that
maps to per-offset-range Kafka triggers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_training_spark.data import load_table
from big_data_training_spark.operators.cdc import SCD2_SQL
from big_data_training_spark.registry import register
from big_data_training_spark.streaming.replay import (
    cached_schema,
    cleanup_scratch,
    materialize,
    parallel_actions,
    scratch_dir,
    light_stream_session,
)

N_SEGMENTS = 4

# Epochs applied by the most recent run — lets tests assert the merge
# really was incremental (N_SEGMENTS micro-batches, not one big batch).
last_epochs_applied: list[int] = []


def _write_time_segments(spark: SparkSession, sf_dir: str) -> str:
    """Split the events fixture into N_SEGMENTS time-ordered parquet
    segments (quantile cut points on ts) — a replayed topic whose file
    order matches event time, as a compacted Kafka topic's segment list
    does. File mtimes are forced ascending so the file-stream source
    (which orders by modification time) replays them in segment order."""
    from big_data_training_spark.streaming.incremental import (
        _write_id_segments,
    )

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    # event_id is unique and monotone with ingest order, so segments are
    # windows of the ts-ordered log and per-user time order holds across
    # segment boundaries. One partitioned write job for all segments —
    # incremental._write_id_segments, shared with the 13 st_* replays.
    return _write_id_segments(spark, events, "event_id", "bdts_cdc_topic_")


def _merge_batch(history_dir: str, state_dir: str):
    """foreachBatch body: SCD2 MERGE of one change segment.

    Reads the per-key last-event state, lag-chains the batch against it
    (a state row acts as the pseudo-previous event), appends rows that
    START a new version to the history, and writes the advanced state
    for the next epoch (epoch-suffixed dir: never overwrite what a
    concurrent reader might still scan — the S5 manifest-commit rule)."""

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        last_epochs_applied.append(int(epoch_id))
        spark = batch_df.sparkSession
        cur = os.path.join(state_dir, "current")
        if os.path.exists(cur):
            with open(cur) as fh:
                state = spark.read.parquet(fh.read().strip())
        else:
            state = spark.createDataFrame(
                [],
                "user_id bigint, ts timestamp, event_id bigint,"
                " event_type string, is_state boolean",
            )
        batch = batch_df.withColumn("is_state", F.lit(False))
        union = state.unionByName(batch)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        chained = union.withColumn("prev_type", F.lag("event_type").over(w))
        starts = chained.filter(
            (~F.col("is_state"))
            & (
                F.col("prev_type").isNull()
                | (F.col("prev_type") != F.col("event_type"))
            )
        ).select("user_id", "ts", "event_id", "event_type")
        new_state = (
            union.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(
                        F.desc("ts"), F.desc("event_id")
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select("user_id", "ts", "event_id", "event_type")
            .withColumn("is_state", F.lit(True))
        )
        nxt = os.path.join(state_dir, f"state_{epoch_id:06d}")
        # version-start append and advanced-state write are independent
        # outputs of the same union — overlap them (guide §2.6); the
        # manifest swap below still waits for BOTH
        parallel_actions(
            spark,
            lambda: starts.write.mode("append").parquet(
                os.path.join(history_dir, "versions")
            ),
            lambda: new_state.write.mode("overwrite").parquet(nxt),
        )
        with open(cur + ".tmp", "w") as fh:
            fh.write(nxt)
        os.replace(cur + ".tmp", cur)  # atomic manifest swap

    return apply


@register(
    "st_scd2_stream",
    SCD2_SQL,
    doc="S10/ST4 streaming form: CDC segments merged incrementally into"
    " an SCD2 history via foreachBatch; converges to the batch table",
    bench=True,
)
def st_scd2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the change log as 4 time-ordered micro-batches, merge each
    into the versioned dimension (open-version state + append-only
    version starts), then close validity ranges with one lead() pass
    over the version table. Hash-equal to the batch cdc_scd2_history —
    the incremental MERGE is verified against the closed form."""
    last_epochs_applied.clear()
    topic = _write_time_segments(spark, sf_dir)
    history_dir = scratch_dir("bdts_cdc_hist_")
    state_dir = scratch_dir("bdts_cdc_state_")
    ckpt = scratch_dir("bdts_cdc_ckpt_")
    # Plans on a pinned-conf clone so the shared session's
    # shuffle.partitions is never mutated; LIGHT pin — ~25k rows per
    # micro-batch (see replay.py's per-trigger-volume regime note),
    # sized by the largest segment (= one trigger's volume).
    from big_data_training_spark.streaming.replay import max_segment_bytes

    ss = light_stream_session(spark, trigger_bytes=max_segment_bytes(topic))
    seg0 = os.path.join(topic, "seg00.parquet")
    schema = cached_schema(lambda: spark.read.parquet(seg0), seg0)
    stream = (
        ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(topic)
    )
    q = (
        stream.writeStream.foreachBatch(_merge_batch(history_dir, state_dir))
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    versions = spark.read.parquet(os.path.join(history_dir, "versions"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    out = materialize(
        versions.withColumn("valid_to", F.lead("ts").over(w)).select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.when(F.col("valid_to").isNull(), 1)
            .otherwise(0)
            .alias("is_current"),
        )
    )
    cleanup_scratch()
    return out
