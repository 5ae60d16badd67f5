"""Streaming path mining: the per-user trigram table maintained across
time-ordered micro-batches with a TWO-ROW-PER-USER tail state.

The correctness argument is a seam argument: segments are windows of
the id-ordered log and event ingest order == event id order in the
fixture, so per-user time order holds across segment boundaries
(the st_scd2_stream contract, streaming/cdc_stream.py). Each batch
counts trigrams over (tail ∪ batch) where the tail holds each user's
last TWO events:

* a trigram needs 3 events, the tail has at most 2 — so no trigram
  lies entirely in the tail (nothing recounted from older batches);
* a trigram entirely inside the batch, or spanning the seam, contains
  at least one batch event and therefore could not have been counted
  by any earlier batch (whose union ended before this batch began);
* hence every trigram is counted exactly once, and the per-key counts
  are ADDITIVE — partials sum in any order.

State is O(2 x users) rows regardless of throughput; per batch the
work is one per-user window over (tail ∪ batch). The final answer is
hash-equal to the batch query (same oracle SQL, same finishing code).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from big_data_training_spark import registry as _registry
from big_data_training_spark.data import load_table
from big_data_training_spark.operators.pathmine import finish_trigrams
from big_data_training_spark.registry import register
from big_data_training_spark.streaming.incremental import (
    _run_foreach_batch,
    _write_id_segments,
)
from big_data_training_spark.streaming.replay import (
    cleanup_scratch,
    materialize,
    parallel_actions,
    scratch_dir,
)

# epochs applied by the most recent run (test hook: proves the counts
# really came from N micro-batches, not one big batch)
last_epochs_applied: list[int] = []


@register(
    "st_path_trigrams",
    # single-sourced: the streamed tail-state counting must finish
    # exactly like the batch trigram miner
    _registry._REGISTRY["ev_path_trigrams"].oracle,
    doc="streaming path mining: per-user trigram counts maintained"
    " across time-ordered micro-batches via a 2-row-per-user tail"
    " state; additive partials finish equal to the batch answer",
    bench=True,
)
def st_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mine behavioral trigrams while the stream runs: each
    micro-batch prepends every user's saved last-two-events tail,
    windows over (tail ∪ batch) in (ts, event_id) order, and counts
    the complete trigrams — each exactly once, because the 2-row tail
    can never contain a whole trigram and anything touching the new
    batch was never visible to earlier batches. The advanced tail
    (last 2 rows per user of the union) is committed to an
    epoch-suffixed state dir (the S5 manifest rule); count partials
    are additive parquet appends."""
    last_epochs_applied.clear()
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    topic = _write_id_segments(spark, events, "event_id", "bdts_tri_topic_")
    partials_dir = scratch_dir("bdts_tri_partials_")
    state_dir = scratch_dir("bdts_tri_state_")
    state_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        last_epochs_applied.append(int(epoch_id))
        sess = batch_df.sparkSession
        cur = os.path.join(state_dir, "current")
        if os.path.exists(cur):
            with open(cur) as fh:
                tail = sess.read.parquet(fh.read().strip())
        else:
            tail = sess.createDataFrame([], state_schema)
        union = tail.unionByName(
            batch_df.select("event_id", "ts", "user_id", "event_type")
        )
        w = "(PARTITION BY user_id ORDER BY ts, event_id)"
        seq = union.selectExpr(
            "user_id",
            "event_type AS step1",
            f"lead(event_type, 1) OVER {w} AS step2",
            f"lead(event_type, 2) OVER {w} AS step3",
        )
        new_tail = union.selectExpr(
            "event_id",
            "ts",
            "user_id",
            "event_type",
            "row_number() OVER (PARTITION BY user_id"
            " ORDER BY ts DESC, event_id DESC) AS rn",
        ).filter("rn <= 2").drop("rn")
        epoch_path = os.path.join(state_dir, f"epoch_{epoch_id:05d}")
        # the partials append and the tail write are independent outputs
        # of the same union — overlap them (guide §2.6); the manifest
        # swap below still happens only after BOTH committed
        parallel_actions(
            sess,
            lambda: seq.filter(F.col("step3").isNotNull())
            .groupBy("step1", "step2", "step3")
            .agg(F.count("*").alias("n_paths"))
            .write.mode("append")
            .parquet(os.path.join(partials_dir, "p")),
            lambda: new_tail.write.mode("overwrite").parquet(epoch_path),
        )
        tmp = cur + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(epoch_path)
        os.replace(tmp, cur)

    _run_foreach_batch(spark, topic, apply)

    tri = (
        spark.read.parquet(os.path.join(partials_dir, "p"))
        .groupBy("step1", "step2", "step3")
        .agg(F.sum("n_paths").alias("n_paths"))
    )
    out = materialize(finish_trigrams(tri))
    cleanup_scratch()
    return out
