"""Streaming last-touch attribution: credit purchases as they arrive,
against bounded per-user touch state.

The batch model (operators/attribution.py) joins every purchase to its
full 24 h touch window. The streaming form exploits the last-touch
identity: the winning touch is simply the LATEST touch preceding the
purchase — if it falls outside the lookback window, then so does every
older touch, and the purchase is unattributed. So the state the stream
must carry is one row per user (the newest touch seen so far), not a
window of history: each micro-batch ranks its purchases against
in-batch touches plus that single state row, appends immutable credit
rows, and advances the state with a keyed max. Epoch-suffixed state
dirs with an atomic manifest swap (the S5 commit rule) keep recovery
exact. The oracle is single-sourced from ``ev_attribution_last_touch``:
any segmentation of the log must produce the identical credit table.

Correctness precondition (same as st_scd2_stream): segments are windows
of the ingest-ordered log, so a purchase's preceding touches are never
in a later segment.

Scale note: state is O(active users), per-batch work is one keyed
shuffle of batch rows; the credit log is append-only facts. This is
the Flink "deduplicate + last row" pattern re-expressed as
foreachBatch + keyed max.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_training_spark import registry as _registry
from big_data_training_spark.data import load_table
from big_data_training_spark.operators import attribution as _attribution  # noqa: F401
from big_data_training_spark.operators.attribution import (
    LOOKBACK_HOURS,
    TOUCH_TYPES,
)
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

_STATE_SCHEMA = "user_id bigint, t_ts timestamp, t_id bigint, channel string"


def _apply_batch(credits_dir: str, state_dir: str):
    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = os.path.join(state_dir, "current")
        if os.path.exists(cur):
            with open(cur) as fh:
                state = spark.read.parquet(fh.read().strip())
        else:
            state = spark.createDataFrame([], _STATE_SCHEMA)

        purchases = batch_df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
            F.floor(F.col("value") * 100).alias("cents"),
        )
        touches = batch_df.filter(F.col("event_type").isin(*TOUCH_TYPES)).select(
            "user_id",
            F.col("ts").alias("t_ts"),
            F.col("event_id").alias("t_id"),
            F.col("event_type").alias("channel"),
        )
        # ONE left join replaces the former inner join + left-anti pass
        # (which re-scanned purchases and re-ran the join subtree just to
        # find untouched purchases): a purchase with no qualifying touch
        # keeps exactly one all-null touch row, ranks rn=1, and the
        # lookback CASE yields the same NULL channel the anti-join
        # produced. DESC ordering puts NULLs last, so a real touch always
        # outranks the null row.
        tu = touches.unionByName(state)
        cand = purchases.join(
            tu,
            (purchases["user_id"] == tu["user_id"])
            & (tu["t_ts"] < purchases["p_ts"]),
            "left",
        ).drop(tu["user_id"])
        latest = (
            cand.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("p_id").orderBy(
                        F.desc("t_ts"), F.desc("t_id")
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select(
                "p_id",
                "cents",
                # outside the lookback -> every older touch is too:
                # the purchase is unattributed (NULL channel).
                F.when(
                    F.col("t_ts")
                    >= F.col("p_ts") - F.expr(f"INTERVAL {LOOKBACK_HOURS} HOURS"),
                    F.col("channel"),
                ).alias("channel"),
            )
        )

        new_state = (
            state.unionByName(touches)
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(
                        F.desc("t_ts"), F.desc("t_id")
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        nxt = os.path.join(state_dir, f"state_{epoch_id:06d}")
        # Epoch-keyed overwrite, not a blind append: a replayed batch
        # (restart between sink write and offset commit) rewrites its
        # own directory instead of double-counting credits — the ST6
        # batchId-idempotent sink rule. The credit write and the state
        # write are independent outputs — overlap them (guide §2.6);
        # the manifest swap below still waits for BOTH.
        parallel_actions(
            spark,
            lambda: latest.write.mode("overwrite").parquet(
                os.path.join(credits_dir, "credits", f"epoch={epoch_id:06d}")
            ),
            lambda: new_state.write.mode("overwrite").parquet(nxt),
        )
        with open(cur + ".tmp", "w") as fh:
            fh.write(nxt)
        os.replace(cur + ".tmp", cur)  # atomic manifest swap

    return apply


@register(
    "st_attribution_stream",
    # single-sourced from the batch model: any log segmentation must
    # yield the identical credit table
    _registry._REGISTRY["ev_attribution_last_touch"].oracle,
    doc="streaming last-touch attribution: per-batch credits against"
    " one-row-per-user touch state; converges exactly to the batch"
    " attribution table",
    bench=True,
)
def st_attribution_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Credit purchases micro-batch by micro-batch: rank each batch's
    purchases over in-batch touches plus the carried per-user latest
    touch, emit immutable (purchase, channel|NULL) credit facts, advance
    the state with a keyed max. The final channel report aggregates the
    credit log — hash-equal to ev_attribution_last_touch by the shared
    oracle, which is exactly the claim that one state row per user
    suffices for last-touch."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    topic = _write_id_segments(spark, events, "event_id", "bdts_attr_topic_")
    credits_dir = scratch_dir("bdts_attr_credits_")
    state_dir = scratch_dir("bdts_attr_state_")

    _run_foreach_batch(spark, topic, _apply_batch(credits_dir, state_dir))

    credits = spark.read.parquet(os.path.join(credits_dir, "credits"))
    attributed = (
        credits.filter(F.col("channel").isNotNull())
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_credits"),
            F.sum("cents").alias("credited_cents"),
        )
    )
    unattributed = (
        credits.filter(F.col("channel").isNull())
        .groupBy(F.lit("unattributed").alias("channel"))
        .agg(
            F.count("*").alias("n_credits"),
            F.sum("cents").alias("credited_cents"),
        )
    )
    out = materialize(attributed.unionByName(unattributed))
    cleanup_scratch()
    return out
