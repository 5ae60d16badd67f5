"""ST2 at scale: streaming keyed state on the RocksDB state store.

The default (HDFSBackedStateStoreProvider) holds every key's state in
executor heap — fine for the fixture, a hard wall at 100 TB where a
per-user aggregation carries billions of keys. RocksDB
(flink/README.md's RocksDBStateBackend analog; Spark ships
``RocksDBStateStoreProvider`` + rocksdbjni in-box) keeps state off-heap
on local SSD with incremental (changelog) checkpointing to the
checkpoint location, so state size is bounded by disk, not heap, and
recovery replays a changelog instead of re-uploading full snapshots.

Sessions built by ``session.session_builder`` already default to
RocksDB; ``rocksdb_stream_session`` pins it (plus changelog
checkpointing) on a dedicated session CLONE so the guarantee also holds
on externally built sessions — e.g. the driver harness's default-config
SparkSession, where the provider would otherwise fall back to the
heap-backed default. The provider conf is read (and recorded in the
offset log) at query start from the session that starts the query;
pinning it on a clone means no set/restore window ever exists on the
shared session — a concurrent query cannot observe the RocksDB keys
(the conf-isolation pattern of session.pinned_session, via
streaming/replay.py ``streaming_clone``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_training_spark.registry import register
from big_data_training_spark.streaming.replay import (
    _STREAM_PIN_FLOOR,
    cleanup_scratch,
    materialize,
    read_stream_table,
    reroot,
    run_to_completion,
    scratch_dir,
    stream_session,
    streaming_clone,
)

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def rocksdb_stream_session(spark: SparkSession) -> SparkSession:
    """Cached clone of ``spark`` with the RocksDB provider, changelog
    checkpointing (a streaming default), and the streaming
    shuffle-partition pin — queries started from it get RocksDB state
    without mutating the parent."""
    return streaming_clone(
        spark,
        {
            _PROVIDER_KEY: ROCKSDB_PROVIDER,
            "spark.sql.shuffle.partitions": str(_STREAM_PIN_FLOOR),
        },
    )


@register(
    "st_rocksdb_state_counts",
    """
    SELECT user_id, count(*) AS n_events, max(event_id) AS max_offset
    FROM events GROUP BY user_id
    """,
    doc="ST1/ST2: per-user streaming aggregation on RocksDB state",
)
def st_rocksdb_state_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same keyed-aggregation topology as st4_stateful_user_counts but
    with per-key state held in RocksDB — the backend a billion-key
    aggregation needs. Stream-batch equivalence: bounded replay in
    complete mode equals the batch GROUP BY."""
    ss = rocksdb_stream_session(spark)
    events = reroot(read_stream_table(spark, sf_dir, "events"), ss)
    agg = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max("event_id").alias("max_offset"),
    )
    return run_to_completion(agg, "complete")


@register(
    "st_state_store_inspect",
    """
    SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """,
    doc="ST1/ST3: offline queryable state via the statestore reader",
)
def st_state_store_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interactive/queryable state (the Kafka Streams interactive-query
    and Flink state-processor analog): run a keyed streaming
    aggregation, then read the *checkpointed state itself* back as a
    DataFrame with Spark 4's ``statestore`` reader — the keyed counts
    come from the store, not the sink. At scale this is how you audit,
    migrate, or debug billions of keys of streaming state offline
    (partition-parallel read of the store files, no query restart)."""
    import uuid

    # Runs on a pinned-conf clone (streaming/replay.py stream_session)
    # so the shared session's shuffle.partitions is never mutated.
    ss = stream_session(spark)
    events = reroot(read_stream_table(spark, sf_dir, "events"), ss)
    agg = events.groupBy("event_type").agg(F.count("*").alias("n"))
    ckpt = scratch_dir("bdts_stateread_ckpt_")
    qname = f"stateq_{uuid.uuid4().hex[:10]}"
    try:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        state = spark.read.format("statestore").load(ckpt)
        # the aggregate's internal value column name is engine-internal
        # (e.g. `count(1)`): resolve it structurally, don't hardcode
        n_col = state.select("value.*").columns[0]
        out = materialize(
            state.select(
                F.col("key.event_type").alias("event_type"),
                F.col(f"value.`{n_col}`").alias("n"),
            )
        )
    finally:
        ss.catalog.dropTempView(qname)
        cleanup_scratch()
    return out
