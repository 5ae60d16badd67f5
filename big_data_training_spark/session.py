"""SparkSession factory with engine defaults tuned for scale.

The reference's runtime concerns (broker clusters, consumer groups,
rebalancing — SURVEY.md §2.13) map onto Spark's own driver/executor
runtime; the knobs we own are the SQL-engine defaults below.

Design notes for the 100 TB target (tested on local[32], sized for a
multi-executor cluster):

* AQE on: runtime coalescing of small shuffle partitions, skew-join
  splitting, and dynamic join-strategy demotion replace any hand-tuned
  partition counts at large scale.
* ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a
  real cluster set it ~2-3x total cores (AQE coalesces down).
* UTC session timezone so event-time semantics are deployment-independent
  (and comparable to the DuckDB oracle, which is UTC-naive).
* Arrow enabled so any pandas-UDF slow path is batched, never per-row.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def _default_driver_mem() -> str:
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        ram_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (1 << 30)
    except (ValueError, OSError):
        ram_gb = 8
    return f"{max(2, min(16, ram_gb // 4))}g"


def session_builder(
    app_name: str = "big_data_training_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession.Builder:
    """Return a configured builder (callers may add more .config())."""
    builder = (
        SparkSession.builder.appName(app_name)
        # local[N] runs everything in the driver JVM, whose default 1g
        # heap starves 32 concurrent tasks; size it to ~25% of physical
        # RAM, capped at 16g (env override wins). Only effective when
        # this builder launches the JVM — an already-running session
        # (spark-submit harnesses) keeps its own setting. On a real
        # cluster this maps to executor memory instead.
        .config("spark.driver.memory", _default_driver_mem())
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet scans: vectorized reader + pushdown are on by default;
        # keep files split-sized so a 100 TB table parallelizes evenly.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Naive parquet timestamps read as session-local TIMESTAMP (not
        # NTZ) so epoch casts stay legal and oracles line up; data.py
        # also pins this at read time for externally built sessions.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Streaming state at scale: RocksDB spills keyed state to disk
        # (reference's local-state store, kafka/README.md:317,333).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.shuffle.spill.compress", "true")
        # Custom Python data sources (operators/pydatasource.py): Spark
        # refuses to plan a pushFilters-implementing reader without this.
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    # Deployment hook: extra SQL-conf pairs as "k=v;k=v". Only ';'
    # separates pairs, so a value may contain commas (class lists,
    # extraJavaOptions). Scale-dependent knobs (AQE advisory size,
    # coalescing mode, codec choices) stay parameterised per the
    # engine's rule — local defaults above keep the bench comparable; a
    # cluster deploy overrides here without code edits.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in extra.split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            if k.strip():
                builder = builder.config(k.strip(), v.strip())
    if os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT", "") == "1":
        # Reliable-checkpoint runs (lineage.truncate_lineage) write RDD
        # blocks per iterative round; let the ContextCleaner delete them
        # once the checkpointed RDD is GC'd. Static conf — only takes
        # effect when this builder launches the JVM, which is why it
        # lives here and not in lineage.py.
        builder = builder.config(
            "spark.cleaner.referenceTracking.cleanCheckpoints", "true"
        )
    if master:
        builder = builder.master(master)
    return builder


def get_session(app_name: str = "big_data_training_spark") -> SparkSession:
    """Session for local runs/tests: ``local[$SPARK_GRAFT_CPUS]``."""
    spark = session_builder(app_name, master=f"local[{DEFAULT_CPUS}]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_clone_lock = threading.Lock()
# parent session -> {conf set: clone}. Weak on the parent, so a
# discarded session's clones (and their SessionStates) go with it.
_clones: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def pinned_session(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A cached CLONE of ``spark`` with ``conf`` set, one per (parent,
    conf set). ``cloneSession`` shares the SparkContext, SharedState and
    cache but copies the SQLConf (Spark SQL's per-session conf), so the
    caller's session is never mutated — concurrent unrelated queries
    keep planning under their own conf instead of racing a set/restore
    window. Callers keep the number of distinct conf sets bounded."""
    key = tuple(sorted(conf.items()))
    with _clone_lock:
        by_conf = _clones.setdefault(spark, {})
        clone = by_conf.get(key)
        if clone is None:
            jclone = spark._jsparkSession.cloneSession()
            for k, v in conf.items():
                jclone.conf().set(k, v)
            clone = SparkSession(spark.sparkContext, jsparkSession=jclone)
            by_conf[key] = clone
    return clone


def is_pinned_session(spark: SparkSession) -> bool:
    """Whether ``spark`` is a clone handed out by :func:`pinned_session`."""
    with _clone_lock:
        return any(spark in by_conf.values() for by_conf in _clones.values())
