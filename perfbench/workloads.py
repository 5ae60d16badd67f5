"""Workload membership, scales and the metric tables the benchmark reports.

Pure data: the launcher (run.py) reads it without importing Spark.
"""

from __future__ import annotations

# Timed passes read fixtures at MEASURE_SF; the warm pass inside set-up
# reads WARM_SF. README.md says why extensions runs below bench.py's sf0.1.
MEASURE_SF = {"relational": 0.1, "extensions": 0.01}
WARM_SF = 0.001

# Untimed noop passes at MEASURE_SF before the oracle check; the first of
# them is the cold first pass (session.first_pass_s), which traced runs
# always make. Relational makes none, as a ~10 s pass at sf0.1 does not
# fit the time budget; the check runs every query on the same plans
# first, and the per-query median of its timed passes leaves out the
# slower first one. In extensions, dd_minhash_lsh_pairs caches the same
# signature plan on every call, and extensions/dedup.py keeps the last
# four `_cache_tracked` caches alive across queries: its 2nd to 4th calls
# at MEASURE_SF read the signatures the 1st one cached; from the 5th call
# on, evicting the oldest slot unpersists that shared cache before the
# write, and each call runs without it. Three passes and the check make
# the first timed call the 5th.
WARMUP_PASSES = {"relational": 0, "extensions": 3}

# Each workload stresses different layers; README.md gives the reasons.
WORKLOADS: dict[str, tuple[str, ...]] = {
    # Sub-second operators/ queries: driver planning and the per-job floor
    # dominate; no Python, state or streaming runs (the bypass case).
    "relational": (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q6_forecast_revenue",
        "q10_returned_revenue",
        "q21_last_shipper_wait",
        "j1_enrichment_broadcast",
        "j2_interval_join",
        "j_asof_last_click",
        "j_pit_union_asof",
        "ev_rfm_segments",
        "w2_sessionization",
        "a11_hourly_counts",
        "c1_compaction_latest_per_key",
        "mv_join_delta_refresh",
        "cal_date_spine_gap_fill",
    ),
    # One row per layer the relational workload bypasses: an iterative
    # multi-job loop, a Python/Arrow UDF row, a dedup row that caches
    # its intermediate in the process-global slots, and a stateful
    # streaming replay (checkpoints, WAL, RocksDB commits per batch).
    "extensions": (
        "dd_semantic_neardup_kmeans",
        "u9_scalar_iter_scoring",
        "dd_minhash_lsh_pairs",
        "st_w2_sliding_counts",
    ),
}

# (name, unit) of every end-to-end metric, reported by untraced runs.
END_TO_END = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("query_geomean_s", "s"),
    ("ok_ratio", "share"),
)

# (name, unit) of every per-layer metric, reported by traced runs. The
# spans in the results file also carry python.boot_s (Python workers are
# reused, so always 0 here), shuffle.fetch_wait_s (always 0 in local mode)
# and statestore.removals_ms (no row of either workload evicts state).
PER_LAYER = (
    ("registry.build_s", "s"),
    ("driver.nojob_s", "s"),
    ("data.input_bytes", "bytes"),
    ("data.input_rows", "count"),
    ("scheduler.jobs", "count"),
    ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"),
    ("scheduler.job_s", "s"),
    ("executor.run_s", "s"),
    ("executor.cpu_s", "s"),
    ("executor.gc_s", "s"),
    ("executor.deserialize_s", "s"),
    ("executor.peak_exec_memory_bytes", "bytes"),
    ("shuffle.write_bytes", "bytes"),
    ("shuffle.write_s", "s"),
    ("shuffle.read_bytes", "bytes"),
    ("shuffle.spill_disk_bytes", "bytes"),
    ("shuffle.spill_memory_bytes", "bytes"),
    ("python.init_s", "s"),
    ("python.run_s", "s"),
    ("python.bytes_sent", "bytes"),
    ("python.bytes_received", "bytes"),
    ("streaming.batches", "count"),
    ("streaming.input_rows", "count"),
    ("streaming.trigger_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"),
    ("streaming.batch_p50_ms", "ms"),
    ("streaming.batch_p90_ms", "ms"),
    ("statestore.updates_ms", "ms"),
    ("statestore.commit_ms", "ms"),
    ("statestore.rows_updated", "count"),
    ("statestore.memory_bytes", "bytes"),
    ("session.cached_bytes", "bytes"),
    ("session.cached_rdds", "count"),
    ("session.active_streams", "count"),
    ("session.scratch_dirs", "count"),
    ("session.first_pass_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("trace.coverage_min", "share"),
    ("trace.overhead_s", "s"),
    ("trace.pass_s", "s"),
)
