"""Invariant checks for the round-15 optimization changes — contracts
the DuckDB oracle cannot see (conf wiring, the pin-sizing rule) plus
the subset lemma the one-pass ppjoin audit rests on.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_pin_rule_scales_with_trigger_volume():
    """The streaming shuffle pin is the documented rule
    pin = clamp(pow2ceil(ceil(bytes/target)), floor, cap) — it must sit
    at the measured sf0.1 floor for today's tiny per-trigger volumes and GROW
    with synthetic volume (the 100 TB footgun VERDICT r14 #5 names:
    a constant pin would serialize the stateful operators)."""
    from big_data_training_spark.streaming.replay import (
        _LIGHT_STREAM_PIN_FLOOR,
        _STREAM_PIN_CAP,
        _STREAM_PIN_FLOOR,
        _TARGET_TRIGGER_BYTES_PER_TASK,
        pin_for_trigger_bytes,
    )

    # unknown / tiny volume -> floor (today's measured optima)
    assert pin_for_trigger_bytes(None, _STREAM_PIN_FLOOR) == "16"
    assert pin_for_trigger_bytes(0, _LIGHT_STREAM_PIN_FLOOR) == "4"
    assert pin_for_trigger_bytes(1, _LIGHT_STREAM_PIN_FLOOR) == "4"
    # every sf0.1 per-trigger volume stays at its floor (A/B-flat
    # contract of the r15 change): largest single fixture ~10.8 MB,
    # largest segment ~0.6 MB, dual-source j2 ~4.1 MB
    assert pin_for_trigger_bytes(11 << 20, _STREAM_PIN_FLOOR) == "16"
    assert pin_for_trigger_bytes(600 << 10, _LIGHT_STREAM_PIN_FLOOR) == "4"
    assert pin_for_trigger_bytes(4200 << 10, _LIGHT_STREAM_PIN_FLOOR) == "4"
    # the volume term takes over at scale and scales linearly
    t = _TARGET_TRIGGER_BYTES_PER_TASK
    assert pin_for_trigger_bytes(64 * t, _LIGHT_STREAM_PIN_FLOOR) == "64"
    assert pin_for_trigger_bytes(64 * t, _STREAM_PIN_FLOOR) == "64"
    assert pin_for_trigger_bytes(1024 * t, _STREAM_PIN_FLOOR) == "1024"
    # cap bounds pathological volumes
    assert pin_for_trigger_bytes(1 << 50, _STREAM_PIN_FLOOR) == str(
        _STREAM_PIN_CAP
    )


def test_pin_rule_wired_through_sessions(spark):
    """light_stream_session / stream_session must apply the rule, not a
    constant: a synthetic large trigger volume yields a clone pinned
    above the floor, while the parent session stays untouched."""
    from big_data_training_spark.streaming.replay import (
        _TARGET_TRIGGER_BYTES_PER_TASK,
        light_stream_session,
        stream_session,
    )

    big = 256 * _TARGET_TRIGGER_BYTES_PER_TASK
    assert (
        light_stream_session(spark, trigger_bytes=big).conf.get(
            "spark.sql.shuffle.partitions"
        )
        == "256"
    )
    assert (
        stream_session(spark, trigger_bytes=big).conf.get(
            "spark.sql.shuffle.partitions"
        )
        == "256"
    )
    assert (
        spark.conf.get("spark.sql.shuffle.partitions") != "256"
    )


def test_source_bytes_read_from_plan(spark, sf_dir):
    """The pin's trigger volume is read from the plan it sizes: the
    file bytes behind each file-stream source leaf. One source gives
    its fixture size, two give the sum (a self-join reads its topic
    once per side), and a non-file stream gives the pin floor."""
    import os

    from big_data_training_spark.streaming.queries import _j2_light
    from big_data_training_spark.streaming.replay import (
        _LIGHT_STREAM_PIN_FLOOR,
        cleanup_scratch,
        read_stream_table,
        source_bytes,
    )

    ev_bytes = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    od_bytes = os.path.getsize(os.path.join(sf_dir, "orders.parquet"))
    try:
        ev = read_stream_table(spark, sf_dir, "events")
        od = read_stream_table(spark, sf_dir, "orders")
        assert source_bytes(ev) == ev_bytes
        keys = ev.select(F.col("user_id").alias("k")).union(
            od.select(F.col("o_custkey").alias("k"))
        )
        assert source_bytes(keys) == ev_bytes + od_bytes
        assert source_bytes(ev.alias("a").join(ev.alias("b"), "event_id")) == (
            2 * ev_bytes
        )
    finally:
        cleanup_scratch()
    rate = spark.readStream.format("rate").load()
    assert source_bytes(rate) == 0
    assert _j2_light(rate).sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    ) == str(_LIGHT_STREAM_PIN_FLOOR)


def test_stream_clone_cache_bounded(spark):
    """Volume-sized pins round up to a power of two, so a long-lived
    driver replaying topics of every size holds a bounded set of
    clones: 64 distinct volumes (17..80 target units) share 3 pins —
    also when 16 threads ask at once (one clone per pin, never two)."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from big_data_training_spark import session
    from big_data_training_spark.streaming.replay import (
        _TARGET_TRIGGER_BYTES_PER_TASK,
        stream_session,
    )

    def clone_for(k):
        return stream_session(
            spark, trigger_bytes=k * _TARGET_TRIGGER_BYTES_PER_TASK
        )

    before = len(session._clones.get(spark, {}))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            clones = list(pool.map(clone_for, range(17, 81), timeout=120))
    finally:
        sys.setswitchinterval(interval)
    by_pin: dict[str, set] = {}
    for c in clones:
        pin = c.conf.get("spark.sql.shuffle.partitions")
        by_pin.setdefault(pin, set()).add(id(c))
    assert sorted(by_pin) == ["128", "32", "64"]
    assert all(len(ids) == 1 for ids in by_pin.values())
    assert len(session._clones[spark]) - before <= 3


def test_failed_replay_leaves_nothing_behind(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A query that raises mid-replay (a Python UDF failing inside the
    micro-batch) leaves no active stream on the parent or its clones,
    no bdts_* scratch dir of its own, and no new session clone."""
    import tempfile

    import pytest

    from big_data_training_spark import session
    from big_data_training_spark.streaming.replay import (
        read_stream_table,
        run_to_completion,
        stream_session,
    )

    @F.udf("bigint")
    def boom(x):
        raise ValueError("injected mid-replay failure")

    stream_session(spark)  # the floor-pinned clone the replay runs on
    clones_before = len(session._clones[spark])
    # this query's scratch dirs land in a directory of its own
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    ev = read_stream_table(spark, sf_dir, "events")
    assert list(tmp_path.glob("bdts_*"))  # the replay's topic dir
    failing = ev.select(boom("event_id").alias("x")).groupBy("x").count()
    with pytest.raises(Exception, match="injected mid-replay failure"):
        run_to_completion(failing, "complete")
    clones = list(session._clones[spark].values())
    assert len(clones) == clones_before
    assert [q for s in (spark, *clones) for q in s.streams.active] == []
    assert list(tmp_path.glob("bdts_*")) == []


def test_parallel_actions_inherit_tags(spark):
    """parallel_actions hands the session to inheritable_thread_target,
    so its threads carry the caller's job tags (and pyspark does not
    warn that tags will not be inherited)."""
    import warnings

    from big_data_training_spark.streaming.replay import parallel_actions

    seen = []
    spark.addTag("bdts_parallel_tag")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            parallel_actions(
                spark,
                lambda: seen.append(spark.getTags()),
                lambda: seen.append(spark.getTags()),
            )
    finally:
        spark.removeTag("bdts_parallel_tag")
    assert len(seen) == 2
    assert all("bdts_parallel_tag" in tags for tags in seen)


def test_extra_conf_values_keep_commas(monkeypatch):
    """SPARK_GRAFT_EXTRA_CONF separates pairs with ';' only, so a value
    holding a comma-separated list reaches the builder intact."""
    from big_data_training_spark.session import session_builder

    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONF",
        "spark.sql.sources.disabledJdbcConnProviderList=basic,oracle;"
        " spark.sql.ansi.enabled = true",
    )
    opts = session_builder()._options
    assert opts["spark.sql.sources.disabledJdbcConnProviderList"] == (
        "basic,oracle"
    )
    assert opts["spark.sql.ansi.enabled"] == "true"


def test_prefix_candidates_subset_of_index_candidates(spark, sf_dir):
    """The lemma the one-pass ppjoin audit rests on: every prefix
    candidate pair is also a full-index candidate pair (a prefix
    collision on h implies df(h) >= 2, so the df>=2 self-join pairs the
    same docs). If this ever broke, n_prefix_candidates would silently
    undercount in the joined aggregate."""
    from big_data_training_spark.extensions import dedup as _dedup
    from big_data_training_spark.extensions.ppjoin import (
        _index_candidates,
        _prefix_candidates,
    )

    inv1 = _dedup._capped_inverted_index(
        spark, sf_dir, sample_pct=_dedup.EXACT_AUDIT_SAMPLE_PCT
    )
    cand = _prefix_candidates(inv1)
    idx = _index_candidates(inv1)
    assert cand.join(idx, ["doc_i", "doc_j"], "left_anti").count() == 0
    assert cand.count() > 0  # vacuous subset would certify nothing
