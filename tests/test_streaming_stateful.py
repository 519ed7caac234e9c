"""Stateful streaming smoke tests: join-with-timeout, sleep, metrics.

No batch oracle exists for temporal behavior (SURVEY.md §2.9) — these
assert the semantics directly: complete joins emit immediately, incomplete
joins emit on timeout with partial branches, sleep releases after the
delay, and the listener sees every batch.
"""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from nyuki_spark.streaming.listener import MetricsListener
from nyuki_spark.streaming.runner import run_to_table
from nyuki_spark.streaming.stateful import join_branches_with_timeout, sleep_release

# Every test here drains a real Structured Streaming query (seconds each);
# the default run skips them (see conftest) — NYUKI_RUN_SLOW=1 runs all.
pytestmark = pytest.mark.slow


def _stream_from_rows(spark, tmp_path, rows, schema):
    path = str(tmp_path / f"in-{uuid.uuid4().hex[:8]}")
    spark.createDataFrame(rows, schema=schema).write.parquet(path)
    df = spark.read.parquet(path)
    return spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(path)


def _poll_table(spark, name, min_rows, timeout_s=45):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        rows = spark.table(name).collect()
        if len(rows) >= min_rows:
            return rows
        time.sleep(0.5)
    return spark.table(name).collect()


SCHEMA = "instance_id long, branch string, payload string"


def test_join_branches_complete_path(spark, tmp_path):
    rows = [
        Row(instance_id=1, branch="a", payload="p1a"),
        Row(instance_id=1, branch="b", payload="p1b"),
        Row(instance_id=2, branch="a", payload="p2a"),  # incomplete, stays parked
    ]
    sdf = _stream_from_rows(spark, tmp_path, rows, SCHEMA)
    # Instance 2 parks in state with a 10-minute timeout, so an
    # availableNow drain cannot terminate before it fires — run_to_table
    # (which now fails loudly on drain timeout) is the wrong harness
    # here. Start the query, poll the sink for the complete instance's
    # early emission, and stop.
    name = f"join_cp_{uuid.uuid4().hex[:8]}"
    q = (
        join_branches_with_timeout(sdf, n_branches=2, timeout_ms=600_000)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        got = {r.instance_id: r for r in _poll_table(spark, name, min_rows=1)}
    finally:
        q.stop()
    assert set(got) == {1}, "only the complete instance may emit before timeout"
    assert got[1].complete is True
    assert got[1].branches == ["a", "b"]


def test_join_timeout_emits_partial(spark, tmp_path):
    rows = [Row(instance_id=7, branch="a", payload="p7a")]
    sdf = _stream_from_rows(spark, tmp_path, rows, SCHEMA)
    name = f"join_to_{uuid.uuid4().hex[:8]}"
    listener = MetricsListener()
    spark.streams.addListener(listener)
    q = (
        join_branches_with_timeout(sdf, n_branches=2, timeout_ms=1_500)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        got = _poll_table(spark, name, min_rows=1)
    finally:
        q.stop()
        spark.streams.removeListener(listener)
    assert len(got) == 1
    assert got[0].complete is False and got[0].branches == ["a"]
    # The listener saw this query start and progress (instance reports).
    assert str(q.id) in listener.started
    assert any(p.num_input_rows > 0 for p in listener.progress)
    # State-store metrics flow through (r6): the stateful join holds at
    # least the one pending instance in state on some batch, and the
    # report surfaces as a queryable table with the state columns.
    assert any(p.state_rows > 0 for p in listener.progress)
    mdf = listener.to_df(spark)
    assert {"state_rows", "state_memory_bytes",
            "state_rows_dropped_by_watermark"} <= set(mdf.columns)


def test_sleep_release_after_delay(spark, tmp_path):
    rows = [Row(event_id=11, payload="wake-me")]
    sdf = _stream_from_rows(spark, tmp_path, rows, "event_id long, payload string")
    name = f"sleep_{uuid.uuid4().hex[:8]}"
    t0 = time.time()
    q = (
        sleep_release(sdf, delay_ms=1_500)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        got = _poll_table(spark, name, min_rows=1)
    finally:
        q.stop()
    elapsed = time.time() - t0
    assert [(r.event_id, r.payload) for r in got] == [(11, "wake-me")]
    assert elapsed >= 1.0, f"released too early ({elapsed:.1f}s)"


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Watermarked stream-stream inner join (the relational alternative to
    the stateful join task): clicks join purchases per user within 1h,
    both sides' state bounded by their watermarks."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 3, 1, 9, 0, 0)
    clicks = [Row(user_id=1, click_ts=t0), Row(user_id=2, click_ts=t0 + timedelta(minutes=5))]
    buys = [
        Row(user_id=1, buy_ts=t0 + timedelta(minutes=30)),
        Row(user_id=2, buy_ts=t0 + timedelta(hours=3)),  # outside the hour
    ]
    c_sdf = _stream_from_rows(spark, tmp_path, clicks, "user_id long, click_ts timestamp")
    b_sdf = _stream_from_rows(spark, tmp_path, buys, "user_id long, buy_ts timestamp")
    joined = (
        c_sdf.withWatermark("click_ts", "2 hours")
        .join(
            b_sdf.withWatermark("buy_ts", "2 hours"),
            (c_sdf.user_id == b_sdf.user_id)
            & (F.col("buy_ts") >= F.col("click_ts"))
            & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
            "inner",
        )
        .select(c_sdf.user_id, "click_ts", "buy_ts")
    )
    out = run_to_table(joined, mode="append")
    rows = out.collect()
    assert [r.user_id for r in rows] == [1], rows


def test_funnel_match_out_of_order_batches(spark, tmp_path):
    """CEP funnel under DELIBERATE disorder: the purchase arrives in an
    earlier micro-batch than the view that precedes it in event time, a
    decoy click sits BEFORE the first view (must not match), and user 2
    never completes. The event-time-timer buffered fold must reorder via
    the min-chain; two sentinel batches close the horizon (timers are
    evaluated against the previous batch's watermark)."""
    from datetime import datetime, timedelta

    from nyuki_spark.streaming.replay import replay_stream
    from nyuki_spark.streaming.stateful import funnel_match

    t0 = datetime(2026, 3, 1, 9, 0, 0)
    schema = "user_id long, ts timestamp, event_type string"
    rows = [
        # user 1: decoy click before the view, then view/click/purchase
        Row(user_id=1, ts=t0 - timedelta(hours=1), event_type="click"),
        Row(user_id=1, ts=t0, event_type="view"),
        Row(user_id=1, ts=t0 + timedelta(minutes=10), event_type="click"),
        Row(user_id=1, ts=t0 + timedelta(minutes=20), event_type="purchase"),
        # user 2: view+click only — no emission
        Row(user_id=2, ts=t0, event_type="view"),
        Row(user_id=2, ts=t0 + timedelta(minutes=5), event_type="click"),
    ]
    df = spark.createDataFrame(rows, schema)
    flush = [
        spark.createDataFrame(
            [Row(user_id=-1, ts=t0 + timedelta(days=d), event_type="__flush__")],
            schema,
        )
        for d in (80, 81)
    ]
    scratch = str(tmp_path / f"cep-{uuid.uuid4().hex[:8]}")
    # n_chunks=3 hash-partitions the 6 rows across batches — arrival order
    # is decoupled from event time by construction.
    sdf = replay_stream(spark, df, n_chunks=3, scratch_dir=scratch, flush_df=flush)
    out = funnel_match(sdf.withWatermark("ts", "35 days"))
    res = run_to_table(out, mode="append").collect()
    got = {r.user_id: r for r in res if r.user_id >= 0}
    assert set(got) == {1}
    r = got[1]
    assert r.step1_ts == t0, "decoy click before the view must not anchor"
    assert r.step2_ts == t0 + timedelta(minutes=10)
    assert r.step3_ts == t0 + timedelta(minutes=20)


def test_funnel_match_negation_abandoned_cart(spark, tmp_path):
    """k=2 chain + negation (the abandoned-cart shape): view -> click
    with NO purchase inside the 7-day anchor window. User 1 abandons
    (match), user 2 purchases inside the window (no match), user 3's
    purchase lands AFTER the window closes (match — the negation scope
    is window-bounded, not forever)."""
    from datetime import datetime, timedelta

    from nyuki_spark.streaming.replay import replay_stream
    from nyuki_spark.streaming.stateful import funnel_match

    t0 = datetime(2026, 3, 1, 9, 0, 0)
    schema = "user_id long, ts timestamp, event_type string"
    rows = [
        Row(user_id=1, ts=t0, event_type="view"),
        Row(user_id=1, ts=t0 + timedelta(minutes=10), event_type="click"),
        Row(user_id=2, ts=t0, event_type="view"),
        Row(user_id=2, ts=t0 + timedelta(minutes=5), event_type="click"),
        Row(user_id=2, ts=t0 + timedelta(hours=2), event_type="purchase"),
        Row(user_id=3, ts=t0, event_type="view"),
        Row(user_id=3, ts=t0 + timedelta(minutes=7), event_type="click"),
        Row(user_id=3, ts=t0 + timedelta(days=8), event_type="purchase"),
    ]
    df = spark.createDataFrame(rows, schema)
    flush = [
        spark.createDataFrame(
            [Row(user_id=-1, ts=t0 + timedelta(days=d), event_type="__flush__")],
            schema,
        )
        for d in (80, 81)
    ]
    scratch = str(tmp_path / f"cep-neg-{uuid.uuid4().hex[:8]}")
    sdf = replay_stream(spark, df, n_chunks=3, scratch_dir=scratch, flush_df=flush)
    out = funnel_match(
        sdf.withWatermark("ts", "35 days"),
        steps=("view", "click"),
        absent="purchase",
    )
    res = run_to_table(out, mode="append").collect()
    got = {r.user_id: r for r in res if r.user_id >= 0}
    assert set(got) == {1, 3}
    assert got[1].step1_ts == t0
    assert got[1].step2_ts == t0 + timedelta(minutes=10)
    assert got[3].step2_ts == t0 + timedelta(minutes=7)
    assert not hasattr(got[1], "step3_ts"), "k=2 output has exactly 2 step columns"


def test_funnel_match_tombstone_exactly_once_per_key(spark, tmp_path):
    """Continuous-stream exactly-once (r9 ADVICE): after a key's first
    anchored horizon closes, LATER events must not re-anchor and emit a
    second row — the batch twin anchors at the global MIN view, so the
    first epoch's outcome (here: no purchase -> no row) is final. The
    flush_df list is used as ordered micro-batches: epoch-1 events,
    sentinels that close epoch 1's horizon, then a complete epoch-2
    funnel for the same key, then final sentinels."""
    from datetime import datetime, timedelta

    from nyuki_spark.streaming.replay import replay_stream
    from nyuki_spark.streaming.stateful import funnel_match

    t0 = datetime(2026, 3, 1, 9, 0, 0)
    schema = "user_id long, ts timestamp, event_type string"
    epoch1 = spark.createDataFrame(
        [
            # user 1: incomplete funnel (no purchase) in epoch 1
            Row(user_id=1, ts=t0, event_type="view"),
            Row(user_id=1, ts=t0 + timedelta(minutes=10), event_type="click"),
            # user 2: positive control, completes in epoch 1
            Row(user_id=2, ts=t0, event_type="view"),
            Row(user_id=2, ts=t0 + timedelta(minutes=5), event_type="click"),
            Row(user_id=2, ts=t0 + timedelta(hours=1), event_type="purchase"),
        ],
        schema,
    )

    def sentinel(days: int):
        return spark.createDataFrame(
            [Row(user_id=-1, ts=t0 + timedelta(days=days), event_type="__flush__")],
            schema,
        )

    # Complete epoch-2 funnel for user 1, ABOVE the watermark that closed
    # epoch 1 (wm after the day-51 sentinel = t0+16d; these sit at t0+20d).
    epoch2 = spark.createDataFrame(
        [
            Row(user_id=1, ts=t0 + timedelta(days=20), event_type="view"),
            Row(user_id=1, ts=t0 + timedelta(days=20, minutes=9), event_type="click"),
            Row(user_id=1, ts=t0 + timedelta(days=20, hours=3), event_type="purchase"),
        ],
        schema,
    )
    scratch = str(tmp_path / f"cep-tomb-{uuid.uuid4().hex[:8]}")
    sdf = replay_stream(
        spark,
        epoch1,
        n_chunks=1,
        scratch_dir=scratch,
        flush_df=[sentinel(50), sentinel(51), epoch2, sentinel(80), sentinel(81)],
    )
    out = funnel_match(sdf.withWatermark("ts", "35 days"))
    res = run_to_table(out, mode="append").collect()
    got = sorted(r.user_id for r in res if r.user_id >= 0)
    # Without the tombstone user 1 would re-anchor at t0+20d and emit a
    # second-epoch match; the batch twin (global MIN view) never would.
    assert got == [2], f"expected exactly user 2, got {got}"


def test_funnel_match_quantifiers(spark, tmp_path):
    """Per-step lower-bound quantifiers (r10 verdict Next #3 — the
    A{m,} class): view{3,} -> click{2,}. The view step is satisfied at
    the 3rd view inside the window; clicks BEFORE that satisfaction
    time must not count toward the click step (user 2); fewer than m
    occurrences -> no match (user 3); satisfaction timestamps are the
    m-th order statistics (user 1)."""
    from datetime import datetime, timedelta

    from nyuki_spark.streaming.replay import replay_stream
    from nyuki_spark.streaming.stateful import funnel_match

    t0 = datetime(2026, 3, 1, 9, 0, 0)
    schema = "user_id long, ts timestamp, event_type string"
    mins = timedelta(minutes=1)
    rows = [
        # user 1: views at +0,+2,+4 min (3rd view = +4), clicks at
        # +1 (before satisfaction — ignored), +5, +6 (2nd after = +6).
        Row(user_id=1, ts=t0, event_type="view"),
        Row(user_id=1, ts=t0 + 2 * mins, event_type="view"),
        Row(user_id=1, ts=t0 + 4 * mins, event_type="view"),
        Row(user_id=1, ts=t0 + 1 * mins, event_type="click"),
        Row(user_id=1, ts=t0 + 5 * mins, event_type="click"),
        Row(user_id=1, ts=t0 + 6 * mins, event_type="click"),
        # user 2: 3 views, but only ONE click after the 3rd view.
        Row(user_id=2, ts=t0, event_type="view"),
        Row(user_id=2, ts=t0 + 1 * mins, event_type="view"),
        Row(user_id=2, ts=t0 + 2 * mins, event_type="view"),
        Row(user_id=2, ts=t0 + 1 * mins, event_type="click"),
        Row(user_id=2, ts=t0 + 3 * mins, event_type="click"),
        # user 3: only 2 views, plenty of clicks.
        Row(user_id=3, ts=t0, event_type="view"),
        Row(user_id=3, ts=t0 + 1 * mins, event_type="view"),
        Row(user_id=3, ts=t0 + 2 * mins, event_type="click"),
        Row(user_id=3, ts=t0 + 3 * mins, event_type="click"),
    ]
    df = spark.createDataFrame(rows, schema)
    flush = [
        spark.createDataFrame(
            [Row(user_id=-1, ts=t0 + timedelta(days=d), event_type="__flush__")],
            schema,
        )
        for d in (80, 81)
    ]
    scratch = str(tmp_path / f"cep-q-{uuid.uuid4().hex[:8]}")
    sdf = replay_stream(spark, df, n_chunks=3, scratch_dir=scratch, flush_df=flush)
    out = funnel_match(
        sdf.withWatermark("ts", "35 days"),
        steps=("view", "click"),
        min_counts=(3, 2),
    )
    res = run_to_table(out, mode="append").collect()
    got = {r.user_id: r for r in res if r.user_id >= 0}
    assert set(got) == {1}, f"expected only user 1, got {sorted(got)}"
    assert got[1].step1_ts == t0 + 4 * mins, "view step satisfied at 3rd view"
    assert got[1].step2_ts == t0 + 6 * mins, "click step: 2nd click AFTER the 3rd view"


def test_funnel_match_alternation(spark, tmp_path):
    """Per-step alternation (the (B|C) class), composed with a
    quantifier: view -> (click|purchase){2,}. The alternated step counts
    events of BOTH types together and is satisfied at the 2nd such
    event after the view (user 1: click+purchase mix). Only one
    union event -> no match (user 2). Union events BEFORE the anchor
    must not count (user 3)."""
    from datetime import datetime, timedelta

    from nyuki_spark.streaming.replay import replay_stream
    from nyuki_spark.streaming.stateful import funnel_match

    t0 = datetime(2026, 3, 1, 9, 0, 0)
    schema = "user_id long, ts timestamp, event_type string"
    mins = timedelta(minutes=1)
    rows = [
        # user 1: view @0, click @1, purchase @3 -> satisfied @3.
        Row(user_id=1, ts=t0, event_type="view"),
        Row(user_id=1, ts=t0 + 1 * mins, event_type="click"),
        Row(user_id=1, ts=t0 + 3 * mins, event_type="purchase"),
        # user 2: view then a single click — quantifier unmet.
        Row(user_id=2, ts=t0, event_type="view"),
        Row(user_id=2, ts=t0 + 1 * mins, event_type="click"),
        # user 3: one click BEFORE the view, one after — only the
        # post-anchor one counts, quantifier unmet.
        Row(user_id=3, ts=t0 - 1 * mins, event_type="click"),
        Row(user_id=3, ts=t0, event_type="view"),
        Row(user_id=3, ts=t0 + 2 * mins, event_type="purchase"),
    ]
    df = spark.createDataFrame(rows, schema)
    flush = [
        spark.createDataFrame(
            [Row(user_id=-1, ts=t0 + timedelta(days=d), event_type="__flush__")],
            schema,
        )
        for d in (80, 81)
    ]
    scratch = str(tmp_path / f"cep-alt-{uuid.uuid4().hex[:8]}")
    sdf = replay_stream(spark, df, n_chunks=3, scratch_dir=scratch, flush_df=flush)
    out = funnel_match(
        sdf.withWatermark("ts", "35 days"),
        steps=("view", ("click", "purchase")),
        min_counts=(1, 2),
    )
    res = run_to_table(out, mode="append").collect()
    got = {r.user_id: r for r in res if r.user_id >= 0}
    assert set(got) == {1}, f"expected only user 1, got {sorted(got)}"
    assert got[1].step1_ts == t0
    assert got[1].step2_ts == t0 + 3 * mins, "2nd union event satisfies the step"


def test_funnel_match_tombstone_ttl_gc(spark, tmp_path):
    """r10 ADVICE (low): with ``tombstone_ttl_us`` set, an anchored key's
    tombstone is GARBAGE-COLLECTED at horizon + TTL instead of living
    forever — and the contract weakens, by design, to exactly-once-per-
    key-within-TTL: user 1's epoch-2 funnel (20 days after the epoch-1
    anchor, far past horizon + 1-day TTL) re-anchors and DOES emit,
    where the default (no TTL) test above proves it would not. This is
    the bounded-state mode for unbounded key spaces."""
    from datetime import datetime, timedelta

    from nyuki_spark.streaming.replay import replay_stream
    from nyuki_spark.streaming.stateful import funnel_match

    t0 = datetime(2026, 3, 1, 9, 0, 0)
    schema = "user_id long, ts timestamp, event_type string"
    epoch1 = spark.createDataFrame(
        [
            # user 1: incomplete funnel in epoch 1 (tombstoned, no row)
            Row(user_id=1, ts=t0, event_type="view"),
            Row(user_id=1, ts=t0 + timedelta(minutes=10), event_type="click"),
            # user 2: positive control, completes in epoch 1
            Row(user_id=2, ts=t0, event_type="view"),
            Row(user_id=2, ts=t0 + timedelta(minutes=5), event_type="click"),
            Row(user_id=2, ts=t0 + timedelta(hours=1), event_type="purchase"),
        ],
        schema,
    )

    def sentinel(days: int):
        return spark.createDataFrame(
            [Row(user_id=-1, ts=t0 + timedelta(days=days), event_type="__flush__")],
            schema,
        )

    # Epoch-2 funnel for user 1 at t0+20d: past the epoch-1 horizon
    # (t0+7d) + 1-day TTL (deadline t0+8d) — must re-anchor and emit.
    epoch2 = spark.createDataFrame(
        [
            Row(user_id=1, ts=t0 + timedelta(days=20), event_type="view"),
            Row(user_id=1, ts=t0 + timedelta(days=20, minutes=9), event_type="click"),
            Row(user_id=1, ts=t0 + timedelta(days=20, hours=3), event_type="purchase"),
        ],
        schema,
    )
    scratch = str(tmp_path / f"cep-ttl-{uuid.uuid4().hex[:8]}")
    sdf = replay_stream(
        spark,
        epoch1,
        n_chunks=1,
        scratch_dir=scratch,
        flush_df=[sentinel(50), sentinel(51), epoch2, sentinel(80), sentinel(81)],
    )
    out = funnel_match(
        sdf.withWatermark("ts", "35 days"),
        tombstone_ttl_us=86_400_000_000,  # 1 day
    )
    res = run_to_table(out, mode="append").collect()
    got = {r.user_id: r for r in res if r.user_id >= 0}
    assert sorted(got) == [1, 2], f"expected users 1 (epoch 2) and 2, got {sorted(got)}"
    # User 1's row is the EPOCH-2 chain — the tombstone expired and the
    # key re-anchored fresh; epoch-1 events are long gone.
    assert got[1].step1_ts == t0 + timedelta(days=20)
    assert got[1].step3_ts == t0 + timedelta(days=20, hours=3)


def test_funnel_match_max_counts_veto(spark, tmp_path):
    """Upper-bound quantifiers (r11 verdict Next #2 — the A{m,n} class,
    veto semantics): view{2,3} -> click{1,}. The match is VETOED when a
    step's occurrence count inside its eligibility interval exceeds
    max_counts[i] (user 2: 4 views in-window > 3); within bounds it is
    the same order-statistic chain (user 1: 2 views, satisfied at the
    2nd); a post-satisfaction occurrence still counts toward the bound
    (pure window count, order-insensitive — user 3's 4th view lands
    after its clicks but still vetoes)."""
    from datetime import datetime, timedelta

    from nyuki_spark.streaming.replay import replay_stream
    from nyuki_spark.streaming.stateful import funnel_match

    t0 = datetime(2026, 3, 1, 9, 0, 0)
    schema = "user_id long, ts timestamp, event_type string"
    mins = timedelta(minutes=1)
    rows = [
        # user 1: 2 views (satisfied @ +2), click after -> match.
        Row(user_id=1, ts=t0, event_type="view"),
        Row(user_id=1, ts=t0 + 2 * mins, event_type="view"),
        Row(user_id=1, ts=t0 + 3 * mins, event_type="click"),
        # user 2: 4 views in the window -> vetoed despite a valid chain.
        Row(user_id=2, ts=t0, event_type="view"),
        Row(user_id=2, ts=t0 + 1 * mins, event_type="view"),
        Row(user_id=2, ts=t0 + 2 * mins, event_type="view"),
        Row(user_id=2, ts=t0 + 3 * mins, event_type="view"),
        Row(user_id=2, ts=t0 + 4 * mins, event_type="click"),
        # user 3: 3 views before the click, a 4th AFTER it -> the count
        # is over the whole window, still vetoed.
        Row(user_id=3, ts=t0, event_type="view"),
        Row(user_id=3, ts=t0 + 1 * mins, event_type="view"),
        Row(user_id=3, ts=t0 + 2 * mins, event_type="view"),
        Row(user_id=3, ts=t0 + 3 * mins, event_type="click"),
        Row(user_id=3, ts=t0 + 5 * mins, event_type="view"),
    ]
    df = spark.createDataFrame(rows, schema)
    flush = [
        spark.createDataFrame(
            [Row(user_id=-1, ts=t0 + timedelta(days=d), event_type="__flush__")],
            schema,
        )
        for d in (80, 81)
    ]
    scratch = str(tmp_path / f"cep-mx-{uuid.uuid4().hex[:8]}")
    sdf = replay_stream(spark, df, n_chunks=3, scratch_dir=scratch, flush_df=flush)
    out = funnel_match(
        sdf.withWatermark("ts", "35 days"),
        steps=("view", "click"),
        min_counts=(2, 1),
        max_counts=(3, None),
    )
    res = run_to_table(out, mode="append").collect()
    got = {r.user_id: r for r in res if r.user_id >= 0}
    assert set(got) == {1}, f"expected only user 1, got {sorted(got)}"
    assert got[1].step1_ts == t0 + 2 * mins, "view step satisfied at the 2nd view"
    assert got[1].step2_ts == t0 + 3 * mins


def test_funnel_match_max_counts_validation():
    """max_counts must be per-step and each entry None or >= the step's
    min count."""
    from nyuki_spark.streaming.stateful import funnel_match

    # Validation fires before any DataFrame work, so None is fine here.
    with pytest.raises(ValueError, match="max_counts"):
        funnel_match(None, steps=("a", "b"), max_counts=(1,))
    with pytest.raises(ValueError, match="max_counts"):
        funnel_match(None, steps=("a", "b"), min_counts=(2, 1), max_counts=(1, None))


def test_funnel_match_tombstone_type_not_reserved(spark, tmp_path):
    """r11 ADVICE: the tombstone is stored OUT OF BAND (empty-types /
    deadline-prefix state shapes no real data can produce), so an event
    stream whose type column literally contains "__tombstone__" behaves
    like any other type — here it is even usable as a chain step."""
    from datetime import datetime, timedelta

    from nyuki_spark.streaming.replay import replay_stream
    from nyuki_spark.streaming.stateful import funnel_match

    t0 = datetime(2026, 3, 1, 9, 0, 0)
    schema = "user_id long, ts timestamp, event_type string"
    rows = [
        Row(user_id=1, ts=t0, event_type="view"),
        Row(user_id=1, ts=t0 + timedelta(minutes=1), event_type="__tombstone__"),
    ]
    df = spark.createDataFrame(rows, schema)
    flush = [
        spark.createDataFrame(
            [Row(user_id=-1, ts=t0 + timedelta(days=d), event_type="__flush__")],
            schema,
        )
        for d in (80, 81)
    ]
    scratch = str(tmp_path / f"cep-res-{uuid.uuid4().hex[:8]}")
    sdf = replay_stream(spark, df, n_chunks=1, scratch_dir=scratch, flush_df=flush)
    out = funnel_match(
        sdf.withWatermark("ts", "35 days"),
        steps=("view", "__tombstone__"),
        tombstone_ttl_us=86_400_000_000,
    )
    res = run_to_table(out, mode="append").collect()
    got = {r.user_id: r for r in res if r.user_id >= 0}
    assert set(got) == {1}, f"user 1's __tombstone__-typed event must match: {sorted(got)}"
    assert got[1].step2_ts == t0 + timedelta(minutes=1)


def test_funnel_match_ttl_epoch_is_event_time(spark, tmp_path):
    """Event-time-exact TTL epochs (r12): a NEXT-epoch event
    (ts > deadline) that ARRIVES while the tombstone is still standing
    (watermark has not yet passed the deadline) must not be dropped —
    it buffers inside the tombstone and seeds epoch 2 when the deadline
    passes; an in-epoch straggler (ts <= deadline) arriving in the same
    batch IS dropped. Epoch membership depends only on timestamps."""
    from datetime import datetime, timedelta

    from nyuki_spark.streaming.replay import replay_stream
    from nyuki_spark.streaming.stateful import funnel_match

    t0 = datetime(2026, 3, 1, 9, 0, 0)
    schema = "user_id long, ts timestamp, event_type string"
    # Window 7d, TTL 1d -> deadline t0+8d.
    epoch1 = spark.createDataFrame(
        [Row(user_id=1, ts=t0, event_type="view")], schema
    )

    def sentinel(days: int):
        return spark.createDataFrame(
            [Row(user_id=-1, ts=t0 + timedelta(days=days), event_type="__flush__")],
            schema,
        )

    # Watermark choreography (delay 35d; wm for a batch is the PREVIOUS
    # batch's end-of-batch max-ts - 35d): s(42.2) raises wm to t0+7.2d;
    # during s(42.4) the horizon timer (t0+7d) fires -> tombstone with
    # deadline t0+8d; the mixed batch then runs at wm t0+7.4d — the
    # tombstone STANDS (< deadline), so the ts=t0+9d events (> deadline)
    # must buffer inside it and the ts=t0+7d12h straggler (<= deadline)
    # must drop; during s(44) (wm t0+8.5d >= deadline) the removal timer
    # fires and the buffered events seed epoch 2 (anchor t0+9d, horizon
    # t0+16d); s(52)/s(53) close that horizon and flush the match.
    mixed = spark.createDataFrame(
        [
            Row(user_id=1, ts=t0 + timedelta(days=7, hours=12), event_type="view"),
            Row(user_id=1, ts=t0 + timedelta(days=9), event_type="view"),
            Row(user_id=1, ts=t0 + timedelta(days=9, hours=1), event_type="click"),
            Row(user_id=1, ts=t0 + timedelta(days=9, hours=2), event_type="purchase"),
        ],
        schema,
    )
    scratch = str(tmp_path / f"cep-ttl2-{uuid.uuid4().hex[:8]}")
    sdf = replay_stream(
        spark,
        epoch1,
        n_chunks=1,
        scratch_dir=scratch,
        flush_df=[
            sentinel(42.2),
            sentinel(42.4),  # horizon timer fires -> tombstone stands
            mixed,  # lands on the standing tombstone (wm < deadline)
            sentinel(43.5),
            sentinel(44),  # removal timer fires -> epoch 2 seeded
            sentinel(52),
            sentinel(53),  # epoch-2 horizon closes -> emit
        ],
    )
    out = funnel_match(
        sdf.withWatermark("ts", "35 days"),
        tombstone_ttl_us=86_400_000_000,  # 1 day
    )
    res = run_to_table(out, mode="append").collect()
    got = [r for r in res if r.user_id >= 0]
    assert len(got) == 1, f"exactly the epoch-2 match expected, got {got}"
    # Epoch-2 anchor is the t0+9d view — NOT the dropped t0+7d12h
    # straggler (its ts is inside epoch 1's tombstone span).
    assert got[0].step1_ts == t0 + timedelta(days=9)
    assert got[0].step3_ts == t0 + timedelta(days=9, hours=2)


def test_funnel_match_cross_step_predicates(spark, tmp_path):
    """Cross-step value predicates (r12 — the one CEP class the r11
    docstring declared out of scope): click -> purchase with
    purchase.value > click.value, window anchored at the earliest
    click. User 1 backtracks over STEP-2 candidates (first purchase
    fails the predicate, a later one passes); user 2 backtracks over
    STEP-1 candidates (the earliest click admits NO valid purchase, a
    later cheaper click does — the search a plain min-chain cannot
    express); user 3 has no satisfying chain at all."""
    from datetime import datetime, timedelta

    from nyuki_spark.streaming.replay import replay_stream
    from nyuki_spark.streaming.stateful import funnel_match

    t0 = datetime(2026, 3, 1, 9, 0, 0)
    schema = "user_id long, ts timestamp, event_type string, value double"
    mins = timedelta(minutes=1)
    rows = [
        # user 1: click(10) @0; purchase(5) @1 fails; purchase(20) @2 OK.
        Row(user_id=1, ts=t0, event_type="click", value=10.0),
        Row(user_id=1, ts=t0 + 1 * mins, event_type="purchase", value=5.0),
        Row(user_id=1, ts=t0 + 2 * mins, event_type="purchase", value=20.0),
        # user 2: click(10) @0 has no pricier purchase; click(2) @1 does
        # (purchase(5) @2) -> chain (t1=@1, t2=@2), NOT anchored-step @0.
        Row(user_id=2, ts=t0, event_type="click", value=10.0),
        Row(user_id=2, ts=t0 + 1 * mins, event_type="click", value=2.0),
        Row(user_id=2, ts=t0 + 2 * mins, event_type="purchase", value=5.0),
        # user 3: every purchase is cheaper than every prior click.
        Row(user_id=3, ts=t0, event_type="click", value=10.0),
        Row(user_id=3, ts=t0 + 1 * mins, event_type="purchase", value=3.0),
    ]
    df = spark.createDataFrame(rows, schema)
    flush = [
        spark.createDataFrame(
            [
                Row(
                    user_id=-1,
                    ts=t0 + timedelta(days=d),
                    event_type="__flush__",
                    value=0.0,
                )
            ],
            schema,
        )
        for d in (80, 81)
    ]
    scratch = str(tmp_path / f"cep-xp-{uuid.uuid4().hex[:8]}")
    sdf = replay_stream(spark, df, n_chunks=3, scratch_dir=scratch, flush_df=flush)
    out = funnel_match(
        sdf.withWatermark("ts", "35 days"),
        steps=("click", "purchase"),
        value_col="value",
        cross_predicates=((2, ">", 1),),
    )
    res = run_to_table(out, mode="append").collect()
    got = {r.user_id: r for r in res if r.user_id >= 0}
    assert set(got) == {1, 2}, f"expected users 1 and 2, got {sorted(got)}"
    assert got[1].step1_ts == t0 and got[1].step2_ts == t0 + 2 * mins
    assert got[2].step1_ts == t0 + 1 * mins, (
        "step-1 must backtrack past the earliest click"
    )
    assert got[2].step2_ts == t0 + 2 * mins


def test_funnel_match_cross_predicate_validation():
    from nyuki_spark.streaming.stateful import funnel_match

    with pytest.raises(ValueError, match="value_col"):
        funnel_match(None, steps=("a", "b"), cross_predicates=((2, ">", 1),))
    with pytest.raises(ValueError, match="min 1"):
        funnel_match(
            None,
            steps=("a", "b"),
            value_col="value",
            min_counts=(2, 1),
            cross_predicates=((2, ">", 1),),
        )
    with pytest.raises(ValueError, match="bad cross predicate"):
        funnel_match(
            None,
            steps=("a", "b"),
            value_col="value",
            cross_predicates=((2, "~", 1),),
        )
    with pytest.raises(ValueError, match="bad cross predicate"):
        funnel_match(
            None,
            steps=("a", "b"),
            value_col="value",
            cross_predicates=((3, ">", 1),),
        )
