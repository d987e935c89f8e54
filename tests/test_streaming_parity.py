"""Batch ↔ stream parity (SURVEY §5.4).

Under bounded replay with availableNow, Flink and Spark watermark
semantics agree on final window contents (SURVEY §2.9 gap #1) — except
that Spark's append mode never emits windows the final watermark hasn't
passed. So the contract asserted here is:

  stream output ⊆ batch output (row-identical), and
  stream output ⊇ batch rows whose window closed strictly before
  (max event ts − watermark delay).
"""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pyspark.sql.functions as F
import pytest

from flink_large_window_spark.streaming.keyed import keyed_fold
from flink_large_window_spark.streaming.streams import (
    batch_stream,
    write_batches,
)
from tests.conftest import SF_SMOKE

WM = dt.timedelta(minutes=10)

#: replay-slice schema of the synthetic event rows (_event_row)
EV_SCHEMA = "user_id long, ts timestamp, event_id long, event_type string"
#: ... and of the count-window rows, which carry a value, not a class
CW_SCHEMA = "user_id long, ts timestamp, event_id long, value double"


def _rows(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


@pytest.fixture(scope="module")
def max_ts(spark):
    from flink_large_window_spark.tables import table

    return table(spark, SF_SMOKE, "events").agg(F.max("ts")).collect()[0][0]


def test_tumbling_parity(spark, max_ts):
    from flink_large_window_spark.registry import REGISTRY

    batch = REGISTRY["window_tumbling_agg"](spark, SF_SMOKE)
    stream = REGISTRY["window_tumbling_agg_stream"](spark, SF_SMOKE)
    cols = ["w_start", "event_type", "n", "sum_value"]
    b, s = _rows(batch, cols), _rows(stream, cols)
    assert s <= b, f"stream rows not in batch: {sorted(s - b)[:3]}"
    closed = {
        r
        for r in b
        if dt.datetime.fromisoformat(r[0]) + dt.timedelta(hours=1)
        < max_ts.replace(tzinfo=None) - WM
    }
    assert closed <= s, f"closed windows missing from stream: {sorted(closed - s)[:3]}"
    assert len(s) > 0


def test_session_parity(spark, max_ts):
    from flink_large_window_spark.registry import REGISTRY

    batch = REGISTRY["window_session_agg"](spark, SF_SMOKE)
    stream = REGISTRY["window_session_agg_stream"](spark, SF_SMOKE)
    cols = ["user_id", "s_start", "s_end", "n_events", "duration_us"]
    b, s = _rows(batch, cols), _rows(stream, cols)
    assert s <= b, f"stream sessions not in batch: {sorted(s - b)[:3]}"
    # sessions whose window closed before the final watermark must emit
    closed = {
        r
        for r in b
        if dt.datetime.fromisoformat(r[2]) < max_ts.replace(tzinfo=None) - WM
    }
    assert closed <= s, f"closed sessions missing: {sorted(closed - s)[:3]}"


def test_dedup_parity(spark):
    from flink_large_window_spark.registry import REGISTRY
    from flink_large_window_spark.tables import table

    stream = REGISTRY["watermark_dedup_stream"](spark, SF_SMOKE)
    # event_id is globally unique in the fixture → nothing to drop
    assert stream.count() == table(spark, SF_SMOKE, "events").count()


def test_stateful_count_parity(spark):
    from flink_large_window_spark.registry import REGISTRY

    batch = REGISTRY["stateful_count_session"](spark, SF_SMOKE)
    stream = REGISTRY["stateful_count_session_stream"](spark, SF_SMOKE)
    cols = ["event_id", "n_since_signup"]
    b = {r[0]: r[1] for r in batch.select(*cols).collect()}
    s = {r[0]: r[1] for r in stream.select(*cols).collect()}
    assert b == s


def test_interval_join_parity(spark):
    """Stream-stream inner interval join under bounded replay emits
    eagerly — final output must equal the batch interval join exactly."""
    from flink_large_window_spark.registry import REGISTRY

    cols = ["signup_id", "purchase_id", "user_id"]
    b = _rows(REGISTRY["join_interval"](spark, SF_SMOKE), cols)
    s = _rows(REGISTRY["join_interval_stream"](spark, SF_SMOKE), cols)
    assert s == b


def test_sliding_parity(spark, max_ts):
    from flink_large_window_spark.registry import REGISTRY

    cols = ["w_start", "user_id", "n"]
    b = _rows(REGISTRY["window_sliding_agg"](spark, SF_SMOKE), cols)
    s = _rows(REGISTRY["window_sliding_agg_stream"](spark, SF_SMOKE), cols)
    assert s <= b, f"stream rows not in batch: {sorted(s - b)[:3]}"
    closed = {
        r
        for r in b
        if dt.datetime.fromisoformat(r[0]) + dt.timedelta(hours=1)
        < max_ts.replace(tzinfo=None) - WM
    }
    assert closed <= s, f"closed panes missing: {sorted(closed - s)[:3]}"


def test_window_join_parity(spark):
    """Stream-stream window join (pane-equality) under bounded replay —
    final output must equal the batch (user, hour-bucket) equi join."""
    from flink_large_window_spark.registry import REGISTRY

    cols = ["click_id", "purchase_id", "user_id"]
    b = _rows(REGISTRY["join_window_tumbling"](spark, SF_SMOKE), cols)
    s = _rows(REGISTRY["join_window_tumbling_stream"](spark, SF_SMOKE), cols)
    assert s == b


def test_session_timeout_parity(spark, max_ts):
    """Timer-driven sessions: every emitted session must match a batch
    session_window session exactly, and every session closed by the
    final watermark must have been emitted (i.e. the event-time timers
    actually fired)."""
    from flink_large_window_spark.registry import REGISTRY

    def us(iso: str) -> int:
        return int(
            dt.datetime.fromisoformat(iso)
            .replace(tzinfo=dt.timezone.utc)
            .timestamp()
            * 1e6
        )

    b = {
        (r["user_id"], us(r["s_start"]), r["n_events"])
        for r in REGISTRY["window_session_agg"](spark, SF_SMOKE).collect()
    }
    s = {
        (r["user_id"], r["session_start_us"], r["n_events"])
        for r in REGISTRY["stateful_session_timeout_stream"](spark, SF_SMOKE).collect()
    }
    assert s, "no sessions emitted — timers never fired"
    assert s <= b, f"stream sessions not in batch: {sorted(s - b)[:3]}"
    wm_us = us((max_ts.replace(tzinfo=None) - WM).isoformat(sep=" "))
    closed = {r for r in b if r[1] + 90 * 60 * 1_000_000 < wm_us}
    assert closed <= s, f"closed sessions missing: {sorted(closed - s)[:3]}"


def test_stream_stream_left_outer_parity(spark, max_ts):
    """Inner matches must all emit; null-padded left rows must emit for
    every pane closed before the final watermark and never for a pane
    the watermark hasn't passed."""
    from flink_large_window_spark.registry import REGISTRY
    from flink_large_window_spark.tables import table

    ev = table(spark, SF_SMOKE, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.window("ts", "1 hour").alias("w"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.window("ts", "1 hour").alias("pw"),
    )
    batch = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user")) & (F.col("w") == F.col("pw")),
        "left_outer",
    ).select(
        "user_id",
        F.col("w.start").cast("string").alias("w_start"),
        "click_id",
        "purchase_id",
    )
    cols = ["user_id", "w_start", "click_id", "purchase_id"]
    b = _rows(batch, cols)
    s = _rows(REGISTRY["stream_stream_left_outer"](spark, SF_SMOKE), cols)

    assert s <= b, f"stream rows not in batch: {sorted(s - b)[:3]}"
    inner = {r for r in b if r[3] is not None}
    assert inner <= s, f"inner matches missing: {sorted(inner - s)[:3]}"
    wm = max_ts.replace(tzinfo=None) - WM
    closed_outer = {
        r
        for r in b
        if r[3] is None
        and dt.datetime.fromisoformat(r[1]) + dt.timedelta(hours=1) < wm
    }
    assert closed_outer <= s, f"closed null-padded rows missing: {sorted(closed_outer - s)[:3]}"
    assert len(s) > 0


def test_stream_stream_full_outer_parity(spark, max_ts):
    """Inner matches must all emit; null-padded rows on BOTH sides must
    emit for every pane closed before the final watermark and never for
    a pane the watermark hasn't passed."""
    from flink_large_window_spark.registry import REGISTRY
    from flink_large_window_spark.tables import table

    ev = table(spark, SF_SMOKE, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.window("ts", "1 hour").alias("cw"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.window("ts", "1 hour").alias("pw"),
    )
    batch = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user")) & (F.col("cw") == F.col("pw")),
        "full_outer",
    ).select(
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        F.coalesce(F.col("cw.start"), F.col("pw.start"))
        .cast("string")
        .alias("w_start"),
        "click_id",
        "purchase_id",
    )
    cols = ["user_id", "w_start", "click_id", "purchase_id"]
    b = _rows(batch, cols)
    s = _rows(REGISTRY["stream_stream_full_outer"](spark, SF_SMOKE), cols)

    assert s <= b, f"stream rows not in batch: {sorted(s - b)[:3]}"
    inner = {r for r in b if r[2] is not None and r[3] is not None}
    assert inner <= s, f"inner matches missing: {sorted(inner - s)[:3]}"
    wm = max_ts.replace(tzinfo=None) - WM
    closed_outer = {
        r
        for r in b
        if (r[2] is None or r[3] is None)
        and dt.datetime.fromisoformat(r[1]) + dt.timedelta(hours=1) < wm
    }
    missing = closed_outer - s
    assert not missing, f"closed null-padded rows missing: {sorted(missing)[:3]}"
    assert any(r[2] is None for r in s), "no purchase-side null-padded rows"
    assert any(r[3] is None for r in s), "no click-side null-padded rows"


def test_stream_late_drop_accounting(spark, max_ts):
    """The late-replay demo must actually drop: per-pane counts sit
    between on-time-only and full-batch counts, panes closed before
    the final watermark contain ONLY on-time rows, and the state
    operator reports the dropped rows."""
    from flink_large_window_spark import registry
    from flink_large_window_spark.streaming import streams
    from flink_large_window_spark.tables import table

    ev = table(spark, SF_SMOKE, "events")
    pane = F.window("ts", "1 hour").getField("start").cast("string")
    full = {
        r["w_start"]: r["n"]
        for r in ev.groupBy(pane.alias("w_start")).count().withColumnRenamed("count", "n").collect()
    }
    ontime = {
        r["w_start"]: r["n"]
        for r in ev.filter(F.col("event_id") % 10 != 0)
        .groupBy(pane.alias("w_start"))
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    got = {
        r["w_start"]: r["n"]
        for r in registry.REGISTRY["stream_late_drop"](spark, SF_SMOKE).collect()
    }
    assert got, "no panes emitted"
    # Append mode emits a pane only once the watermark closes it, and
    # the keeper batch arms the late-events filter before the late
    # slice replays — so every emitted pane holds EXACTLY its on-time
    # rows, nothing from the late file.
    wm = max_ts.replace(tzinfo=None) - WM
    for w, n in got.items():
        assert dt.datetime.fromisoformat(w) + dt.timedelta(hours=1) < wm, (
            f"open pane emitted: {w}"
        )
        assert n == ontime.get(w, 0), f"late row leaked into closed pane {w}"
        assert n <= full[w]
    dropped = sum(
        m.get("numRowsDroppedByWatermark", 0) for m in streams.LAST_STATE_METRICS
    )
    assert dropped > 0, "watermark dropped nothing — demo is vacuous"


def test_stream_watermark_skew_accounting(spark, max_ts):
    """The 2-partition skew demo: under the default min policy the
    lagging partition's frontier governs — panes past it hold
    fast-partition rows but stay open; under the max policy the fast
    frontier governs and the closed tail panes hold ONLY
    fast-partition rows (the laggard never delivered there)."""
    from flink_large_window_spark import registry
    from flink_large_window_spark.tables import table

    ev = table(spark, SF_SMOKE, "events")
    mx = max_ts.replace(tzinfo=None)
    lag_cutoff = mx - dt.timedelta(hours=48)
    pane = F.window("ts", "1 hour").getField("start").cast("string")
    fast = ev.filter(F.col("user_id") % 2 == 0)
    slow = ev.filter((F.col("user_id") % 2 == 1) & (F.col("ts") <= F.lit(lag_cutoff)))
    delivered = {
        r["w_start"]: r["n"]
        for r in fast.unionByName(slow)
        .groupBy(pane.alias("w_start"))
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    fast_only = {
        r["w_start"]: r["n"]
        for r in fast.groupBy(pane.alias("w_start"))
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }

    got_min = {
        r["w_start"]: r["n"]
        for r in registry.REGISTRY["stream_watermark_skew"](spark, SF_SMOKE).collect()
    }
    assert got_min, "no panes emitted under min policy"
    # Frontiers from the DELIVERED data (the sparse fixture's actual
    # partition maxima, not the nominal cutoffs).
    wm_min = slow.agg(F.max("ts")).collect()[0][0].replace(tzinfo=None) - WM
    wm_max = fast.agg(F.max("ts")).collect()[0][0].replace(tzinfo=None) - WM
    for w, n in got_min.items():
        assert dt.datetime.fromisoformat(w) + dt.timedelta(hours=1) <= wm_min, (
            f"pane {w} closed past the lagging partition's watermark"
        )
        assert n == delivered[w], f"pane {w} count mismatch"
    held = [
        w
        for w in fast_only
        if wm_min < dt.datetime.fromisoformat(w) + dt.timedelta(hours=1) <= wm_max
    ]
    assert held, "no fast-partition panes in the skew gap — demo is vacuous"
    assert not any(w in got_min for w in held), (
        "a skew-gap pane was emitted despite the lagging partition"
    )

    # Escape hatch: the max policy closes panes at the FAST frontier.
    spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "max")
    try:
        got_max = {
            r["w_start"]: r["n"]
            for r in registry.REGISTRY["stream_watermark_skew"](spark, SF_SMOKE).collect()
        }
    finally:
        spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "min")
    emitted_held = [w for w in held if w in got_max]
    assert emitted_held, "max policy did not unstick the skew-gap panes"
    for w in emitted_held:
        assert got_max[w] == fast_only[w], (
            f"skew-gap pane {w} should hold only fast-partition rows"
        )


def test_stream_allowed_lateness_reemit_accounting(spark, max_ts):
    """The lateness-allowance demo must actually refire: every pane
    holding a late row emits once in batch 0 (on-time count) and again
    in a later batch with the FULL count — nothing dropped under the
    45-day allowance."""
    from flink_large_window_spark import registry
    from flink_large_window_spark.tables import table

    ev = table(spark, SF_SMOKE, "events")
    pane = F.window("ts", "1 hour").getField("start").cast("string")
    full = {
        r["w_start"]: r["n"]
        for r in ev.groupBy(pane.alias("w_start")).count().withColumnRenamed("count", "n").collect()
    }
    ontime = {
        r["w_start"]: r["n"]
        for r in ev.filter(F.col("event_id") % 10 != 0)
        .groupBy(pane.alias("w_start"))
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    emissions = registry.REGISTRY["stream_allowed_lateness_reemit"](
        spark, SF_SMOKE
    ).collect()
    assert emissions, "no emissions logged"
    first = {}
    latest = {}
    for r in emissions:
        w, b, n = r["w_start"], r["batch_id"], r["n"]
        if w not in first or b < first[w][0]:
            first[w] = (b, n)
        if w not in latest or b > latest[w][0]:
            latest[w] = (b, n)
    # Final state of every pane equals the full batch aggregate: the
    # allowance outlives the replay span, so late rows are merged, not
    # dropped.
    assert {w: n for w, (_, n) in latest.items()} == full
    refired = [w for w in latest if latest[w][0] > first[w][0]]
    assert refired, "no pane ever re-fired — demo is vacuous"
    for w in refired:
        b0, n0 = first[w]
        assert n0 == ontime.get(w, 0), f"pane {w} first firing not on-time-only"
        assert latest[w][1] > n0, f"pane {w} refire did not add rows"
    # Every pane with BOTH on-time and late rows is among the refires
    # (a late-only pane fires once, in the late batch — no earlier
    # firing to update).
    assert set(refired) == {
        w for w in full if w in ontime and full[w] != ontime[w]
    }


def test_no_fixture_pane_end_on_final_watermark():
    """The streaming twins' oracles encode append-mode closure as
    strictly ``pane_end < max(ts) - 10min``, while Spark evicts when
    ``pane_end <= watermark`` with the watermark ms-truncated (ADVICE
    r5). The two agree iff no pane end lands EXACTLY on the final
    watermark — true for the shipped fixtures, but a regeneration could
    silently flip hash equality. Pin it: at every scale factor the
    final watermark must not be 15-min-aligned (hour / day / 15-min
    sliding pane ends) nor equal to any (event ts + 30min session
    gap)."""
    import duckdb

    for sf_dir in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        con = duckdb.connect()
        max_us, n_on_gap = con.execute(
            f"""
            WITH e AS (
              SELECT epoch_us(ts) AS us
              FROM read_parquet('{sf_dir}/events.parquet')
            ), wm AS (
              SELECT (MAX(us) // 1000) * 1000 - 600000000 AS wm_us FROM e
            )
            SELECT (SELECT wm_us FROM wm),
                   (SELECT COUNT(*) FROM e, wm
                     WHERE us + 1800000000 = wm_us)
            """
        ).fetchone()
        wm_us = max_us
        assert wm_us % 900_000_000 != 0, (
            f"{sf_dir}: final watermark is 15-min-aligned — a tumbling/"
            "sliding/day pane end sits exactly on it; the twins' "
            "strict-< oracles no longer match Spark's <= eviction"
        )
        assert n_on_gap == 0, (
            f"{sf_dir}: {n_on_gap} session ends (ts + 30min) equal the "
            "final watermark — session twins' oracle boundary flips"
        )


def test_checkpoint_restart_restores_straddling_pane_state(spark):
    """The savepoint-style restart proof (stream_checkpoint_restart):
    the pane containing the phase cutoff (max ts − 24h) receives rows
    in BOTH phases, so its emitted count can only be right if the
    restarted query restored the stopped query's window state from the
    shared checkpoint. Asserts (a) the fixture actually exercises the
    straddle, (b) the pane appears EXACTLY once in the sink (no
    double-emission across the restart), (c) at the full-data count."""
    from flink_large_window_spark.registry import REGISTRY
    from flink_large_window_spark.tables import table

    ev = table(spark, SF_SMOKE, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - dt.timedelta(hours=24)
    pane_start = cutoff.replace(minute=0, second=0, microsecond=0)
    pane = ev.filter(
        (F.col("ts") >= F.lit(pane_start))
        & (F.col("ts") < F.lit(pane_start + dt.timedelta(hours=1)))
    )
    n_before = pane.filter(F.col("ts") <= F.lit(cutoff)).count()
    n_after = pane.filter(F.col("ts") > F.lit(cutoff)).count()
    assert n_before > 0 and n_after > 0, (
        "fixture does not straddle the restart cutoff — the continuity "
        "proof is vacuous; pick a different cutoff"
    )

    out = REGISTRY["stream_checkpoint_restart"](spark, SF_SMOKE)
    rows = [
        r
        for r in out.collect()
        if r["w_start"] == pane_start.strftime("%Y-%m-%d %H:%M:%S")
    ]
    assert len(rows) == 1, f"straddling pane emitted {len(rows)} times"
    assert rows[0]["n"] == n_before + n_after, (
        f"straddling pane count {rows[0]['n']} != full-data "
        f"{n_before + n_after} — phase-A state was not restored"
    )


def test_no_fixture_pane_end_on_skew_watermark():
    """Same boundary hazard as the final-watermark test, for the
    stream_watermark_skew oracle (round 6 upgrade): its closure
    frontier is the LAGGING partition's max ts (odd users, ts <=
    max - 48h) - 10min, ms-truncated. If a fixture regen ever lands an
    hour-pane end exactly on that instant, Spark's <= eviction and the
    oracle's strict < disagree and the hash flips."""
    import duckdb

    for sf_dir in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        con = duckdb.connect()
        (slow_wm_us,) = con.execute(
            f"""
            WITH ev AS (
              SELECT user_id, epoch_us(ts) AS us
              FROM read_parquet('{sf_dir}/events.parquet')
            ), cut AS (SELECT MAX(us) - 172800000000 AS c FROM ev)
            SELECT (MAX(us) // 1000) * 1000 - 600000000
            FROM ev, cut WHERE user_id % 2 = 1 AND us <= c
            """
        ).fetchone()
        assert slow_wm_us % 3_600_000_000 != 0, (
            f"{sf_dir}: skew watermark is hour-aligned — a pane end "
            "sits exactly on it; the skew oracle's strict-< boundary "
            "no longer matches Spark's <= eviction"
        )
        # The oracle also assumes the global-min watermark IS the
        # odd-user (lagging) frontier. That ordering is a fixture
        # property, not a law: if a regen made every event after
        # max−48h odd-user, the EVEN branch would become the laggard
        # and the min-policy frontier the oracle encodes would flip.
        # Pin max(even ts) ≥ max(odd ts ≤ cutoff) = slow frontier.
        (fast_max_us,) = con.execute(
            f"""
            SELECT MAX(epoch_us(ts))
            FROM read_parquet('{sf_dir}/events.parquet')
            WHERE user_id % 2 = 0
            """
        ).fetchone()
        slow_frontier_us = slow_wm_us + 600_000_000  # undo the −10min
        assert fast_max_us >= slow_frontier_us, (
            f"{sf_dir}: even-user (fast) partition frontier "
            f"{fast_max_us} < odd-user lagging frontier "
            f"{slow_frontier_us}; the skew oracle's min-policy "
            "assumption no longer holds for this fixture"
        )


def test_rule_update_straddling_pane_mixes_both_rule_versions(spark):
    """The broadcast-state-update proof (stream_rule_update_enrich):
    the pane straddling the phase cutoff accumulates v1-weighted
    phase-A rows and v2-weighted phase-B rows in restored state, so
    its emitted revenue must match the mixed weighting exactly — and
    differ from BOTH pure-v1 and pure-v2 weightings (those would mean
    the rule push never happened, or retroactively rewrote state)."""
    from flink_large_window_spark.registry import REGISTRY
    from flink_large_window_spark.streaming.streams import (
        _RULES_V1,
        _RULES_V2,
    )
    from flink_large_window_spark.tables import table

    ev = table(spark, SF_SMOKE, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - dt.timedelta(hours=24)
    pane_start = cutoff.replace(minute=0, second=0, microsecond=0)
    pane = ev.filter(
        (F.col("ts") >= F.lit(pane_start))
        & (F.col("ts") < F.lit(pane_start + dt.timedelta(hours=1)))
    )

    def weighted(rows, rules_for):
        return round(
            sum(r["value"] * rules_for(r) for r in rows), 2
        )

    rows = pane.select("ts", "event_type", "value").collect()
    assert any(r["ts"] <= cutoff for r in rows) and any(
        r["ts"] > cutoff for r in rows
    ), "fixture does not straddle the rule-push cutoff"
    mixed = weighted(
        rows,
        lambda r: (_RULES_V1 if r["ts"] <= cutoff else _RULES_V2)[
            r["event_type"]
        ],
    )
    pure_v1 = weighted(rows, lambda r: _RULES_V1[r["event_type"]])
    pure_v2 = weighted(rows, lambda r: _RULES_V2[r["event_type"]])

    out = REGISTRY["stream_rule_update_enrich"](spark, SF_SMOKE)
    key = pane_start.strftime("%Y-%m-%d %H:%M:%S")
    got = round(
        sum(r["revenue"] for r in out.collect() if r["w_start"] == key), 2
    )
    assert got == mixed, f"straddling pane revenue {got} != mixed {mixed}"
    assert got != pure_v1 and got != pure_v2, (
        "straddling pane matches a pure weighting — the mid-stream "
        "rule push was not observed"
    )


def test_two_phase_streaming_keys_restore_session_confs(spark):
    """stream_checkpoint_restart and stream_rule_update_enrich pin the
    RocksDB state-store provider (and a narrower shuffle width) for
    their two-phase checkpoint runs and promise to restore BOTH confs
    afterwards (ADVICE r6: an unpinned provider made checkpoint layout
    depend on which key ran earlier in the session). run_to_memory
    (window_tumbling_agg_stream) pins the same way. Pin the
    restoration: whatever the session's conf state is before the key
    runs must be exactly the state after. The provider is set to a
    non-RocksDB store before each call, so a run that leaves RocksDB
    behind fails."""
    from flink_large_window_spark.registry import REGISTRY

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    hdfs = (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    )

    def conf_state():
        try:
            prov = spark.conf.get(prov_key)
        except Exception:
            prov = None
        return prov, spark.conf.get("spark.sql.shuffle.partitions")

    try:
        for key in (
            "stream_checkpoint_restart",
            "stream_rule_update_enrich",
            "window_tumbling_agg_stream",
        ):
            spark.conf.set(prov_key, hdfs)
            before = conf_state()
            REGISTRY[key](spark, "/root/testdata/sf0.001").collect()
            after = conf_state()
            assert after == before, (
                f"{key} leaked session conf state: {before} -> {after}"
            )
    finally:
        spark.conf.unset(prov_key)


def test_tws_registration_tracks_protobuf_presence(spark):
    """VERDICT r9 item 4: the transformWithStateInPandas key must not
    silently depend on an import-try — registration is pinned to the
    dependency BOTH directions (registered ⇔ google.protobuf
    importable), and on a protobuf-present environment the tWS runtime
    path is actually RUN here and must agree cell-for-cell with the
    applyInPandasWithState twin. A container that gains protobuf
    therefore starts exercising the path on the very next pytest run
    instead of never; a container without it gets an explicit skip
    with the reason, not a silent hole."""
    import importlib.util

    import pytest

    from flink_large_window_spark.registry import REGISTRY
    from flink_large_window_spark.streaming import streams as streams_mod

    try:
        # find_spec on a dotted name imports the PARENT package, so a
        # missing `google` namespace raises instead of returning None
        has_pb = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        has_pb = False
    assert streams_mod._HAS_PROTOBUF == has_pb, (
        "streams.py's probe disagrees with importlib about protobuf"
    )
    assert ("stateful_count_session_tws" in REGISTRY) == has_pb, (
        "tWS registration must track protobuf presence exactly: "
        f"registered={'stateful_count_session_tws' in REGISTRY}, "
        f"protobuf={has_pb}"
    )
    if not has_pb:
        pytest.skip(
            "google.protobuf absent: transformWithStateInPandas cannot "
            "run in this container; registration correctly withheld "
            "(pinned above) — on a protobuf-present box this test runs "
            "the tWS path against the applyInPandasWithState twin"
        )

    tws = {
        (r["user_id"], r["event_id"]): r["n_since_signup"]
        for r in REGISTRY["stateful_count_session_tws"](
            spark, SF_SMOKE
        ).collect()
    }
    twin = {
        (r["user_id"], r["event_id"]): r["n_since_signup"]
        for r in REGISTRY["stateful_count_session_stream"](
            spark, SF_SMOKE
        ).collect()
    }
    assert tws == twin, (
        f"tWS and applyInPandasWithState disagree on {SF_SMOKE}: "
        f"{len(tws)} vs {len(twin)} rows"
    )


def _us(iso: str) -> int:
    return int(
        dt.datetime.fromisoformat(iso)
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
        * 1e6
    )


def _cep_stream_cases():
    """(stream_key, batch_key, measure columns, Pattern) for the
    compiled streaming CEP keys — the multi-batch and parity tests
    sweep all of them, so alternation's canonical relabel AND the
    guarded value-aggregate state (round 12) are exercised through
    the REAL compiled handler, not just the bounded one-batch
    replay. Each case replays its key's own spec; the times twin
    declares its own (its final step is unbounded)."""
    from flink_large_window_spark.operators import cep
    from flink_large_window_spark.operators.cep import Pattern, Step
    from flink_large_window_spark.operators.window_functions import (
        DETECT_ONEORMORE,
    )

    return [
        (
            "pattern_match_recognize_stream",
            "pattern_match_recognize",
            ("n_views", "n_clicks"),
            cep.MATCH_RECOGNIZE,
        ),
        (
            "pattern_match_alternation_stream",
            "pattern_match_alternation",
            ("n_eng",),
            cep.MATCH_ALTERNATION,
        ),
        (
            "pattern_detect_value_guard_stream",
            "pattern_detect_value_guard",
            ("n_views", "purchase_val", "views_max_val"),
            cep.DETECT_VALUE_GUARD,
        ),
        (
            "pattern_match_optional_stream",
            "pattern_match_optional",
            ("n_views", "n_clicks"),
            cep.MATCH_OPTIONAL,
        ),
        (
            "pattern_detect_oneormore_stream",
            "pattern_detect_oneormore",
            ("n_clicks",),
            DETECT_ONEORMORE,
        ),
        (
            "pattern_detect_times_stream",
            "pattern_detect_times",
            (),
            Pattern(
                steps=(
                    Step("clicks", "click", 2, 2, exact=True),
                    Step("buy", "purchase", 1, None),
                ),
                within_hours=6,
            ),
        ),
        (
            # round 13: guard x optional through per-variant remapping
            "pattern_match_optional_guard_stream",
            "pattern_match_optional_guard",
            ("n_views", "n_clicks", "click_val", "views_min_val"),
            cep.MATCH_OPTIONAL_GUARD,
        ),
    ]


@pytest.mark.parametrize("case", range(7))
def test_pattern_stream_parity(spark, max_ts, case):
    """Streaming CEP twins: the compiled incremental automaton must
    emit EXACTLY the batch compiler's matches whose anchor the final
    watermark passed (at the millisecond the watermark carries), and
    nothing else — the strongest parity form (equality, not just the
    subset pair), because a candidate is fully determined the moment
    its anchor run opens. Case 2 (round 12) runs the GUARDED pattern,
    so the float guard sides (rounded 4dp by both keys) ride the
    compared tuples too."""
    from flink_large_window_spark.registry import REGISTRY

    stream_key, batch_key, measures, _ = _cep_stream_cases()[case]
    batch = {
        (r["user_id"], r["purchase_event"])
        + tuple(r[m] for m in measures)
        + (_us(r["pattern_start"]), _us(r["pattern_end"]))
        for r in REGISTRY[batch_key](spark, SF_SMOKE).collect()
    }
    stream = {
        (r["user_id"], r["purchase_event"])
        + tuple(r[m] for m in measures)
        + (r["pattern_start_us"], r["pattern_end_us"])
        for r in REGISTRY[stream_key](spark, SF_SMOKE).collect()
    }
    wm_ms = _us((max_ts.replace(tzinfo=None) - WM).isoformat(sep=" ")) // 1000
    expected = {r for r in batch if r[-1] // 1000 <= wm_ms}
    assert stream == expected, (
        f"extra: {sorted(stream - expected)[:3]} "
        f"missing: {sorted(expected - stream)[:3]}"
    )
    assert stream, "no matches emitted — timers never fired"


def _run_compiled_split_stream(spark, d, pat, idle_evict=False):
    """Replay part_*.parquet files in `d` one per micro-batch through
    the compiled automaton for `pat` — the same pipeline
    cep_stream.pattern_stream builds, pointed at a split directory."""
    from flink_large_window_spark.operators.cep import (
        canonicalize_alternation,
    )
    from flink_large_window_spark.streaming.cep_stream import (
        compile_stream,
    )

    guarded = any(s.guard is not None for s in pat.steps)
    schema = EV_SCHEMA
    cols = ["user_id", "ts", "event_id", "event_type"]
    if guarded:
        schema += ", value double"
        cols.append("value")
    stream = batch_stream(spark, d, schema)
    ev = stream.withWatermark("ts", "10 minutes").select(*cols)
    if any(len(s.clses()) > 1 for s in pat.steps):
        ev, pat = canonicalize_alternation(ev, pat)
    return keyed_fold(
        ev, "user_id", compile_stream(pat, idle_evict=idle_evict)
    )


@pytest.mark.parametrize("n_files", [2, 3])
@pytest.mark.parametrize("case", range(7))
def test_pattern_stream_multibatch(spark, max_ts, tmp_path, n_files, case):
    """Cross-batch state continuation for the COMPILED automaton: the
    fixture replay is a single micro-batch (one file), so this test
    splits events into N files by event time and replays them as N
    batches (one file per micro-batch, in event-time order).
    Runs that straddle a file boundary must continue across batches,
    earlier batches' buffered events must fold once a later batch
    advances the watermark, and the final emission set must STILL
    equal the watermark-filtered batch oracle. The 3-way split
    additionally exercises keys that go SILENT for a whole middle
    batch while holding run/buffer state — their mid-stream timeout
    must fold and re-arm without dropping the run window. Swept over
    BOTH registered patterns, so alternation + ranged quantifiers run
    the generic fold under real multi-batch replay (round 12 —
    VERDICT r11 directive 1's done-criterion)."""
    from flink_large_window_spark.registry import REGISTRY

    stream_key, batch_key, measures, pat = _cep_stream_cases()[case]
    d, cuts = _split_fixture_by_time(tmp_path, n_files)
    out = _run_compiled_split_stream(spark, d, pat)
    # Guarded case: the raw guard sides round to 4dp (same F.round the
    # registered keys apply) so the float columns compare exactly.
    guard_cols = []
    for s in pat.steps:
        if s.guard is not None:
            guard_cols += [f"g_{s.name}", f"g_{s.name}_ref"]
    for c in guard_cols:
        out = out.withColumn(c, F.round(F.col(c), 4))
    got = {
        (r["user_id"], r["anchor_event"])
        # align with the batch key's emitted measures: zip drops
        # step counts the batch key does not output (times(2) emits
        # no n_clicks — the count is pinned at exactly 2)
        + tuple(r[f"n_{s.name}"] for s, _m in zip(pat.steps[:-1], measures))
        + tuple(r[c] for c in guard_cols)
        + (r["pattern_start_us"], r["pattern_end_us"])
        for r in out.collect()
    }
    batch = {
        (r["user_id"], r["purchase_event"])
        + tuple(r[m] for m in measures)
        + (_us(r["pattern_start"]), _us(r["pattern_end"]))
        for r in REGISTRY[batch_key](spark, SF_SMOKE).collect()
    }
    wm_ms = _us((max_ts.replace(tzinfo=None) - WM).isoformat(sep=" ")) // 1000
    expected = {r for r in batch if r[-1] // 1000 <= wm_ms}
    assert got == expected, (
        f"extra: {sorted(got - expected)[:3]} "
        f"missing: {sorted(expected - got)[:3]}"
    )
    # the split must actually exercise cross-batch emission: at least
    # one match's anchor lies before the LAST file's range (its fold
    # happened only after a later batch advanced the watermark).
    # Sparse patterns (times(2) has 1 fixture match at SF_SMOKE) may
    # legitimately have every anchor in the last file's range — the
    # meaningfulness guard only applies when there are enough matches
    # for the split to plausibly straddle them.
    cut_us = int(cuts[-2].value) // 1000  # pandas Timestamp
    assert len(expected) < 3 or any(r[-1] <= cut_us for r in got), (
        "split produced no pre-final-batch anchors"
    )


def _write_batches(tmp_path, *batches):
    """Write lists of event-row dicts as ordered replay slices
    (streams.write_batches); each slice's columns are its rows' keys,
    typed like the fixture events."""
    import pyarrow as pa

    types = {
        "user_id": pa.int64(),
        "ts": pa.timestamp("us"),
        "event_id": pa.int64(),
        "event_type": pa.string(),
        "value": pa.float64(),
    }
    return write_batches(str(tmp_path), *(
        pa.Table.from_pylist(b, schema=pa.schema([(c, types[c]) for c in b[0]]))
        for b in batches
    ))


def _split_fixture_by_time(tmp_path, n_files):
    """Write the SF_SMOKE events as `n_files` equal-count slices in
    event-time order; returns the dir and each slice's upper ts bound
    (pandas Timestamps)."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    ts = t["ts"].to_pandas()
    order = ts.sort_values().index
    lo = ts.min() - pd.Timedelta(seconds=1)
    slices, cuts = [], []
    for part in range(n_files):
        hi = ts.iloc[order[len(order) * (part + 1) // n_files - 1]]
        slices.append(t.filter(((ts > lo) & (ts <= hi)).values))
        cuts.append(hi)
        lo = hi
    return write_batches(str(tmp_path), *slices), cuts


def test_write_batches_replays_slices_in_write_order(spark, tmp_path):
    """The ordered-replay contract every multi-batch test and the
    two-phase keys stand on: slices written back to back, with no
    sleep, replay one per micro-batch in write order; a slice written
    later into the same dir arrives as the next batch of a query
    restarted on the same checkpoint."""
    import pyarrow as pa

    d = str(tmp_path / "src")
    os.makedirs(d)
    ckpt = str(tmp_path / "ckpt")
    stream = batch_stream(spark, d, "i long")
    log = []

    def drain():
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: log.append(
                    (bid, sorted(r["i"] for r in df.collect()))
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def one(i):
        return pa.table({"i": pa.array([i], pa.int64())})

    write_batches(d, one(0), one(1), one(2))
    drain()
    assert log == [(0, [0]), (1, [1]), (2, [2])], log
    write_batches(d, one(3))
    assert sorted(os.listdir(d))[-1] == "part_003.parquet"
    drain()
    assert log == [(0, [0]), (1, [1]), (2, [2]), (3, [3])], log


def _event_row(uid, minutes, eid, cls, t0=dt.datetime(2024, 3, 1, 12, 0, 0)):
    return {
        "user_id": uid,
        "ts": t0 + dt.timedelta(minutes=minutes),
        "event_id": eid,
        "event_type": cls,
    }


def test_pattern_stream_out_of_order_within_watermark(spark, tmp_path):
    """The discriminating case for the watermark-buffered fold (ADVICE
    r10 item 1, now in the COMPILED automaton): an event that arrives
    in a LATER batch than a newer event of the same key, while still
    inside the watermark. Batch 1 carries view@t0 and purchase@t2; the
    click@t1 between them arrives only in batch 2. Both batches'
    watermarks trail every key-1 event (a key-2 tail event advances
    the final watermark past t2), so nothing is dropped and the
    handler must reassemble event-time order ACROSS batches: the
    buffered fold sorts (ts, event_id) before touching the run
    structure and finds the view→click→purchase match. An
    arrival-order fold would have appended the late click AFTER the
    purchase — zero matches."""
    from flink_large_window_spark.operators.cep import Pattern, Step

    batch1 = [_event_row(1, 0, 0, "view"), _event_row(1, 2, 2, "purchase")]
    # batch 2: the held-back click@t1 (ts BETWEEN batch 1's events —
    # legal, wm after batch 1 is t2-10min < t0) plus a key-2 tail
    # event 30 minutes later that pushes the final watermark past t2
    batch2 = [_event_row(1, 1, 1, "click"), _event_row(2, 32, 3, "view")]
    d = _write_batches(tmp_path, batch1, batch2)
    pat = Pattern(
        steps=(
            Step("views", "view", 1, None),
            Step("clicks", "click", 1, 3),
            Step("purchase", "purchase", 1, None),
        ),
        within_hours=24,
    )
    out = _run_compiled_split_stream(spark, d, pat)
    got = [
        (r["user_id"], r["anchor_event"], r["n_views"], r["n_clicks"])
        for r in out.collect()
    ]
    assert got == [(1, 2, 1, 1)], got


def test_pattern_stream_exact_watermark_tie_folds_in_arrival_order(
    spark, tmp_path
):
    """PINS the documented residual ordering hazard of the
    watermark-buffered fold (ADVICE r11 item 3): the fold admits
    events AT the watermark (ts_ms <= wm_ms) while Spark's late-drop
    contract is strict (ts < wm), so an exact-millisecond tie arriving
    in a LATER batch can still fold out of event-time order.

    Construction (three batches — the tie must arrive AFTER the fold
    crossed its millisecond, and the watermark must still equal it so
    Spark's strict drop admits the event):

    - batch 1: key-1 view@t0 + purchase@T, key-2 marker@T+10min →
      post-batch-1 watermark is EXACTLY T; everything is buffered
      (in-batch watermark was 0).
    - batch 2: a key-2 marker at the SAME T+10min (watermark stays T).
      Key 1's held-events timer fires at wm=T and the fold admits
      view and purchase (ts <= T) — the purchase is now folded.
    - batch 3: the click at the same millisecond T with a SMALLER
      event_id (event-time order: click BEFORE purchase). The
      watermark still reads T, so Spark does not drop it (drop is
      strict <), the fold admits it (<=) — but the purchase already
      folded, so the click lands after it: run sequence
      view→purchase→click, zero matches, where a full-order fold
      would find view→click→purchase.

    Folding strictly (ts_ms < wm_ms) would close this at the cost of
    breaking oracle parity at the other end: an anchor at exactly the
    FINAL watermark millisecond would never fold (the final watermark
    never passes itself), while the oracle's filter admits it
    (anchor_ms <= wm_ms). The <=-fold is therefore the deliberate
    choice; this test exists so a future edit cannot widen or
    silently flip the tie behavior without noticing."""
    from flink_large_window_spark.operators.cep import Pattern, Step

    batch1 = [
        _event_row(1, 0, 0, "view"),
        _event_row(1, 2, 2, "purchase"),
        _event_row(2, 12, 3, "view"),  # wm after batch 1 == t0+2min == T
    ]
    batch2 = [
        _event_row(2, 12, 4, "view"),  # wm stays T; key-1 timer folds
    ]
    # the tie: same millisecond as the already-folded purchase,
    # smaller event_id
    batch3 = [
        _event_row(1, 2, 1, "click"),
    ]
    d = _write_batches(tmp_path, batch1, batch2, batch3)
    pat = Pattern(
        steps=(
            Step("views", "view", 1, None),
            Step("clicks", "click", 1, 3),
            Step("purchase", "purchase", 1, None),
        ),
        within_hours=24,
    )
    out = _run_compiled_split_stream(spark, d, pat)
    got = [
        (r["user_id"], r["anchor_event"]) for r in out.collect()
    ]
    # the purchase folded at the tie in batch 2's PRE-click fold order;
    # the click lands after it — no match, by documented design
    assert got == [], got


def test_state_ttl_evicts_idle_keys(spark, tmp_path):
    """State-size accounting for the idle-key TTL handler (VERDICT r11
    item 7 / ADVICE r11 item 4): a key idle past the 1h TTL has its
    state DROPPED — the eviction row records exactly what was
    discarded, an evicted key emits nothing further until new data
    arrives, and the post-eviction generation restarts its count from
    zero (the state was really removed, not carried).

    Crafted three-batch replay (t0 = 2024-03-01 12:00):

    - batch 1: user 1 at t0, t0+5m, t0+10m; user 2 at t0.
    - batch 2: user 2 at t0+90m → watermark t0+80m. User 1's timer
      (deadline t0+70m) fires in the trailing no-data batch: timer
      eviction (n=3) with NO user-1 input in the batch.
    - batch 3: user 1 at t0+180m, t0+185m (a fresh generation); user 2
      at t0+300m → final watermark t0+290m > t0+185m+60m: the second
      user-1 blob evicts with n=2 — not 5.

    User 2's gaps (90m, 210m) are both ≥ TTL, so its first two blobs
    evict lazily on access; its final blob (last=t0+300m) is still
    live at replay end and must NOT emit.
    """
    from flink_large_window_spark.streaming.streams import make_ttl_machine

    batch1 = [
        _event_row(1, 0, 0, "view"),
        _event_row(1, 5, 1, "view"),
        _event_row(1, 10, 2, "view"),
        _event_row(2, 0, 3, "view"),
    ]
    batch2 = [_event_row(2, 90, 4, "view")]
    batch3 = [
        _event_row(1, 180, 5, "view"),
        _event_row(1, 185, 6, "view"),
        _event_row(2, 300, 7, "view"),
    ]
    d = _write_batches(tmp_path, batch1, batch2, batch3)
    stream = batch_stream(spark, d, EV_SCHEMA)
    ev = stream.withWatermark("ts", "10 minutes").select(
        "user_id", "ts", "event_id"
    )
    out = keyed_fold(ev, "user_id", make_ttl_machine())
    got = {
        (r["user_id"], r["evict_at_us"], r["last_seen_us"], r["n_discarded"])
        for r in out.collect()
    }

    t0_us = int(
        dt.datetime(2024, 3, 1, 12, 0, 0)
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
        * 1e6
    )
    m = 60 * 1_000_000
    expected = {
        # user 1 gen 1: timer eviction after batch 2 — n=3
        (1, t0_us + 70 * m, t0_us + 10 * m, 3),
        # user 1 gen 2: timer eviction after batch 3 — n=2 (NOT 5)
        (1, t0_us + 245 * m, t0_us + 185 * m, 2),
        # user 2: lazy evictions on each ≥TTL access gap
        (2, t0_us + 60 * m, t0_us, 1),
        (2, t0_us + 150 * m, t0_us + 90 * m, 1),
        # user 2's final blob (last=t0+300m) is live — never emitted
    }
    assert got == expected, (
        f"extra: {sorted(got - expected)} missing: {sorted(expected - got)}"
    )


def test_afterskip_stream_enumerates_submatches_across_batches(
    spark, tmp_path
):
    """Skip-strategy streaming twin (round 12): the no_skip sub-match
    enumeration must fire emit-locally once the watermark passes the
    anchor, including when the first run and its anchor arrive in
    DIFFERENT batches. A 3-click run (batch 1) followed by a purchase
    (batch 2) under PATTERN (C{2,4} P+) noSkip yields exactly the
    (start_off, consumed) pairs (1,2) (1,3) (2,2) — the same
    enumeration compile_greedy's batch explode produces."""
    from flink_large_window_spark.operators.cep import Pattern, Step

    batch1 = [
        _event_row(1, 0, 0, "click"),
        _event_row(1, 5, 1, "click"),
        _event_row(1, 10, 2, "click"),
    ]
    # purchase + a key-2 tail that pushes the final watermark past it
    batch2 = [
        _event_row(1, 15, 3, "purchase"),
        _event_row(2, 60, 4, "view"),
    ]
    d = _write_batches(tmp_path, batch1, batch2)
    pat = Pattern(
        steps=(
            Step("clicks", "click", 2, 4),
            Step("purchase", "purchase", 1, None),
        ),
        skip="no_skip",
    )
    out = _run_compiled_split_stream(spark, d, pat)
    got = {
        (r["user_id"], r["anchor_event"], r["start_off"], r["n_clicks"])
        for r in out.collect()
    }
    assert got == {(1, 3, 1, 2), (1, 3, 1, 3), (1, 3, 2, 2)}, got


def _vrow(uid, minutes, eid, cls, value):
    r = _event_row(uid, minutes, eid, cls)
    r["value"] = value
    return r


def test_skipguard_stream_guard_gates_expansion_across_batches(
    spark, tmp_path
):
    """Guard x skip composition (round 13): the iterative condition
    must gate the anchor BEFORE the to_next sub-match expansion fans
    out, across a batch boundary. Key 1's purchase (value 10) beats
    its click run's max (5) -> the run expands to the two to_next
    sub-matches; key 3's purchase (value 2) loses to its run max (6)
    -> zero rows, including zero expanded rows."""
    from flink_large_window_spark.operators.cep import (
        Guard,
        Pattern,
        Step,
    )

    batch1 = [
        _vrow(1, 0, 0, "click", 5.0),
        _vrow(1, 5, 1, "click", 1.0),
        _vrow(1, 10, 2, "click", 2.0),
        _vrow(3, 0, 10, "click", 5.0),
        _vrow(3, 5, 11, "click", 6.0),
    ]
    batch2 = [
        _vrow(1, 15, 3, "purchase", 10.0),
        _vrow(3, 15, 13, "purchase", 2.0),
        _vrow(2, 60, 4, "view", 0.0),  # watermark tail
    ]
    d = _write_batches(tmp_path, batch1, batch2)
    pat = Pattern(
        steps=(
            Step("clicks", "click", 2, 4),
            Step(
                "purchase",
                "purchase",
                1,
                None,
                guard=Guard("first", ">", "clicks", "max"),
            ),
        ),
        skip="to_next",
    )
    out = _run_compiled_split_stream(spark, d, pat)
    got = {
        (
            r["user_id"],
            r["anchor_event"],
            r["start_off"],
            r["n_clicks"],
            r["g_purchase"],
            r["g_purchase_ref"],
        )
        for r in out.collect()
    }
    assert got == {
        (1, 3, 1, 3, 10.0, 5.0),
        (1, 3, 2, 2, 10.0, 5.0),
    }, got


def test_optional_guard_stream_variant_remap_across_batches(
    spark, tmp_path
):
    """Guard x optional composition (round 13 — the lifted
    compile_stream carve-out): per-variant guard remapping across a
    batch boundary. Key 1 (view v=1, click v=4, purchase): present
    variant, guard 4 > min(1) holds -> emits with guard measures.
    Key 3 (view v=5, click v=2, purchase): present variant FAILS the
    guard (2 > 5 is false) and the absent variant is structurally
    unavailable (the purchase's predecessor run is the click) ->
    nothing, NOT a fallback match. Key 4 (view v=7, purchase):
    absent variant matches unguarded with NULL guard measures —
    the guard sat ON the dropped optional step."""
    from flink_large_window_spark.operators.cep import (
        Guard,
        Pattern,
        Step,
    )

    batch1 = [
        _vrow(1, 0, 0, "view", 1.0),
        _vrow(1, 5, 1, "click", 4.0),
        _vrow(3, 0, 30, "view", 5.0),
        _vrow(3, 5, 31, "click", 2.0),
        _vrow(4, 0, 40, "view", 7.0),
    ]
    batch2 = [
        _vrow(1, 10, 2, "purchase", 9.0),
        _vrow(3, 10, 32, "purchase", 9.0),
        _vrow(4, 10, 42, "purchase", 9.0),
        _vrow(2, 60, 9, "view", 0.0),  # watermark tail
    ]
    d = _write_batches(tmp_path, batch1, batch2)
    pat = Pattern(
        steps=(
            Step("views", "view", 1, None),
            Step(
                "clicks",
                "click",
                0,
                1,
                guard=Guard("first", ">", "views", "min"),
            ),
            Step("purchase", "purchase", 1, None),
        ),
        within_hours=24,
    )
    out = _run_compiled_split_stream(spark, d, pat)
    got = {
        (
            r["user_id"],
            r["anchor_event"],
            r["n_views"],
            r["n_clicks"],
            r["g_clicks"],
            r["g_clicks_ref"],
        )
        for r in out.collect()
    }
    assert got == {
        (1, 2, 1, 1, 4.0, 1.0),
        (4, 42, 1, 0, None, None),
    }, got


def _run_absence_split_stream(spark, d):
    """Replay part_*.parquet files in `d` one per micro-batch through
    the absence automaton — the same pipeline
    pattern_detect_notfollowedby_stream builds (filter BEFORE the
    watermark declaration), pointed at a split directory."""
    from flink_large_window_spark.streaming.cep_stream import (
        compile_horizon_stream,
    )

    stream = batch_stream(spark, d, EV_SCHEMA)
    ev = (
        stream.filter(F.col("event_type").isin("click", "purchase"))
        .select("user_id", "ts", "event_id", "event_type")
        .withWatermark("ts", "10 minutes")
    )
    return keyed_fold(ev, "user_id", compile_horizon_stream(
        "click", "purchase", 6 * 3600 * 1_000_000
    ))


def test_absence_stream_parity(spark):
    """Streaming notFollowedBy (absence CEP): the pending-state
    automaton must emit EXACTLY the batch key's abandoned clicks whose
    6h horizon the final watermark STRICTLY passed — where the final
    watermark is driven by the max click/purchase timestamp (the
    automaton filters classes before declaring the watermark), not the
    global event max."""
    from flink_large_window_spark.registry import REGISTRY

    batch = {
        (r["user_id"], r["click_event"]): r
        for r in REGISTRY["pattern_detect_notfollowedby"](
            spark, SF_SMOKE
        ).collect()
    }
    # horizon timestamps come from the events table directly
    ev = spark.read.parquet(SF_SMOKE + "/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    wm_ms = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .agg(F.max(F.unix_micros("ts"))).collect()[0][0] // 1000
        - 600_000
    )
    horizon = {
        (r["user_id"], r["event_id"]): r["us"]
        for r in ev.filter("event_type = 'click'")
        .select("user_id", "event_id", F.unix_micros("ts").alias("us"))
        .collect()
    }
    expected = {
        k
        for k in batch
        if (horizon[k] + 21_600_000_000) // 1000 < wm_ms
    }
    got = {
        (r["user_id"], r["click_event"])
        for r in REGISTRY["pattern_detect_notfollowedby_stream"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == expected, (
        f"extra: {sorted(got - expected)[:3]} "
        f"missing: {sorted(expected - got)[:3]}"
    )
    assert got, "no abandoned clicks emitted — timers never fired"


def test_pairs_stream_multibatch_out_of_order(spark, tmp_path):
    """followedByAny pairing (round 13) across micro-batches: a
    purchase settling in a later batch must pair with EVERY retained
    click — including (uid 1, click 3) which arrives in the
    purchase's own batch with an EARLIER timestamp (legal in-watermark
    out-of-order); a click strictly AFTER the purchase (id 4) never
    pairs. One anchor, many targets (uid 5): both purchases pair with
    the same click — the every-alternative semantics followedBy
    deliberately lacks."""
    from flink_large_window_spark.streaming.cep_stream import (
        compile_pairs_stream,
    )

    batch1 = [
        _event_row(1, 0, 0, "click"),
        _event_row(1, 10, 1, "click"),
        _event_row(5, 0, 50, "click"),
        _event_row(5, 5, 51, "purchase"),
    ]
    batch2 = [
        _event_row(1, 20, 3, "click"),  # out-of-order vs wm, in order
        _event_row(1, 30, 2, "purchase"),
        _event_row(1, 40, 4, "click"),  # after the purchase: no pair
        _event_row(5, 8, 52, "purchase"),
        # watermark tail: must be a FILTERED-IN class — the watermark
        # is declared after the click/purchase filter, so a 'view'
        # tail would not advance it (the filtered-stream convention)
        _event_row(2, 90, 9, "click"),
    ]
    d = _write_batches(tmp_path, batch1, batch2)
    stream = batch_stream(spark, d, EV_SCHEMA)
    ev = (
        stream.filter(F.col("event_type").isin("click", "purchase"))
        .select("user_id", "ts", "event_id", "event_type")
        .withWatermark("ts", "10 minutes")
    )
    out = keyed_fold(ev, "user_id", compile_pairs_stream(
        "click", "purchase", 24 * 3600 * 1_000_000
    ))
    got = {
        (r["user_id"], r["click_event"], r["purchase_event"], r["gap_us"])
        for r in out.collect()
    }
    m = 60_000_000  # µs per minute
    assert got == {
        (1, 0, 2, 30 * m),
        (1, 1, 2, 20 * m),
        (1, 3, 2, 10 * m),
        (5, 50, 51, 5 * m),
        (5, 50, 52, 8 * m),
    }, got


def test_state_reader_redistributes_losslessly(spark):
    """The statestore data source (round 13): checkpointed keyed
    state, read offline, must (a) equal the batch aggregate exactly
    and (b) reshuffle losslessly to a DIFFERENT partitioning — the
    inspection/redistribution half of Flink's savepoint rescale. The
    write-back half (no state writer in Spark) is the documented
    residual."""
    from flink_large_window_spark.scratch import scratch_dir
    from flink_large_window_spark.streaming.streams import (
        STREAM_SHUFFLE_PARTITIONS as stream_width,
        _events_stream,
    )

    ev = (
        _events_stream(spark, SF_SMOKE)
        .withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .count()
    )
    ckpt = scratch_dir("flws_rescale_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(stream_width)
    )
    try:
        q = (
            ev.writeStream.format("memory")
            .queryName("flws_rescale_sink")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    st = spark.read.format("statestore").option("path", ckpt).load()
    original = {
        (r["key"]["user_id"], r["value"]["count"]) for r in st.collect()
    }
    # state came from the resolved stream-width stores
    n_parts = {r["partition_id"] for r in st.collect()}
    assert n_parts <= set(range(stream_width))
    # the batch ground truth
    batch = {
        (r["user_id"], r["n"])
        for r in spark.read.parquet(SF_SMOKE + "/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert original == batch
    # redistribute to a DIFFERENT partition count: lossless by key
    re4 = st.repartition(4, F.col("key"))
    redistributed = {
        (r["key"]["user_id"], r["value"]["count"]) for r in re4.collect()
    }
    assert redistributed == original
    spread = (
        re4.select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert 1 <= spread <= 4


def test_optional_skip_stream_multibatch(spark, tmp_path):
    """Optional x skip composition (round 13): the variant chosen at
    candidacy drives the sub-match expansion, across a batch
    boundary. uid 1 (3 views | click+purchase a batch later) takes
    the PRESENT variant and expands over the view run (to_next: offs
    1..2, greedy consumed); uid 3 (2 views, purchase) takes the
    ABSENT variant with n_clicks = 0; uid 4's single view misses the
    min_count=2 floor entirely. An optional FIRST step under a skip
    strategy is rejected by Pattern for both engines."""
    from flink_large_window_spark.operators.cep import Pattern, Step

    with pytest.raises(ValueError, match="first step cannot be"):
        Pattern(
            steps=(
                Step("clicks", "click", 0, 1),
                Step("views", "view", 2, 4),
                Step("purchase", "purchase", 1, None),
            ),
            skip="to_next",
        )

    batch1 = [
        _event_row(1, 0, 0, "view"),
        _event_row(1, 5, 1, "view"),
        _event_row(1, 10, 2, "view"),
        _event_row(3, 0, 30, "view"),
        _event_row(3, 5, 31, "view"),
        _event_row(4, 0, 40, "view"),
    ]
    batch2 = [
        _event_row(1, 15, 3, "click"),
        _event_row(1, 20, 4, "purchase"),
        _event_row(3, 10, 32, "purchase"),
        _event_row(4, 5, 42, "purchase"),
        _event_row(2, 60, 9, "click"),  # watermark tail
    ]
    d = _write_batches(tmp_path, batch1, batch2)
    pat = Pattern(
        steps=(
            Step("views", "view", 2, 4),
            Step("clicks", "click", 0, 1),
            Step("purchase", "purchase", 1, None),
        ),
        skip="to_next",
    )
    out = _run_compiled_split_stream(spark, d, pat)
    got = {
        (
            r["user_id"],
            r["anchor_event"],
            r["start_off"],
            r["n_views"],
            r["n_clicks"],
        )
        for r in out.collect()
    }
    assert got == {
        (1, 4, 1, 3, 1),
        (1, 4, 2, 2, 1),
        (3, 32, 1, 2, 0),
    }, got


def test_cep_idle_evict_matches_batch_and_shrinks_state(spark, tmp_path):
    """TTL layered into the compiled CEP automaton (round 13 — VERDICT
    r12 directive 7): idle keys evict without changing a single
    emitted match. Pattern V+ C{1,3} P+ within 1h over a four-batch
    replay (t0 = 2024-03-01 12:00):

    - uid 1 matches in-stream, then idles with a SEPARATOR run open
      (error) -> its state row is REMOVED outright (the run-count
      assertion below: exactly one fewer final state row than the
      idle_evict=False control run).
    - uid 3 idles with an open view run -> STUB.
    - uid 6 is the divergence pin: views at t0/t0+5m, idle past the
      within bound, then view+click+purchase at t0+125..135m. The
      batch oracle rejects the match (the merged view run STARTS at
      t0, so within fails); naive full eviction would restart the run
      at t0+125m and fabricate it. The stub keeps the old start ->
      no match, exactly batch.
    - uid 5 is the live-partial pin: idle SHORTER than within, then
      completes -> the match must emit (eviction never fired: its
      deadline had not passed).
    - uid 2 completes late; uids 8/9 are watermark movers.

    Both runs (idle_evict on/off) must equal the batch compiler's
    watermark-filtered matches on the same data."""
    from flink_large_window_spark.operators.cep import (
        Pattern,
        Step,
        compile_pattern,
    )
    from flink_large_window_spark.streaming import streams as S

    batch1 = [
        _event_row(1, 0, 0, "view"),
        _event_row(1, 2, 1, "click"),
        _event_row(1, 4, 2, "purchase"),
        _event_row(1, 6, 3, "error"),
        _event_row(3, 0, 30, "view"),
        _event_row(3, 2, 31, "view"),
        _event_row(6, 0, 60, "view"),
        _event_row(6, 5, 61, "view"),
    ]
    batch2 = [_event_row(9, 110, 90, "view")]  # wm -> t0+100m
    batch3 = [_event_row(5, 105, 50, "view")]  # timers fire at wm 100
    batch4 = [
        _event_row(6, 125, 62, "view"),
        _event_row(6, 130, 63, "click"),
        _event_row(6, 135, 64, "purchase"),
        _event_row(5, 125, 51, "click"),
        _event_row(5, 130, 52, "purchase"),
        _event_row(2, 136, 20, "view"),
        _event_row(2, 137, 21, "click"),
        _event_row(2, 138, 22, "purchase"),
        _event_row(8, 150, 80, "click"),  # final wm -> t0+140m
    ]
    d = _write_batches(tmp_path, batch1, batch2, batch3, batch4)
    pat = Pattern(
        steps=(
            Step("views", "view", 1, None),
            Step("clicks", "click", 1, 3),
            Step("purchase", "purchase", 1, None),
        ),
        within_hours=1,
    )
    # ground truth: the batch compiler over the same rows, filtered to
    # anchors the final watermark passed (ms-aligned fold rule)
    ev = spark.read.parquet(d)
    wm_ms = _us("2024-03-01 14:20:00") // 1000  # t0+150m - 10m
    expected = {
        (r["user_id"], r["anchor_first_id"], r["n_views"], r["n_clicks"])
        for r in compile_pattern(ev, pat).collect()
        if _us(str(r["anchor_start_ts"])) // 1000 <= wm_ms
    }
    assert expected == {(1, 2, 1, 1), (5, 52, 1, 1), (2, 22, 1, 1)}

    results = {}
    for evict in (False, True):
        out = _run_compiled_split_stream(spark, d, pat, idle_evict=evict)
        got = {
            (r["user_id"], r["anchor_event"], r["n_views"], r["n_clicks"])
            for r in out.collect()
        }
        assert got == expected, (evict, got, expected)
        results[evict] = S.LAST_STATE_METRICS[-1]["numRowsTotal"]
    # uid 1 (separator idle) was removed; the stubs/live keys remain
    assert results[False] - results[True] == 1, results


def test_cep_idle_evict_guarded_stub_keeps_value_aggregates(
    spark, tmp_path
):
    """Idle eviction under a GUARDED pattern (the needs_val state
    schema): the stub must carry the open run's value aggregates so a
    merged-run candidate evaluates its guard against the TRUE (old)
    first value. uid 1: views (v=9 at t0) idle past within, then more
    views + purchase v=5 — the guard first(p) > first(v run) compares
    5 > 9 on the MERGED run (suppressed in batch by within anyway);
    uid 2: fresh views v=1 then purchase v=5 inside within -> match
    with g_p=5, ref(first of view run)=1."""
    from flink_large_window_spark.operators.cep import (
        Guard,
        Pattern,
        Step,
    )

    batch1 = [
        _vrow(1, 0, 0, "view", 9.0),
        _vrow(1, 5, 1, "view", 2.0),
    ]
    batch2 = [_vrow(9, 110, 90, "view", 0.0)]  # wm -> t0+100m
    batch3 = [_vrow(9, 115, 91, "view", 0.0)]  # timers fire: uid1 stub
    batch4 = [
        _vrow(1, 125, 2, "view", 3.0),
        _vrow(1, 130, 3, "purchase", 5.0),
        _vrow(2, 130, 20, "view", 1.0),
        _vrow(2, 135, 21, "purchase", 5.0),
        _vrow(8, 150, 80, "click", 0.0),  # final wm -> t0+140m
    ]
    d = _write_batches(tmp_path, batch1, batch2, batch3, batch4)
    pat = Pattern(
        steps=(
            Step("views", "view", 1, None),
            Step(
                "purchase",
                "purchase",
                1,
                None,
                guard=Guard("first", ">", "views", "first"),
            ),
        ),
        within_hours=1,
    )
    out = _run_compiled_split_stream(spark, d, pat, idle_evict=True)
    got = {
        (
            r["user_id"],
            r["anchor_event"],
            r["n_views"],
            r["g_purchase"],
            r["g_purchase_ref"],
        )
        for r in out.collect()
    }
    # uid 1 suppressed: the merged view run STARTS at t0, so within
    # fails at the t0+130m anchor regardless of the guard — exactly
    # what the batch compiler computes on the same rows. uid 2 passes
    # its guard (5 > 1).
    assert got == {(2, 21, 1, 5.0, 1.0)}, got


def test_cep_idle_evict_requires_within(spark):
    from flink_large_window_spark.operators.cep import Pattern, Step
    from flink_large_window_spark.streaming.cep_stream import (
        compile_stream,
    )

    pat = Pattern(
        steps=(
            Step("clicks", "click", 1, None),
            Step("buy", "purchase", 1, None),
        ),
    )
    with pytest.raises(ValueError, match="idle_evict"):
        compile_stream(pat, idle_evict=True)


def test_countwindow_sliding_stream_multibatch(spark, tmp_path):
    """Sliding count windows (round 13) across micro-batches: the
    overlapping windows must fold in EVENT-TIME order (id 3 arrives a
    batch late, in-watermark, and still lands at position 3), NULL
    values are sum-skipped, and window 0 — complete — emits while the
    open tail (positions 8+) stays in state."""
    from flink_large_window_spark.streaming.streams import (
        compile_countwindow_sliding_stream,
    )

    vals = {0: 1.0, 1: 2.0, 2: None, 3: 4.0, 4: 5.0, 5: 6.0,
            6: 7.0, 7: 8.0}
    batch1 = [_vrow(1, m, m, "click", vals[m]) for m in (0, 1, 2, 4, 5)]
    batch2 = [_vrow(1, 3, 3, "click", vals[3])] + [
        _vrow(1, m, m, "click", vals[m]) for m in (6, 7)
    ] + [_vrow(2, 60, 9, "view", 0.0)]
    d = _write_batches(tmp_path, batch1, batch2)
    stream = batch_stream(spark, d, EV_SCHEMA + ", value double")
    ev = stream.withWatermark("ts", "10 minutes").select(
        "user_id", "ts", "event_id", "value"
    )
    out = keyed_fold(ev, "user_id", compile_countwindow_sliding_stream())
    got = {
        (r["user_id"], r["window_idx"], r["n"], r["sum_value"])
        for r in out.collect()
    }
    # w0 = positions 0..5 -> 1+2+4+5+6 (NULL skipped) = 18
    # w1 = positions 2..7 -> 4+5+6+7+8 = 30
    assert got == {(1, 0, 6, 18.0), (1, 1, 6, 30.0)}, got


def test_pairs_nobetween_stream_multibatch(spark, tmp_path):
    """Middle negation (round 13) across micro-batches: uid 1's error
    arrives in the purchase's OWN batch with a timestamp BETWEEN the
    click and the purchase (legal in-watermark out-of-order) — the
    pair must be suppressed; the error is strictly AFTER uid 1's
    earlier click's purchase? No: one purchase, two clicks — the
    error at 15min blocks the click@0/click@10 pair-mates it sits
    after... precisely: error@15 blocks (click@0 -> p@30) and
    (click@10 -> p@30); click@20 (after the error) still pairs.
    uid 5: error AFTER the purchase blocks nothing."""
    from flink_large_window_spark.streaming.cep_stream import (
        compile_pairs_stream,
    )

    batch1 = [
        _event_row(1, 0, 0, "click"),
        _event_row(1, 10, 1, "click"),
        _event_row(1, 20, 2, "click"),
        _event_row(5, 0, 50, "click"),
        _event_row(5, 5, 51, "purchase"),
    ]
    batch2 = [
        _event_row(1, 30, 3, "purchase"),
        _event_row(1, 15, 4, "error"),  # out-of-order, in-watermark
        _event_row(5, 8, 52, "error"),  # after the purchase: no block
        _event_row(2, 90, 9, "click"),  # watermark tail
    ]
    d = _write_batches(tmp_path, batch1, batch2)
    stream = batch_stream(spark, d, EV_SCHEMA)
    ev = (
        stream.filter(
            F.col("event_type").isin("click", "purchase", "error")
        )
        .select("user_id", "ts", "event_id", "event_type")
        .withWatermark("ts", "10 minutes")
    )
    out = keyed_fold(ev, "user_id", compile_pairs_stream(
        "click", "purchase", 24 * 3600 * 1_000_000, blocker_cls="error"
    ))
    got = {
        (r["user_id"], r["click_event"], r["purchase_event"])
        for r in out.collect()
    }
    assert got == {(1, 2, 3), (5, 50, 51)}, got


def test_timeout_partials_stream_multibatch(spark, tmp_path):
    """Timed-out partial matches (round 13) across micro-batches, one
    uid per discriminating case of view->click->purchase within 6h:
    (1) click a batch later, purchase never -> n_matched=2;
    (3) nothing follows -> n_matched=1;
    (4) full funnel inside the deadline -> silent;
    (5) the only click lands BEYOND the deadline -> n_matched=1;
    (6) purchase BEFORE the click cannot complete the funnel (the
        third step must follow the matched second) -> n_matched=2;
    (7) click arrives out-of-order AFTER its purchase in arrival
        order but in-watermark -> the chain still completes, silent."""
    from flink_large_window_spark.streaming.cep_stream import (
        compile_timeout_stream,
    )

    batch1 = [
        _event_row(1, 0, 0, "view"),
        _event_row(3, 0, 30, "view"),
        _event_row(4, 0, 40, "view"),
        _event_row(4, 5, 41, "click"),
        _event_row(5, 0, 50, "view"),
        _event_row(6, 0, 60, "view"),
        _event_row(6, 5, 61, "purchase"),
        _event_row(7, 0, 70, "view"),
    ]
    batch2 = [
        _event_row(1, 10, 1, "click"),
        _event_row(4, 10, 42, "purchase"),
        _event_row(5, 365, 51, "click"),  # beyond the 360-min deadline
        _event_row(6, 10, 62, "click"),
        _event_row(7, 20, 72, "purchase"),
        _event_row(7, 10, 71, "click"),  # out-of-order, in-watermark
        _event_row(2, 380, 9, "click"),  # watermark tail -> wm 370min
    ]
    d = _write_batches(tmp_path, batch1, batch2)
    stream = batch_stream(spark, d, EV_SCHEMA)
    ev = (
        stream.filter(
            F.col("event_type").isin("view", "click", "purchase")
        )
        .select("user_id", "ts", "event_id", "event_type")
        .withWatermark("ts", "10 minutes")
    )
    out = keyed_fold(ev, "user_id", compile_timeout_stream(
        "view", "click", "purchase", 6 * 3600 * 1_000_000
    ))
    got = {
        (r["user_id"], r["start_event"], r["n_matched"])
        for r in out.collect()
    }
    assert got == {
        (1, 0, 2),
        (3, 30, 1),
        (5, 50, 1),
        (6, 60, 2),
    }, got
    # every deadline is start + 6h exactly
    t0_us = _us("2024-03-01 12:00:00")
    for r in out.collect():
        assert r["deadline_us"] == t0_us + 6 * 3600 * 1_000_000


def test_absence_stream_multibatch(spark, tmp_path):
    """The discriminating cases for streaming negation, split across
    micro-batches: (uid 1) the suppressing purchase arrives a BATCH
    LATER than its click — the pending candidate must die, not emit;
    (uid 2) no purchase ever arrives and the key goes silent — the
    event-time timer must resolve and emit it; (uid 3) a purchase 1
    minute OUTSIDE the 6h horizon must not suppress; (uid 4) a
    purchase at EXACTLY click+6h is inside the inclusive RANGE frame
    — suppressed; (uid 5) a tail click whose horizon the final
    watermark never passes must stay pending and emit nothing."""
    d = _write_batches(
        tmp_path,
        [
            _event_row(1, 0, 1, "click"),
            _event_row(2, 0, 3, "click"),
            _event_row(3, 5, 4, "click"),
            _event_row(4, 10, 6, "click"),
        ],
        [
            _event_row(1, 30, 2, "purchase"),
            _event_row(4, 370, 7, "purchase"),  # == click@10 + 6h
        ],
        [
            _event_row(3, 366, 5, "purchase"),  # 1 min past horizon
            _event_row(5, 800, 9, "click"),  # wm driver; own horizon open
        ],
    )
    out = _run_absence_split_stream(spark, str(d))
    got = {(r["user_id"], r["click_event"]) for r in out.collect()}
    assert got == {(2, 3), (3, 4)}, got



def test_window_topn_stream_multibatch(spark, max_ts, tmp_path):
    """Window Top-N across micro-batches: a day window whose events
    straddle batch files must accumulate its leaderboard in state and
    emit ONE ranked top-2 when a later batch's watermark closes it
    (timer firing on a batch where the window's key is silent); the
    final never-closed day must emit nothing. Expected = the batch
    window_topn filtered to windows the final watermark closed."""
    from flink_large_window_spark.registry import REGISTRY
    from flink_large_window_spark.streaming.streams import compile_topn_stream

    d, _cuts = _split_fixture_by_time(tmp_path, 3)
    schema = spark.read.parquet(SF_SMOKE + "/events.parquet").schema
    stream = batch_stream(spark, d, schema)
    ev = (
        stream.withWatermark("ts", "10 minutes")
        .select(F.date_trunc("day", "ts").alias("d_start"), "user_id", "ts")
    )
    out = keyed_fold(ev, "d_start", compile_topn_stream())
    got = {
        (r["d_start"], r["user_id"], r["n"], r["rn"]) for r in out.collect()
    }
    day_ms = 86_400_000
    wm_ms = _us((max_ts.replace(tzinfo=None) - WM).isoformat(sep=" ")) // 1000
    expected = {
        (r["d_start"], r["user_id"], r["n"], r["rn"])
        for r in REGISTRY["window_topn"](spark, SF_SMOKE).collect()
        if _us(r["d_start"]) // 1000 + day_ms <= wm_ms
    }
    assert got == expected, (
        f"extra: {sorted(got - expected)[:3]} "
        f"missing: {sorted(expected - got)[:3]}"
    )
    # the tail day must be excluded (never closed by the watermark)
    open_days = {
        r["d_start"]
        for r in REGISTRY["window_topn"](spark, SF_SMOKE).collect()
        if _us(r["d_start"]) // 1000 + day_ms > wm_ms
    }
    assert open_days, "fixture lost its open tail day"
    assert not {g[0] for g in got} & open_days


def _run_countwin_split_stream(spark, d):
    """Replay part_*.parquet files in `d` one per micro-batch through
    the count-window automaton — the same pipeline
    window_count_tumbling_stream builds, pointed at a split dir."""
    from flink_large_window_spark.streaming.streams import (
        compile_countwindow_stream,
    )

    stream = batch_stream(spark, d, CW_SCHEMA)
    ev = stream.withWatermark("ts", "10 minutes").select(
        "user_id", "ts", "event_id", "value"
    )
    return keyed_fold(ev, "user_id", compile_countwindow_stream())


def test_countwindow_stream_multibatch_and_order(spark, tmp_path):
    """Count windows across micro-batches: (uid 1) a 5-event window
    straddling the file boundary must keep its accumulators in state
    and emit when the 5th event folds; (uid 2) an event arriving a
    BATCH LATER than newer same-key events, while inside the
    watermark, must still land in its event-time POSITION — the
    window's membership (and min/max/sum) must be identical to the
    batch order, not arrival order; (uid 3) a 3-event partial tail
    must never fire."""
    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)

    def row(uid, minutes, eid, val):
        return {
            "user_id": uid,
            "ts": t0 + dt.timedelta(minutes=minutes),
            "event_id": eid,
            "value": val,
        }

    batches = [
        # batch 1: uid1 gets 3 of 5; uid2 gets positions 0,2,3 (pos 1
        # arrives later); uid3 partial
        [
            row(1, 0, 10, 1.0), row(1, 1, 11, 2.0), row(1, 2, 12, 3.0),
            row(2, 0, 20, 1.0), row(2, 2, 22, 4.0), row(2, 3, 23, 8.0),
            row(3, 0, 30, 1.0), row(3, 1, 31, 1.0), row(3, 2, 32, 1.0),
        ],
        # batch 2 (max ts 9min -> wm still below all of batch 1+2):
        # uid2's POSITION-1 event arrives late-but-in-watermark; uid1
        # completes its window positionally
        [
            row(2, 1, 21, 2.0),  # out-of-order arrival, ts=1min
            row(1, 3, 13, 4.0), row(1, 4, 14, 5.0),
            row(2, 4, 24, 16.0),
        ],
        # batch 3: watermark driver far in the future closes everything
        [row(9, 1000, 99, 0.0)],
    ]
    out = _run_countwin_split_stream(spark, _write_batches(tmp_path, *batches))
    got = {
        (
            r["user_id"], r["window_idx"], r["n"],
            r["first_event"], r["last_event"], r["sum_value"],
        )
        for r in out.collect()
    }
    assert got == {
        (1, 0, 5, 10, 14, 15.0),
        # uid2's window is the event-TIME first five: 20,21,22,23,24
        (2, 0, 5, 20, 24, 31.0),
    }, got
    # uid3's partial window and uid9's single event never fire
    assert not any(u in (3, 9) for u, *_ in got)


def test_countwindow_stream_parity(spark, max_ts):
    """Full-fixture parity: the streaming count windows must equal the
    batch key's COMPLETE windows whose closing event the final
    watermark passed (positional pandas reference, same ms boundary
    as the oracle filter)."""
    import numpy as np

    from flink_large_window_spark.registry import REGISTRY

    ev = spark.read.parquet(SF_SMOKE + "/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    pdf = ev.select("user_id", "ts", "event_id", "value").toPandas()
    pdf = pdf.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
    pdf["pos"] = pdf.groupby("user_id").cumcount()
    pdf["window_idx"] = pdf["pos"] // 5
    pdf["us"] = pdf["ts"].astype("int64") // 1000
    wm_ms = int(pdf["us"].max()) // 1000 - 600_000
    g = pdf.groupby(["user_id", "window_idx"]).agg(
        n=("event_id", "size"),
        first_event=("event_id", "min"),
        last_event=("event_id", "max"),
        sum_value=("value", "sum"),
        last_ms=("us", lambda s: int(s.max()) // 1000),
    )
    g = g[(g["n"] == 5) & (g["last_ms"] <= wm_ms)]
    expected = {
        (int(u), int(w), int(r.n), int(r.first_event), int(r.last_event),
         round(float(r.sum_value), 4))
        for (u, w), r in g.iterrows()
    }
    got = {
        (r["user_id"], r["window_idx"], r["n"], r["first_event"],
         r["last_event"], round(r["sum_value"], 4))
        for r in REGISTRY["window_count_tumbling_stream"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == expected
    assert got


def test_session_dynamic_gap_parity(spark, max_ts):
    """Dynamic-gap sessions: the streaming twin's emissions must be a
    subset of the batch key's sessions, and every session whose end
    the final watermark passed must emit — same sandwich as the
    fixed-gap parity, but through the dynamic-gap merge rule (the
    per-event gap CASE must produce identical merges incrementally)."""
    from flink_large_window_spark.registry import REGISTRY

    batch = REGISTRY["window_session_dynamic_gap"](spark, SF_SMOKE)
    stream = REGISTRY["window_session_dynamic_gap_stream"](spark, SF_SMOKE)
    cols = ["user_id", "s_start", "s_end", "n_events"]
    b, s = _rows(batch, cols), _rows(stream, cols)
    assert s <= b, f"stream sessions not in batch: {sorted(s - b)[:3]}"
    closed = {
        r
        for r in b
        if dt.datetime.fromisoformat(r[2]) < max_ts.replace(tzinfo=None) - WM
    }
    assert closed == s, (
        f"missing: {sorted(closed - s)[:3]} extra: {sorted(s - closed)[:3]}"
    )
    assert s


def _run_asof_split_stream(spark, d):
    """Replay part_*.parquet files in `d` one per micro-batch through
    the temporal-join automaton — the same pipeline join_asof_stream
    builds, pointed at a split directory."""
    from flink_large_window_spark.streaming.streams import compile_asof_stream

    stream = batch_stream(spark, d, EV_SCHEMA)
    ev = (
        stream.filter(F.col("event_type").isin("click", "error"))
        .select("user_id", "ts", "event_id", "event_type")
        .withWatermark("ts", "10 minutes")
    )
    return keyed_fold(ev, "user_id", compile_asof_stream())


def test_asof_stream_multibatch(spark, tmp_path):
    """The discriminating cases for the streaming temporal join, split
    across micro-batches: (u1) a BETTER click (earlier ts than the
    error, later arrival, inside the watermark) arriving a batch after
    the error must win over the batch-1 click; (u2) an error with no
    prior click emits a NULL match; (u3) plain prior-click match;
    (u4) a click at the error's EXACT timestamp matches (inclusive
    <=); (u7) an error resolving after its candidate click was
    compressed into the settled best_old version must still match —
    the temporal-join state-compression path."""
    d = _write_batches(
        tmp_path,
        [
            _event_row(1, 0, 1, "click"),
            _event_row(1, 5, 2, "error"),
            _event_row(2, 3, 3, "error"),
            _event_row(3, 0, 4, "click"),
            _event_row(3, 2, 7, "error"),
            _event_row(4, 7, 8, "click"),
            _event_row(4, 7, 9, "error"),
        ],
        [
            _event_row(1, 4, 6, "click"),  # out-of-order, in-watermark
            _event_row(5, 20, 10, "click"),  # wm driver -> 10min
        ],
        [
            _event_row(7, 25, 12, "click"),
            _event_row(6, 40, 11, "click"),  # wm driver -> 30min
        ],
        [
            _event_row(7, 35, 13, "error"),  # pending; click 12 compresses
            _event_row(9, 1000, 99, "click"),  # final wm driver
        ],
    )
    out = _run_asof_split_stream(spark, str(d))
    got = {(r["error_id"], r["click_id"]) for r in out.collect()}
    assert got == {(2, 6), (3, None), (7, 4), (9, 8), (13, 12)}, got


def test_cascading_rollup_stream_two_stateful_ops(spark, max_ts):
    """The cascaded day rollup must run as TWO chained stateful
    operators in ONE streaming query (hourly pane aggregate feeding a
    day aggregate over window_time) — the structural evidence that the
    day grain re-aggregates pane rows, not raw events — and its
    emissions must equal the batch key's day grain for days the final
    watermark closed."""
    from flink_large_window_spark import streaming
    from flink_large_window_spark.registry import REGISTRY
    from flink_large_window_spark.streaming import streams as sm

    out = REGISTRY["window_cascading_rollup_stream"](spark, SF_SMOKE)
    counts = [c for c in sm.LAST_STATE_OP_COUNTS if c > 0]
    assert counts and all(c == 2 for c in counts), (
        f"expected 2 chained stateful operators per micro-batch, "
        f"got per-batch counts {sm.LAST_STATE_OP_COUNTS}"
    )
    got = {
        (r["w_start"], r["event_type"], r["n"], r["sum_value"])
        for r in out.collect()
    }
    batch = REGISTRY["window_cascading_rollup"](spark, SF_SMOKE)
    day_ms = 86_400_000
    wm_ms = _us((max_ts.replace(tzinfo=None) - WM).isoformat(sep=" ")) // 1000
    expected = {
        (r["w_start"], r["event_type"], r["n"], r["sum_value"])
        for r in batch.collect()
        if r["grain"] == "day" and _us(r["w_start"]) // 1000 + day_ms < wm_ms
    }
    assert got == expected, (
        f"extra: {sorted(got - expected)[:3]} "
        f"missing: {sorted(expected - got)[:3]}"
    )
    assert got


def test_tumbling_offset_stream_pane_alignment(spark):
    """Offset panes must start at :15 — every emitted w_start minute
    is 15, and emissions are a subset of the batch key's panes."""
    from flink_large_window_spark.registry import REGISTRY

    got = {
        (r["w_start"], r["event_type"], r["n"])
        for r in REGISTRY["window_tumbling_offset_stream"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got
    assert all(w.endswith(":15:00") for w, _, _ in got)
    batch = {
        (r["w_start"], r["event_type"], r["n"])
        for r in REGISTRY["window_tumbling_offset"](spark, SF_SMOKE).collect()
    }
    assert got <= batch


def test_followedby_stream_multibatch(spark, tmp_path):
    """Streaming followedBy (preceding-horizon counting) split across
    micro-batches: (u1) a click arriving a BATCH AFTER its purchase
    but earlier in event time, inside the watermark, must count; (u2)
    below-threshold purchases emit nothing; (u3) a click at the
    purchase's EXACT timestamp counts (inclusive frame top); (u4) a
    click at EXACTLY purchase−6h counts (inclusive frame bottom)
    while one just outside does not — the emitted count pins exact
    frame membership."""
    from flink_large_window_spark.streaming.cep_stream import (
        compile_horizon_stream,
    )

    d = _write_batches(
        tmp_path,
        [
            _event_row(1, 0, 1, "click"),
            _event_row(1, 5, 2, "purchase"),
            _event_row(2, 0, 5, "click"),
            _event_row(2, 3, 3, "purchase"),
            _event_row(3, 0, 7, "click"),
            _event_row(3, 7, 8, "click"),
            _event_row(3, 7, 9, "purchase"),
        ],
        [
            _event_row(1, 4, 6, "click"),  # out-of-order, in-watermark
            _event_row(4, 9, 12, "click"),  # just OUTSIDE u4's frame
            _event_row(4, 10, 10, "click"),  # exactly purchase-6h
            _event_row(4, 15, 13, "click"),
        ],
        [
            _event_row(4, 370, 11, "purchase"),  # frame [10, 370]
            _event_row(9, 1000, 99, "click"),  # final wm driver
        ],
    )
    stream = batch_stream(spark, d, EV_SCHEMA)
    ev = (
        stream.filter(F.col("event_type").isin("click", "purchase"))
        .select("user_id", "ts", "event_id", "event_type")
        .withWatermark("ts", "10 minutes")
    )
    out = keyed_fold(ev, "user_id", compile_horizon_stream(
        "purchase", "click", 6 * 3600 * 1_000_000, at_least=2
    ))
    got = {
        (r["user_id"], r["purchase_event"], r["clicks_6h"])
        for r in out.collect()
    }
    assert got == {(1, 2, 2), (3, 9, 2), (4, 11, 2)}, got


def test_ohlc_stream_parity(spark, max_ts):
    """Native min_by/max_by OHLC bars must equal the batch full-frame
    key for every day the final watermark closed (and only those) —
    the total (ts, event_id) order key makes the two formulations
    provably identical."""
    from flink_large_window_spark.registry import REGISTRY

    cols = ["bar_day", "event_type", "open", "high", "low", "close"]
    batch = _rows(REGISTRY["ts_ohlc_bars"](spark, SF_SMOKE), cols)
    stream = _rows(REGISTRY["ts_ohlc_bars_stream"](spark, SF_SMOKE), cols)
    day_ms = 86_400_000
    wm_ms = _us((max_ts.replace(tzinfo=None) - WM).isoformat(sep=" ")) // 1000
    closed = {r for r in batch if _us(r[0]) // 1000 + day_ms < wm_ms}
    assert stream == closed, (
        f"extra: {sorted(stream - closed)[:3]} "
        f"missing: {sorted(closed - stream)[:3]}"
    )
    assert stream


def test_ttl_out_of_order_within_watermark_does_not_fabricate_eviction(
    spark, tmp_path
):
    """The review-r12 divergence case for the TTL machine: batch 1
    delivers events at +0m and +60m (gap == TTL — an arrival-order
    fold would evict the first generation immediately); batch 2
    delivers a LEGAL late event at +55m (watermark after batch 1 is
    +50m, so Spark admits it). The globally-sorted gaps are 55m/5m —
    no mid-sequence eviction exists, and the whole sequence is ONE
    blob of 3 evicted by the final watermark. The hold-buffer fold
    must produce exactly that; the pre-review handler emitted a
    fabricated (+0m, n=1) eviction plus a wrong n=2 final blob."""
    from flink_large_window_spark.streaming.streams import make_ttl_machine

    d = _write_batches(
        tmp_path,
        [_event_row(1, 0, 0, "view"), _event_row(1, 60, 1, "view")],
        [
            _event_row(1, 55, 2, "view"),  # late-but-in-watermark
            _event_row(9, 300, 9, "view"),  # wm driver; own blob live
        ],
    )
    stream = batch_stream(spark, d, EV_SCHEMA)
    ev = stream.withWatermark("ts", "10 minutes").select(
        "user_id", "ts", "event_id"
    )
    out = keyed_fold(ev, "user_id", make_ttl_machine())
    got = {
        (r["user_id"], r["evict_at_us"], r["last_seen_us"], r["n_discarded"])
        for r in out.collect()
    }
    t0_us = int(
        dt.datetime(2024, 3, 1, 12, 0, 0)
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
        * 1e6
    )
    m = 60 * 1_000_000
    assert got == {(1, t0_us + 120 * m, t0_us + 60 * m, 3)}, got


def test_topn_stream_tiebreak_and_countwin_null_values(spark, tmp_path):
    """Two edge pins for the hand-built window machines: (a) window
    Top-N rank ties break on user_id ASC (two users with equal counts
    — rn must be deterministic); (b) count windows accumulate NULL
    values like SQL SUM (sum_value NULL iff every value in the window
    is NULL, else the non-NULL sum)."""
    from flink_large_window_spark.streaming.streams import (
        compile_topn_stream,
        compile_countwindow_stream,
    )

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)

    def row(uid, minutes, eid, val):
        return {
            "user_id": uid,
            "ts": t0 + dt.timedelta(minutes=minutes),
            "event_id": eid,
            "value": val,
        }

    rows = [
        # day 1: users 7 and 3 both have 2 events; user 9 has 1.
        # top-2 must be (3, rn=1), (7, rn=2) — user_id ASC on the tie.
        row(7, 10, 1, 1.0), row(7, 20, 2, None),
        row(3, 30, 3, None), row(3, 40, 4, None),
        row(9, 50, 5, 2.0),
        # user 5: one full 5-event count window, values (1, NULL, 2,
        # NULL, 4) -> sum 7.0; user 6: all-NULL window -> sum NULL
        # (on day 2 so they don't perturb day 1's leaderboard)
        row(5, 1500, 10, 1.0), row(5, 1501, 11, None), row(5, 1502, 12, 2.0),
        row(5, 1503, 13, None), row(5, 1504, 14, 4.0),
        row(6, 1510, 20, None), row(6, 1511, 21, None), row(6, 1512, 22, None),
        row(6, 1513, 23, None), row(6, 1514, 24, None),
    ]
    wm_driver = [row(1, 3000, 99, 0.0)]  # closes day 1 + all windows
    d = _write_batches(tmp_path, rows, wm_driver)

    stream = batch_stream(spark, d, CW_SCHEMA)
    ev = (
        stream.withWatermark("ts", "10 minutes")
        .select(F.date_trunc("day", "ts").alias("d_start"), "user_id", "ts")
    )
    topn = keyed_fold(ev, "d_start", compile_topn_stream())
    got = {
        (r["d_start"], r["user_id"], r["n"], r["rn"])
        for r in topn.collect()
        if r["d_start"].startswith("2024-03-01")
    }
    assert got == {
        ("2024-03-01 00:00:00", 3, 2, 1),
        ("2024-03-01 00:00:00", 7, 2, 2),
    }, got

    stream2 = batch_stream(spark, d, CW_SCHEMA)
    ev2 = stream2.withWatermark("ts", "10 minutes").select(
        "user_id", "ts", "event_id", "value"
    )
    out = keyed_fold(ev2, "user_id", compile_countwindow_stream())
    cw_got = {
        (r["user_id"], r["window_idx"], r["sum_value"])
        for r in out.collect()
        if r["user_id"] in (5, 6)
    }
    assert cw_got == {(5, 0, 7.0), (6, 0, None)}, cw_got


def test_asof_stream_equal_ts_click_tiebreak(spark, tmp_path):
    """Two clicks at the error's exact timestamp: the HIGHER event_id
    wins (the batch key's ORDER BY c.ts DESC, c.event_id DESC), and
    the rule survives the clicks arriving in different batches."""
    d = _write_batches(
        tmp_path,
        [
            _event_row(1, 5, 11, "click"),
            _event_row(1, 5, 30, "error"),
        ],
        [
            _event_row(1, 5, 12, "click"),  # same ts, higher id, later batch
            _event_row(9, 1000, 99, "click"),
        ],
    )
    out = _run_asof_split_stream(spark, str(d))
    got = {(r["error_id"], r["click_id"]) for r in out.collect()}
    assert got == {(30, 12)}, got


def test_ttl_held_successor_does_not_evict(spark, tmp_path):
    """Folded-successor control for the held-successor repro below:
    with the watermark driver far past the gap (+300m), both users'
    +61m successors FOLD, so both generation-1 blobs evict lazily —
    the observability rule's lazy path. (The true held case, where
    the successor stays inside the final tail and neither path is
    observable, is test_ttl_held_successor_tail_case.)"""
    from flink_large_window_spark.streaming.streams import make_ttl_machine

    d = _write_batches(
        tmp_path,
        [
            _event_row(1, 0, 0, "view"),
            _event_row(2, 0, 10, "view"),
        ],
        [
            _event_row(1, 61, 1, "view"),  # gap 61m >= TTL, stays HELD
            _event_row(2, 61, 11, "view"),  # same gap, will fold
            _event_row(2, 300, 12, "view"),  # wm driver via user 2 only
        ],
    )
    stream = batch_stream(spark, d, EV_SCHEMA)
    ev = stream.withWatermark("ts", "10 minutes").select(
        "user_id", "ts", "event_id"
    )
    out = keyed_fold(ev, "user_id", make_ttl_machine())
    got = {
        (r["user_id"], r["evict_at_us"], r["last_seen_us"], r["n_discarded"])
        for r in out.collect()
    }
    t0_us = int(
        dt.datetime(2024, 3, 1, 12, 0, 0)
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
        * 1e6
    )
    m = 60 * 1_000_000
    # final wm = +290m: both +61m successors folded -> both gen-1
    # blobs evict lazily with identical accounting rows
    assert (1, t0_us + 60 * m, t0_us, 1) in got
    assert (2, t0_us + 60 * m, t0_us, 1) in got


def test_ttl_held_successor_tail_case(spark, tmp_path):
    """The exact review repro: events at +20m (gen 1) and +81m (the
    proving successor, inside the final 10-min tail: max ts +85m →
    final wm +75m < +81m); gen-1's deadline +80m is NOT strictly
    before +75m. Neither eviction path is observable → the stream
    emits NOTHING, and the fixed oracle agrees (the pre-fix oracle
    emitted gen-1 unconditionally)."""
    import duckdb

    from flink_large_window_spark.streaming.streams import make_ttl_machine
    from flink_large_window_spark import api
    import __spark_entry__ as entry_mod

    d = _write_batches(
        tmp_path,
        [_event_row(1, 20, 0, "view")],
        [
            _event_row(1, 81, 1, "view"),  # held: ts > final wm
            _event_row(9, 85, 9, "view"),  # max-ts driver
        ],
    )
    stream = batch_stream(spark, d, EV_SCHEMA)
    ev = stream.withWatermark("ts", "10 minutes").select(
        "user_id", "ts", "event_id"
    )
    out = keyed_fold(ev, "user_id", make_ttl_machine())
    assert out.count() == 0, out.collect()
    # and the ORACLE on the same events agrees (this is the cell the
    # pre-fix oracle got wrong)
    import glob
    import pandas as pd_  # noqa: F401

    con = duckdb.connect()
    files = sorted(glob.glob(str(tmp_path) + "/part_*.parquet"))
    con.execute(
        "CREATE VIEW events AS SELECT user_id, ts, event_id FROM "
        f"read_parquet({files!r})"
    )
    sql = entry_mod.oracle_sql()["stateful_session_ttl_stream"]
    assert len(con.execute(sql).df()) == 0


# ---- round 14: run-CLOSE emission (final-step exact / non-'first'
# final guards — the last two compile_stream carve-outs, lifted) ----


def _cep_runclose_cases():
    """(stream_key, batch_key, anchor col, measures, Pattern) for the
    two run-close emission shapes. Their parity filter differs from
    the open-emission keys': a match emits only once its anchor run
    is CLOSED (next run on the key starts) before the final
    watermark."""
    from flink_large_window_spark.operators import cep

    return [
        (
            "pattern_detect_times_exact_stream",
            "pattern_detect_times_exact",
            "click_event",
            ("n_views", "n_clicks"),
            cep.DETECT_TIMES_EXACT,
        ),
        (
            "pattern_match_finalguard_stream",
            "pattern_match_finalguard",
            "purchase_event",
            ("n_views", "n_purchases", "purchases_max_val",
             "views_max_val"),
            cep.MATCH_FINALGUARD,
        ),
    ]


def _next_run_start_us(sf_dir):
    """(user_id, run_start_us) -> next run's start_us (None if the
    run is the user's last) from the fixture events — the closing
    instant the run-close oracle filter reads, computed independently
    of both engines (pandas, not SQL)."""
    import pandas as pd

    ev = pd.read_parquet(os.path.join(sf_dir, "events.parquet"),
                         columns=["user_id", "ts", "event_id",
                                  "event_type"])
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    out = {}
    for uid, g in ev.groupby("user_id"):
        runs = []
        for ts, cls in zip(g["ts"], g["event_type"]):
            if runs and runs[-1][0] == cls:
                continue
            runs.append((cls, int(ts.value) // 1_000))
        for i, (_cls, start_us) in enumerate(runs):
            nxt = runs[i + 1][1] if i + 1 < len(runs) else None
            out[(uid, start_us)] = nxt
    return out


def _runclose_expected(spark, batch_key, anchor_col, measures, wm_ms):
    """The batch key's matches whose anchor run CLOSED (next run
    started) at or before the final watermark — the run-close twin's
    exact expected emission set."""
    from flink_large_window_spark.registry import REGISTRY

    nxt = _next_run_start_us(SF_SMOKE)
    out = set()
    for r in REGISTRY[batch_key](spark, SF_SMOKE).collect():
        end_us = _us(r["pattern_end"])
        close_us = nxt[(r["user_id"], end_us)]
        if close_us is None or close_us // 1000 > wm_ms:
            continue
        out.add(
            (r["user_id"], r[anchor_col])
            + tuple(r[m] for m in measures)
            + (_us(r["pattern_start"]), end_us)
        )
    return out


@pytest.mark.parametrize("case", range(2))
def test_pattern_stream_runclose_parity(spark, max_ts, case):
    """Run-close twins emit EXACTLY the batch matches whose anchor
    run the final watermark CLOSED — equality, like the open-emission
    parity, but on the shifted boundary (the closing run's start, not
    the anchor's). A maximal anchor run the stream never saw closed
    must NOT emit even when the batch compiler matches it."""
    from flink_large_window_spark.registry import REGISTRY

    stream_key, batch_key, anchor_col, measures, _pat = (
        _cep_runclose_cases()[case]
    )
    wm_ms = _us((max_ts.replace(tzinfo=None) - WM).isoformat(sep=" ")) // 1000
    expected = _runclose_expected(spark, batch_key, anchor_col,
                                  measures, wm_ms)
    stream = {
        (r["user_id"], r[anchor_col])
        + tuple(r[m] for m in measures)
        + (r["pattern_start_us"], r["pattern_end_us"])
        for r in REGISTRY[stream_key](spark, SF_SMOKE).collect()
    }
    assert stream == expected, (
        f"extra: {sorted(stream - expected)[:3]} "
        f"missing: {sorted(expected - stream)[:3]}"
    )
    assert stream, "no matches emitted"
    # the boundary genuinely differs from the open-emission filter:
    # at least one batch match is excluded by run-close (still open
    # or closed after the final watermark)
    batch_n = REGISTRY[batch_key](spark, SF_SMOKE).count()
    assert len(expected) < batch_n, (
        "run-close filter excluded nothing — test is vacuous"
    )


@pytest.mark.parametrize("n_files", [2, 3])
@pytest.mark.parametrize("case", range(2))
def test_pattern_stream_runclose_multibatch(
    spark, max_ts, tmp_path, n_files, case
):
    """Cross-batch run-close continuation: an anchor run that OPENS in
    one micro-batch (pend=1 held in state) and CLOSES in a later one
    must emit at the closing fold with the full run's length/value
    aggregates — and the final emission set must still equal the
    closed-before-final-watermark batch filter."""
    stream_key, batch_key, anchor_col, measures, pat = (
        _cep_runclose_cases()[case]
    )
    d, _cuts = _split_fixture_by_time(tmp_path, n_files)
    out = _run_compiled_split_stream(spark, d, pat)
    guard_cols = []
    for s in pat.steps:
        if s.guard is not None:
            guard_cols += [f"g_{s.name}", f"g_{s.name}_ref"]
    for c in guard_cols:
        out = out.withColumn(c, F.round(F.col(c), 4))
    got = {
        (r["user_id"], r["anchor_event"])
        + tuple(r[f"n_{s.name}"] for s in pat.steps)
        + tuple(r[c] for c in guard_cols)
        + (r["pattern_start_us"], r["pattern_end_us"])
        for r in out.collect()
    }
    wm_ms = _us((max_ts.replace(tzinfo=None) - WM).isoformat(sep=" ")) // 1000
    expected = _runclose_expected(spark, batch_key, anchor_col,
                                  measures, wm_ms)
    assert got == expected, (
        f"extra: {sorted(got - expected)[:3]} "
        f"missing: {sorted(expected - got)[:3]}"
    )
    assert got, "no matches emitted"


def test_runclose_exact_rejects_run_grown_past_max_across_batches(
    spark, tmp_path
):
    """The semantic heart of run-close exactness: an anchor run that
    satisfies the exact bounds at OPEN but grows past max_count in a
    LATER micro-batch must NOT emit (open-boundary emission would
    have already fired it — the r12/r13 rejection argument made
    concrete), while a run the closing fold catches inside the bounds
    emits with its final length."""
    from flink_large_window_spark.operators.cep import Pattern, Step

    pat = Pattern(
        steps=(
            Step("views", "view", 1, None),
            Step("clicks", "click", 1, 2, exact=True),
        ),
        within_hours=24,
    )
    # user 1: view, click@1, click@2 | batch 2: click@3 (run grows to
    # 3 > max), purchase@4 closes it -> NO match. user 2: view,
    # click@1 | batch 2: click@2, purchase@3 closes at len 2 -> match
    # with n_clicks=2 (the cross-batch-settled length). user 3 pushes
    # the watermark far past both users' closes.
    d = _write_batches(
        tmp_path,
        [
            _event_row(1, 0, 10, "view"),
            _event_row(1, 1, 11, "click"),
            _event_row(1, 2, 12, "click"),
            _event_row(2, 0, 20, "view"),
            _event_row(2, 1, 21, "click"),
            _event_row(3, 0, 30, "signup"),
        ],
        [
            _event_row(1, 3, 13, "click"),
            _event_row(1, 4, 14, "purchase"),
            _event_row(2, 2, 22, "click"),
            _event_row(2, 3, 23, "purchase"),
            _event_row(3, 600, 31, "signup"),  # watermark push
        ],
    )
    out = _run_compiled_split_stream(spark, d, pat)
    got = {
        (r["user_id"], r["anchor_event"], r["n_views"], r["n_clicks"])
        for r in out.collect()
    }
    assert got == {(2, 21, 1, 2)}, got


def test_runclose_finalguard_settles_on_full_run_not_first_event(
    spark, tmp_path
):
    """A final-step max-guard that FAILS on the anchor run's first
    event but PASSES once a later batch extends the run must emit
    (the deferred check reads the closed run's aggregates) — the
    exact case open-boundary emission gets wrong, proving the 'defer'
    candidacy is load-bearing rather than a re-labeled open check."""
    from flink_large_window_spark.operators.cep import (
        Guard,
        Pattern,
        Step,
    )

    pat = Pattern(
        steps=(
            Step("views", "view", 1, None),
            Step(
                "purchases",
                "purchase",
                1,
                None,
                guard=Guard("max", ">", "views", "max"),
            ),
        ),
        within_hours=24,
    )
    batches = [
        [
            # user 1: view(5.0) then purchase(3.0) — guard FALSE on
            # the first anchor event
            _vrow(1, 0, 10, "view", 5.0),
            _vrow(1, 1, 11, "purchase", 3.0),
            # user 2: guard true on first event, run closes in batch 2
            _vrow(2, 0, 20, "view", 1.0),
            _vrow(2, 1, 21, "purchase", 4.0),
        ],
        [
            # user 1's run EXTENDS with 8.0 -> max(3,8) > 5 — guard
            # flips TRUE at close
            _vrow(1, 2, 12, "purchase", 8.0),
            _vrow(1, 3, 13, "error", 0.0),  # closes user 1's run
            _vrow(2, 2, 22, "error", 0.0),  # closes user 2's run
            _vrow(3, 600, 31, "signup", 0.0),  # watermark push
        ],
    ]
    d = _write_batches(tmp_path, *batches)
    out = _run_compiled_split_stream(spark, d, pat)
    got = {
        (r["user_id"], r["anchor_event"], r["n_purchases"],
         float(r["g_purchases"]), float(r["g_purchases_ref"]))
        for r in out.collect()
    }
    assert got == {(1, 11, 2, 8.0, 5.0), (2, 21, 1, 4.0, 1.0)}, got


def test_state_reader_decodes_cep_automaton_state(spark):
    """The statestore source must decode an applyInPandasWithState
    checkpoint whose value is the compiled CEP automaton's composite
    blob — nested struct with STRING/LONG arrays (the closed-run
    window), scalars (the open run) and the hold buffer — and the
    decoded state must equal an independent pandas reconstruction of
    what the fold semantics say each key holds at the final
    watermark: cur = the user's last folded maximal run, win = the
    (k=1) closed run before it, buf = exactly the events above the
    watermark. This is VERDICT r13 item 5's second half: the reader
    handles arbitrary user-defined composite state, not just built-in
    aggregate buffers."""
    import tempfile

    import pandas as pd

    from flink_large_window_spark.operators.cep import Pattern, Step
    from flink_large_window_spark.streaming.cep_stream import compile_stream
    from flink_large_window_spark.streaming.streams import _events_stream

    pat = Pattern(
        steps=(
            Step("views", "view", 1, None),
            Step("purchase", "purchase", 1, None),
        ),
        within_hours=24,
    )
    ev = (
        _events_stream(spark, SF_SMOKE)
        .withWatermark("ts", "10 minutes")
        .select("user_id", "ts", "event_id", "event_type")
    )
    ckpt = tempfile.mkdtemp(prefix="flws_test_cepstate_")
    keyed_fold(ev, "user_id", compile_stream(pat), checkpoint=ckpt)

    st = spark.read.format("statestore").option("path", ckpt).load()
    got = {}
    for r in st.collect():
        # applyInPandasWithState stores the user blob nested under
        # value.groupState, beside the operator's timeoutTimestamp
        v = r["value"]["groupState"]
        got[r["key"]["user_id"]] = (
            v["cur_cls"], v["cur_len"], v["cur_start"], v["cur_first"],
            tuple(v["win_cls"]), tuple(v["win_len"]),
            tuple(sorted(v["buf_id"])),
        )

    # independent reconstruction: fold = events with ts_ms <= final
    # watermark (split_by_watermark's admission contract), runs over
    # the folded sequence, buf = the rest
    evp = pd.read_parquet(
        os.path.join(SF_SMOKE, "events.parquet"),
        columns=["user_id", "ts", "event_id", "event_type"],
    ).sort_values(["user_id", "ts", "event_id"])
    wm_ms = int(evp["ts"].max().value) // 1_000_000 - 600_000
    want = {}
    for uid, g in evp.groupby("user_id"):
        runs, held = [], []
        for ts, eid, cls in zip(g["ts"], g["event_id"], g["event_type"]):
            us = int(ts.value) // 1_000
            if us // 1000 > wm_ms:
                held.append(int(eid))
                continue
            if runs and runs[-1][0] == cls:
                runs[-1][1] += 1
            else:
                runs.append([cls, 1, us, int(eid)])
        if not runs and not held:
            continue
        cur = runs[-1] if runs else [None, None, None, None]
        prev = runs[-2] if len(runs) >= 2 else None
        want[uid] = (
            cur[0], cur[1], cur[2], cur[3],
            (prev[0],) if prev else (),
            (prev[1],) if prev else (),
            tuple(sorted(held)),
        )
    assert got == want, (
        f"state mismatch; sample got={list(got.items())[:2]} "
        f"want={list(want.items())[:2]}"
    )
    assert any(v[4] for v in got.values()), (
        "no key carried a closed-run window — array decode unexercised"
    )
    assert any(v[6] for v in got.values()), (
        "no key carried held events — buffer decode unexercised"
    )


def test_pattern_stream_suffix_parity(spark, max_ts):
    """The per-event suffix automaton (round 14) must emit EXACTLY
    the batch suffix key's matches whose anchor the final watermark
    folded — per-event anchoring (a purchase inside a longer click
    run still matches via its last-2-clicks suffix), the semantics
    the run-fold machine's compression discards."""
    from flink_large_window_spark.registry import REGISTRY

    batch = {
        (r["user_id"], _us(r["pattern_start"]), _us(r["pattern_end"]))
        for r in REGISTRY["pattern_detect_cep"](spark, SF_SMOKE).collect()
    }
    stream = {
        (r["user_id"], r["pattern_start_us"], r["pattern_end_us"])
        for r in REGISTRY["pattern_detect_cep_stream"](
            spark, SF_SMOKE
        ).collect()
    }
    wm_ms = _us((max_ts.replace(tzinfo=None) - WM).isoformat(sep=" ")) // 1000
    expected = {r for r in batch if r[-1] // 1000 <= wm_ms}
    assert stream == expected, (
        f"extra: {sorted(stream - expected)[:3]} "
        f"missing: {sorted(expected - stream)[:3]}"
    )
    assert stream, "no suffix matches emitted"


def test_suffix_stream_window_straddles_batches(spark, tmp_path):
    """A suffix match whose predecessor events arrived in an EARLIER
    micro-batch must still fire (the last-W window persists in
    state), and a click run longer than the pattern must match via
    its suffix per-event — the two properties that distinguish this
    machine from the run-fold automaton."""
    from flink_large_window_spark.operators.cep import Pattern, Step
    from flink_large_window_spark.streaming.cep_stream import (
        compile_suffix_stream,
    )

    pat = Pattern(
        steps=(Step("clicks", "click", 2, 2), Step("buy", "purchase")),
        within_hours=6,
    )
    # user 1: click@0, click@1 | batch 2: purchase@2 (straddle);
    # user 2: click, click, click, purchase in one batch — the
    # 3-click run matches via its last-2 suffix (per-event anchor);
    # user 3: click, purchase (too short) — no match; watermark push.
    d = _write_batches(
        tmp_path,
        [
            _event_row(1, 0, 10, "click"),
            _event_row(1, 1, 11, "click"),
            _event_row(2, 0, 20, "click"),
            _event_row(2, 1, 21, "click"),
            _event_row(2, 2, 22, "click"),
            _event_row(2, 3, 23, "purchase"),
            _event_row(3, 0, 30, "click"),
            _event_row(3, 1, 31, "purchase"),
        ],
        [
            _event_row(1, 2, 12, "purchase"),
            _event_row(4, 600, 40, "signup"),  # watermark push
        ],
    )
    ev = batch_stream(spark, d, EV_SCHEMA).withWatermark("ts", "10 minutes")
    out = keyed_fold(ev, "user_id", compile_suffix_stream(pat))
    got = {(r["user_id"], r["anchor_event"]) for r in out.collect()}
    assert got == {(1, 12), (2, 23)}, got


def test_state_reader_window_boundary_clear_at_every_sf():
    """stream_state_reader_window's oracle retains windows with a
    strict end > final-watermark compare, which is only provably
    engine-equal while no hour-window end lands EXACTLY on the final
    watermark (MAX(ts) minus 10 min) — Spark's eviction tie behavior
    at equality is version-defined. This pins the precondition as an
    enforced invariant instead of silent fixture coupling (review
    r14): a regenerated fixture that lands on the boundary fails HERE
    with a message, not as a flaky parity mismatch."""
    import duckdb

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con.execute(
            f"CREATE OR REPLACE VIEW events AS SELECT * FROM "
            f"read_parquet('/root/testdata/{sf}/events.parquet')"
        )
        n = con.execute(
            """
            SELECT COUNT(*) FROM (
              SELECT DISTINCT
                epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR)
                  // 1000 AS end_ms
              FROM events
            )
            WHERE end_ms = epoch_us((SELECT MAX(ts) FROM events))
                           // 1000 - 600000
            """
        ).fetchone()[0]
        assert n == 0, (
            f"{sf}: an hour-window end sits exactly on the final "
            "watermark; stream_state_reader_window's strict-> oracle "
            "boundary is no longer provably engine-equal — re-probe "
            "Spark's eviction tie semantics before trusting the key"
        )


def test_runclose_pend_blocks_idle_evict_until_closing_fold(
    spark, tmp_path
):
    """Run-close emission x idle_evict (round 14): a close-mode
    pattern's pending anchor run (pend=1 from run OPEN, regardless of
    min_count) must block TTL eviction across an idle stretch longer
    than the within bound, because the match's window is still
    needed at the closing fold — and the match must then emit with
    the full settled run. A separator-idle key on the same stream
    must still evict (the TTL layer stays live for keys without a
    pending anchor)."""
    from flink_large_window_spark.operators.cep import Pattern, Step
    from flink_large_window_spark.streaming.cep_stream import (
        compile_stream,
    )
    import flink_large_window_spark.streaming.streams as S

    pat = Pattern(
        steps=(
            Step("views", "view", 1, None),
            Step("clicks", "click", 1, 2, exact=True),
        ),
        within_hours=1,
    )
    # uid 1: view@0, click@5 (anchor OPENS, within ok; pend=1), then
    # IDLE for 120 min (past within), then click@125 extends the run
    # (merged run, still <= max), purchase@130 closes it -> MATCH
    # with n_clicks=2 must emit; eviction must never have fired.
    # uid 2: error@0 then idle -> separator state, REMOVED by TTL.
    # uid 9: watermark movers in every batch.
    d = _write_batches(
        tmp_path,
        [
            _event_row(1, 0, 10, "view"),
            _event_row(1, 5, 11, "click"),
            _event_row(2, 0, 20, "error"),
            _event_row(9, 0, 90, "signup"),
        ],
        [_event_row(9, 90, 91, "signup")],   # watermark past within
        [
            _event_row(1, 125, 12, "click"),
            _event_row(1, 130, 13, "purchase"),
            _event_row(9, 600, 92, "signup"),  # final watermark push
        ],
    )

    def run(idle_evict):
        ev = batch_stream(spark, d, EV_SCHEMA).withWatermark(
            "ts", "10 minutes"
        )
        out = keyed_fold(
            ev, "user_id", compile_stream(pat, idle_evict=idle_evict)
        )
        rows = {
            (r["user_id"], r["anchor_event"], r["n_views"], r["n_clicks"])
            for r in out.collect()
        }
        n_state = sum(
            op["numRowsTotal"] for op in S.LAST_STATE_METRICS[-1:]
        )
        return rows, n_state

    rows_on, state_on = run(True)
    rows_off, state_off = run(False)
    # the pending close-mode match survives eviction and emits with
    # the MERGED run's length (pend blocked the TTL; the stub path
    # would have dropped the view run the candidacy needs)
    assert rows_on == rows_off == {(1, 11, 1, 2)}, (rows_on, rows_off)
    # ... while the separator-idle key (uid 2) still evicted: one
    # fewer final state row than the control run
    assert state_on < state_off, (state_on, state_off)


def test_state_reader_window_watermark_tie_evicts(spark, tmp_path):
    """PINS the eviction-boundary tie polarity of
    stream_state_reader_window's oracle (ADVICE r14 item 2): the
    oracle retains windows with ``end > final watermark``; at an
    EXACT window-end == watermark millisecond the window must
    therefore be EVICTED from the store (Spark finalizes a window
    when ``watermark >= end``, in the availableNow run's closing
    no-data batch). Fixture data keeps every boundary strictly clear
    (probed r14), so only synthetic data can pin the tie.

    Construction: one event in window [01:00, 02:00) and a final
    event at exactly 02:10:00.000 → final watermark = 02:00.000 ==
    the first window's end. Expected store: ONLY the final event's
    own window [02:00, 03:00)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_large_window_spark.streaming.streams import (
        stream_state_reader_window,
    )

    t = dt.datetime(2024, 3, 1, 1, 0, 0)
    schema = pa.schema(
        [
            pa.field("user_id", pa.int64()),
            pa.field("ts", pa.timestamp("us")),
            pa.field("event_id", pa.int64()),
            pa.field("event_type", pa.string()),
            pa.field("value", pa.float64()),
        ]
    )
    rows = [
        {"user_id": 1, "ts": t + dt.timedelta(minutes=30), "event_id": 0,
         "event_type": "view", "value": 1.5},
        # the tie-maker: max ts = 02:10:00.000 exactly
        {"user_id": 1, "ts": t + dt.timedelta(minutes=70), "event_id": 1,
         "event_type": "click", "value": 2.5},
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema),
        os.path.join(str(tmp_path), "events.parquet"),
    )
    got = sorted(
        (r["w_start"], r["event_type"], r["n"], r["sum_value"])
        for r in stream_state_reader_window(spark, str(tmp_path)).collect()
    )
    # [01:00, 02:00) has end == watermark -> evicted (tie polarity);
    # [02:00, 03:00) has end > watermark -> retained
    assert got == [("2024-03-01 02:00:00", "click", 1, 2.5)], got


def test_state_reader_automaton_late_only_user_null_open_run(
    spark, tmp_path
):
    """review r15: a user whose EVERY event is held above the final
    watermark has no folded open run — the blob stores cur_cls=''
    (the handler's no-run encoding) and the reader must decode it
    back to NULL to match the oracle's outer join, with the events
    counted in n_buf."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_large_window_spark.streaming.cep_stream import (
        stream_state_reader_automaton,
    )

    t = dt.datetime(2024, 3, 1, 12, 0, 0)
    schema = pa.schema(
        [
            pa.field("user_id", pa.int64()),
            pa.field("ts", pa.timestamp("us")),
            pa.field("event_id", pa.int64()),
            pa.field("event_type", pa.string()),
        ]
    )
    rows = [
        # user 1: a folded view run + the max-ts tail event
        {"user_id": 1, "ts": t, "event_id": 0, "event_type": "view"},
        {"user_id": 1, "ts": t + dt.timedelta(minutes=60), "event_id": 1,
         "event_type": "click"},
        # user 2: both events within 10 min of max ts -> all held
        {"user_id": 2, "ts": t + dt.timedelta(minutes=55), "event_id": 2,
         "event_type": "view"},
        {"user_id": 2, "ts": t + dt.timedelta(minutes=58), "event_id": 3,
         "event_type": "purchase"},
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema),
        os.path.join(str(tmp_path), "events.parquet"),
    )
    got = {
        r["user_id"]: (r["cur_cls"], r["cur_len"], r["n_buf"])
        for r in stream_state_reader_automaton(
            spark, str(tmp_path)
        ).collect()
    }
    # user 1: view run folded (click@max is the watermark tail, held)
    assert got[1] == ("view", 1, 1), got
    # user 2: no folded run -> cur_cls NULL (not ''), both events held
    assert got[2] == (None, None, 2), got


def test_state_reader_session_tie_polarities(spark, tmp_path):
    """PINS stream_state_reader_session's two boundary polarities on
    synthetic data (the r15 tie-test convention), both PROBED before
    encoding:

    - MERGE tie: an event at exactly prev_ts + gap MERGES into the
      previous session (touching intervals coalesce — probed: the
      first draft assumed strict overlap and the store returned the
      merged [00:00, 01:00) n=2 session) — hence the oracle's STRICT
      > new-session flag.
    - EVICTION tie: a session whose end exactly equals the final
      watermark is EVICTED (emitted) — retained iff end > wm, the
      same polarity as the tumbling reader.

    Construction (gap = 30 min): user 1 events at 00:00 and exactly
    00:30 → ONE merged session [00:00, 01:00) with n=2. User 3 has a
    single event at 23:30 the previous day (session end 00:00, far
    below wm — long evicted). The tail event (user 2, max ts 00:50)
    sets final wm = 00:40; user 1's merged session (end 01:00 > wm)
    and user 2's own [00:50, 01:20) are retained. A second fixture
    dir pins the eviction tie exactly: user 1 event at 00:00 (end
    00:30), tail at 00:40 → wm == 00:30 == end → evicted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_large_window_spark.streaming.streams import (
        stream_state_reader_session,
    )

    t = dt.datetime(2024, 3, 1, 0, 0, 0)
    schema = pa.schema(
        [
            pa.field("user_id", pa.int64()),
            pa.field("ts", pa.timestamp("us")),
            pa.field("event_id", pa.int64()),
            pa.field("event_type", pa.string()),
        ]
    )

    def write(d, rows):
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(rows, schema=schema),
            os.path.join(d, "events.parquet"),
        )

    us = lambda m: int(
        (t + dt.timedelta(minutes=m)).timestamp() * 1_000_000
    )

    # case 1: merge tie
    d1 = os.path.join(str(tmp_path), "merge")
    write(d1, [
        {"user_id": 1, "ts": t, "event_id": 0, "event_type": "view"},
        {"user_id": 1, "ts": t + dt.timedelta(minutes=30), "event_id": 1,
         "event_type": "view"},
        {"user_id": 2, "ts": t + dt.timedelta(minutes=50), "event_id": 2,
         "event_type": "click"},
    ])
    got = sorted(
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n"])
        for r in stream_state_reader_session(spark, d1).collect()
    )
    assert got == [
        (1, us(0), us(60), 2),  # tie MERGED: one session, n=2
        (2, us(50), us(80), 1),
    ], got

    # case 2: eviction tie (end == wm exactly)
    d2 = os.path.join(str(tmp_path), "evict")
    write(d2, [
        {"user_id": 1, "ts": t, "event_id": 0, "event_type": "view"},
        # tail: max ts 00:40 -> wm 00:30 == user 1's session end
        {"user_id": 2, "ts": t + dt.timedelta(minutes=40), "event_id": 1,
         "event_type": "click"},
    ])
    got2 = sorted(
        (r["user_id"], r["session_end_us"])
        for r in stream_state_reader_session(spark, d2).collect()
    )
    # user 1 evicted at the exact tie; only user 2's session remains
    assert got2 == [(2, us(70))], got2
