"""Invariants of the bench harness itself (no Spark session needed):
the gate machinery must be structurally sound before any measurement
runs — a misconfigured HEADLINE/baseline pairing silently weakens the
2x gate (review r8)."""

from __future__ import annotations

import bench


def test_every_headline_key_has_a_governing_baseline():
    g, _ = bench.governing_baselines()
    missing = [k for k in bench.HEADLINE if k not in g]
    assert not missing, f"headline keys without baseline: {missing}"


def test_new_key_baselines_do_not_shadow_frozen():
    """If a NEW_KEY_BASELINES key is ever frozen into BENCH.json, the
    frozen value governs (dict build order) — and the hardcoded copy
    should then be deleted; this assertion makes that state visible."""
    _, frozen = bench.governing_baselines()
    overlap = frozen & set(bench.NEW_KEY_BASELINES)
    assert not overlap, (
        f"{sorted(overlap)} are frozen now — remove them from "
        "NEW_KEY_BASELINES (BENCH.json governs)"
    )


def test_headline_keys_are_registered():
    import flink_large_window_spark.api as api

    qs = api.queries()
    missing = [k for k in bench.HEADLINE if k not in qs]
    assert not missing, f"headline keys not in registry: {missing}"


def test_watch_list_is_headline_subset():
    extra = [k for k in bench.WATCH_LIST_RUNS if k not in bench.HEADLINE]
    assert not extra, f"watch-list keys outside HEADLINE: {extra}"
