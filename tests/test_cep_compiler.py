"""Semantic unit tests for the generic CEP pattern compiler
(operators/cep.py) — the quantifier edge cases that separate the
strategies, on hand-built micro-streams where every expected match is
enumerable by eye. Fixture-scale oracle parity for the six registered
pattern keys is covered by check_oracle / the driver; these tests pin
the COMPILER semantics: suffix-vs-exact boundary guards, maximal-run
rejection of over-long runs, unbounded greedy steps, the within
cutoff, per-key isolation, and spec validation.
"""

from __future__ import annotations

import datetime as dt
import re

import pytest

from flink_large_window_spark import api
from flink_large_window_spark.operators.cep import (
    Guard,
    Pattern,
    Step,
    compile_greedy,
    compile_horizon,
    compile_pattern,
    compile_suffix,
    runs_relation,
)
from tests.conftest import SF_SMOKE

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _events(spark, rows):
    """rows: (user_id, minutes_after_T0, event_type); event_id is the
    row ordinal so (ts, event_id) order == listed order."""
    data = [
        (int(u), T0 + dt.timedelta(minutes=m), i, t)
        for i, (u, m, t) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "user_id long, ts timestamp, event_id long, event_type string"
    )


def _pat(steps, within=None):
    return Pattern(steps=tuple(steps), within_hours=within)


# ---------------------------------------------------------------- suffix

def test_suffix_matches_run_suffix_without_exact(spark):
    # 3 clicks then purchase: click{2} (no exact) matches the LAST two
    # clicks — Flink `next` per-event semantics.
    df = _events(
        spark,
        [(1, 0, "click"), (1, 1, "click"), (1, 2, "click"), (1, 3, "purchase")],
    )
    out = compile_suffix(
        df, _pat([Step("c", "click", 2, 2), Step("p", "purchase")], within=6)
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.anchor_id == 3
    # start = first COUNTED event = the second click (minute 1)
    assert r.start_ts == T0 + dt.timedelta(minutes=1)


def test_suffix_exact_guard_rejects_longer_run(spark):
    # Same stream, exact=True: a third preceding click disqualifies —
    # times(2) semantics.
    df = _events(
        spark,
        [(1, 0, "click"), (1, 1, "click"), (1, 2, "click"), (1, 3, "purchase")],
    )
    out = compile_suffix(
        df,
        _pat([Step("c", "click", 2, 2, exact=True), Step("p", "purchase")]),
    ).collect()
    assert out == []
    # And exactly 2 clicks pass the guard (stream-start boundary: the
    # guard lag is NULL there, which must count as "no extra click").
    df2 = _events(spark, [(1, 0, "click"), (1, 1, "click"), (1, 2, "purchase")])
    out2 = compile_suffix(
        df2,
        _pat([Step("c", "click", 2, 2, exact=True), Step("p", "purchase")]),
    ).collect()
    assert [r.anchor_id for r in out2] == [2]


def test_suffix_within_cutoff(spark):
    df = _events(
        spark, [(1, 0, "click"), (1, 30, "click"), (1, 7 * 60, "purchase")]
    )
    pat_6h = _pat([Step("c", "click", 2, 2), Step("p", "purchase")], within=6)
    pat_8h = _pat([Step("c", "click", 2, 2), Step("p", "purchase")], within=8)
    assert compile_suffix(df, pat_6h).count() == 0  # 7h from first click
    assert compile_suffix(df, pat_8h).count() == 1


def test_suffix_key_isolation(spark):
    # The click belongs to another user: no cross-key match.
    df = _events(spark, [(1, 0, "click"), (2, 1, "click"), (2, 2, "purchase")])
    out = compile_suffix(
        df, _pat([Step("c", "click", 2, 2), Step("p", "purchase")])
    ).collect()
    assert out == []


# ---------------------------------------------------------------- greedy

def test_greedy_between_rejects_overlong_run(spark):
    # view, 4 clicks, purchase: click{1,3} under maximal-run semantics
    # must NOT match via a 3-suffix.
    df = _events(
        spark,
        [(1, 0, "view")]
        + [(1, 1 + i, "click") for i in range(4)]
        + [(1, 10, "purchase")],
    )
    pat = _pat(
        [Step("v", "view"), Step("c", "click", 1, 3), Step("p", "purchase")],
        within=24,
    )
    assert compile_greedy(df, pat).count() == 0
    # 3 clicks: matches, with the full run as the measure.
    df3 = _events(
        spark,
        [(1, 0, "view")]
        + [(1, 1 + i, "click") for i in range(3)]
        + [(1, 10, "purchase")],
    )
    out = compile_greedy(df3, pat).collect()
    assert len(out) == 1
    assert out[0].n_c == 3 and out[0].n_v == 1
    assert out[0].anchor_first_id == 4


def test_greedy_unbounded_first_step_and_anchor_surplus(spark):
    # 5 clicks then 2 purchases: oneOrMore().greedy() reports the
    # maximal run once, anchored at the FIRST purchase; the second
    # purchase is surplus of the anchor run, not a second match.
    df = _events(
        spark,
        [(1, i, "click") for i in range(5)]
        + [(1, 5, "purchase"), (1, 6, "purchase")],
    )
    pat = _pat(
        [Step("c", "click", 1, None), Step("p", "purchase", 1, None)], within=6
    )
    out = compile_greedy(df, pat).collect()
    assert len(out) == 1
    assert out[0].n_c == 5 and out[0].anchor_first_id == 5


def test_greedy_within_measured_from_first_step_run_start(spark):
    df = _events(
        spark, [(1, 0, "view"), (1, 30, "click"), (1, 25 * 60, "purchase")]
    )
    pat24 = _pat(
        [Step("v", "view"), Step("c", "click", 1, 3), Step("p", "purchase")],
        within=24,
    )
    pat26 = _pat(
        [Step("v", "view"), Step("c", "click", 1, 3), Step("p", "purchase")],
        within=26,
    )
    assert compile_greedy(df, pat24).count() == 0  # 25h from the view
    assert compile_greedy(df, pat26).count() == 1


def test_greedy_null_class_breaks_adjacency(spark):
    # NULL event types (real 100 TB data has them; the fixtures don't)
    # form their own runs — both Spark's window partitioning and its
    # GROUP BY treat NULL as one group — so a NULL between two pattern
    # steps breaks strict contiguity exactly like any non-matching
    # class, and a NULL never equals a step class.
    rows = [
        (1, 0, "view"), (1, 1, None), (1, 2, "click"), (1, 3, "purchase"),
        (1, 4, "view"), (1, 5, "click"), (1, 6, None), (1, 7, "purchase"),
        (1, 8, "view"), (1, 9, "click"), (1, 10, "purchase"),
    ]
    df = spark.createDataFrame(
        [(u, T0 + dt.timedelta(minutes=m), i, t)
         for i, (u, m, t) in enumerate(rows)],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    pat = _pat(
        [Step("v", "view"), Step("c", "click", 1, 3), Step("p", "purchase")],
        within=24,
    )
    out = compile_greedy(df, pat).collect()
    assert [(r.user_id, r.anchor_first_id) for r in out] == [(1, 10)]


def test_greedy_requires_adjacent_runs(spark):
    # view, click, ERROR, purchase: strict contiguity — the error run
    # between click and purchase breaks the sequence.
    df = _events(
        spark,
        [(1, 0, "view"), (1, 1, "click"), (1, 2, "error"), (1, 3, "purchase")],
    )
    pat = _pat(
        [Step("v", "view"), Step("c", "click", 1, 3), Step("p", "purchase")],
        within=24,
    )
    assert compile_greedy(df, pat).count() == 0


def test_compile_pattern_dispatch(spark):
    df = _events(spark, [(1, 0, "click"), (1, 1, "click"), (1, 2, "purchase")])
    fixed = _pat([Step("c", "click", 2, 2), Step("p", "purchase")])
    ranged = _pat([Step("c", "click", 1, None), Step("p", "purchase", 1, None)])
    # fixed → suffix output columns; ranged → greedy output columns
    assert "anchor_id" in compile_pattern(df, fixed).columns
    assert "anchor_first_id" in compile_pattern(df, ranged).columns
    # a fixed multi-count FINAL step can't anchor a suffix — it must
    # route to greedy, not raise
    multi_final = _pat([Step("e", "error", 2, 2)])
    assert "anchor_first_id" in compile_pattern(df, multi_final).columns


def test_single_event_pattern_and_anchor_exactness(spark):
    df = _events(
        spark,
        [
            (1, 0, "error"), (1, 1, "error"),                 # run of 2
            (2, 0, "error"), (2, 1, "error"), (2, 2, "error"),  # run of 3
            (3, 0, "error"),                                    # run of 1
        ],
    )
    # single-EVENT suffix pattern (total length 1): start == anchor
    one = compile_suffix(df, _pat([Step("e", "error")])).collect()
    assert len(one) == 6
    assert all(r.start_ts == r.anchor_ts for r in one)
    # "at least 2 consecutive errors": runs of 2 and 3 match
    ge2 = compile_pattern(df, _pat([Step("e", "error", 2, 2)])).collect()
    assert sorted(r.user_id for r in ge2) == [1, 2]
    # exact=True caps the anchor run: EXACTLY 2, run of 3 rejected
    ex2 = compile_greedy(
        df, _pat([Step("e", "error", 2, 2, exact=True)])
    ).collect()
    assert sorted(r.user_id for r in ex2) == [1]


# --------------------------------------------------------------- horizon

def test_horizon_absent_and_at_least(spark):
    df = _events(
        spark,
        [
            (1, 0, "click"),          # purchase follows within 6h → not absent
            (1, 60, "purchase"),
            (1, 10 * 60, "click"),    # nothing follows → absent
            (2, 0, "click"),          # cross-user purchase must not count
            (3, 1, "purchase"),
        ],
    )
    absent = compile_horizon(
        df, anchor_cls="click", target_cls="purchase", hours=6,
    ).collect()
    assert sorted((r.user_id, r.anchor_id) for r in absent) == [(1, 2), (2, 3)]
    atleast = compile_horizon(
        df, anchor_cls="purchase", target_cls="click", hours=6,
        at_least=1,
    ).collect()
    assert [(r.user_id, r.anchor_id, r.n_target) for r in atleast] == [(1, 1, 1)]


def test_horizon_pairs_class_filter_order_is_stable(spark):
    # The class filter's IN list is built from a set; sorted, so the
    # plan does not follow PYTHONHASHSEED.
    df = api.queries()["pattern_detect_followedby_nobetween"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().analyzed().toString()
    lists = [m.split(",") for m in re.findall(r" IN \(([^)]*)\)", plan)]
    assert ["click", "error", "purchase"] in lists
    assert all(cls == sorted(cls) for cls in lists)


# ------------------------------------------------------------ alternation

def test_suffix_alternation_matches_class_set(spark):
    # (click|view){2} then purchase — Flink where(a).or(b): mixed
    # click/view pairs match, an error in the pair does not.
    df = _events(
        spark,
        [
            (1, 0, "view"), (1, 1, "click"), (1, 2, "purchase"),
            (2, 0, "error"), (2, 1, "click"), (2, 2, "purchase"),
        ],
    )
    pat = _pat([Step("eng", ("click", "view"), 2, 2), Step("p", "purchase")])
    out = compile_suffix(df, pat).collect()
    assert [(r.user_id, r.anchor_id) for r in out] == [(1, 2)]
    # exact guard applies to the SET: a third engagement event of
    # EITHER class disqualifies.
    df2 = _events(
        spark,
        [(1, 0, "view"), (1, 1, "view"), (1, 2, "click"), (1, 3, "purchase")],
    )
    pat_exact = _pat(
        [Step("eng", ("click", "view"), 2, 2, exact=True), Step("p", "purchase")]
    )
    assert compile_suffix(df2, pat_exact).count() == 0


def test_horizon_alternation_counts_class_set(spark):
    df = _events(
        spark,
        [(1, 0, "view"), (1, 30, "click"), (1, 60, "purchase")],
    )
    out = compile_horizon(
        df, anchor_cls="purchase", target_cls=("click", "view"),
        hours=6, at_least=2,
    ).collect()
    assert [(r.user_id, r.anchor_id, r.n_target) for r in out] == [(1, 2, 2)]


def test_greedy_alternation_merges_class_set_runs(spark):
    # (view|click)+ purchase — canonicalization makes a MIXED view/
    # click run one run (n_eng spans both classes), while an error
    # between engagement events still breaks contiguity (user 2's
    # purchase sees only the 1-click run after the error).
    df = _events(
        spark,
        [
            (1, 0, "view"), (1, 1, "click"), (1, 2, "view"),
            (1, 3, "purchase"),
            (2, 0, "view"), (2, 1, "error"), (2, 2, "click"),
            (2, 3, "purchase"),
        ],
    )
    pat = _pat(
        [Step("eng", ("view", "click"), 1, None),
         Step("p", "purchase", 1, None)],
        within=24,
    )
    out = sorted(compile_greedy(df, pat).collect(), key=lambda r: r.user_id)
    # event_id is the global row ordinal: user 2's purchase is row 7
    assert [(r.user_id, r.anchor_first_id, r.n_eng) for r in out] == [
        (1, 3, 3),
        (2, 7, 1),
    ]


def test_greedy_alternation_ranged_maximal_run(spark):
    # (view|click){1,2} purchase — the maximal MIXED run of 3 is over
    # the cap and must not match via a 2-suffix; a mixed run of 2 does.
    df = _events(
        spark,
        [
            (1, 0, "view"), (1, 1, "click"), (1, 2, "view"),
            (1, 3, "purchase"),
            (2, 0, "click"), (2, 1, "view"), (2, 2, "purchase"),
        ],
    )
    pat = _pat(
        [Step("eng", ("view", "click"), 1, 2),
         Step("p", "purchase", 1, None)]
    )
    out = compile_greedy(df, pat).collect()
    # event_id is the global row ordinal: user 2's purchase is row 6
    assert [(r.user_id, r.anchor_first_id, r.n_eng) for r in out] == [
        (2, 6, 2)
    ]


def test_greedy_alternation_rejects_ambiguous_overlap(spark):
    df = _events(spark, [(1, 0, "click")])
    # 'click' belongs to two DIFFERENT sets: no canonical owner
    pat = _pat(
        [Step("a", ("click", "view"), 1, None),
         Step("b", ("click", "error"), 1, None)]
    )
    with pytest.raises(ValueError, match="two different class sets"):
        compile_greedy(df, pat)
    # a single-class step inside another step's set is the same
    # ambiguity (is a view-run an a-run or part of a b-run?)
    pat2 = _pat(
        [Step("a", "view", 1, None),
         Step("b", ("view", "click"), 1, None)]
    )
    with pytest.raises(ValueError, match="two different class sets"):
        compile_greedy(df, pat2)


def test_greedy_alternation_degenerate_set_collapses(spark):
    # Flink's where(a).or(a): a tuple whose members are all one class
    # collapses to that single class (no token, no relabel) instead of
    # crashing — round-11 review fix (frozenset size, not tuple
    # length, drives the rewrite).
    df = _events(
        spark,
        [(1, 0, "view"), (1, 1, "view"), (1, 2, "purchase")],
    )
    pat = _pat(
        [Step("v", ("view", "view"), 1, None),
         Step("p", "purchase", 1, None)]
    )
    out = compile_greedy(df, pat).collect()
    assert [(r.user_id, r.anchor_first_id, r.n_v) for r in out] == [(1, 2, 2)]


def test_greedy_alternation_rejects_token_collision(spark):
    df = _events(spark, [(1, 0, "click")])
    pat = _pat(
        [Step("a", ("click", "view"), 1, None),
         Step("b", "click\x1fview", 1, None)]
    )
    with pytest.raises(ValueError, match="collides"):
        compile_greedy(df, pat)


def test_greedy_final_max_without_exact_is_ge_min_and_silent(spark):
    # Round 12 (VERDICT r11 item 8): the ">= min" anchor contract for a
    # fixed multi-count FINAL step without exact=True is stable and
    # documented — the round-11 UserWarning on every normal use was
    # noise and is retired. Semantics unchanged; now also warning-free.
    import warnings as _warnings

    df = _events(spark, [(1, 0, "error"), (1, 1, "error")])
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        out = compile_greedy(df, _pat([Step("e", "error", 2, 2)])).collect()
    assert [r.user_id for r in out] == [1]


def test_step_one_tuple_cls_normalizes_to_scalar(spark):
    # ADVICE r11 item 2: Step('p', ('purchase',)) must behave exactly
    # like Step('p', 'purchase') in every strategy — the 1-tuple
    # normalizes on construction, so no tuple literal ever reaches the
    # F.col == cls comparisons.
    s = Step("p", ("purchase",))
    assert s.cls == "purchase"
    df = _events(
        spark, [(1, 0, "click"), (1, 1, "click"), (1, 2, "purchase")]
    )
    out = compile_greedy(
        df,
        _pat([Step("c", ("click",), 1, None), Step("p", ("purchase",), 1, None)]),
    ).collect()
    assert [(r.user_id, r.anchor_first_id, r.n_c) for r in out] == [(1, 2, 2)]


# ---------------------------------------------------------------- optional

def test_optional_step_present_and_absent_variants(spark):
    # V+ C? P+ — Flink Pattern.optional(): user 1 has the click
    # (present variant, n_c = 1), user 2 goes view → purchase directly
    # (absent variant, n_c = 0), user 3's TWO clicks exceed the
    # optional step's max_count=1 under maximal-run semantics and the
    # absent variant is blocked by the click run between view and
    # purchase → no match.
    df = _events(
        spark,
        [
            (1, 0, "view"), (1, 1, "click"), (1, 2, "purchase"),
            (2, 0, "view"), (2, 1, "purchase"),
            (3, 0, "view"), (3, 1, "click"), (3, 2, "click"),
            (3, 3, "purchase"),
        ],
    )
    pat = _pat(
        [Step("v", "view", 1, None), Step("c", "click", 0, 1),
         Step("p", "purchase", 1, None)],
        within=24,
    )
    out = sorted(
        (r.user_id, r.anchor_first_id, r.n_v, r.n_c)
        for r in compile_pattern(df, pat).collect()
    )
    # event_id is the global row ordinal: user 2's purchase is row 4
    assert out == [(1, 2, 1, 1), (2, 4, 1, 0)]


def test_optional_variants_are_mutually_exclusive(spark):
    # The expansion's union must be duplicate-free: one anchor, one
    # row, even when both variants are syntactically applicable to the
    # stream (they never are to the SAME anchor — pinned here).
    df = _events(
        spark,
        [(1, 0, "view"), (1, 1, "click"), (1, 2, "purchase"),
         (1, 10 * 60, "view"), (1, 10 * 60 + 1, "purchase")],
    )
    pat = _pat(
        [Step("v", "view", 1, None), Step("c", "click", 0, 1),
         Step("p", "purchase", 1, None)],
        within=24,
    )
    rows = compile_pattern(df, pat).collect()
    anchors = [r.anchor_first_id for r in rows]
    assert sorted(anchors) == sorted(set(anchors)) == [2, 4]


def test_optional_final_step_rejected():
    with pytest.raises(ValueError, match="final step"):
        Pattern(steps=(Step("v", "view"), Step("p", "purchase", 0, 1)))


# ------------------------------------------------------- after-match skip

def _skip_events(spark):
    # one 3-click run then a purchase: the Flink skip-strategy doc
    # shape (a{2,3} b over "a a a b")
    return _events(
        spark,
        [(1, 0, "click"), (1, 1, "click"), (1, 2, "click"),
         (1, 3, "purchase")],
    )


def test_skip_past_last_emits_one_maximal_match(spark):
    df = _skip_events(spark)
    pat = _pat([Step("c", "click", 2, 3), Step("p", "purchase", 1, None)])
    out = compile_greedy(df, pat).collect()
    assert [(r.user_id, r.n_c) for r in out] == [(1, 3)]
    assert "start_off" not in out[0].asDict()


def test_skip_to_next_emits_one_match_per_start(spark):
    # starts at click 1 (greedy 3) and click 2 (greedy 2): 2 matches
    df = _skip_events(spark)
    pat = Pattern(
        steps=(Step("c", "click", 2, 3), Step("p", "purchase", 1, None)),
        skip="to_next",
    )
    out = sorted(
        (r.start_off, r.n_c) for r in compile_greedy(df, pat).collect()
    )
    assert out == [(1, 3), (2, 2)]


def test_skip_no_skip_enumerates_all_submatches(spark):
    # (start, len) combos within {2,3} over a 3-run:
    # (1,2) (1,3) (2,2) — the full noSkip enumeration
    df = _skip_events(spark)
    pat = Pattern(
        steps=(Step("c", "click", 2, 3), Step("p", "purchase", 1, None)),
        skip="no_skip",
    )
    out = sorted(
        (r.start_off, r.n_c) for r in compile_greedy(df, pat).collect()
    )
    assert out == [(1, 2), (1, 3), (2, 2)]


def test_skip_consumed_cap_admits_overlong_first_run(spark):
    # a 4-click run with C{2,3}: past_last rejects (maximal-run
    # semantics), but under sub-match expansion the cap bounds the
    # CONSUMED count, so sub-matches exist: starts 1..3, each with
    # admissible lengths — (1,2)(1,3)(2,2)(2,3)(3,2).
    df = _events(
        spark,
        [(1, 0, "click"), (1, 1, "click"), (1, 2, "click"),
         (1, 3, "click"), (1, 4, "purchase")],
    )
    base = _pat([Step("c", "click", 2, 3), Step("p", "purchase", 1, None)])
    assert compile_greedy(df, base).count() == 0
    pat = Pattern(steps=base.steps, skip="no_skip")
    out = sorted(
        (r.start_off, r.n_c) for r in compile_greedy(df, pat).collect()
    )
    assert out == [(1, 2), (1, 3), (2, 2), (2, 3), (3, 2)]


def test_skip_validation():
    steps = (Step("c", "click", 2, 3), Step("p", "purchase", 1, None))
    with pytest.raises(ValueError, match="skip must be one of"):
        Pattern(steps=steps, skip="bogus")
    with pytest.raises(ValueError, match=">= 2-step"):
        Pattern(steps=(Step("c", "click", 2, None),), skip="no_skip")
    with pytest.raises(ValueError, match="within_hours"):
        Pattern(steps=steps, within_hours=24, skip="no_skip")
    # a first-step guard is unrepresentable (must reference an EARLIER
    # step), so skip strategies never meet one — pinned here so a
    # future guard loosening revisits the skip interaction
    with pytest.raises(ValueError, match="EARLIER step"):
        Pattern(
            steps=(
                Step("c", "click", 2, 3,
                     guard=Guard("first", ">", "c", "max")),
                Step("p", "purchase", 1, None),
            ),
            skip="no_skip",
        )


# -------------------------------------------------------- iterative guards

def _guard_events(spark, vals):
    """view view purchase for user 1 with the given values."""
    rows = [
        (1, T0 + dt.timedelta(minutes=i), i, t, float(v))
        for i, (t, v) in enumerate(
            zip(("view", "view", "purchase"), vals)
        )
    ]
    return spark.createDataFrame(
        rows,
        "user_id long, ts timestamp, event_id long, event_type string,"
        " value double",
    )


def test_greedy_guard_filters_on_prior_step_values(spark):
    pat = Pattern(
        steps=(
            Step("v", "view", 1, None),
            Step("p", "purchase", 1, None,
                 guard=Guard("first", ">", "v", "max")),
        ),
    )
    # purchase value 5 > max(view run) 3 → match, with both guard
    # sides emitted as measures
    hit = compile_greedy(_guard_events(spark, (3, 2, 5)), pat).collect()
    assert [(r.user_id, r.g_p, r.g_p_ref) for r in hit] == [(1, 5.0, 3.0)]
    # purchase value 2 <= max(view run) 3 → class structure matches,
    # guard rejects
    assert compile_greedy(_guard_events(spark, (3, 2, 2)), pat).count() == 0


def test_greedy_guard_factor_scales_reference_side(spark):
    pat = Pattern(
        steps=(
            Step("v", "view", 1, None),
            Step("p", "purchase", 1, None,
                 guard=Guard("first", ">=", "v", "sum", factor=0.5)),
        ),
    )
    # sum(view run) = 6; 0.5 * 6 = 3; purchase 3 >= 3 → match
    assert compile_greedy(_guard_events(spark, (4, 2, 3)), pat).count() == 1
    # purchase 2.9 < 3 → reject
    assert compile_greedy(_guard_events(spark, (4, 2, 2.9)), pat).count() == 0


def test_suffix_guard_filters_on_prior_step_values(spark):
    pat = Pattern(
        steps=(
            Step("v", "view", 2, 2),
            Step("p", "purchase",
                 guard=Guard("first", "<", "v", "min")),
        ),
    )
    # purchase 1 < min(two views) 2 → match
    assert compile_suffix(_guard_events(spark, (3, 2, 1)), pat).count() == 1
    # purchase 2.5 >= 2 → reject
    assert compile_suffix(_guard_events(spark, (3, 2, 2.5)), pat).count() == 0


def test_guard_validation(spark):
    with pytest.raises(ValueError, match="guard agg"):
        Guard("median", ">", "v", "max")
    with pytest.raises(ValueError, match="guard cmp"):
        Guard("first", "!=", "v", "max")
    # the value column is read exactly when a guard or an until needs it
    guarded = Pattern(
        steps=(
            Step("v", "view", 1, None),
            Step("p", "purchase", 1, None,
                 guard=Guard("first", ">", "v", "max")),
        )
    )
    until = Pattern(
        steps=(
            Step("v", "view", 1, None, until=(">", 100.0)),
            Step("p", "purchase", 1, None),
        )
    )
    plain = _pat([Step("v", "view", 1, None), Step("p", "purchase", 1, None)])
    assert guarded.reads_value and until.reads_value
    assert not plain.reads_value
    runs = runs_relation(_events(spark, [(1, 0, "view")]), plain)
    assert not [c for c in runs.columns if c.startswith("val_")]
    runs = runs_relation(_guard_events(spark, (3, 2, 5)), guarded)
    assert "val_max" in runs.columns
    with pytest.raises(ValueError, match="EARLIER step"):
        Pattern(
            steps=(
                Step("v", "view", 1, None,
                     guard=Guard("first", ">", "p", "max")),
                Step("p", "purchase", 1, None),
            ),
        )


# ------------------------------------------------------------ validation

def test_spec_validation():
    with pytest.raises(ValueError):
        Pattern(steps=())
    with pytest.raises(ValueError):
        Pattern(steps=(Step("a", "click", 0, 1),))
    with pytest.raises(ValueError):
        Pattern(steps=(Step("a", "click", 3, 2),))


def test_suffix_rejects_ranged_quantifier(spark):
    df = _events(spark, [(1, 0, "click")])
    with pytest.raises(ValueError):
        compile_suffix(df, _pat([Step("c", "click", 1, None)]))
    with pytest.raises(ValueError):
        # final step must be a single anchor event in suffix mode
        compile_suffix(
            df, _pat([Step("c", "click", 1, 1), Step("p", "purchase", 2, 2)])
        )


def test_horizon_requires_exactly_one_mode(spark):
    # at_least=None is absence; a count of 0 would read as absence but
    # count the PRECEDING frame, so it is rejected
    df = _events(spark, [(1, 0, "click")])
    with pytest.raises(ValueError, match="at_least"):
        compile_horizon(
            df, anchor_cls="click", target_cls="purchase", hours=6,
            at_least=0,
        )


def test_stream_compile_guard_validation():
    """compile_stream: non-final guards compile with any aggregate;
    a final-step guard with 'first' emits at anchor-run OPEN (the
    aggregate is fixed the instant the run opens); a final-step guard
    with any MAXIMAL-run aggregate compiles too since round 14, but
    switches the pattern to run-CLOSE emission — visible in the
    output schema, which gains the settled anchor run's n_<last>
    measure. Guarded patterns get the extended value-aggregate state
    schema while unguarded patterns keep the base schema exactly."""
    from flink_large_window_spark.streaming.cep_stream import (
        STREAM_STATE_SCHEMA,
        STREAM_STATE_SCHEMA_VAL,
        compile_stream,
    )

    def pat(anchor_guard=None, mid_guard=None):
        return Pattern(
            steps=(
                Step("views", "view", 1, None),
                Step("clicks", "click", 1, 3, guard=mid_guard),
                Step("purchase", "purchase", 1, None, guard=anchor_guard),
            ),
            within_hours=24,
        )

    # unguarded: base schema, byte-identical layout
    _, _, schema = compile_stream(pat())
    assert schema == STREAM_STATE_SCHEMA
    # final-step guard with 'first' compiles, extended schema
    _, out, schema = compile_stream(
        pat(anchor_guard=Guard("first", ">", "views", "max"))
    )
    assert schema == STREAM_STATE_SCHEMA_VAL
    assert [f.name for f in out.fields] == [
        "user_id", "anchor_event", "n_views", "n_clicks",
        "g_purchase", "g_purchase_ref",
        "pattern_start_us", "pattern_end_us",
    ]
    # non-final guard may use ANY aggregate (closed run)
    _, _, schema = compile_stream(
        pat(mid_guard=Guard("sum", "<=", "views", "max", factor=2.0))
    )
    assert schema == STREAM_STATE_SCHEMA_VAL
    # final-step guard with a maximal-run aggregate: compiles since
    # round 14 as a run-CLOSE pattern — the output schema carries the
    # closed anchor run's length (open-emission patterns cannot know
    # it; run-close ones must)
    for agg in ("last", "min", "max", "sum"):
        _, out, schema = compile_stream(
            pat(anchor_guard=Guard(agg, ">", "views", "max"))
        )
        assert schema == STREAM_STATE_SCHEMA_VAL
        assert [f.name for f in out.fields] == [
            "user_id", "anchor_event", "n_views", "n_clicks",
            "n_purchase",
            "g_purchase", "g_purchase_ref",
            "pattern_start_us", "pattern_end_us",
        ]
    # final-step exact: same run-close switch, unguarded state schema
    _, out, schema = compile_stream(
        Pattern(
            steps=(
                Step("views", "view", 1, None),
                Step("clicks", "click", 1, 2, exact=True),
            ),
            within_hours=24,
        )
    )
    assert schema == STREAM_STATE_SCHEMA
    assert [f.name for f in out.fields] == [
        "user_id", "anchor_event", "n_views", "n_clicks",
        "pattern_start_us", "pattern_end_us",
    ]


def _guard_events_nullable(spark, vals):
    """view view purchase for user 1; vals may contain None."""
    rows = [
        (1, T0 + dt.timedelta(minutes=i), i, t,
         None if v is None else float(v))
        for i, (t, v) in enumerate(
            zip(("view", "view", "purchase"), vals)
        )
    ]
    return spark.createDataFrame(
        rows,
        "user_id long, ts timestamp, event_id long, event_type string,"
        " value double",
    )


def test_suffix_guard_sum_skips_nulls_like_sql(spark):
    """The suffix route's 'sum' guard aggregate must skip NULL values
    exactly like SQL SUM (and like the greedy/streaming routes'
    F.sum) — expression addition would NULL-propagate and silently
    change the same Guard spec's semantics with the compilation route
    (review r12). All-NULL runs still yield NULL → no match."""
    pat = Pattern(
        steps=(
            Step("v", "view", 2, 2),
            Step("p", "purchase", 1, 1,
                 guard=Guard("first", ">", "v", "sum")),
        ),
    )
    # sum over (3.0, NULL) must be 3.0, so purchase 5 > 3 matches
    hit = compile_suffix(
        _guard_events_nullable(spark, (3, None, 5)), pat
    ).collect()
    assert [(r.user_id, r.g_p, r.g_p_ref) for r in hit] == [(1, 5.0, 3.0)]
    # all-NULL run sums to NULL -> guard comparison NULL -> no match
    assert compile_suffix(
        _guard_events_nullable(spark, (None, None, 5)), pat
    ).count() == 0


def _opt_guard_events(spark, rows):
    """(cls, value) rows for user 1, one minute apart."""
    data = [
        (1, T0 + dt.timedelta(minutes=i), i, t,
         None if v is None else float(v))
        for i, (t, v) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data,
        "user_id long, ts timestamp, event_id long, event_type string,"
        " value double",
    )


def test_optional_step_with_guard_on_it(spark):
    """A guard ON an optional step applies only when the step is
    present (Flink's optional().where() semantics): the present
    variant enforces it, the absent variant matches unguarded with
    NULL guard measures — and the variant union no longer crashes on
    mismatched columns (review r12; compile_stream's rejection
    message routes this composition here)."""
    pat = Pattern(
        steps=(
            Step("v", "view", 1, None),
            Step("c", "click", 0, 1,
                 guard=Guard("first", ">", "v", "max")),
            Step("p", "purchase", 1, None),
        ),
    )
    # click present, click value 5 > view max 3 -> present variant
    hit = compile_pattern(
        _opt_guard_events(
            spark, [("view", 3), ("click", 5), ("purchase", 1)]
        ),
        pat,
    ).collect()
    assert [(r.n_c, r.g_c, r.g_c_ref) for r in hit] == [(1, 5.0, 3.0)]
    # click present but guard fails -> NO match at all (the absent
    # variant cannot absorb it: view and purchase are not adjacent)
    assert (
        compile_pattern(
            _opt_guard_events(
                spark, [("view", 3), ("click", 2), ("purchase", 1)]
            ),
            pat,
        ).count()
        == 0
    )
    # click absent -> absent variant matches unguarded, NULL measures
    hit = compile_pattern(
        _opt_guard_events(spark, [("view", 3), ("purchase", 1)]), pat
    ).collect()
    assert [(r.n_c, r.g_c, r.g_c_ref) for r in hit] == [(0, None, None)]


def test_optional_step_referenced_by_later_guard(spark):
    """A guard REFERENCING an optional step: the absent variant's
    reference aggregate is NULL, so that variant can never match and
    is skipped at expansion (review r12 — previously this raised a
    misleading __post_init__ error from inside expand_optional)."""
    pat = Pattern(
        steps=(
            Step("v", "view", 1, None),
            Step("c", "click", 0, 1),
            Step("p", "purchase", 1, None,
                 guard=Guard("first", ">", "c", "max")),
        ),
    )
    # click present, purchase 7 > click 5 -> match
    hit = compile_pattern(
        _opt_guard_events(
            spark, [("view", 3), ("click", 5), ("purchase", 7)]
        ),
        pat,
    ).collect()
    assert [(r.n_c, r.g_p, r.g_p_ref) for r in hit] == [(1, 7.0, 5.0)]
    # click absent -> guard reference is absent -> no match (the
    # absent variant is skipped, not crashed)
    assert (
        compile_pattern(
            _opt_guard_events(spark, [("view", 3), ("purchase", 7)]), pat
        ).count()
        == 0
    )


# ---------------------------------------------------------------- until

def _events_val(spark, rows):
    """rows: (user_id, minutes, event_type, value)."""
    data = [
        (int(u), T0 + dt.timedelta(minutes=m), i, t, float(v))
        for i, (u, m, t, v) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data,
        "user_id long, ts timestamp, event_id long, event_type string,"
        " value double",
    )


def _until_pat():
    return Pattern(
        steps=(
            Step("v", "view", 1, None, until=(">", 100.0)),
            Step("p", "purchase", 1, None),
        ),
        within_hours=6,
    )


def test_until_splits_run_and_restarts_after_stop(spark):
    # view(50) view(60) view(150=STOP) view(40) purchase:
    # the stop event closes the first run and belongs to no step; the
    # run AFTER it (one low view) directly precedes the purchase.
    df = _events_val(
        spark,
        [
            (1, 0, "view", 50),
            (1, 1, "view", 60),
            (1, 2, "view", 150),
            (1, 3, "view", 40),
            (1, 4, "purchase", 10),
        ],
    )
    out = compile_pattern(df, _until_pat()).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_v == 1  # only the post-stop view run is consumed
    assert r.start_ts == T0 + dt.timedelta(minutes=3)


def test_until_stop_event_breaks_contiguity_to_next_step(spark):
    # view(50) view(150=STOP) purchase: the purchase's immediate
    # predecessor is the stop event, not a view run -> no match
    # (Flink: the until-terminating event would itself have to match
    # the next step, and it is a view, not a purchase).
    df = _events_val(
        spark,
        [(1, 0, "view", 50), (1, 1, "view", 150), (1, 2, "purchase", 5)],
    )
    assert compile_pattern(df, _until_pat()).collect() == []


def test_until_without_stop_events_is_plain_oneormore(spark):
    df = _events_val(
        spark,
        [
            (1, 0, "view", 10),
            (1, 1, "view", 20),
            (1, 2, "purchase", 5),
        ],
    )
    out = compile_pattern(df, _until_pat()).collect()
    assert len(out) == 1 and out[0].n_v == 2


def test_until_validation():
    # bounded quantifier rejected (Flink: until needs a looping step)
    with pytest.raises(ValueError, match="unbounded"):
        Pattern(
            steps=(
                Step("v", "view", 1, 3, until=(">", 100.0)),
                Step("p", "purchase"),
            ),
        )
    # alternation step cannot carry until
    with pytest.raises(ValueError, match="alternation"):
        Pattern(
            steps=(
                Step("v", ("view", "click"), 1, None, until=(">", 1.0)),
                Step("p", "purchase"),
            ),
        )
    # the until class may not appear in another step
    with pytest.raises(ValueError, match="function on classes"):
        Pattern(
            steps=(
                Step("a", "view", 1, None, until=(">", 1.0)),
                Step("b", "click", 1, None),
                Step("c", "view", 1, None),
            ),
        )
    # bad comparator
    with pytest.raises(ValueError, match="until cmp"):
        Step("v", "view", 1, None, until=("!=", 1.0))


def test_compile_greedy_rejects_unresolved_until(spark):
    df = _events_val(spark, [(1, 0, "view", 1), (1, 1, "purchase", 1)])
    with pytest.raises(ValueError, match="apply_until"):
        compile_greedy(df, _until_pat())


def test_suffix_rejects_final_step_exact(spark):
    # ADVICE r14: exact on the FINAL step needs a one-event lookahead
    # the per-event suffix anchor does not have — explicit rejection,
    # not silent compilation, in BOTH compilers.
    from flink_large_window_spark.streaming.cep_stream import (
        compile_suffix_stream,
    )

    pat = _pat(
        [Step("c", "click", 2, 2), Step("p", "purchase", 1, 1, exact=True)],
        within=6,
    )
    df = _events(spark, [(1, 0, "click"), (1, 1, "click"), (1, 2, "purchase")])
    with pytest.raises(ValueError, match="FINAL step"):
        compile_suffix(df, pat)
    with pytest.raises(ValueError, match="FINAL step"):
        compile_suffix_stream(pat)


# ---------------------------------------------------------- repeat_group

def test_repeat_group_expansion_and_match(spark):
    from flink_large_window_spark.operators.cep import repeat_group

    steps = repeat_group((Step("v", "view"), Step("c", "click")), 2)
    assert [s.name for s in steps] == ["v_r1", "c_r1", "v_r2", "c_r2"]
    # (view click){2}: matches only the full alternation
    df = _events(
        spark,
        [
            (1, 0, "view"), (1, 1, "click"), (1, 2, "view"),
            (1, 3, "click"),
            # user 2: only one occurrence — no match
            (2, 0, "view"), (2, 1, "click"),
        ],
    )
    out = compile_pattern(df, _pat(steps, within=72)).collect()
    assert len(out) == 1
    assert out[0].user_id == 1 and out[0].anchor_id == 3
    assert out[0].start_ts == T0


def test_repeat_group_guard_remaps_per_occurrence(spark):
    from flink_large_window_spark.operators.cep import repeat_group

    steps = repeat_group(
        (
            Step("v", "view"),
            Step("c", "click", guard=Guard("first", ">", "v", "first")),
        ),
        2,
    )
    # each occurrence's click guard references ITS OWN view
    assert steps[1].guard.ref_step == "v_r1"
    assert steps[3].guard.ref_step == "v_r2"
    # and Pattern validation accepts the remapped references
    Pattern(steps=steps)


def test_repeat_group_validation():
    from flink_large_window_spark.operators.cep import repeat_group

    with pytest.raises(ValueError, match="times >= 1"):
        repeat_group((Step("v", "view"),), 0)
    with pytest.raises(ValueError, match="fixed quantifiers"):
        repeat_group((Step("v", "view", 1, None),), 2)
    with pytest.raises(ValueError, match="fixed quantifiers"):
        repeat_group((Step("v", "view", 0, 1),), 2)
    with pytest.raises(ValueError, match="cannot contain"):
        repeat_group(
            (Step("v", "view", 1, None, until=(">", 1.0)),), 2
        )
    with pytest.raises(ValueError, match="inside the group"):
        repeat_group(
            (Step("c", "click", guard=Guard("first", ">", "x", "max")),),
            2,
        )


def test_final_single_exact_routes_to_greedy_anchor_cap(spark):
    # review r15: all-fixed pattern with a final (1,1,exact=True)
    # step must compile (greedy anchor cap = "an ISOLATED final
    # event"), not hit compile_suffix's final-exact rejection.
    df = _events(
        spark,
        [
            # user 1: click click purchase (isolated) -> match
            (1, 0, "click"), (1, 1, "click"), (1, 2, "purchase"),
            # user 2: click click purchase purchase (run of 2) -> no
            (2, 0, "click"), (2, 1, "click"),
            (2, 2, "purchase"), (2, 3, "purchase"),
        ],
    )
    pat = _pat(
        [Step("c", "click", 2, 2), Step("p", "purchase", 1, 1, exact=True)],
        within=6,
    )
    out = compile_pattern(df, pat).collect()
    assert [r.user_id for r in out] == [1]
