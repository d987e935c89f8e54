"""Seeded randomized sweep for the generic CEP compiler: hundreds of
random event streams (one per user, all in ONE DataFrame so each
pattern costs one Spark job) compared cell-for-cell against a
brute-force Python reference matcher. This is the compiler's
generality evidence beyond the six registered fixtures — the
reference implements the documented semantics directly (maximal runs
for greedy, per-event suffix with optional exactness for suffix), so
any divergence is a compiler bug, not a spec ambiguity.

Deterministic: numpy PCG64 with a fixed seed; streams are regenerated
identically every run.
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

import numpy as np

from flink_large_window_spark.operators.cep import (
    GUARD_CMPS,
    Guard,
    Pattern,
    Step,
    compile_greedy,
    compile_suffix,
    repeat_group,
)

T0 = dt.datetime(2024, 1, 1)
# None included: NULL event types must form their own runs (Spark
# window partitioning and GROUP BY treat NULL as one group, matching
# the Python reference's equality-run encoding) and never equal a
# step class.
CLASSES = ["view", "click", "purchase", "error", None]


def _random_streams(n_users: int, max_len: int, seed: int):
    """One stream per user: (user_id, ts, event_id, event_type, value)
    with ts strictly increasing per user (minute grid with random gaps
    up to ~9 hours, so within-bounds are genuinely exercised). value
    is a small random float on a 0.25 grid — exactly representable in
    binary, so guard comparisons can't straddle float noise."""
    rng = np.random.default_rng(seed)
    rows = []
    eid = 0
    for u in range(n_users):
        m = 0
        for _ in range(int(rng.integers(1, max_len + 1))):
            m += int(rng.integers(1, 540))
            rows.append(
                (u, T0 + dt.timedelta(minutes=m), eid,
                 CLASSES[int(rng.integers(0, len(CLASSES)))],
                 float(rng.integers(0, 40)) / 4.0)
            )
            eid += 1
    return rows


def _df(spark, rows):
    return spark.createDataFrame(
        rows,
        "user_id long, ts timestamp, event_id long, event_type string,"
        " value double",
    )


def _runs(evs):
    runs = []
    for e in evs:
        if runs and runs[-1][0] == e[3]:
            runs[-1][1].append(e)
        else:
            runs.append((e[3], [e]))
    return runs


def _guard_agg(vals, agg):
    return {
        "first": vals[0],
        "last": vals[-1],
        "min": min(vals),
        "max": max(vals),
        "sum": sum(vals),
    }[agg]


def _guards_ok(steps, events_by_step):
    """Evaluate every step's iterative condition over the matched
    events (the documented semantics: greedy aggregates range over
    the step's full maximal run, suffix over the fixed-count matched
    events — the caller passes whichever applies)."""
    for s in steps:
        if s.guard is None:
            continue
        g = s.guard
        this = _guard_agg([e[4] for e in events_by_step[s.name]], g.agg)
        ref = _guard_agg([e[4] for e in events_by_step[g.ref_step]], g.ref_agg)
        if not GUARD_CMPS[g.cmp](this, g.factor * ref):
            return False
    return True


def _ref_greedy(rows, pat: Pattern):
    """Reference maximal-run matcher: slide a len(steps) window over
    each user's run sequence; middle/first steps must consume their
    whole run, the final step anchors with run_len >= min. Guards
    evaluate over each step's full maximal run."""
    by_user = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_user[r[0]].append(r)
    steps = pat.steps
    k = len(steps)
    out = []
    for u, evs in by_user.items():
        runs = _runs(evs)
        for i in range(k - 1, len(runs)):
            win = runs[i - k + 1 : i + 1]
            ok = True
            for s, (cls, res) in zip(steps[:-1], win[:-1]):
                ok = ok and cls == s.cls and s.min_count <= len(res) and (
                    s.max_count is None or len(res) <= s.max_count
                )
            last = steps[-1]
            cls, res = win[-1]
            ok = ok and cls == last.cls and len(res) >= last.min_count
            if last.exact and last.max_count is not None:
                # final-step exactness: the anchor's MAXIMAL run is
                # itself capped (round 14) — same rule as middles
                ok = ok and len(res) <= last.max_count
            if ok and pat.within_hours is not None:
                ok = res[0][1] <= win[0][1][0][1] + dt.timedelta(
                    hours=pat.within_hours
                )
            if ok:
                ok = _guards_ok(
                    steps,
                    {s.name: r[1] for s, r in zip(steps, win)},
                )
            if ok:
                out.append(
                    (u, res[0][2])
                    + tuple(len(r[1]) for r in win[:-1])
                )
    return sorted(out)


def _ref_suffix(rows, pat: Pattern):
    """Reference per-event suffix matcher: anchor every event of the
    final class; walk backwards checking each fixed-count step, with
    the exact guard where requested."""
    by_user = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_user[r[0]].append(r)
    steps = pat.steps
    out = []
    for u, evs in by_user.items():
        for i, e in enumerate(evs):
            if e[3] not in steps[-1].clses():
                continue
            j = i - 1
            ok = True
            first_idx = i
            matched = {steps[-1].name: [e]}
            for s in reversed(steps[:-1]):
                idxs = []
                for _ in range(s.min_count):
                    if j < 0 or evs[j][3] not in s.clses():
                        ok = False
                        break
                    idxs.append(j)
                    first_idx = j
                    j -= 1
                if not ok:
                    break
                if s.exact and j >= 0 and evs[j][3] in s.clses():
                    ok = False
                    break
                matched[s.name] = [evs[x] for x in reversed(idxs)]
            if ok and pat.within_hours is not None:
                ok = e[1] <= evs[first_idx][1] + dt.timedelta(
                    hours=pat.within_hours
                )
            if ok:
                ok = _guards_ok(steps, matched)
            if ok:
                out.append((u, e[2]))
    return sorted(out)


def _canonicalize_ref(rows, pat: Pattern):
    """Python mirror of cep.canonicalize_alternation: relabel every
    member of a set-class step to the joined token in both the rows
    and the pattern, so the single-class reference matcher covers
    alternation too (a maximal run of the SET becomes a maximal run
    of one label — the exact semantics the compiler implements)."""
    tokens = {
        frozenset(s.clses()): "\x1f".join(sorted(s.clses()))
        for s in pat.steps
        if len(s.clses()) > 1
    }
    cls_map = {c: tok for cs, tok in tokens.items() for c in cs}
    rows2 = [
        (u, ts, eid, cls_map.get(cls, cls), val)
        for u, ts, eid, cls, val in rows
    ]
    steps2 = tuple(
        Step(s.name, tokens[frozenset(s.clses())], s.min_count,
             s.max_count, s.exact, s.guard)
        if len(s.clses()) > 1
        else s
        for s in pat.steps
    )
    return rows2, Pattern(steps=steps2, within_hours=pat.within_hours)


GREEDY_PATTERNS = [
    Pattern(
        steps=(
            Step("v", "view", 1, None),
            Step("c", "click", 1, 3),
            Step("p", "purchase", 1, None),
        ),
        within_hours=24,
    ),
    Pattern(
        steps=(Step("c", "click", 2, None), Step("p", "purchase", 1, None)),
        within_hours=48,
    ),
    Pattern(steps=(Step("e", "error", 2, None),)),
    Pattern(
        steps=(
            Step("a", "click", 1, 2),
            Step("b", "error", 1, 1),
            Step("c", "view", 1, None),
        ),
    ),
    # alternation under ranged/unbounded quantifiers (round 11 —
    # VERDICT r10 directive 2): set-class steps canonicalized to one
    # token before the runs encoding, mirrored in the reference by
    # _canonicalize_ref
    Pattern(
        steps=(
            Step("eng", ("view", "click"), 1, None),
            Step("p", "purchase", 1, None),
        ),
        within_hours=24,
    ),
    Pattern(
        steps=(
            Step("eng", ("view", "click"), 1, 2),
            Step("e", "error", 1, None),
        ),
    ),
    Pattern(
        steps=(
            Step("e", "error", 1, 1),
            Step("any", ("view", "click", "purchase"), 2, 4),
            Step("e2", "error", 1, None),
        ),
        within_hours=48,
    ),
    # FINAL-step exactness (round 14): the anchor run itself is a
    # maximal run of exactly min..max — the close-emission semantics
    # whose streaming twin defers to anchor-run close; here the batch
    # compiler's run_len <= max cap is what the reference mirrors
    Pattern(
        steps=(
            Step("v", "view", 1, None),
            Step("c", "click", 1, 2, exact=True),
        ),
        within_hours=24,
    ),
    Pattern(
        steps=(
            Step("e", "error", 1, 1),
            Step("p", "purchase", 2, 3, exact=True),
        ),
    ),
    # iterative conditions (round 12 — VERDICT r11 directive 2):
    # guards over previously-matched events' values, each exercising a
    # different (agg, cmp, ref_agg) combination; the reference
    # evaluates them over the same maximal runs via _guards_ok
    Pattern(
        steps=(
            Step("v", "view", 1, None),
            Step("p", "purchase", 1, None,
                 guard=Guard("first", ">", "v", "max")),
        ),
        within_hours=24,
    ),
    Pattern(
        steps=(
            Step("c", "click", 1, None),
            Step("p", "purchase", 1, None,
                 guard=Guard("max", "<=", "c", "sum")),
        ),
    ),
    Pattern(
        steps=(
            Step("v", "view", 1, 3),
            Step("c", "click", 1, None,
                 guard=Guard("min", "<", "v", "first", factor=2.0)),
            Step("e", "error", 1, None,
                 guard=Guard("sum", ">=", "c", "last")),
        ),
        within_hours=48,
    ),
]

SUFFIX_PATTERNS = [
    Pattern(
        steps=(Step("c", "click", 2, 2), Step("p", "purchase")),
        within_hours=6,
    ),
    Pattern(
        steps=(Step("c", "click", 2, 2, exact=True), Step("p", "purchase")),
        within_hours=6,
    ),
    Pattern(
        steps=(
            Step("v", "view", 1, 1),
            Step("c", "click", 1, 1, exact=True),
            Step("p", "purchase"),
        ),
        within_hours=72,
    ),
    # alternation (tuple cls): any two engagement events then a
    # purchase, with the exact guard over the SET
    Pattern(
        steps=(
            Step("eng", ("click", "view"), 2, 2, exact=True),
            Step("p", "purchase"),
        ),
        within_hours=48,
    ),
    # iterative condition over a fixed-count suffix step: the anchor's
    # value against the min of the two counted clicks
    Pattern(
        steps=(
            Step("c", "click", 2, 2),
            Step("p", "purchase",
                 guard=Guard("first", "<", "c", "min")),
        ),
        within_hours=48,
    ),
]


def test_greedy_matches_reference_on_random_streams(spark):
    rows = _random_streams(n_users=300, max_len=14, seed=7)
    df = _df(spark, rows)
    for pat in GREEDY_PATTERNS:
        got = sorted(
            (r["user_id"], r["anchor_first_id"])
            + tuple(int(r[f"n_{s.name}"]) for s in pat.steps[:-1])
            for r in compile_greedy(df, pat).collect()
        )
        # the reference matcher is single-class; apply the same
        # canonical relabeling the compiler applies (no-op for
        # single-class patterns)
        want = _ref_greedy(*_canonicalize_ref(rows, pat))
        assert got == want, f"greedy divergence for {pat.steps}"
        # the sweep must actually exercise the pattern
        assert len(want) > 0, f"degenerate sweep (0 matches) for {pat.steps}"


def test_suffix_matches_reference_on_random_streams(spark):
    # denser, clickier streams so 2-click suffixes occur
    rng_rows = _random_streams(n_users=300, max_len=14, seed=11)
    # bias: duplicate clicks by rewriting every 'error' after a click
    # into another click (keeps determinism, raises run lengths)
    rows = []
    prev_by_user: dict[int, str] = {}
    for u, ts, eid, cls, val in rng_rows:
        if cls == "error" and prev_by_user.get(u) == "click":
            cls = "click"
        rows.append((u, ts, eid, cls, val))
        prev_by_user[u] = cls
    df = _df(spark, rows)
    for pat in SUFFIX_PATTERNS:
        got = sorted(
            (r["user_id"], r["anchor_id"])
            for r in compile_suffix(df, pat).collect()
        )
        want = _ref_suffix(rows, pat)
        assert got == want, f"suffix divergence for {pat.steps}"
        assert len(want) > 0, f"degenerate sweep (0 matches) for {pat.steps}"


def test_guard_patterns_genuinely_prune():
    """The guard sweep must discriminate: each guarded pattern's
    reference match set is strictly smaller than its unguarded twin's
    on the same streams (else the sweep would pass vacuously with a
    guard compiled as `true`)."""
    rows = _random_streams(n_users=300, max_len=14, seed=7)
    for pat in GREEDY_PATTERNS:
        if not any(s.guard for s in pat.steps):
            continue
        bare = Pattern(
            steps=tuple(
                Step(s.name, s.cls, s.min_count, s.max_count, s.exact)
                for s in pat.steps
            ),
            within_hours=pat.within_hours,
        )
        n_guarded = len(_ref_greedy(rows, pat))
        n_bare = len(_ref_greedy(rows, bare))
        assert 0 < n_guarded < n_bare, (
            f"guard not discriminating for {pat.steps}: "
            f"{n_guarded} vs {n_bare}"
        )


def _ref_skip(rows, mn, mx, mode):
    """Reference sub-match enumerator for the after-match skip
    strategies over pattern click{mn,mx} purchase+ (no within): the
    first run needs len >= mn only (the max bounds CONSUMED events),
    then enumerate (start_off, consumed) per the mode."""
    by_user = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_user[r[0]].append(r)
    out = []
    for u, evs in by_user.items():
        runs = _runs(evs)
        for i in range(1, len(runs)):
            (c0, r0), (c1, r1) = runs[i - 1], runs[i]
            if c1 != "purchase" or c0 != "click" or len(r0) < mn:
                continue
            for p in range(1, len(r0) - mn + 2):
                greedy_len = min(mx, len(r0) - p + 1)
                if mode == "to_next":
                    out.append((u, r1[0][2], p, greedy_len))
                else:  # no_skip
                    out.extend(
                        (u, r1[0][2], p, l)
                        for l in range(mn, greedy_len + 1)
                    )
    return sorted(out)


def test_skip_strategies_match_reference_on_random_streams(spark):
    rows = _random_streams(n_users=300, max_len=14, seed=23)
    df = _df(spark, rows)
    for mode in ("to_next", "no_skip"):
        pat = Pattern(
            steps=(
                Step("c", "click", 2, 4),
                Step("p", "purchase", 1, None),
            ),
            skip=mode,
        )
        got = sorted(
            (r["user_id"], r["anchor_first_id"], r["start_off"], r["n_c"])
            for r in compile_greedy(df, pat).collect()
        )
        want = _ref_skip(rows, 2, 4, mode)
        assert got == want, f"skip divergence for {mode}"
        assert len(want) > 0, f"degenerate sweep (0 matches) for {mode}"
    # the modes must differ on these streams (no_skip ⊋ to_next)
    assert _ref_skip(rows, 2, 4, "no_skip") != _ref_skip(rows, 2, 4, "to_next")


# ---------------------------------------------------------------------------
# Round 13: the extension COMPOSITIONS (optional x guard, skip x
# guard, optional x skip, and the triple) against an INDEPENDENT
# reference — the variant expansion and sub-match enumeration are
# re-implemented here from the documented semantics (not by calling
# expand_optional), so a bug in the compiler's composition machinery
# cannot hide in a shared helper.

import itertools
from dataclasses import replace as _replace

from flink_large_window_spark.operators.cep import compile_pattern


def _ref_greedy_named(rows, pat: Pattern, lift_first_max: bool = False):
    """Maximal-run matcher returning (user, anchor_first_id,
    {step_name: run_len}); ``lift_first_max`` applies the
    skip-strategy candidacy rule (the first step's max bounds
    CONSUMED counts, not the run)."""
    by_user = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_user[r[0]].append(r)
    steps = pat.steps
    k = len(steps)
    out = []
    for u, evs in by_user.items():
        runs = _runs(evs)
        for i in range(k - 1, len(runs)):
            win = runs[i - k + 1 : i + 1]
            ok = True
            for j, (s, (cls, res)) in enumerate(zip(steps[:-1], win[:-1])):
                ok = ok and cls == s.cls and s.min_count <= len(res)
                if s.max_count is not None and not (
                    lift_first_max and j == 0
                ):
                    ok = ok and len(res) <= s.max_count
            last = steps[-1]
            cls, res = win[-1]
            ok = ok and cls == last.cls and len(res) >= last.min_count
            if last.exact and last.max_count is not None:
                # final-step exactness: the anchor's MAXIMAL run is
                # itself capped (round 14) — same rule as middles
                ok = ok and len(res) <= last.max_count
            if ok and pat.within_hours is not None:
                ok = res[0][1] <= win[0][1][0][1] + dt.timedelta(
                    hours=pat.within_hours
                )
            if ok:
                ok = _guards_ok(
                    steps, {s.name: r[1] for s, r in zip(steps, win)}
                )
            if ok:
                out.append(
                    (u, res[0][2],
                     {s.name: len(r[1]) for s, r in zip(steps, win)})
                )
    return out


def _ref_composed(rows, pat: Pattern):
    """Reference for composed patterns: independent present/absent
    enumeration over optional steps (a guard ON a dropped step is
    dropped with it; a guard REFERENCING a dropped step kills the
    variant), then per-variant maximal-run matching, then the
    after-match sub-match enumeration over the first step's run."""
    opts = [i for i, s in enumerate(pat.steps) if s.min_count == 0]
    first = pat.steps[0]
    expand = pat.skip != "past_last"
    out = []
    for mask in itertools.product((True, False), repeat=len(opts)):
        present = {i for i, keep in zip(opts, mask) if keep}
        vsteps, dropped = [], []
        for i, s in enumerate(pat.steps):
            if s.min_count == 0 and i not in present:
                dropped.append(s.name)
            elif s.min_count == 0:
                vsteps.append(_replace(s, min_count=1))
            else:
                vsteps.append(s)
        if any(
            s.guard is not None and s.guard.ref_step in dropped
            for s in vsteps
        ):
            continue
        v = _replace(pat, steps=tuple(vsteps))
        for u, aid, counts in _ref_greedy_named(
            rows, v, lift_first_max=expand
        ):
            base = tuple(counts.get(s.name, 0) for s in pat.steps[:-1])
            if not expand:
                out.append((u, aid) + base)
                continue
            l1 = counts[first.name]
            rest = base[1:]
            for off in range(1, l1 - first.min_count + 2):
                greedy = l1 - off + 1
                if first.max_count is not None:
                    greedy = min(greedy, first.max_count)
                if pat.skip == "to_next":
                    out.append((u, aid, off, greedy) + rest)
                else:
                    for n in range(first.min_count, greedy + 1):
                        out.append((u, aid, off, n) + rest)
    return sorted(out)


COMPOSED_PATTERNS = [
    # guard ON the optional step (absent variant matches unguarded)
    Pattern(
        steps=(
            Step("v", "view", 1, None),
            Step("c", "click", 0, 1,
                 guard=Guard("first", ">", "v", "min")),
            Step("p", "purchase", 1, None),
        ),
        within_hours=24,
    ),
    # guard REFERENCING the optional step (absent variant is killed)
    Pattern(
        steps=(
            Step("v", "view", 1, 2),
            Step("c", "click", 0, 2),
            Step("p", "purchase", 1, None,
                 guard=Guard("first", "<", "c", "sum")),
        ),
        within_hours=48,
    ),
    # skip x guard, both policies
    Pattern(
        steps=(
            Step("c", "click", 2, 4),
            Step("p", "purchase", 1, None,
                 guard=Guard("first", ">", "c", "max")),
        ),
        skip="to_next",
    ),
    Pattern(
        steps=(
            Step("v", "view", 1, 3),
            Step("e", "error", 1, None,
                 guard=Guard("max", ">=", "v", "first")),
        ),
        skip="no_skip",
    ),
    # optional x skip (non-optional first step)
    Pattern(
        steps=(
            Step("v", "view", 2, 4),
            Step("c", "click", 0, 1),
            Step("p", "purchase", 1, None),
        ),
        skip="to_next",
    ),
    # the TRIPLE: optional + guard + skip in one pattern
    Pattern(
        steps=(
            Step("v", "view", 2, 3),
            Step("c", "click", 0, 1,
                 guard=Guard("first", "<", "v", "max")),
            Step("p", "purchase", 1, None),
        ),
        skip="no_skip",
    ),
]


def test_composed_matches_reference_on_random_streams(spark):
    rows = _random_streams(n_users=300, max_len=14, seed=31)
    df = _df(spark, rows)
    for pat in COMPOSED_PATTERNS:
        m = compile_pattern(df, pat)
        names = [s.name for s in pat.steps[:-1]]
        if pat.skip == "past_last":
            got = sorted(
                (r["user_id"], r["anchor_first_id"])
                + tuple(int(r[f"n_{n}"]) for n in names)
                for r in m.collect()
            )
        else:
            got = sorted(
                (r["user_id"], r["anchor_first_id"], int(r["start_off"]),
                 int(r[f"n_{names[0]}"]))
                + tuple(int(r[f"n_{n}"]) for n in names[1:])
                for r in m.collect()
            )
        want = _ref_composed(rows, pat)
        assert got == want, (
            f"{pat}: extra={sorted(set(got) - set(want))[:3]} "
            f"missing={sorted(set(want) - set(got))[:3]}"
        )
        # non-vacuous: the generated streams must actually exercise
        # each composed pattern
        assert want, f"composed pattern produced zero matches: {pat}"


# ---------------------------------------------------------------------------
# Round 13: the horizon-pair family (followedByAny, middle negation)
# and the timed-out-partials side output against brute-force
# references — the DuckDB oracles prove Spark and DuckDB agree on the
# SQL; these prove the SQL means what the Flink semantics say, via
# the dumbest possible O(n^2) per-user enumeration.

from flink_large_window_spark.operators.cep import (
    compile_horizon_pairs,
    compile_timeout_partials,
)


def _ref_pairs(rows, anchor, target, horizon_us, blocker=None):
    by_user = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_user[r[0]].append(r)
    out = []
    for u, evs in by_user.items():
        pos = [(int(e[1].timestamp() * 1e6), e[2], e[3]) for e in evs]
        for a_us, a_id, a_cls in pos:
            if a_cls != anchor:
                continue
            for t_us, t_id, t_cls in pos:
                if t_cls != target:
                    continue
                if not (a_us < t_us <= a_us + horizon_us):
                    continue
                if blocker is not None and any(
                    c == blocker and (a_us, a_id) < (us, i) < (t_us, t_id)
                    for us, i, c in pos
                ):
                    continue
                out.append((u, a_id, t_id, t_us - a_us))
    return sorted(out)


def _ref_timeouts(rows, first, second, third, horizon_us):
    by_user = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        by_user[r[0]].append(r)
    out = []
    for u, evs in by_user.items():
        pos = [(int(e[1].timestamp() * 1e6), e[2], e[3]) for e in evs]
        for i, (v_us, v_id, v_cls) in enumerate(pos):
            if v_cls != first:
                continue
            deadline = v_us + horizon_us
            fc = next(
                (p for p in pos[i + 1:] if p[2] == second), None
            )
            if fc is None or fc[0] > deadline:
                out.append((u, v_id, 1, deadline))
                continue
            j = pos.index(fc)
            fp = next(
                (p for p in pos[j + 1:] if p[2] == third), None
            )
            if fp is None or fp[0] > deadline:
                out.append((u, v_id, 2, deadline))
    return sorted(out)


def test_pairs_and_timeouts_match_bruteforce_on_random_streams(spark):
    rows = _random_streams(n_users=250, max_len=14, seed=53)
    df = _df(spark, rows)
    h = 12 * 3600 * 1_000_000

    m = compile_horizon_pairs(
        df, anchor_cls="click", target_cls="purchase", hours=12
    )
    got = sorted(
        (r["user_id"], r["anchor_id"], r["target_id"], r["gap_us"])
        for r in m.collect()
    )
    want = _ref_pairs(rows, "click", "purchase", h)
    assert got == want and want

    m2 = compile_horizon_pairs(
        df, anchor_cls="click", target_cls="purchase", hours=12,
        not_between_cls="error",
    )
    got2 = sorted(
        (r["user_id"], r["anchor_id"], r["target_id"], r["gap_us"])
        for r in m2.collect()
    )
    want2 = _ref_pairs(rows, "click", "purchase", h, blocker="error")
    assert got2 == want2 and want2
    assert len(want2) < len(want), "negation never fired"

    m3 = compile_timeout_partials(
        df, first_cls="view", second_cls="click",
        third_cls="purchase", hours=12,
    )
    got3 = sorted(
        (r["user_id"], r["start_event"], r["n_matched"], r["deadline_us"])
        for r in m3.collect()
    )
    want3 = _ref_timeouts(rows, "view", "click", "purchase", h)
    assert got3 == want3
    assert {n for _, _, n, _ in want3} == {1, 2}, "both stall depths"


def test_repeat_group_matches_reference_on_alternating_streams(spark):
    """round 15: a repeat_group expansion — (view click){2} — must be
    indistinguishable from the equivalent hand-flattened fixed pattern
    on random streams (the group construct is compile-time sugar).
    The 5-class uniform streams almost never produce a strict
    v,c,v,c suffix, so the alphabet is folded to {view, click, NULL}
    (view|error→view, click|purchase→click, NULL kept for null-run
    coverage) — alternations become common while the stream stays
    seeded-random."""
    rng_rows = _random_streams(n_users=200, max_len=14, seed=29)
    fold = {"view": "view", "error": "view",
            "click": "click", "purchase": "click", None: None}
    rows = [(u, ts, eid, fold[cls], val)
            for u, ts, eid, cls, val in rng_rows]
    pat = Pattern(
        steps=repeat_group((Step("v", "view"), Step("c", "click")), 2),
        within_hours=48,
    )
    df = _df(spark, rows)
    got = sorted(
        (r["user_id"], r["anchor_id"])
        for r in compile_suffix(df, pat).collect()
    )
    want = _ref_suffix(rows, pat)
    assert got == want, f"group-expansion divergence: {got[:3]} {want[:3]}"
    assert len(want) > 0, "degenerate sweep (0 matches)"
    # and the flattened-by-hand twin is literally the same spec
    flat = Pattern(
        steps=(
            Step("v_r1", "view"), Step("c_r1", "click"),
            Step("v_r2", "view"), Step("c_r2", "click"),
        ),
        within_hours=48,
    )
    assert flat.steps == pat.steps
