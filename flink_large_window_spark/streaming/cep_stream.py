"""Generic STREAMING CEP: compile any batch ``Pattern`` spec
(operators/cep.py) into an incremental keyed-state automaton.

Flink analogue: CEP's event-time NFA ([FLINK-API] public surface per
SURVEY §0 — the reference snapshot is empty), which detects a pattern
INCREMENTALLY with keyed state. Spark has no built-in operator for
this (window functions are unsupported on streams), so the automaton
runs in ``applyInPandasWithState``, compiled from the same
Step/Pattern structures the batch strategies use, so the
watermark-buffered fold works for any
greedy-strategy pattern — alternation included (the canonical
relabeling is a row-local expression, applied to the stream exactly
as to a batch relation). Each streaming twin compiles its batch key's
module-level spec (``operators.cep.MATCH_RECOGNIZE`` and its
siblings), so the two engines read one declaration.

How the compiled automaton works (per key):

- **Watermark buffer** (Flink CEP's buffering rule): arriving events
  are appended to a per-key buffer and fold into the run structure
  only once the watermark passes them, in full (ts, order_id)
  event-time order ACROSS batches; a timer at the earliest held event
  re-folds. The fold rule, its exact-ms tie residual and the timer
  clamp are the keyed kernel's (keyed.py module docstring).
- **Run window**: the last ``len(steps) − 1`` CLOSED maximal runs
  (class, length, start) plus the current open run — the streaming
  image of the batch greedy strategy's runs relation restricted to
  the lag frame it actually reads. NULL classes form their own runs
  (cur_len, not cur_cls, is the open-run flag).
- **Candidacy at anchor-run open**: when a run of the FINAL step's
  class opens, the closed-run window is checked against
  ``steps[:-1]`` (class equality, min ≤ len ≤ max) and the within
  bound — all fixed from that instant, because strict contiguity
  means nothing can extend a closed run. The candidate emits once
  the anchor run reaches ``min_count`` folded events (immediately at
  open for the common ``min_count=1``); the watermark has necessarily
  passed that event.

Compilable subset (validated by :func:`compile_stream`): any
greedy-strategy pattern — ranged/unbounded quantifiers, alternation,
NULL-safe runs, within bounds — plus each of the batch compiler's
extensions individually:

- **iterative-condition guards**: non-final guards with any aggregate
  (their runs are CLOSED at candidacy) and final-step guards
  aggregating with ``first`` (the one anchor aggregate fixed the
  instant the run opens). Guarded patterns carry the five per-run
  value aggregates in the extended state schema
  (:data:`STREAM_STATE_SCHEMA_VAL`); unguarded patterns keep the base
  schema byte-identical.
- **optional steps** (``min_count=0``, non-final): no automaton union
  — expand_optional's variants are mutually exclusive per anchor, so
  candidacy tries each variant's step list against the same
  closed-run window suffix (pattern_match_optional_stream).
- **after-match skip strategies** (to_next / no_skip): every
  (start_off, consumed-length) sub-match is fixed by the closed first
  run at anchor open, so the enumeration happens emit-locally — the
  incremental image of compile_greedy's row-local explode
  (pattern_match_afterskip_stream).
- **guards × optional steps** and **guards × skip strategies**:
  guard specs compile
  PER-VARIANT with indices remapped into each variant's own step
  positions (the incremental image of the batch compiler re-running
  compile_greedy per expanded variant); a guard ON a dropped optional
  step leaves that variant matching unguarded with NULL guard
  measures, exactly the batch union's fill-in
  (pattern_match_optional_guard_stream). Skip expansion is emission-
  local and guard aggregates range over maximal runs in both modes
  (the batch contract), so the two compose orthogonally
  (pattern_match_skipguard_stream).

- **final-step guards with any aggregate but 'first'** and
  **exact=True on the final step**: both range over the MAXIMAL
  anchor run, so
  the automaton moves THESE patterns' emission boundary from
  anchor-run OPEN to anchor-run CLOSE (the next different-class
  event on the key), where the run's length and value aggregates are
  settled facts — the deferral the absence machine has always used.
  Candidacy at run open still pins the window (pend blocks eviction);
  the deferred final-step guard and exact bounds are re-checked at
  the closing fold, and the closed anchor's maximal length joins the
  emission as ``n_<last>``. A run never closed by a different-class
  event never emits (pattern_detect_times_exact_stream,
  pattern_match_finalguard_stream).

No semantic rejections remain: every batch-compilable greedy pattern
now compiles for the stream (an optional FIRST step under a skip
strategy is rejected by Pattern itself, for both engines, because
the expansion base would differ per variant).

- **until stop conditions** (Flink ``oneOrMore().until(cond)``):
  resolved BEFORE the machine by the
  same row-local relabel the batch compiler uses
  (``operators.cep.apply_until``, called by :func:`pattern_stream`):
  stop events arrive as a private synthetic class that closes the
  open run like any class change, so the automaton itself is
  untouched — zero new state, zero new machinery
  (pattern_detect_until_stream). compile_stream rejects an
  UNRESOLVED until explicitly (it would silently consume stop
  events into runs).

The module's SECOND machine, :func:`compile_suffix_stream`, streams
the batch SUFFIX strategy — per-EVENT anchoring over
fixed-count steps, where the run-fold machine's compression is
exactly wrong (a purchase inside a longer click run matches via its
last-2-clicks suffix; the run window has no per-event positions). A
bounded window of the last W folded events (W = pattern event length
− 1, compile-time constant) decides each anchor at its own fold;
with it, EVERY batch CEP shape has a streaming twin
(pattern_detect_cep_stream).

Every machine here runs on keyed.py: one launcher
(:func:`keyed.keyed_fold`), one state/event codec, and two kernels
that own the per-group protocol. The run-fold and suffix automata
above are fold steps on the hold-buffer kernel
(:func:`keyed.fold_machine`: ingest, the fold rule, the hold-buffer
write-back, the re-fold timer and the emission frame). The
pending-state machines below (absence / preceding-horizon count,
pairs ± blocker, timed-out partials) are resolve rules on the settle
kernel (:func:`keyed.settle_machine`: class routing, the settle rule,
the eviction floor, the clamped deadline timer and the frame).

Scale: state per key is O(pattern length) for the run window plus
O(events inside the watermark delay) for the buffer — the same bound
Flink CEP's event-time NFA keeps. No joins, no window state; the one
shuffle is the groupBy(key). Handlers never remove state mid-stream
(a run must survive batches in which its key is silent); a
long-running deployment layers an idle-key TTL on top — demonstrated
by stateful_session_ttl_stream (streams.py).
"""

from __future__ import annotations

import bisect
from itertools import repeat

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.cep import (
    CLS_COL,
    DETECT_GROUP_TIMES,
    DETECT_TIMES_EXACT,
    DETECT_UNTIL,
    DETECT_VALUE_GUARD,
    GUARD_CMPS,
    ID_COL,
    KEY_COL,
    MATCH_AFTERSKIP,
    MATCH_ALTERNATION,
    MATCH_FINALGUARD,
    MATCH_OPTIONAL,
    MATCH_OPTIONAL_GUARD,
    MATCH_OPTIONAL_SKIP,
    MATCH_RECOGNIZE,
    MATCH_SKIPGUARD,
    TS_COL,
    VAL_COL,
    Pattern,
    Step,
    apply_until,
    canonicalize_alternation,
    expand_optional,
)
from ..operators.window_functions import DETECT_CEP, DETECT_ONEORMORE
from ..registry import query
from ..scratch import scratch_dir
from .keyed import (
    Machine,
    dec_cls,
    dec_val,
    dump_events,
    enc_cls,
    enc_nul,
    enc_val,
    fold_machine,
    keyed_fold,
    load_events,
    settle_machine,
)
from .streams import _events_stream
from .twins import (
    PATTERN_END_US,
    PATTERN_US,
    event_us,
    folded,
    settled,
    twin_oracle,
)

#: Generic automaton state: the closed-run window (arrays, most recent
#: last, bounded at len(steps)-1), the current open run, the anchor
#: pending flag, and the watermark buffer. One schema for every
#: compiled pattern — array lengths, not column counts, carry K.
STREAM_STATE_SCHEMA = StructType(
    [
        StructField("win_cls", ArrayType(StringType())),
        StructField("win_nul", ArrayType(LongType())),
        StructField("win_len", ArrayType(LongType())),
        StructField("win_start", ArrayType(LongType())),
        StructField("cur_cls", StringType()),
        StructField("cur_nul", LongType()),
        StructField("cur_len", LongType()),
        StructField("cur_start", LongType()),
        StructField("cur_first", LongType()),
        StructField("cur_pend", LongType()),
        StructField("buf_id", ArrayType(LongType())),
        StructField("buf_us", ArrayType(LongType())),
        StructField("buf_cls", ArrayType(StringType())),
        StructField("buf_nul", ArrayType(LongType())),
    ]
)


#: Extension of STREAM_STATE_SCHEMA for GUARDED patterns: per-run
#: value aggregates (first/last/min/max/sum — the same five
#: runs_relation computes) for the closed-run window, the open run,
#: and the watermark buffer's raw values. NULL values are NaN-encoded
#: inside the double arrays (array elements survive the state store
#: either way; NaN is the unambiguous in-band choice because a real
#: NaN compares false in every guard exactly like SQL NULL).
#: Unguarded patterns keep the base schema.
STREAM_STATE_SCHEMA_VAL = StructType(
    list(STREAM_STATE_SCHEMA.fields)
    + [
        StructField("win_vf", ArrayType(DoubleType())),
        StructField("win_vl", ArrayType(DoubleType())),
        StructField("win_vmn", ArrayType(DoubleType())),
        StructField("win_vmx", ArrayType(DoubleType())),
        StructField("win_vsm", ArrayType(DoubleType())),
        StructField("cur_vf", DoubleType()),
        StructField("cur_vl", DoubleType()),
        StructField("cur_vmn", DoubleType()),
        StructField("cur_vmx", DoubleType()),
        StructField("cur_vsm", DoubleType()),
        StructField("buf_val", ArrayType(DoubleType())),
    ]
)

#: Guard aggregate -> slot in the per-run value-aggregate tuple, and
#: the slots' state-field suffixes (win_vf ... cur_vsm).
_VA_SLOT = {"first": 0, "last": 1, "min": 2, "max": 3, "sum": 4}
_VA = ("vf", "vl", "vmn", "vmx", "vsm")


def _emit_on_close(pat: Pattern) -> bool:
    """True when the pattern's FINAL step carries semantics that range
    over the MAXIMAL anchor run — ``exact`` (the run's total length
    must sit in [min, max]) or a non-``first`` guard aggregate (it
    reads the whole run's values). Such patterns move the emission
    boundary from anchor-run OPEN to anchor-run CLOSE (the next event
    of a different class on the key), where the maximal run is a
    settled fact — the same deferral the absence machine uses for its
    watermark-proved negations."""
    last = pat.steps[-1]
    # exact with max_count=None is a no-op in the batch compiler
    # (compile_greedy caps the anchor run only when a max exists), so
    # it must not shift the stream's emission boundary either: the
    # pattern is semantically the non-exact twin.
    return (last.exact and last.max_count is not None) or (
        last.guard is not None and last.guard.agg != "first"
    )


def stream_out_schema(pat: Pattern) -> StructType:
    """Emission schema for a compiled pattern: the key, the anchor
    run's first event id, one consumed-count measure per NON-final
    step (under the default run-OPEN emission the final step's
    maximal length is unknowable at emission time — the batch keys
    built on this twin likewise emit measures for steps[:-1] only;
    run-CLOSE patterns additionally emit ``n_<last>``, which their
    closed anchor run makes exact), for each guarded step the guard's
    two sides as ``g_<name>`` / ``g_<name>_ref`` (mirroring
    compile_greedy's emission), and the pattern's start/end
    timestamps in epoch µs."""
    fields = [
        StructField(KEY_COL, LongType()),
        StructField("anchor_event", LongType()),
    ]
    fields += [
        StructField(f"n_{s.name}", LongType()) for s in pat.steps[:-1]
    ]
    if _emit_on_close(pat):
        # run-CLOSE emission: the anchor run is closed by
        # the time the match emits, so its maximal length IS known —
        # emitted like compile_greedy's n_<last> measure
        fields.append(StructField(f"n_{pat.steps[-1].name}", LongType()))
    if pat.skip != "past_last":
        # sub-match expansion: 1-based offset of the sub-match's first
        # consumed event within the first step's run, and n_<first>
        # reinterpreted as the CONSUMED count (compile_greedy's
        # convention). pattern_start_us stays the FULL first run's
        # start — a sub-match's true start ts is not in the run window
        # (the same documented limit the batch runs relation has).
        fields.append(StructField("start_off", LongType()))
    for s in pat.steps:
        if s.guard is not None:
            fields.append(StructField(f"g_{s.name}", DoubleType()))
            fields.append(StructField(f"g_{s.name}_ref", DoubleType()))
    fields += [
        StructField("pattern_start_us", LongType()),
        StructField("pattern_end_us", LongType()),
    ]
    return StructType(fields)


def compile_stream(pat: Pattern, idle_evict: bool = False):
    """Compile a greedy-strategy Pattern into a run-fold step on
    :func:`keyed.fold_machine` (out schema, STREAM_STATE_SCHEMA or its
    guarded extension).

    The caller canonicalizes alternation on the stream FIRST (see
    :func:`pattern_stream`), so every ``Step.cls`` reaching the
    automaton is a single class string.

    ``idle_evict=True`` layers the stateful_session_ttl_stream
    idle-key eviction onto the automaton, with the pattern's
    ``within`` bound as the TTL (requires ``within_hours``). A key whose
    open run's within-deadline the watermark has STRICTLY passed
    (``(cur_start + within) // 1000 < wm_ms``), with no pending
    anchor and no held events, can no longer contribute its retained
    state to any future match — every retained run (the open run is
    the newest; the closed window is older still) would sit at or
    below the step-1 position of a future candidate, whose within
    check then fails by construction. Two eviction grades:

    - the open run's class is NOT a pattern class (or there is no
      open run): the state row is REMOVED outright — a separator run
      only ever occupies window slots it structurally fails, which a
      missing slot fails identically;
    - the open run's class IS a pattern class: the closed-run window
      is dropped but the open run's scalars survive as a STUB,
      because a future same-class event must EXTEND this run (strict
      contiguity has no time gaps) — full removal would restart the
      run with a fresh start timestamp and fabricate matches the
      batch oracle rejects on the merged run's true (old) start. The
      stub keeps exactly the fields that preserve that suppression:
      class, NULL flag, start (+ the value aggregates under guards).

    Eviction never touches a live partial: ``pend == 1`` (an anchor
    run awaiting min_count) blocks it, as does any held event and an
    unexpired within-deadline — pinned by
    tests/test_streaming_parity.py's idle-evict battery.

    **Residual state floor** ("idle keys evict" would overstate; this
    is what actually remains, and why each piece is correctness-forced
    rather than a TODO):

    - a STUB-bed pattern-class key retains its O(1) scalars FOREVER,
      with no timer re-armed: maximal-run contiguity has no time
      bound, so a same-class event arriving arbitrarily late still
      EXTENDS the stubbed run, and the stub's old start must survive
      to keep merged-run candidates failing ``within`` exactly as the
      batch oracle does. There is no instant at which full removal
      becomes provably safe, hence no follow-up timer to arm.
    - a ``pend == 1`` key retains its FULL window state, also with no
      TTL timer: the pending anchor run can reach ``min_count`` via
      same-class extensions arbitrarily late (``within`` bounds the
      match's START spread, not the anchor run's extension), at which
      point emission reads the closed-run window — so neither removal
      nor a stub downgrade (which drops that window) is ever sound
      while the run stays open. The run closes only when a
      different-class event arrives, and that event re-enters the
      handler anyway — a timer would buy nothing.

    So with eviction on, worst-case retained state is O(1) per idle
    key whose LAST event is pattern-class, plus full O(pattern
    length) windows for keys sitting on a live pending anchor — the
    semantic floor of maximal-run CEP, not an implementation gap.
    Keys whose last run is a separator class (the common idle shape)
    are removed outright.
    """
    last = pat.steps[-1]
    if last.min_count == 0:
        raise ValueError(
            "the final (anchor) step cannot be optional — a pattern "
            "must end on a concrete anchor run"
        )
    # optional x skip composes: Pattern itself rejects
    # an optional FIRST step under a skip strategy (the expansion
    # base would differ per variant), and with the first step pinned
    # non-optional every variant shares the same expansion step — the
    # emit-local enumeration reads the variant's own run lengths, so
    # nothing else changes (pattern_match_optional_skip_stream).
    # Final-step exact / non-'first' final guards range over the
    # maximal anchor run: both become decidable by moving
    # this pattern's emission boundary from anchor-run OPEN to
    # anchor-run CLOSE — see :func:`_emit_on_close`. Everything else
    # (candidacy, window, guards on closed runs) is unchanged; the
    # anchor's own length/aggregates are simply read after the run's
    # closing event folds instead of at its first event.
    emit_on_close = _emit_on_close(pat)
    if any(len(s.clses()) > 1 for s in pat.steps):
        raise ValueError(
            "canonicalize alternation on the stream before compiling "
            "(pattern_stream does this)"
        )
    if any(s.until is not None for s in pat.steps):
        raise ValueError(
            "resolve until stop conditions on the stream before "
            "compiling (apply_until — pattern_stream does this); an "
            "unresolved until would silently consume stop events"
        )
    if idle_evict and pat.within_hours is None:
        raise ValueError(
            "idle_evict uses the pattern's within bound as the state "
            "TTL — without one, retained runs stay matchable forever "
            "and no eviction instant is sound"
        )
    pattern_clses = frozenset(s.cls for s in pat.steps)

    # Plain-python spec (closure must pickle to executors without
    # dragging Pattern/Step class state along). Optional steps
    # compile as VARIANTS over the SAME closed-run window:
    # expand_optional's present/absent sub-patterns are mutually
    # exclusive per anchor under maximal-run contiguity (its batch
    # proof), so candidacy tries each variant's non-final step list
    # against the window suffix and at most one matches — no automaton
    # union, no extra state; the window is sized by the FULL step
    # list. A non-optional pattern is the one-variant special case.
    step_names = tuple(s.name for s in pat.steps[:-1])
    # After-match skip strategies: under to_next / no_skip
    # the FIRST step's max bounds the CONSUMED count, not the run
    # (compile_greedy's exact rule) — candidacy must not reject a
    # longer first run, so its max is lifted from the candidacy spec
    # and re-applied in emit()'s sub-match enumeration.
    skip_mode = pat.skip
    expand = skip_mode != "past_last" and len(pat.steps) > 1
    first = pat.steps[0]
    exp_min, exp_max = first.min_count, first.max_count

    def _mid_spec(v):
        return tuple(
            (
                s.cls,
                s.min_count,
                None if (expand and i == 0) else s.max_count,
            )
            for i, s in enumerate(v.steps[:-1])
        )

    # Guard emission order: one (g_<name>, g_<name>_ref) pair per
    # guarded step of the FULL pattern, in step order — the schema
    # every variant's rows share (a variant that DROPS a guarded
    # optional step emits NULL for its pair, the batch union's
    # convention).
    guard_names = tuple(s.name for s in pat.steps if s.guard is not None)

    def _variant_spec(v, dropped):
        """Per-variant compile: structural mids + VARIANT-LOCAL guard
        indices. Indexing into the full step list would be wrong the
        moment a variant drops an optional step; remapping
        into the variant's own step positions is exactly what the
        batch compiler does by re-running compile_greedy per variant
        (cep.py), expressed here as index translation because the
        automaton shares ONE closed-run window across variants."""
        v_idx = {s.name: i for i, s in enumerate(v.steps)}
        checks = tuple(
            (
                v_idx[s.name],
                _VA_SLOT[s.guard.agg],
                GUARD_CMPS[s.guard.cmp],
                v_idx[s.guard.ref_step],
                _VA_SLOT[s.guard.ref_agg],
                s.guard.factor,
            )
            for s in v.steps
            if s.guard is not None
        )
        # emission slots, aligned to guard_names (None = dropped step)
        emits = tuple(
            None
            if name in dropped
            else next(
                (
                    v_idx[s.name],
                    _VA_SLOT[s.guard.agg],
                    v_idx[s.guard.ref_step],
                    _VA_SLOT[s.guard.ref_agg],
                )
                for s in v.steps
                if s.name == name
            )
            for name in guard_names
        )
        return (
            _mid_spec(v),
            tuple(s.name for s in v.steps[:-1]),
            checks,
            emits,
            len(v.steps) - 1,
        )

    variants = tuple(
        _variant_spec(v, dropped) for v, dropped in expand_optional(pat)
    )
    k_closed = len(pat.steps) - 1
    anchor_cls = last.cls
    anchor_min = last.min_count
    anchor_max = last.max_count
    anchor_exact = last.exact
    within_us = (
        pat.within_hours * 3600 * 1_000_000
        if pat.within_hours is not None
        else None
    )
    out_schema = stream_out_schema(pat)
    # Iterative conditions (variant-local):
    # each variant carries its own plain-python guard spec — (this
    # step index, this agg slot, cmp, ref step index, ref agg slot,
    # factor), all indices into the VARIANT's step list (local index
    # k = its anchor = the open run). Guards are evaluated at
    # candidacy and their sides re-derived at emit from win/cur (NOT
    # cached in state): the closed window cannot shift while the
    # anchor run stays open, so a pend-ing match re-reads identical
    # values even a batch later.
    needs_val = bool(guard_names)
    state_schema = STREAM_STATE_SCHEMA_VAL if needs_val else STREAM_STATE_SCHEMA

    def step(key, ready, st, wm_ms, held):
        if st:
            vas = (
                zip(*([dec_val(v) for v in st[f"win_{a}"]] for a in _VA))
                if needs_val else repeat(None)
            )
            win = [
                (dec_cls(c, n), int(ln), int(s), va)
                for c, n, ln, s, va in zip(
                    st["win_cls"], st["win_nul"], st["win_len"],
                    st["win_start"], vas,
                )
            ]
            cc = dec_cls(st["cur_cls"], st["cur_nul"])
            cl, cs, cf, pend = (
                st["cur_len"], st["cur_start"], st["cur_first"], st["cur_pend"]
            )
            c_va = (
                [dec_val(st[f"cur_{a}"]) for a in _VA] if needs_val else None
            )
        else:
            win = []
            cc = cl = cs = cf = c_va = None
            pend = 0
        out = []

        def run_va(i: int, k: int, closed: bool):
            """Value aggregates of variant-local step i's run (k = the
            variant's non-final step count): closed runs from the
            window suffix; the anchor (i == k) exposes only 'first'
            while its run is still OPEN (fixed at open — the only
            anchor aggregate the open-emission mode admits), and the
            full five once the run is CLOSED (run-close emission)."""
            if i == k:
                if closed:
                    return tuple(c_va)
                return (c_va[0], None, None, None, None)
            return win[-k + i][3]

        def guards_ok(checks, k: int, mode: str) -> bool:
            """mode: 'open' = default open-emission candidacy (anchor
            exposes 'first'); 'defer' = close-emission candidacy at
            anchor-run OPEN (final-step guards skipped — not yet
            decidable, re-checked at close); 'close' = close-emission
            at anchor-run CLOSE (anchor exposes its full closed-run
            aggregates)."""
            for ti, ta, cmp_fn, ri, ra, factor in checks:
                if ti == k and mode == "defer":
                    continue
                lhs = run_va(ti, k, mode == "close")[ta]
                rhs = run_va(ri, k, mode == "close")[ra]
                # None (SQL NULL; NaN-encoded in state) never matches
                if lhs is None or rhs is None:
                    return False
                if not cmp_fn(lhs, rhs * factor):
                    return False
            return True

        def candidate(anchor_start_us: int, mode: str = "open") -> int:
            """Closed-run window vs each variant's non-final steps +
            the within bound + the variant's guards (indices already
            remapped into the variant's step positions) — fully
            determined the instant the anchor run opens, except a
            close-emission pattern's FINAL-step guard, which 'defer'
            skips here and 'close' settles at run close (the window
            cannot shift while the anchor run stays open, so the
            structural verdict is identical at both instants).
            Returns the matched variant index, -1 if none (at most
            one matches: the variants are mutually exclusive per
            anchor, expand_optional's proof — guards cannot break
            that, they only further FILTER a structurally-unique
            variant)."""
            for vi, (v_mids, _names, checks, _emits, k) in enumerate(
                variants
            ):
                if len(win) < k:
                    continue
                ok = True
                for (m_cls, m_min, m_max), (r_cls, r_len, _, _) in zip(
                    v_mids, win[-k:] if k else []
                ):
                    if r_cls != m_cls or r_len < m_min or (
                        m_max is not None and r_len > m_max
                    ):
                        ok = False
                        break
                if not ok:
                    continue
                if within_us is not None and k:
                    if anchor_start_us > win[-k][2] + within_us:
                        continue
                if checks and not guards_ok(checks, k, mode):
                    continue
                return vi
            return -1

        def emit() -> None:
            """Anchor run (cur) qualified: measures come from the
            closed window, which cannot shift while cur stays open —
            so the matched variant is recomputed here (a pend-ing
            match re-derives the same one even a batch later).
            Dropped optional steps emit n_<name> = 0, the batch
            union's convention. Under a non-default skip strategy the
            first run's sub-matches enumerate emit-locally — every
            (start_off, consumed-length) pair is fixed by the closed
            first run, the incremental image of compile_greedy's
            row-local explode. Under run-CLOSE emission
            the anchor run is settled too: its final-step guard is
            re-checked here against the FULL run aggregates (the one
            check 'defer' candidacy skipped at open), and its maximal
            length joins the row as n_<last>."""
            mode = "close" if emit_on_close else "open"
            vi = candidate(cs, mode)
            if vi < 0:
                # run-close only: the deferred final-step guard
                # failed against the closed anchor run — no match
                # (structural candidacy already passed at run open,
                # and the window has not shifted since)
                return
            _mids, v_names, _checks, emits, k = variants[vi]
            lens = {
                n: win[-k + j][1] for j, n in enumerate(v_names)
            }
            head = [key, int(cf)]
            # run-close: n_<last> = the closed anchor run's length,
            # capped at max_count when non-exact (compile_greedy's
            # least(run_len, max) consumed-measure convention)
            n_last = []
            if emit_on_close:
                n = int(cl)
                if not anchor_exact and anchor_max is not None:
                    n = min(n, anchor_max)
                n_last = [n]
            gvals = []
            for g in emits:
                if g is None:
                    # guard ON a dropped optional step: the variant
                    # matches unguarded, NULL measures (batch union)
                    gvals += [None, None]
                else:
                    ti, ta, ri, ra = g
                    gvals.append(run_va(ti, k, mode == "close")[ta])
                    gvals.append(run_va(ri, k, mode == "close")[ra])
            start = win[-k][2] if k else cs
            tail = [int(start), int(cs)]
            if not expand:
                row = head + [int(lens.get(n, 0)) for n in step_names]
                out.append(tuple(row + n_last + gvals + tail))
                return
            l1 = int(lens[step_names[0]])
            rest = [int(lens.get(n, 0)) for n in step_names[1:]]
            for off in range(1, l1 - exp_min + 2):
                greedy = l1 - off + 1
                if exp_max is not None:
                    greedy = min(greedy, exp_max)
                if skip_mode == "to_next":
                    out.append(
                        tuple(head + [greedy] + rest + n_last + [off]
                              + gvals + tail)
                    )
                else:  # no_skip: every admissible consumed length
                    for n in range(exp_min, greedy + 1):
                        out.append(
                            tuple(head + [n] + rest + n_last + [off]
                                  + gvals + tail)
                        )

        for us, eid, cls, val in ready:
            # cur_len is the open-run flag: a NULL class is a
            # legitimate run of its own, distinct from "no run yet".
            if cl is not None and cls == cc:
                cl += 1
                if needs_val:
                    # last = value of the run's last event (NULL
                    # included — max_by semantics); min/max/sum skip
                    # NULLs like their SQL counterparts
                    c_va[1] = val
                    if val is not None:
                        c_va[2] = val if c_va[2] is None else min(c_va[2], val)
                        c_va[3] = val if c_va[3] is None else max(c_va[3], val)
                        c_va[4] = val if c_va[4] is None else c_va[4] + val
                if pend and cl == anchor_min and not emit_on_close:
                    emit()
                    pend = 0
                continue
            # class change: close the current run, shift the window,
            # open the new run. Run-CLOSE emission fires HERE — the
            # closing event settles the anchor run's maximal length
            # and full value aggregates, so exact bounds and the
            # deferred final-step guard are decidable; the
            # emission must precede the window shift (candidacy reads
            # the window WITHOUT the anchor run).
            if cl is not None:
                if (
                    emit_on_close
                    and pend
                    and cl >= anchor_min
                    and (
                        not anchor_exact
                        or anchor_max is None
                        or cl <= anchor_max
                    )
                ):
                    emit()
                win.append((cc, cl, cs, tuple(c_va) if needs_val else None))
                del win[: max(0, len(win) - k_closed)]
                pend = 0
            cc, cl, cs, cf = cls, 1, us, eid
            if needs_val:
                c_va = [val, val, val, val, val]
            if cls == anchor_cls and candidate(
                us, "defer" if emit_on_close else "open"
            ) >= 0:
                if emit_on_close:
                    # run-close emission: hold the structurally-valid
                    # candidate as pending regardless of min_count —
                    # the run's closing event (next different-class
                    # event on the key) settles it. pend also blocks
                    # idle eviction, which keeps the window this
                    # match still needs.
                    pend = 1
                elif anchor_min == 1:
                    emit()
                    pend = 0
                else:
                    pend = 1
        deadline = None
        if idle_evict and not held and not pend:
            if cl is not None and (cs + within_us) // 1000 >= wm_ms:
                # live: arm the TTL timer at the open run's within
                # deadline so an idle key re-enters the handler to
                # evict itself
                deadline = (cs + within_us) // 1000
            elif cl is None or cc not in pattern_clses:
                # separator (or empty) state: remove outright — see
                # compile_stream's docstring for the safety argument
                return out, False, None
            else:
                # pattern-class open run past its deadline: STUB —
                # drop the closed-run window, keep the open run's
                # scalars (a future same-class event extends this
                # run; its old start must survive so merged-run
                # candidates keep failing within, matching batch)
                win = []
        st.update(
            win_cls=[enc_cls(r[0]) for r in win],
            win_nul=[enc_nul(r[0]) for r in win],
            win_len=[r[1] for r in win],
            win_start=[r[2] for r in win],
            cur_cls=enc_cls(cc),
            cur_nul=0 if cl is None else enc_nul(cc),
            cur_len=cl, cur_start=cs, cur_first=cf, cur_pend=pend,
        )
        if needs_val:
            cur = c_va if c_va is not None else (None,) * 5
            for i, a in enumerate(_VA):
                st[f"win_{a}"] = [enc_val(r[3][i]) for r in win]
                st[f"cur_{a}"] = enc_val(cur[i])
        return out, True, deadline

    return fold_machine(out_schema, state_schema, step)


def _pattern_events(
    spark: SparkSession, sf_dir: str, pat: Pattern
) -> DataFrame:
    """events.parquet as a bounded replay under the 10-minute
    watermark every stream key uses, projected to the columns ``pat``
    reads (the value column only when a guard or an until needs it)."""
    cols = [KEY_COL, TS_COL, ID_COL, CLS_COL]
    if pat.reads_value:
        cols.append(VAL_COL)
    return (
        _events_stream(spark, sf_dir)
        .withWatermark(TS_COL, "10 minutes")
        .select(*cols)
    )


def pattern_stream(
    spark: SparkSession,
    sf_dir: str,
    pat: Pattern,
    checkpoint: str | None = None,
) -> DataFrame:
    """Replayed events → resolve until stop conditions + canonicalize
    alternation (both row-local projections, streaming-safe) →
    compiled automaton → memory sink.

    ``checkpoint`` passes through to run_to_memory so state-reader
    keys can re-open the finished query's store offline WITHOUT
    copying this launch block, whose until and alternation rules a
    copy would have to track."""
    ev = _pattern_events(spark, sf_dir, pat)
    if any(s.until is not None for s in pat.steps):
        # Pure relabel projection (operators/cep.py) — the
        # automaton then sees a plain pattern, with stop events as
        # foreign-class run boundaries; the value column was only
        # needed for the relabel unless guards read it too.
        ev, pat = apply_until(ev, pat)
        if not pat.reads_value:
            ev = ev.drop(VAL_COL)
    if any(len(s.clses()) > 1 for s in pat.steps):
        ev, pat = canonicalize_alternation(ev, pat)
    return keyed_fold(ev, KEY_COL, compile_stream(pat), checkpoint=checkpoint)


@query(
    "pattern_match_recognize_stream",
    oracle=twin_oracle(
        "pattern_match_recognize", folded(PATTERN_END_US), PATTERN_US
    ),
)
def pattern_match_recognize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the generic-CEP showcase: the SAME pattern
    spec as pattern_match_recognize (``PATTERN (V+ C{1,3} P+)`` within
    24 h, maximal-run semantics — operators/cep.py) detected
    INCREMENTALLY with keyed state by the automaton
    :func:`compile_stream` compiles from the Step/Pattern spec
    (watermark buffer, run window, candidacy at anchor-run open,
    emission at the fold that passes the anchor).

    Scale: see the module docstring — O(pattern length) run-window
    state plus O(watermark delay) buffered events per key, one
    shuffle.
    """
    m = pattern_stream(spark, sf_dir, MATCH_RECOGNIZE)
    return m.select(
        "user_id",
        F.col("anchor_event").alias("purchase_event"),
        "n_views",
        "n_clicks",
        "pattern_start_us",
        "pattern_end_us",
    )


@query(
    "pattern_match_alternation_stream",
    oracle=twin_oracle(
        "pattern_match_alternation", folded(PATTERN_END_US), PATTERN_US
    ),
)
def pattern_match_alternation_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_match_alternation —
    ``PATTERN ((V|C)+ P+)`` within 24 h, incremental. Alternation
    costs the
    stream NOTHING extra: canonicalize_alternation's relabel is a
    row-local expression applied to the streaming DataFrame before the
    keyed fold (exactly as the batch key fuses it into the scan), so
    the compiled automaton sees single-class runs — a mixed view/click
    run is ONE run whose n_eng spans both classes, and an interleaved
    error still breaks contiguity. Multi-batch parity is pinned by
    tests/test_streaming_parity.py (2- and 3-way time-split replays
    through the real compiled handler).
    """
    m = pattern_stream(spark, sf_dir, MATCH_ALTERNATION)
    return m.select(
        "user_id",
        F.col("anchor_event").alias("purchase_event"),
        "n_eng",
        "pattern_start_us",
        "pattern_end_us",
    )


@query(
    "pattern_detect_value_guard_stream",
    oracle=twin_oracle(
        "pattern_detect_value_guard", folded(PATTERN_END_US), PATTERN_US
    ),
)
def pattern_detect_value_guard_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_detect_value_guard — the iterative
    condition ([FLINK-API] ``IterativeCondition``) evaluated
    INCREMENTALLY: ``PATTERN (V+ P+)`` within 24 h where the purchase
    matches only if its value exceeds the max value across the
    preceding view run.

    Why this is streamable at all: the guard's reference side (max
    over the view run) ranges over a CLOSED run — fixed the moment
    the anchor run opens — and its anchor side aggregates with
    'first', the one aggregate knowable at that same instant
    (compile_stream rejects any other anchor aggregate with the
    maximal-run explanation). The automaton therefore needs only the
    five per-run value aggregates riding the closed-run window state
    (STREAM_STATE_SCHEMA_VAL) — no event values are retained beyond
    the watermark buffer, so per-key state stays O(pattern length +
    watermark delay) exactly as the unguarded automaton.

    Guard sides emit as purchase_val /
    views_max_val (rounded 4dp both engines — the float-output rule).
    Multi-batch parity is pinned in tests/test_streaming_parity.py
    (the guard case joined the compiled-handler sweep).
    """
    m = pattern_stream(spark, sf_dir, DETECT_VALUE_GUARD)
    return m.select(
        "user_id",
        F.col("anchor_event").alias("purchase_event"),
        "n_views",
        F.round("g_purchase", 4).alias("purchase_val"),
        F.round("g_purchase_ref", 4).alias("views_max_val"),
        "pattern_start_us",
        "pattern_end_us",
    )


@query(
    "pattern_match_optional_stream",
    oracle=twin_oracle(
        "pattern_match_optional", folded(PATTERN_END_US), PATTERN_US
    ),
)
def pattern_match_optional_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_match_optional — ``PATTERN
    (V+ C? P+)`` within 24 h detected incrementally.

    No automaton union is needed: expand_optional's present/absent
    variants are mutually exclusive PER ANCHOR under maximal-run
    contiguity (its batch proof), so the compiled handler simply tries
    each variant's non-final step list against the suffix of the SAME
    closed-run window at candidacy — one extra tuple comparison per
    anchor open, zero extra state (the window is already sized by the
    full step list). The absent variant emits ``n_clicks = 0``,
    mirroring the batch union's fill-in.
    """
    m = pattern_stream(spark, sf_dir, MATCH_OPTIONAL)
    return m.select(
        "user_id",
        F.col("anchor_event").alias("purchase_event"),
        "n_views",
        "n_clicks",
        "pattern_start_us",
        "pattern_end_us",
    )


@query(
    "pattern_match_afterskip_stream",
    oracle=twin_oracle(
        "pattern_match_afterskip", folded(event_us("purchase_event"))
    ),
)
def pattern_match_afterskip_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_match_afterskip — ``PATTERN (C{2,4}
    P+)`` under ``AfterMatchSkipStrategy.noSkip``, detected
    incrementally.

    Every (start_off, consumed-length) sub-match is fixed by the
    CLOSED first run the moment the anchor run opens, so the
    enumeration happens emit-locally inside the handler — the
    incremental image of compile_greedy's row-local
    explode(sequence(..)) — with zero extra state and the same
    one-candidacy-per-anchor cost as past_last; only the emitted rows
    fan out (bounded by the quantifier width × run length, exactly the
    batch fan-out). The first step's ``max_count=4`` bounds CONSUMED
    counts, not the run, so candidacy lifts it and emit re-applies it
    per sub-match — the compile_greedy rule.
    """
    m = pattern_stream(spark, sf_dir, MATCH_AFTERSKIP)
    return m.select(
        "user_id",
        F.col("anchor_event").alias("purchase_event"),
        "start_off",
        F.col("n_clicks").cast("long").alias("n_clicks"),
    )


# ---------------------------------------------------------------------------
# Absence CEP (Flink ``notFollowedBy(..).within(..)``).
#
# Negation is the one CEP shape the compiled run-fold automaton above
# cannot express: a match is declared by the ABSENCE of an event, so
# emission must wait until the watermark proves nothing in the horizon
# can still arrive — Flink's NFA keeps such candidates in a pending
# state and resolves them on watermark advance. The automaton below is
# that pending-state machine directly (keyed.settle_machine), and it
# is SIMPLER than the run-fold: existence of a purchase inside a
# click's horizon is order-insensitive, so no hold-buffer / re-fold
# is needed — in-watermark out-of-order arrivals just accumulate into
# the pending sets until the settle rule resolves them.

#: Pending-state schema for the absence automaton: unresolved clicks
#: (µs + event_id, parallel arrays) and the retained purchase
#: timestamps (µs).
ABSENCE_STATE_SCHEMA = StructType(
    [
        StructField("click_us", ArrayType(LongType())),
        StructField("click_id", ArrayType(LongType())),
        StructField("purch_us", ArrayType(LongType())),
    ]
)

ABSENCE_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("click_event", LongType()),
    ]
)


def compile_horizon_stream(
    anchor_cls: str, target_cls: str, horizon_us: int, at_least=None
) -> Machine:
    """One pending-anchor machine for both horizon directions; each
    anchor counts the targets inside its frame (inclusive at µs — the
    batch key's RANGE frame):

    - ``at_least=None`` — ``anchor NOT FOLLOWED BY target WITHIN
      horizon`` (absence): frame ``[a, a + horizon]``; the anchor
      settles once its whole frame is behind the watermark (settle
      delay = horizon) and emits ``(key, anchor_id)`` iff the frame
      holds no target: it settles at ``(ts_us + horizon) // 1000 <
      wm_ms``.
    - ``at_least=n`` — PRECEDING-horizon count (Flink ``followedBy``
      with a time bound): frame ``[a − horizon, a]``, complete as soon
      as the anchor itself settles (no settle delay); emits
      ``(key, anchor_id, count)`` iff the count reaches ``n``.

    Targets are retained down to the kernel's eviction floor with
    ``retain_us = horizon``, so per-key state is O(events in horizon +
    watermark delay), Flink's NFA bound. The two directions keep
    their own state and output schemas (click_/purch_ vs anchor_/
    target_ fields)."""
    following = at_least is None

    def resolve(k, due, roles, _wm_ms, _st):
        t_us = [t[0] for t in roles[tgt]]
        rows = []
        for us, eid in due:
            lo, hi = (us, us + horizon_us) if following else (
                us - horizon_us, us
            )
            n = bisect.bisect_right(t_us, hi) - bisect.bisect_left(t_us, lo)
            if following and n == 0:
                rows.append((k, eid))
            elif not following and n >= at_least:
                rows.append((k, eid, n))
        return rows

    if following:
        out, st_schema, anc, tgt = (
            ABSENCE_OUT_SCHEMA, ABSENCE_STATE_SCHEMA, "click", "purch"
        )
    else:
        out, st_schema, anc, tgt = (
            HORIZON_OUT_SCHEMA, HORIZON_STATE_SCHEMA, "anchor", "target"
        )
    return settle_machine(
        out, st_schema, {anc: (anchor_cls,), tgt: (target_cls,)}, anc,
        resolve, settle_us=horizon_us if following else 0,
        retain_us=horizon_us,
    )


def _class_events(
    spark: SparkSession, sf_dir: str, *classes: str
) -> DataFrame:
    """Replayed events of ``classes`` only, for the pending-state
    machines. The class filter sits BEFORE the watermark, so the
    watermark advances on the rows the machine sees (see
    pattern_detect_notfollowedby_stream for why the placement is
    explicit)."""
    return (
        _events_stream(spark, sf_dir)
        .filter(F.col(CLS_COL).isin(*classes))
        .select(KEY_COL, TS_COL, ID_COL, CLS_COL)
        .withWatermark(TS_COL, "10 minutes")
    )


@query(
    "pattern_detect_notfollowedby_stream",
    oracle=twin_oracle(
        "pattern_detect_notfollowedby",
        settled(
            event_us("click_event") + " + 21600000000", "click", "purchase"
        ),
    ),
)
def pattern_detect_notfollowedby_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_detect_notfollowedby — abandoned
    clicks (no same-user purchase in the following 6 h) detected
    INCREMENTALLY, the Flink ``notFollowedBy(..).within(6h)`` pending
    NFA state (the one CEP shape the compiled run-fold automaton
    cannot express, because the match is declared by ABSENCE and must
    wait for the watermark to prove it).

    A click becomes a pending candidate on arrival; an event-time
    timer at its horizon (click_ts + 6 h) resolves it once the
    watermark passes — suppressed if any purchase landed inside the
    frame, emitted otherwise. Purchases retain for horizon +
    watermark-delay then evict, so per-key state is O(events in 6 h +
    10 min), Flink's bound for a within-bounded negation. A click
    settles strictly after its horizon (the keyed settle rule; see
    :func:`compile_horizon_stream` for the tie argument).

    Scale: irrelevant classes are filtered BEFORE the keyed shuffle
    (predicate reaches the file-source scan), so only click/purchase
    rows shuffle — and the watermark is declared AFTER the filter, so
    it advances on the max of the rows the operator actually sees.
    (Declaring it before the filter is NOT equivalent-but-safer:
    Catalyst pushes the class predicate below EventTimeWatermark, so
    the stats node measures filtered rows anyway while the oracle
    would be keyed to the unfiltered MAX(ts) — a 1-row tail mismatch
    observed at sf0.01. Explicit placement makes the semantics the
    oracle mirrors — ``MAX(ts) over click/purchase`` — deterministic
    rather than an optimizer artifact.) One shuffle on user_id, no
    joins, no window state.
    """
    ev = _class_events(spark, sf_dir, "click", "purchase")
    return keyed_fold(ev, KEY_COL, compile_horizon_stream(
        "click", "purchase", 6 * 3600 * 1_000_000
    ))


#: Horizon-counting state (pattern_detect_followedby_stream): pending
#: anchors (µs + event_id) and retained target timestamps (µs).
HORIZON_STATE_SCHEMA = StructType(
    [
        StructField("anchor_us", ArrayType(LongType())),
        StructField("anchor_id", ArrayType(LongType())),
        StructField("target_us", ArrayType(LongType())),
    ]
)

HORIZON_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("purchase_event", LongType()),
        StructField("clicks_6h", LongType()),
    ]
)


@query(
    "pattern_detect_followedby_stream",
    oracle=twin_oracle(
        "pattern_detect_followedby",
        settled(event_us("purchase_event"), "click", "purchase"),
    ),
)
def pattern_detect_followedby_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_detect_followedby — relaxed-
    contiguity CEP (Flink ``followedBy`` with a 6 h bound): purchases
    preceded by ≥2 same-user clicks within 6 hours, detected
    incrementally. Completes the horizon strategy's streaming story:
    the FOLLOWING direction (absence) ships as
    pattern_detect_notfollowedby_stream; this is the PRECEDING
    direction (counting), which settles the moment the watermark
    passes the anchor itself — no horizon wait — because every
    in-frame click is provably already ingested
    (:func:`compile_horizon_stream`). Same filtered-stream
    watermark convention (classes filter before the shuffle, so the
    watermark ranges over click/purchase rows); ties match the batch
    RANGE frame (a click at the purchase's exact
    timestamp counts). O(events in 6 h + 10 min) state per key.
    """
    ev = _class_events(spark, sf_dir, "click", "purchase")
    return keyed_fold(ev, KEY_COL, compile_horizon_stream(
        "purchase", "click", 6 * 3600 * 1_000_000, at_least=2
    ))


@query(
    "pattern_detect_oneormore_stream",
    oracle=twin_oracle(
        "pattern_detect_oneormore", folded(PATTERN_END_US), PATTERN_US
    ),
)
def pattern_detect_oneormore_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_detect_oneormore — ``C+ P`` within
    6 h (Flink ``oneOrMore().greedy()``), detected incrementally by
    the compiled automaton. Nothing new in the machine: the spec is
    the alternation twin's shape minus the class set, so this key's
    value is COVERAGE: every batch pattern_detect_* key the generic
    compiler serves has a driver-checkable streaming twin.
    """
    m = pattern_stream(spark, sf_dir, DETECT_ONEORMORE)
    return m.select(
        "user_id",
        F.col("anchor_event").alias("purchase_event"),
        "n_clicks",
        "pattern_start_us",
        "pattern_end_us",
    )


@query(
    "pattern_detect_times_stream",
    oracle=twin_oracle(
        "pattern_detect_times", folded(PATTERN_END_US), PATTERN_US
    ),
)
def pattern_detect_times_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_detect_times — EXACTLY two
    consecutive clicks then a purchase within 6 h (Flink
    ``times(2).consecutive()``). The exactness lives on a NON-final
    step, which the automaton checks at anchor-run open (the click run
    is CLOSED at candidacy, so ``run_len == 2`` is known). The
    maximal-run ``l1 = 2`` IS times(2)-with-exactness in the runs
    algebra, row-equal to the batch key's lag formulation (prev3
    guard).
    """
    pat = Pattern(
        steps=(
            Step("clicks", "click", 2, 2, exact=True),
            Step("buy", "purchase", 1, None),
        ),
        within_hours=6,
    )
    m = pattern_stream(spark, sf_dir, pat)
    return m.select(
        "user_id",
        F.col("anchor_event").alias("purchase_event"),
        "pattern_start_us",
        "pattern_end_us",
    )


@query(
    "pattern_match_optional_guard_stream",
    oracle=twin_oracle(
        "pattern_match_optional_guard", folded(PATTERN_END_US), PATTERN_US
    ),
)
def pattern_match_optional_guard_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_match_optional_guard — the guard ×
    optional composition detected INCREMENTALLY through per-variant
    guard remapping in :func:`compile_stream`.

    What the remapping buys: guard specs compile with indices into
    each VARIANT's step positions, so the present variant evaluates
    ``first(click run) > min(view run)`` against the correct window
    slots while the absent variant — whose guard sits ON the dropped
    optional step — matches unguarded and emits NULL guard measures,
    the batch union's fill-in. Both decisions stay fixed at anchor-run
    open (the click and view runs are CLOSED by then), so the
    emission boundary is the unguarded optional twin's.

    Scale: see the module docstring — the guarded state schema adds
    five per-run aggregates to the O(pattern length) window; no event
    values retained beyond the watermark buffer.
    """
    m = pattern_stream(spark, sf_dir, MATCH_OPTIONAL_GUARD)
    return m.select(
        "user_id",
        F.col("anchor_event").alias("purchase_event"),
        "n_views",
        "n_clicks",
        F.round("g_clicks", 4).alias("click_val"),
        F.round("g_clicks_ref", 4).alias("views_min_val"),
        "pattern_start_us",
        "pattern_end_us",
    )


@query(
    "pattern_match_skipguard_stream",
    oracle=twin_oracle(
        "pattern_match_skipguard", folded(event_us("purchase_event"))
    ),
)
def pattern_match_skipguard_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_match_skipguard — guard ×
    skip-strategy composition detected incrementally.

    The composition is orthogonal in the automaton exactly as in the
    batch compiler: the guard evaluates at candidacy against the
    closed click run's MAXIMAL value aggregates (one decision per
    anchor, fixed at open), and emit() fans the (start_off,
    consumed-count) sub-matches out emission-locally AFTER that
    decision — ``to_next`` emits one greedy sub-match per admissible
    start.
    """
    m = pattern_stream(spark, sf_dir, MATCH_SKIPGUARD)
    return m.select(
        "user_id",
        F.col("anchor_event").alias("purchase_event"),
        F.col("start_off").cast("long").alias("start_off"),
        F.col("n_clicks").cast("long").alias("n_clicks"),
        F.round("g_purchase", 4).alias("purchase_val"),
        F.round("g_purchase_ref", 4).alias("clicks_max_val"),
    )


# ---------------------------------------------------------------------------
# Non-deterministic relaxed contiguity (Flink ``followedByAny``).
# Pairing is order-insensitive set logic like the horizon
# machines (no hold-buffer fold needed), on the same settle kernel.

#: Pairs-state schema: retained anchors (µs + event_id) and pending
#: targets (µs + event_id); O(events inside horizon + watermark
#: delay) per key, Flink's NFA bound for a within-bounded
#: followedByAny.
PAIRS_STATE_SCHEMA = StructType(
    [
        StructField("anchor_us", ArrayType(LongType())),
        StructField("anchor_id", ArrayType(LongType())),
        StructField("target_us", ArrayType(LongType())),
        StructField("target_id", ArrayType(LongType())),
    ]
)

PAIRS_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("click_event", LongType()),
        StructField("purchase_event", LongType()),
        StructField("gap_us", LongType()),
    ]
)

#: PAIRS_STATE_SCHEMA + the retained blocker events (middle
#: negation); same eviction floor as anchors — unguarded pair
#: patterns keep the base schema byte-identical.
PAIRS_STATE_SCHEMA_BLK = StructType(
    list(PAIRS_STATE_SCHEMA.fields)
    + [
        StructField("blocker_us", ArrayType(LongType())),
        StructField("blocker_id", ArrayType(LongType())),
    ]
)


def compile_pairs_stream(
    anchor_cls: str,
    target_cls: str,
    horizon_us: int,
    blocker_cls: str | None = None,
) -> Machine:
    """Machine for ``followedByAny`` pairing: each settling target
    emits one row per retained anchor inside ``[t_us − horizon,
    t_us)`` (the strict-below / inclusive-above frame of
    compile_horizon_pairs, seen from the target side).

    Targets are the pending role and settle at ``t_ms < wm_ms`` (the
    kernel's settle rule with no delay: every unseen anchor is
    strictly after the target, so the pair set is complete); anchors
    are retained down to the kernel's floor ``wm_ms·1000 −
    horizon_us``. Each target takes its frame by two bisects.

    ``blocker_cls`` (middle negation — [FLINK-API] ``notFollowedBy``
    BETWEEN steps): a settling target pairs only with anchors that
    have NO blocker strictly between them in (us, id) event order —
    two bisects over the once-sorted blocker buffer per candidate
    pair. An unseen blocker is after the target, never between, so
    settlement stays complete; blockers share the anchors' floor.
    Unblocked patterns keep the base state schema byte-identical."""

    def resolve(k, due, roles, _wm_ms, _st):
        anchors, blockers = roles["anchor"], roles.get("blocker")
        a_keys = [a[0] for a in anchors]
        rows = []
        for us, eid in due:
            lo = bisect.bisect_left(a_keys, us - horizon_us)
            hi = bisect.bisect_left(a_keys, us)
            for a_u, a_i in anchors[lo:hi]:
                # blockers strictly between (a_u, a_i) and (us, eid) in
                # (us, id) order — the prefix-equality rule the batch
                # join encodes
                if blockers and bisect.bisect_left(
                    blockers, (us, eid)
                ) > bisect.bisect_right(blockers, (a_u, a_i)):
                    continue
                rows.append((k, a_i, eid, us - a_u))
        return rows

    roles = {"anchor": (anchor_cls,), "target": (target_cls,)}
    if blocker_cls is not None:
        roles["blocker"] = (blocker_cls,)
    return settle_machine(
        PAIRS_OUT_SCHEMA,
        PAIRS_STATE_SCHEMA if blocker_cls is None else PAIRS_STATE_SCHEMA_BLK,
        roles, "target", resolve, retain_us=horizon_us,
    )


@query(
    "pattern_detect_followedbyany_stream",
    oracle=twin_oracle(
        "pattern_detect_followedbyany",
        settled(event_us("purchase_event"), "click", "purchase"),
    ),
)
def pattern_detect_followedbyany_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_detect_followedbyany —
    non-deterministic relaxed contiguity ([FLINK-API]
    ``followedByAny().within(24h)``) detected incrementally: every
    purchase pairs with EVERY same-user click in the preceding 24 h,
    emitted the moment the watermark strictly passes the purchase
    (see :func:`compile_pairs_stream` for why the pair set is
    complete at that instant). Spark's stream-stream self-join could
    express this shape, but the keyed handler keeps the horizon
    machines' single-shuffle layout and their exact state bound —
    and one state row per key, versus the join's two buffered sides.

    Same filtered-stream watermark convention as the other horizon
    twins (classes filter before the shuffle, so the watermark
    ranges over click/purchase rows).
    """
    ev = _class_events(spark, sf_dir, "click", "purchase")
    return keyed_fold(ev, KEY_COL, compile_pairs_stream(
        "click", "purchase", 24 * 3600 * 1_000_000
    ))


# ---------------------------------------------------------------------------
# Timed-out partial-match side output (Flink
# ``TimedOutPartialMatchHandler``). The inverse of the
# run-fold automaton's emission rule: a row emits only when the
# watermark proves the match can NO LONGER complete (deadline passed
# with the funnel unfinished), so this is a pending-state machine in
# the absence family — order-insensitive accumulation, resolution
# strictly after the deadline, no hold-buffer fold.

#: Timeout-state schema: pending pattern starts and the retained
#: second/third-class events (µs + event_id parallel arrays each);
#: O(events inside horizon + watermark delay) per key under the
#: kernel's eviction floor — the NFA bound for a within-bounded
#: three-step pattern.
TIMEOUT_STATE_SCHEMA = StructType(
    [
        StructField("start_us", ArrayType(LongType())),
        StructField("start_id", ArrayType(LongType())),
        StructField("second_us", ArrayType(LongType())),
        StructField("second_id", ArrayType(LongType())),
        StructField("third_us", ArrayType(LongType())),
        StructField("third_id", ArrayType(LongType())),
    ]
)

TIMEOUT_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("start_event", LongType()),
        StructField("n_matched", LongType()),
        StructField("deadline_us", LongType()),
    ]
)


def compile_timeout_stream(
    first_cls: str, second_cls: str, third_cls: str, horizon_us: int
) -> Machine:
    """Machine for the timed-out-partials side output of ``first
    followedBy second followedBy third within(horizon)``.

    Starts are the pending role and settle at their deadline (the
    kernel's settle rule with ``settle_us = horizon``: every unseen
    event is beyond the deadline), so the funnel's fate is fixed: the
    earliest
    second-class event strictly after the start (in (us, id) total
    order — the batch rn order restricted to these classes) within
    the deadline, then the earliest third-class event strictly after
    THAT one; complete → silent, else emit with n_matched = steps
    matched at expiry. Resolution is deliberately deadline-time only
    (never early on completion): an earlier second-class event can
    still arrive in-watermark and shift the chain, and the event
    buffers are retained for the horizon regardless — pending-start
    state is O(starts in horizon), not the bottleneck. Each start
    resolves with two bisects over the sorted retained sides.
    """

    def resolve(k, due, roles, _wm_ms, _st):
        seconds, thirds = roles["second"], roles["third"]
        rows = []
        for us, eid in due:
            deadline = us + horizon_us
            i = bisect.bisect_right(seconds, (us, eid))
            if i == len(seconds) or seconds[i][0] > deadline:
                rows.append((k, eid, 1, deadline))
                continue
            j = bisect.bisect_right(thirds, seconds[i])
            if j == len(thirds) or thirds[j][0] > deadline:
                rows.append((k, eid, 2, deadline))
        return rows

    return settle_machine(
        TIMEOUT_OUT_SCHEMA, TIMEOUT_STATE_SCHEMA,
        {"start": (first_cls,), "second": (second_cls,),
         "third": (third_cls,)},
        "start", resolve, settle_us=horizon_us, retain_us=horizon_us,
    )


@query(
    "pattern_timeout_partial_stream",
    oracle=twin_oracle(
        "pattern_timeout_partial",
        settled("b.deadline_us", "view", "click", "purchase"),
    ),
)
def pattern_timeout_partial_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_timeout_partial — Flink's
    ``TimedOutPartialMatchHandler`` side output produced the way
    Flink produces it: pattern starts live in keyed pending state
    with an event-time timer at their deadline; when the watermark
    strictly passes it, the unfinished funnel emits (user_id,
    start_event, n_matched, deadline_us) and completed funnels leave
    silently (see :func:`compile_timeout_stream` for why the fate is
    fixed at that instant). The canonical "cart abandoned within 6 h"
    alert, with n_matched telling WHERE the funnel stalled.

    Same filtered-stream watermark convention as the other pending-
    state twins (the three classes filter before the shuffle, so the
    watermark ranges over view/click/purchase rows). A start settles
    once its deadline strictly passes (the absence machine's boundary
    polarity — this is a FOLLOWING-horizon resolution).
    """
    ev = _class_events(spark, sf_dir, "view", "click", "purchase")
    return keyed_fold(ev, KEY_COL, compile_timeout_stream(
        "view", "click", "purchase", 6 * 3600 * 1_000_000
    ))


@query(
    "pattern_match_optional_skip_stream",
    oracle=twin_oracle(
        "pattern_match_optional_skip", folded(event_us("purchase_event"))
    ),
)
def pattern_match_optional_skip_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_match_optional_skip — optional × skip
    detected incrementally.

    Nothing new in the machine: Pattern pins the first step
    non-optional under a skip strategy (both engines), so every
    variant shares the expansion step; candidacy picks the variant
    from the closed-run window and emit() enumerates (start_off,
    consumed) over that variant's own first-run length — dropped
    optional steps emit n_<name> = 0 inside each sub-match row.
    """
    m = pattern_stream(spark, sf_dir, MATCH_OPTIONAL_SKIP)
    return m.select(
        "user_id",
        F.col("anchor_event").alias("purchase_event"),
        F.col("start_off").cast("long").alias("start_off"),
        F.col("n_views").cast("long").alias("n_views"),
        F.col("n_clicks").cast("long").alias("n_clicks"),
    )


@query(
    "pattern_detect_followedby_nobetween_stream",
    oracle=twin_oracle(
        "pattern_detect_followedby_nobetween",
        settled(event_us("purchase_event"), "click", "purchase", "error"),
    ),
)
def pattern_detect_followedby_nobetween_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_detect_followedby_nobetween — middle
    negation ([FLINK-API] ``notFollowedBy`` between steps) detected
    incrementally: every (click, purchase) pair within 24 h with no
    error strictly between, emitted once the watermark strictly
    passes the purchase. The pairs automaton gains a retained blocker
    buffer with the anchors' eviction floor; each candidate pair
    checks the open interval with two bisects — an unseen blocker is
    provably after the settling target, so the negation is final at
    settlement (:func:`compile_pairs_stream`).

    The watermark ranges over THREE classes (the blocker
    participates in the filter before the shuffle).
    """
    ev = _class_events(spark, sf_dir, "click", "purchase", "error")
    return keyed_fold(ev, KEY_COL, compile_pairs_stream(
        "click", "purchase", 24 * 3600 * 1_000_000, blocker_cls="error"
    ))


@query(
    "pattern_detect_times_exact_stream",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn_t
      FROM events
    ), runs AS (
      SELECT user_id, event_type,
             MIN(ts) AS run_start, COUNT(*) AS run_len,
             MIN(rn) AS start_rn, ARG_MIN(event_id, rn) AS first_id
      FROM ordered
      GROUP BY user_id, event_type, rn - rn_t
    ), seq AS (
      SELECT user_id, event_type, run_start, run_len, first_id,
             LAG(event_type, 1) OVER w AS c1, LAG(run_len, 1) OVER w AS l1,
             LAG(run_start, 1) OVER w AS s1,
             LEAD(run_start, 1) OVER w AS next_start
      FROM runs
      WINDOW w AS (PARTITION BY user_id ORDER BY start_rn)
    )
    SELECT user_id,
           first_id AS click_event,
           CAST(l1 AS BIGINT) AS n_views,
           CAST(run_len AS BIGINT) AS n_clicks,
           epoch_us(s1) AS pattern_start_us,
           epoch_us(run_start) AS pattern_end_us
    FROM seq
    WHERE event_type = 'click'
      AND run_len BETWEEN 1 AND 2
      AND c1 = 'view'
      AND run_start <= s1 + INTERVAL 24 HOUR
      AND next_start IS NOT NULL
      AND epoch_us(next_start) // 1000
          <= epoch_us((SELECT MAX(ts) FROM events)) // 1000 - 600000
    """,
)
def pattern_detect_times_exact_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_detect_times_exact — the FINAL-step
    exact quantifier, the first of the two run-CLOSE emission shapes:
    ``PATTERN (V+ C{1,2})`` within 24 h where the click run must be a
    maximal run of EXACTLY 1–2 clicks. Exactness ranges over the
    MAXIMAL anchor run, so the compiled automaton defers this
    pattern's emission from anchor-run OPEN to anchor-run CLOSE: the
    next different-class event on the key settles the run's length,
    and the match (or its rejection, for a 3-click run) is decided at
    that fold. A run never closed before the final watermark never
    emits, which the oracle mirrors with the run-CLOSED filter — the
    batch SQL plus ``next_start`` (the closing run's start) existing
    and ms-folding before MAX(ts) − 10 min; the ``<=`` boundary is
    split_by_watermark's fold-admission contract, same polarity as
    every run-fold key's anchor filter.

    Scale: see the module docstring — O(pattern length) window per
    key; close-mode adds NO state (pend was already persisted) and no
    timers (the closing event re-enters the handler by itself).
    """
    return pattern_stream(spark, sf_dir, DETECT_TIMES_EXACT).select(
        "user_id",
        F.col("anchor_event").alias("click_event"),
        "n_views",
        "n_clicks",
        "pattern_start_us",
        "pattern_end_us",
    )


@query(
    "pattern_match_finalguard_stream",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn_t
      FROM events
    ), runs AS (
      SELECT user_id, event_type,
             MIN(ts) AS run_start, COUNT(*) AS run_len,
             MIN(rn) AS start_rn, ARG_MIN(event_id, rn) AS first_id,
             MAX(value) AS val_max
      FROM ordered
      GROUP BY user_id, event_type, rn - rn_t
    ), seq AS (
      SELECT user_id, event_type, run_start, run_len, first_id, val_max,
             LAG(event_type, 1) OVER w AS c1, LAG(run_len, 1) OVER w AS l1,
             LAG(run_start, 1) OVER w AS s1, LAG(val_max, 1) OVER w AS m1,
             LEAD(run_start, 1) OVER w AS next_start
      FROM runs
      WINDOW w AS (PARTITION BY user_id ORDER BY start_rn)
    )
    SELECT user_id,
           first_id AS purchase_event,
           CAST(l1 AS BIGINT) AS n_views,
           CAST(run_len AS BIGINT) AS n_purchases,
           ROUND(val_max, 4) AS purchases_max_val,
           ROUND(m1, 4) AS views_max_val,
           epoch_us(s1) AS pattern_start_us,
           epoch_us(run_start) AS pattern_end_us
    FROM seq
    WHERE event_type = 'purchase'
      AND c1 = 'view'
      AND val_max > m1
      AND run_start <= s1 + INTERVAL 24 HOUR
      AND next_start IS NOT NULL
      AND epoch_us(next_start) // 1000
          <= epoch_us((SELECT MAX(ts) FROM events)) // 1000 - 600000
    """,
)
def pattern_match_finalguard_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_match_finalguard — the FINAL-step
    guard with a non-``first`` aggregate, the second run-CLOSE
    emission shape: ``PATTERN (V+ P+)`` within 24 h, match iff
    MAX(value over the WHOLE purchase run) > MAX(value over the view
    run). The guard's
    left side ranges over the maximal anchor run, so candidacy at run
    open DEFERS it (structure + non-final guards still pin the
    window, pend blocks eviction) and the closing fold re-checks it
    against the settled run aggregates — :func:`compile_stream`'s
    'defer'/'close' candidacy modes. Oracle: the batch SQL plus the
    same run-CLOSED-before-final-watermark filter as
    pattern_detect_times_exact_stream.

    Scale: the guarded state schema's five per-run aggregates already
    carry the anchor run's running MAX — close-mode reads it at the
    closing fold instead of slot 'first' at open; no new state, no
    timers.
    """
    return pattern_stream(spark, sf_dir, MATCH_FINALGUARD).select(
        "user_id",
        F.col("anchor_event").alias("purchase_event"),
        "n_views",
        "n_purchases",
        F.round("g_purchases", 4).alias("purchases_max_val"),
        F.round("g_purchases_ref", 4).alias("views_max_val"),
        "pattern_start_us",
        "pattern_end_us",
    )


#: Suffix-automaton state (per-EVENT anchoring): the last
#: W folded events (W = the pattern's event length − 1, +1 when the
#: earliest step is exact and needs its far-boundary event) plus the
#: watermark hold buffer. Unlike the run-fold machine there is no run
#: compression — per-event anchoring is exactly what compression
#: discards — but W is a compile-time constant, so state stays O(1)
#: per key.
SUFFIX_STATE_SCHEMA = StructType(
    [
        StructField("win_us", ArrayType(LongType())),
        StructField("win_id", ArrayType(LongType())),
        StructField("win_cls", ArrayType(StringType())),
        StructField("win_nul", ArrayType(LongType())),
        StructField("buf_id", ArrayType(LongType())),
        StructField("buf_us", ArrayType(LongType())),
        StructField("buf_cls", ArrayType(StringType())),
        StructField("buf_nul", ArrayType(LongType())),
    ]
)

SUFFIX_STATE_SCHEMA_VAL = StructType(
    list(SUFFIX_STATE_SCHEMA.fields)
    + [
        StructField("win_val", ArrayType(DoubleType())),
        StructField("buf_val", ArrayType(DoubleType())),
    ]
)


def compile_suffix_stream(pat: Pattern):
    """Compile a FIXED-count pattern into a per-EVENT-anchored fold
    step on :func:`keyed.fold_machine` — the streaming image of
    :func:`operators.cep.compile_suffix`: the suffix-anchored start
    that the run-fold machine's compression discards.

    Per-event anchoring is trivially incremental: every predecessor a
    suffix match reads sits at a FIXED lag offset, so a window of the
    last W folded events (W = pattern event length − 1, +1 when the
    earliest step carries ``exact``) decides each anchor the moment
    the anchor itself folds — no deferral, no pend state, no variant
    expansion. A shorter-than-W window means the far events simply do
    not exist (key history shorter than the pattern), which is the
    same NULL-lag semantics the batch plan has; an ``exact`` boundary
    with no event beyond it passes, exactly like the batch plan's
    ``guard.isNull() | ~matches`` disjunct. Guards aggregate over the
    fixed offsets with the suffix route's NULL semantics
    (min/max/sum skip NULL values; all-NULL → NULL → no match).

    Emission boundary: the anchor's own fold (``ts_ms <= wm_ms``,
    the kernel's fold rule; no run-close shift: nothing here ranges
    over an open run).

    Returns a :class:`keyed.Machine`. Out columns:
    key, anchor_event, one (g_<name>, g_<name>_ref) pair per guarded
    step, pattern_start_us, pattern_end_us.
    """
    if not all(s.fixed() for s in pat.steps):
        raise ValueError("suffix strategy requires fixed quantifiers")
    last = pat.steps[-1]
    if last.min_count != 1:
        raise ValueError("suffix strategy anchors on a single final event")
    if last.exact:
        # mirror compile_suffix: the exact_guards walk
        # covers steps[:-1] only, so a strict FINAL boundary (a
        # one-event lookahead past the anchor) would compile silently
        # unchecked; per-event anchoring decides each anchor on its
        # predecessors alone, so reject rather than ignore.
        raise ValueError(
            "suffix streaming cannot enforce exact on the FINAL step "
            "(it would need a one-event lookahead past the anchor); "
            "use a run-anchored form (compile_stream run-close)"
        )
    if pat.skip != "past_last":
        # mirror compile_pattern's routing contract: skip strategies
        # compile through the greedy sub-match expansion, never the
        # suffix path — compiling here would silently drop the
        # start_off enumeration
        raise ValueError(
            "suffix streaming supports only skip='past_last'; "
            "skip strategies expand sub-matches through the greedy "
            "strategy (compile_stream)"
        )

    # Offsets from the anchor (0 = the anchor), walking backwards —
    # the same layout compile_suffix builds with lag columns.
    offsets: dict[str, list[int]] = {last.name: [0]}
    checks: list[tuple[tuple[str, ...], int]] = []  # (classes, offset)
    exact_guards: list[tuple[tuple[str, ...], int]] = []
    off = 1
    for s in reversed(pat.steps[:-1]):
        offsets[s.name] = list(range(off, off + s.min_count))
        for _ in range(s.min_count):
            checks.append((s.clses(), off))
            off += 1
        if s.exact:
            exact_guards.append((s.clses(), off))
    total = off  # pattern length in events
    w_len = total - 1 + (1 if exact_guards and max(
        o for _, o in exact_guards) >= total else 0)
    anchor_clses = last.clses()
    within_us = (
        pat.within_hours * 3600 * 1_000_000
        if pat.within_hours is not None
        else None
    )
    guard_specs = [
        (s.name, s.guard) for s in pat.steps if s.guard is not None
    ]
    needs_val = bool(guard_specs)
    state_schema = (
        SUFFIX_STATE_SCHEMA_VAL if needs_val else SUFFIX_STATE_SCHEMA
    )
    fields = [
        StructField(KEY_COL, LongType()),
        StructField("anchor_event", LongType()),
    ]
    for name, _g in guard_specs:
        fields.append(StructField(f"g_{name}", DoubleType()))
        fields.append(StructField(f"g_{name}_ref", DoubleType()))
    fields += [
        StructField("pattern_start_us", LongType()),
        StructField("pattern_end_us", LongType()),
    ]
    out_schema = StructType(fields)

    def _agg(vals, agg):
        """Values listed anchor-first (offset asc). Mirrors
        _suffix_val_agg: 'first' = the EARLIEST matched event."""
        if agg == "first":
            return vals[-1]
        if agg == "last":
            return vals[0]
        nn = [v for v in vals if v is not None]
        if not nn:
            return None
        if agg == "min":
            return min(nn)
        if agg == "max":
            return max(nn)
        return sum(nn)

    def step(k, ready, st, _wm_ms, _held):
        win = load_events(st, "win")
        out = []
        for us, eid, cls, val in ready:
            if cls is not None and cls in anchor_clses:
                ok = True
                for clses, o in checks:
                    e = win[-o] if o <= len(win) else None
                    if e is None or e[2] is None or e[2] not in clses:
                        ok = False
                        break
                if ok:
                    for clses, o in exact_guards:
                        e = win[-o] if o <= len(win) else None
                        # absent boundary passes (batch: isNull | ~cls)
                        if e is not None and e[2] is not None \
                                and e[2] in clses:
                            ok = False
                            break
                # checks reference offsets 1..total-1 and fail on a
                # short window, so when ok the lookup is in range
                start_us = (
                    win[-(total - 1)][0] if ok and total > 1 else us
                )
                if ok and within_us is not None and total > 1:
                    ok = us <= start_us + within_us
                gvals = []
                if ok and guard_specs:
                    def at(o):
                        if o == 0:
                            return val
                        return win[-o][3] if o <= len(win) else None

                    for name, g in guard_specs:
                        lhs = _agg([at(o) for o in offsets[name]], g.agg)
                        rhs = _agg(
                            [at(o) for o in offsets[g.ref_step]],
                            g.ref_agg,
                        )
                        if lhs is None or rhs is None or not GUARD_CMPS[
                            g.cmp
                        ](lhs, rhs * g.factor):
                            ok = False
                            break
                        gvals += [lhs, rhs]
                if ok:
                    out.append(
                        tuple([k, int(eid)] + gvals
                              + [int(start_us), int(us)])
                    )
            win.append((us, eid, cls, val))
            del win[: max(0, len(win) - w_len)]
        st.update(dump_events(state_schema, "win", win))
        return out, True, None

    return fold_machine(out_schema, state_schema, step)


def suffix_pattern_stream(
    spark: SparkSession, sf_dir: str, pat: Pattern
) -> DataFrame:
    """Replayed events → per-event suffix automaton → memory sink (the
    suffix-strategy sibling of pattern_stream)."""
    return keyed_fold(
        _pattern_events(spark, sf_dir, pat), KEY_COL,
        compile_suffix_stream(pat),
    )


@query(
    "pattern_detect_cep_stream",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type, 1) OVER w AS prev1,
             LAG(event_type, 2) OVER w AS prev2,
             LAG(ts, 2)         OVER w AS ts0
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           event_id AS purchase_event,
           epoch_us(ts0) AS pattern_start_us,
           epoch_us(ts)  AS pattern_end_us
    FROM seq
    WHERE event_type = 'purchase'
      AND prev1 = 'click' AND prev2 = 'click'
      AND ts <= ts0 + INTERVAL 6 HOUR
      AND epoch_us(ts) // 1000
          <= epoch_us((SELECT MAX(ts) FROM events)) // 1000 - 600000
    """,
)
def pattern_detect_cep_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of pattern_detect_cep — per-EVENT anchoring:
    strictly consecutive click → click → purchase within 6 h, every
    qualifying purchase EVENT a match even inside a longer click run
    (the semantics the run-fold automaton's compression deliberately
    discards). The suffix machine keeps only the last W = 2 folded
    events per key — per-event anchoring with O(1)
    compile-time-constant state — and decides each anchor the moment
    it folds (the ms-aligned fold of the purchase itself).

    Scale: O(pattern length) state per key (smaller than the run-fold
    machine's window — no run lengths, no value slots unguarded), one
    shuffle on user_id, timers only for watermark re-folds.
    """
    return suffix_pattern_stream(spark, sf_dir, DETECT_CEP).select(
        "user_id",
        F.col("anchor_event").alias("purchase_event"),
        "pattern_start_us",
        "pattern_end_us",
    )


@query(
    "pattern_detect_until_stream",
    oracle=twin_oracle(
        "pattern_detect_until", folded(PATTERN_END_US), PATTERN_US
    ),
)
def pattern_detect_until_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_detect_until: Flink
    ``oneOrMore().until(value > 100)`` detected
    incrementally. The stop condition is resolved by the SAME
    row-local relabel the batch compiler uses (``apply_until``,
    applied by :func:`pattern_stream` on the stream BEFORE the
    automaton — streaming-safe, stateless): stop events arrive at the
    run-fold machine as a foreign synthetic class, closing the open
    view run exactly like any class change, so the compiled automaton
    is byte-identical to the oneOrMore twin's. It emits at anchor-run
    OPEN (the anchor is a plain unguarded run, nothing ranges over it
    at emission).
    """
    m = pattern_stream(spark, sf_dir, DETECT_UNTIL)
    return m.select(
        "user_id",
        F.col("anchor_event").alias("purchase_event"),
        "n_views",
        "pattern_start_us",
        "pattern_end_us",
    )


@query(
    "stream_state_reader_automaton",
    oracle="""
    WITH wm AS (
      SELECT epoch_us(MAX(ts)) // 1000 - 600000 AS wm_ms FROM events
    ), folded AS (
      SELECT user_id, ts, event_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn_t
      FROM events, wm
      WHERE epoch_us(ts) // 1000 <= wm.wm_ms
    ), runs AS (
      SELECT user_id, event_type, COUNT(*) AS run_len,
             MIN(rn) AS start_rn, ARG_MIN(event_id, rn) AS first_id
      FROM folded
      GROUP BY user_id, event_type, rn - rn_t
    ), ranked AS (
      SELECT user_id, event_type, run_len, first_id,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY start_rn DESC) AS rk,
             COUNT(*) OVER (PARTITION BY user_id) AS n_runs
      FROM runs
    ), cur AS (
      SELECT user_id, event_type AS cur_cls,
             CAST(run_len AS BIGINT) AS cur_len,
             first_id AS cur_first,
             CAST(LEAST(n_runs - 1, 1) AS BIGINT) AS n_win
      FROM ranked WHERE rk = 1
    ), buf AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_buf
      FROM events, wm
      WHERE epoch_us(ts) // 1000 > wm.wm_ms
      GROUP BY user_id
    )
    SELECT COALESCE(c.user_id, b.user_id) AS user_id,
           c.cur_cls, c.cur_len, c.cur_first,
           COALESCE(c.n_win, 0) AS n_win,
           COALESCE(b.n_buf, 0) AS n_buf
    FROM cur c FULL OUTER JOIN buf b ON c.user_id = b.user_id
    """,
)
def stream_state_reader_automaton(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """USER-DEFINED composite state read back from a checkpoint: the
    third state reader (flat keyed count / windowed built-in aggregate
    / arbitrary applyInPandasWithState blob), checked by the driver as
    well as by test_state_reader_decodes_cep_automaton_state.

    The compiled run-fold CEP automaton (``V+ P+`` within 24 h) runs
    to completion against a fresh checkpoint; the ``statestore``
    source then decodes each key's state blob OFFLINE — nested under
    ``value.groupState.<field>`` beside the operator's
    ``timeoutTimestamp``, arrays included.
    Emitted per user: the OPEN run the fold last carried (class /
    length / first event id), the closed-run window depth
    (``n_win``, bounded at pattern length − 1 = 1 here), and the
    held-event count (``n_buf`` — events above the final watermark,
    which the hold-buffer protocol never folds).

    The oracle is the fold semantics in the runs algebra: fold =
    events with ``ts_ms <= final watermark`` (split_by_watermark's
    ms-aligned admission), cur = the LAST maximal run of the folded
    sequence, n_win = LEAST(runs − 1, 1), buf = the unfolded rest —
    a FULL hash-verified SQL oracle, not a rows-only stamp, because a
    run-fold machine's retained state is a pure function of the
    folded prefix (no eviction without idle_evict).

    Scale: the state source reads RocksDB SST files per partition in
    parallel without replaying the stream (a 1.5 M-key store read in
    27.3 s at 1000× scale); auditing a live CEP deployment's
    automata at 100 TB touches only the checkpoint.
    """
    pat = Pattern(
        steps=(
            Step("views", "view", 1, None),
            Step("purchase", "purchase", 1, None),
        ),
        within_hours=24,
    )
    ckpt = scratch_dir("flws_statereader_cep_")
    # the shared launcher owns the column rules / machine wiring —
    # never copy its launch block
    pattern_stream(spark, sf_dir, pat, checkpoint=ckpt)
    state = spark.read.format("statestore").option("path", ckpt).load()
    g = "value.groupState"
    return state.select(
        F.col("key.user_id").alias("user_id"),
        # The blob encodes "no open run" as cur_cls='' (cur_len is
        # the open-run flag, module docstring) and a NULL-class run
        # as cur_nul=1 — decode BOTH back to SQL NULL or a user
        # whose every event is held above the final watermark (no
        # folded run) would emit '' where the oracle's outer join
        # yields NULL.
        F.when(
            F.col(f"{g}.cur_len").isNotNull()
            & (F.col(f"{g}.cur_nul") == 0),
            F.col(f"{g}.cur_cls"),
        ).alias("cur_cls"),
        F.col(f"{g}.cur_len").alias("cur_len"),
        F.col(f"{g}.cur_first").alias("cur_first"),
        F.coalesce(F.size(f"{g}.win_cls"), F.lit(0))
        .cast("long")
        .alias("n_win"),
        F.coalesce(F.size(f"{g}.buf_id"), F.lit(0))
        .cast("long")
        .alias("n_buf"),
    )


@query(
    "pattern_detect_group_times_stream",
    oracle=twin_oracle(
        "pattern_detect_group_times", folded(PATTERN_END_US), PATTERN_US
    ),
)
def pattern_detect_group_times_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of pattern_detect_group_times: the
    ``(view click){2}`` nested group detected incrementally by the
    per-event suffix machine. :func:`repeat_group` expands the group
    BEFORE compilation, so compile_suffix_stream sees a flat
    four-step fixed pattern — zero machine change (the same
    sugar-not-machinery story as the batch half), W = 3 folded
    predecessors per anchor, each decided at its own fold (nothing
    ranges over an open run).
    """
    return suffix_pattern_stream(spark, sf_dir, DETECT_GROUP_TIMES).select(
        "user_id",
        "anchor_event",
        "pattern_start_us",
        "pattern_end_us",
    )
