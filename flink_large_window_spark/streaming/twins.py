"""Stream-twin oracles derived from their batch key.

A stream twin replays its batch key's events under the 10-minute
watermark every stream key declares, and emits a result once the
watermark passes the result's end: the completeness condition of
"Watermarks in Stream Processing Systems" (VLDB 2021). A bounded
replay ends at the final watermark ``MAX(ts) − 10 min``, so the twin's
result is the batch key's result restricted to what that watermark
closed. :func:`twin_oracle` writes exactly that:

    SELECT <column map> FROM (<batch key's ORACLES text>) AS b
    WHERE <closing rule>

It reads only the batch key's hand-written SQL and a closing rule
written in SQL, never a builder or a ``Pattern``, so a derived oracle
stays independent of the engine it checks.

Closing rules, one per emission mechanism (the keyed rules are
keyed.py's fold and settle rules, evaluated at the final watermark):

- :func:`closed` — the built-in windowed operators (``window``,
  ``session_window``, min_by/max_by bars) emit a window once its end
  is before the watermark, compared in µs: ``end < final watermark``.
- :func:`folded` — ms-aligned and inclusive, ``us // 1000 <= wm_ms``:
  a hold-buffer machine (keyed.fold_machine) folds an event at
  ``ts_ms <= wm_ms`` and emits a match at the fold of its closing
  event; window_topn_stream fires a day at ``end_ms <= wm_ms``.
- :func:`settled` — ms-aligned and strict, ``us // 1000 < wm_ms``: a
  pending-state machine (keyed.settle_machine) resolves an event once
  ``(ts_us + settle_us) // 1000 < wm_ms``. These machines read a
  class-filtered stream with the watermark declared after the filter,
  so the final watermark is ``MAX(ts)`` over those classes.

A twin whose semantics differ from its batch key's, or whose closing
instant the batch output cannot give, keeps a hand-written oracle and
says why in :data:`OWN_ORACLE`.
"""

from __future__ import annotations

from .. import operators  # noqa: F401  (registers the batch keys read here)
from ..registry import ORACLES
from . import windows  # noqa: F401  (registers the window batch keys)

#: The final watermark of a bounded replay, as a timestamp.
FINAL_WM = "(SELECT MAX(ts) FROM events) - INTERVAL 10 MINUTE"

#: Column map of the CEP twins: the batch key's ``pattern_start`` /
#: ``pattern_end`` strings as µs longs, the form the machines emit.
PATTERN_US = (
    "b.* EXCLUDE (pattern_start, pattern_end), "
    "epoch_us(CAST(b.pattern_start AS TIMESTAMP)) AS pattern_start_us, "
    "epoch_us(CAST(b.pattern_end AS TIMESTAMP)) AS pattern_end_us"
)

#: A CEP match's closing event: the first event of its final step.
PATTERN_END_US = "epoch_us(CAST(b.pattern_end AS TIMESTAMP))"

#: Stream twins with a batch key of the same name that keep their own
#: oracle, and why.
OWN_ORACLE = {
    "pattern_detect_cep_stream":
        "adds purchase_event, which the batch output does not carry",
    "pattern_detect_times_exact_stream":
        "emits at the anchor run's close (the next run's start), "
        "which the batch output does not carry",
    "pattern_match_finalguard_stream":
        "emits at the anchor run's close (the next run's start), "
        "which the batch output does not carry",
    "window_count_tumbling_stream":
        "emits only full windows, at the fold of their latest event, "
        "whose ts the batch output does not carry",
    "window_count_sliding_stream":
        "emits only full windows, at the fold of their latest event, "
        "whose ts the batch output does not carry",
    "window_cascading_rollup_stream":
        "streams the day grain only, through chained stateful "
        "operators; the batch key unions three grains",
    "window_early_fire_stream":
        "one update-mode batch fires each day once with its final "
        "count; the batch key emits one running row per hour",
    "watermark_dedup_stream":
        "dedups on event_id within the watermark; the batch key keeps "
        "the first event per (user, type, day)",
    "window_large_day_stream":
        "rows-only: approx_count_distinct is implementation-defined",
}


def _final_wm_ms(classes: tuple[str, ...]) -> str:
    where = (
        " WHERE event_type IN ("
        + ", ".join(f"'{c}'" for c in classes) + ")"
        if classes else ""
    )
    return f"epoch_us((SELECT MAX(ts) FROM events{where})) // 1000 - 600000"


def event_us(id_col: str) -> str:
    """The µs timestamp of the event whose id is ``b.<id_col>``."""
    return (
        f"(SELECT epoch_us(e.ts) FROM events e WHERE e.event_id = b.{id_col})"
    )


def closed(end: str) -> str:
    """Built-in operators: the window ending at timestamp ``end``
    emitted (µs, strict)."""
    return f"{end} < {FINAL_WM}"


def folded(us: str) -> str:
    """Hold-buffer machines: the closing event at ``us`` folded
    (ms-aligned, inclusive)."""
    return f"({us}) // 1000 <= {_final_wm_ms(())}"


def settled(us: str, *classes: str) -> str:
    """Pending-state machines over ``classes``: the event whose settle
    instant is ``us`` resolved (ms-aligned, strict)."""
    return f"({us}) // 1000 < {_final_wm_ms(classes)}"


def twin_oracle(batch_key: str, close: str | None = None,
                columns: str = "b.*") -> str:
    """The stream twin's oracle: ``batch_key``'s oracle, mapped to the
    twin's columns and restricted to the results ``close`` keeps. A
    twin that emits everything (no ``close``) reads the batch oracle
    as it is."""
    sql = ORACLES[batch_key]
    if close is None:
        return sql
    return f"SELECT {columns} FROM (\n{sql}\n) AS b\nWHERE {close}"
