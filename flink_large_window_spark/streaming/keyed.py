"""The keyed event-time protocol, in one place: every
``applyInPandasWithState`` machine in streams.py and cep_stream.py is
launched, decodes and encodes its state, ingests events, splits them
at the watermark, arms its timer and builds its emission frame through
this module. Two kernels own the whole per-group protocol:
:func:`fold_machine` for the five hold-buffer machines (run-fold and
suffix CEP automata, TTL, count-tumbling, count-sliding) and
:func:`settle_machine` for the pending-state machines; each machine
supplies only its fold step or resolve rule.

The contract it encodes (the watermark/timer contract of "Watermarks
in Stream Processing Systems", VLDB 2021):

- **Drop rule** (Spark's): an input row with ``ts < wm`` is late and
  never reaches a handler, so every event a handler sees has
  ``ts_ms >= wm_ms`` at ingest.
- **Fold rule** (hold-buffer machines, :func:`fold_machine`): a
  buffered event folds once ``ts_ms <= wm_ms``, in full
  ``(ts, order_id)`` order across batches, and a timer 1 ms before
  the earliest held event re-folds. Because Spark admits the
  ``ts == wm`` tie, an exact-millisecond tie arriving in a LATER batch
  folds in arrival order — the documented residual hazard, pinned by
  tests/test_streaming_parity.py::
  test_pattern_stream_exact_watermark_tie_folds_in_arrival_order.
- **Settle rule** (pending-state machines, :func:`settle_machine`):
  a pending event settles once ``(ts_us + settle_us) // 1000 < wm_ms``
  (STRICT). Any unseen event then has ``ts_ms >= wm_ms``, hence
  ``ts_us >= wm_ms·1000 > ts + settle``: it lies outside the settling
  event's frame, so the resolution is final.
- **Eviction floor**: a retained event below ``wm_ms·1000 −
  retain_us`` is unreachable — every pending and future event has
  ``ts_us >= wm_ms·1000`` (or a deadline at or above the watermark),
  and frames reach back at most ``retain_us``. The floor is exact.
- **Timer clamp** (:func:`timer_ms`): ``setTimeoutTimestamp`` requires
  a timestamp above the current watermark, so every timer is armed at
  ``max(deadline, wm_ms + 1)``. API-forced residual: when the clamp
  engages the timer fires only once the watermark passes
  ``wm_ms + 1``; if the stream's FINAL watermark lands exactly on a
  clamped instant and the key sees no further data, that last
  re-check never runs. It needs an exact-ms coincidence between
  ``max(ts) − delay`` and a deadline — the same measure-zero class as
  the fold tie — and any later data for the key heals it.

State codec: state fields named ``<prefix>_us`` / ``_id`` / ``_cls`` /
``_nul`` / ``_val`` are parallel arrays of one event list. A NULL
class is stored as ``""`` plus a ``1`` in the ``_nul`` array (cur_len,
not the class, marks an open run in the run-fold machine, so ``""``
alone would be ambiguous); a NULL value is stored as NaN (a real NaN
compares false in every guard exactly like SQL NULL).

Handlers are closures (cloudpickle ships them by value); this module
is importable on the workers through the package path that
``session.get_spark`` sets.
"""

from __future__ import annotations

from typing import Callable, Iterator, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructType

NAN = float("nan")


class Machine(NamedTuple):
    """A compiled keyed machine: the handler and its two schemas."""

    handler: Callable
    out_schema: StructType
    state_schema: StructType


def keyed_fold(
    ev: DataFrame, key: str, machine: Machine, checkpoint: str | None = None
) -> DataFrame:
    """The one launcher: ``groupBy(key).applyInPandasWithState`` in
    append mode with event-time timeouts, drained through
    run_to_memory (``checkpoint`` passes through so the state-reader
    keys can re-open the finished query's store). ``ev`` must keep its
    watermark column in the projection, or analysis fails with
    "Event-time timeout not supported without watermark"."""
    from .streams import run_to_memory  # streams imports this module

    result = ev.groupBy(key).applyInPandasWithState(
        machine.handler,
        outputStructType=machine.out_schema,
        stateStructType=machine.state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return run_to_memory(ev.sparkSession, result, checkpoint=checkpoint)


def enc_cls(c):
    return "" if c is None else c


def enc_nul(c) -> int:
    return 1 if c is None else 0


def dec_cls(c, nul):
    return None if nul else c


def enc_val(v) -> float:
    return NAN if v is None else float(v)


def dec_val(v):
    return None if v is None or v != v else float(v)


def read_state(state: GroupState, schema: StructType) -> dict | None:
    """The state row as a field-name dict, or None when the key has
    no state."""
    return dict(zip(schema.fieldNames(), state.get)) if state.exists else None


def write_state(state: GroupState, schema: StructType, fields: dict) -> None:
    state.update(tuple(fields[n] for n in schema.fieldNames()))


def load_events(st: dict | None, prefix: str) -> list[tuple]:
    """``(us, id, cls, val)`` tuples from the ``<prefix>_*`` arrays of
    a state dict; an array the state does not hold decodes as None."""
    if not st:
        return []
    us = [int(u) for u in st[f"{prefix}_us"]]
    none = [None] * len(us)
    ids = st.get(f"{prefix}_id")
    cls, nul = st.get(f"{prefix}_cls"), st.get(f"{prefix}_nul")
    vals = st.get(f"{prefix}_val")
    return list(zip(
        us,
        none if ids is None else [int(i) for i in ids],
        none if cls is None else [dec_cls(c, n) for c, n in zip(cls, nul)],
        none if vals is None else [dec_val(v) for v in vals],
    ))


_EVENT_FIELDS = (
    ("us", lambda e: e[0]),
    ("id", lambda e: e[1]),
    ("cls", lambda e: enc_cls(e[2])),
    ("nul", lambda e: enc_nul(e[2])),
    ("val", lambda e: enc_val(e[3])),
)


def dump_events(schema: StructType, prefix: str, events) -> dict:
    """Inverse of :func:`load_events`: the ``<prefix>_*`` arrays that
    ``schema`` holds."""
    names = schema.fieldNames()
    return {
        f"{prefix}_{name}": [enc(e) for e in events]
        for name, enc in _EVENT_FIELDS
        if f"{prefix}_{name}" in names
    }


def ingest_chunk(buf, chunk, ts_col, id_col, cls_col=None, val_col=None):
    """Append one ``applyInPandasWithState`` chunk to an event buffer
    as ``(ts_us, order_id, cls|None, val|None)`` tuples — the only
    chunk decoder. Whole-column ``astype/tolist`` decode (a per-row
    ``zip`` with a ``pd.Timestamp.value`` unbox per event is ~6×
    slower at 200 k rows); ``pd.isna`` maps None, NaN and ``pd.NA``
    (``string[pyarrow]``) classes to None."""
    uss = (chunk[ts_col].astype("int64") // 1_000).tolist()
    eids = chunk[id_col].tolist()
    if cls_col is None:
        clss = [None] * len(uss)
    else:
        arr = chunk[cls_col].to_numpy(dtype=object, copy=True)
        arr[pd.isna(arr)] = None
        clss = arr.tolist()
    if val_col is None:
        vs = [None] * len(uss)
    else:
        vs = [
            None if v != v else v
            for v in chunk[val_col]
            .to_numpy(dtype="float64", na_value=NAN)
            .tolist()
        ]
    buf.extend(zip(uss, eids, clss, vs))


def split_by_watermark(buf, wm_ms):
    """The fold rule: ``(ready, hold)`` — buffered events whose
    ms-floored timestamp the watermark has reached (``ts_ms <= wm_ms``),
    sorted by ``(ts, order_id)``, and the rest. Buffer elements are
    tuples whose first two fields are (ts_us, order_id)."""
    ready = sorted(
        (e for e in buf if e[0] // 1000 <= wm_ms),
        key=lambda e: (e[0], e[1]),
    )
    hold = [e for e in buf if e[0] // 1000 > wm_ms]
    return ready, hold


def timer_ms(deadline_ms, wm_ms):
    """The timer clamp: ``deadline_ms`` raised above the current
    watermark, as ``setTimeoutTimestamp`` requires (module docstring
    for the residual)."""
    return max(deadline_ms, wm_ms + 1)


def frame(schema: StructType, rows) -> pd.DataFrame:
    """The emission frame: one column per ``schema`` field from row
    tuples. A LongType column holding a NULL goes through pandas'
    nullable Int64, so ids never round-trip through float64."""
    cols = {}
    for i, f in enumerate(schema.fields):
        col = [r[i] for r in rows]
        if isinstance(f.dataType, LongType) and None in col:
            col = pd.array(col, dtype="Int64")
        cols[f.name] = col
    return pd.DataFrame(cols)


def fold_machine(
    out_schema: StructType, state_schema: StructType, step: Callable
) -> Machine:
    """The hold-buffer kernel (run-fold and suffix CEP automata, TTL,
    count-tumbling and count-sliding windows). Arrivals buffer in the
    state's ``buf_*`` arrays and fold by the module's fold rule; the
    class column is ingested iff the state holds ``buf_cls``, the value
    column iff it holds ``buf_val``.

    ``step(key, ready, st, wm_ms, held)`` gets the events the fold
    rule admits (sorted), the state dict (empty for a new key), and
    whether events are still held. It folds ``ready`` into ``st`` in
    place, setting every non-buffer field, and returns ``(rows, keep,
    deadline_ms)``. The kernel removes the state only when the step
    drops it (``keep`` false) and nothing is held; otherwise it writes
    ``st`` back with the hold buffer and arms the timer at the earlier
    of the hold re-fold and ``deadline_ms`` (None: no deadline),
    through the clamp."""
    names = state_schema.fieldNames()
    cls_col = "event_type" if "buf_cls" in names else None
    val_col = "value" if "buf_val" in names else None

    def handler(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st = read_state(state, state_schema) or {}
        buf = load_events(st, "buf")
        wm_ms = state.getCurrentWatermarkMs()
        if not state.hasTimedOut:
            for chunk in pdfs:
                ingest_chunk(buf, chunk, "ts", "event_id", cls_col, val_col)
        ready, hold = split_by_watermark(buf, wm_ms)
        rows, keep, deadline = step(key[0], ready, st, wm_ms, bool(hold))
        if keep or hold:
            st.update(dump_events(state_schema, "buf", hold))
            write_state(state, state_schema, st)
            if hold:
                # re-fold 1 ms before the earliest held event, so the
                # fold that admits it runs the moment the watermark
                # reaches it
                refold = min(e[0] for e in hold) // 1000 - 1
                deadline = refold if deadline is None else min(deadline, refold)
            if deadline is not None:
                state.setTimeoutTimestamp(timer_ms(deadline, wm_ms))
        elif state.exists:
            state.remove()
        yield frame(out_schema, rows)

    return Machine(handler, out_schema, state_schema)


def settle_machine(
    out_schema: StructType,
    state_schema: StructType,
    roles: dict,
    pending: str,
    resolve: Callable,
    settle_us: int = 0,
    retain_us: int = 0,
    init: dict | None = None,
) -> Machine:
    """The pending-state kernel (absence, preceding-horizon count,
    pairs ± blocker, timed-out partials, as-of join). ``roles`` maps
    each state prefix to the event classes routed into it (read from
    ``ts`` / ``event_id`` / ``event_type``); each role is a list of
    ``(us, id)`` pairs, ``id`` None when the state keeps timestamps
    only. The ``pending`` role's events settle by the module's settle
    rule with ``settle_us``; every other role is retained, sorted,
    and evicted below the floor ``wm_ms·1000 − retain_us``.

    ``resolve(key, due, roles, wm_ms, st)`` gets the settling events
    (state order), the sorted role lists and the state dict, and
    returns the emitted rows; it may rewrite scalar state fields in
    ``st`` (defaults in ``init``). The kernel re-arms a timer at the
    earliest pending deadline and never removes state."""
    route = {}
    for prefix, classes in roles.items():
        for c in classes:
            route.setdefault(c, prefix)
    ided = {p: f"{p}_id" in state_schema.fieldNames() for p in roles}

    def handler(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st = read_state(state, state_schema)
        lists = {p: [e[:2] for e in load_events(st, p)] for p in roles}
        st = st or dict(init or {})
        wm_ms = state.getCurrentWatermarkMs()
        if not state.hasTimedOut:
            buf = []
            for chunk in pdfs:
                ingest_chunk(buf, chunk, "ts", "event_id", "event_type")
            for us, eid, cls, _ in buf:
                p = route.get(cls)
                if p is not None:
                    lists[p].append((us, eid if ided[p] else None))
        due, wait = [], []
        for e in lists[pending]:
            (due if (e[0] + settle_us) // 1000 < wm_ms else wait).append(e)
        for p in roles:
            if p != pending:
                lists[p].sort()
        rows = resolve(key[0], due, lists, wm_ms, st)
        floor_us = wm_ms * 1000 - retain_us
        for p, evs in lists.items():
            kept = wait if p == pending else [e for e in evs if e[0] >= floor_us]
            st.update(dump_events(state_schema, p, kept))
        write_state(state, state_schema, st)
        if wait:
            state.setTimeoutTimestamp(
                timer_ms((min(e[0] for e in wait) + settle_us) // 1000, wm_ms)
            )
        yield frame(out_schema, rows)

    return Machine(handler, out_schema, state_schema)
