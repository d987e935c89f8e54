"""Structured Streaming twins of the §2.9 window operators.

File-source replay of the events parquet → withWatermark → stateful
transformation → memory sink drained with trigger(availableNow=True),
which processes all available input deterministically and stops — the
bounded-replay contract under which Flink and Spark watermark semantics
agree on final window contents (SURVEY §2.9 gap #1).

State store: RocksDB provider (Flink's RocksDB state backend analogue)
so large-window state spills off-heap; set per-session at runtime.

Ordered replays: a key or test that needs several micro-batches in a
set order (a late slice after the on-time one, a phase after a
restart, a key's events split across batches) writes its slices with
write_batches and reads them back with batch_stream, one slice per
micro-batch. Spark's file source takes the unread file with the oldest
modification time first, and slices written back to back can share a
timestamp (Hadoop reports milliseconds; some file systems keep whole
seconds), which falls back to listing order. So write_batches pins
each slice's mtime one second past the previous one instead of
sleeping between writes.

The hand-built keyed machines here (count session, session timeout,
TTL, window top-N, count-tumbling, count-sliding, as-of join) run on
keyed.py, which owns the launcher, the state/event codec, the
watermark fold and settle rules with their tie contract, the eviction
floor and the timer clamp; the docstrings below state only what each
machine adds.

Oracles: under bounded replay each twin's emission set is
deterministic. Append mode emits exactly what the final watermark
(max event ts − delay) closed, stream-stream joins emit all inner
matches plus null-padded rows for closed panes, and UPDATE mode emits
exactly the groups each batch changed. A twin with a batch key of the
same name derives its oracle from that key (twins.py); the others
carry their own SQL. Rows-only by design: window_large_day_stream
(approx_count_distinct — the estimate is implementation-defined),
source_rate_stream (wall-clock), and stream_late_drop, whose point is
Spark's runtime drop accounting (numRowsDroppedByWatermark exists
only in query progress) and whose emission set depends on the
inter-batch watermark staging (batch-1 filter uses batch-0's
watermark), not just the final frontier.
"""

from __future__ import annotations

import bisect
import os
import time
from contextlib import contextmanager
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..registry import query
from ..scratch import scratch_dir
from ..tables import prep
from .keyed import (
    Machine,
    dec_val,
    enc_val,
    fold_machine,
    frame,
    ingest_chunk,
    keyed_fold,
    settle_machine,
    timer_ms,
)
from .twins import closed, event_us, folded, settled, twin_oracle
from .windows import (
    session_agg,
    session_dynamic_gap_agg,
    sliding_agg,
    tumbling_agg,
    tumbling_offset_agg,
)

_SINK_SEQ = 0


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream (bounded replay).

    The ns→µs canonicalization matches tables.table(): the raw column
    is a ns long under the nanosAsLong conf, converted after read.
    """
    prep(spark)
    batch = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # The file source needs a directory; narrow it to the events file
    # with a glob (replaying one file per micro-batch).
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return stream


def write_batches(d: str, *tables) -> str:
    """Append each pyarrow table to ``d`` as the next
    ``part_NNN.parquet`` (numbered after the ``part_*`` files already
    there) with its mtime pinned one second per index ahead of now, so
    :func:`batch_stream` replays the slices in write order, across
    calls too. Returns ``d``."""
    import pyarrow.parquet as pq

    start = sum(name.startswith("part_") for name in os.listdir(d))
    for i, tbl in enumerate(tables, start):
        path = os.path.join(d, f"part_{i:03d}.parquet")
        pq.write_table(tbl, path)
        mtime = time.time() + i
        os.utime(path, (mtime, mtime))
    return d


def batch_stream(spark: SparkSession, d: str, schema) -> DataFrame:
    """The :func:`write_batches` slices in ``d`` as a file-source
    stream, one slice per micro-batch."""
    prep(spark)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "part_*.parquet")
        .parquet(d)
    )


# Streaming state-store width: each shuffle partition owns a RocksDB
# store instance whose open/commit cost dominates bounded-replay
# micro-batches at fixture scale, so the twins run narrower than the
# batch default. A deployment sizes it to its key cardinality /
# executor count; changing it on an EXISTING checkpoint is a
# state-layout change (Spark pins the width at first run).
STREAM_SHUFFLE_PARTITIONS = 8

#: stateOperators metrics of the most recent run_to_memory query —
#: lets tests assert watermark behavior (e.g. numRowsDroppedByWatermark)
#: without re-running the stream.
LAST_STATE_METRICS: list[dict] = []

#: stateOperators COUNT per progress entry of the most recent
#: run_to_memory query (LAST_STATE_METRICS flattens across
#: micro-batches, so it cannot distinguish "2 chained operators" from
#: "1 operator over 2 batches" — this can).
LAST_STATE_OP_COUNTS: list[int] = []


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextmanager
def _pinned_stream_confs(spark: SparkSession):
    """RocksDB state store and STREAM_SHUFFLE_PARTITIONS for the
    block, both restored after — the two-phase checkpoint keys pin the
    provider so their state layout cannot depend on which key ran
    earlier in the session. ``conf.get`` on a registered conf never
    raises (unset returns the built-in default), so re-setting the
    snapshot restores an unset conf too."""
    confs = {
        "spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER,
        "spark.sql.shuffle.partitions": str(STREAM_SHUFFLE_PARTITIONS),
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def run_to_memory(
    spark: SparkSession,
    out: DataFrame,
    mode: str = "append",
    checkpoint: str | None = None,
) -> DataFrame:
    """Drain a streaming DataFrame into a memory sink, return the table.

    The run happens inside :func:`_pinned_stream_confs`: the RocksDB
    state store provider (the Flink RocksDB state-backend analogue for
    large window state) and STREAM_SHUFFLE_PARTITIONS, both restored
    after. A stateful operator opens/commits one state store PER
    shuffle partition PER micro-batch, so at bounded-replay scale the
    32-partition batch default spends most wall time on store
    lifecycle, not data (the store count drives a replay's wall).
    The partition count is baked into each checkpoint; every
    run here uses a fresh checkpoint, so lowering it is safe. On a real
    cluster this is sized to state volume ÷ executor memory instead.

    ``checkpoint`` overrides the auto-generated checkpoint location —
    the state-reader keys pass their own so they can re-open the
    finished query's state store offline without copying this launch
    block.
    """
    global _SINK_SEQ, LAST_STATE_METRICS, LAST_STATE_OP_COUNTS
    _SINK_SEQ += 1
    name = f"flws_stream_sink_{_SINK_SEQ}"
    with _pinned_stream_confs(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option(
                "checkpointLocation",
                checkpoint if checkpoint is not None
                else scratch_dir("flws_ckpt_"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    LAST_STATE_METRICS = [
        dict(op)
        for p in q.recentProgress
        for op in (p.get("stateOperators") or [])
    ]
    LAST_STATE_OP_COUNTS = [
        len(p.get("stateOperators") or []) for p in q.recentProgress
    ]
    return spark.table(name)


@query(
    "window_tumbling_agg_stream",
    oracle=twin_oracle(
        "window_tumbling_agg",
        closed("CAST(b.w_start AS TIMESTAMP) + INTERVAL 1 HOUR"),
    ),
)
def window_tumbling_agg_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of window_tumbling_agg (10-min watermark)."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return run_to_memory(spark, tumbling_agg(ev))


@query(
    "window_session_agg_stream",
    oracle=twin_oracle(
        "window_session_agg", closed("CAST(b.s_end AS TIMESTAMP)")
    ),
)
def window_session_agg_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of window_session_agg (session_window + watermark)."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return run_to_memory(spark, session_agg(ev))


@query("window_large_day_stream")  # rows-only
def window_large_day_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of window_large_day.

    Exact distinct is not incrementally maintainable in a stream —
    approx_count_distinct (HLL, fixed-size state) is the 100 TB path;
    therefore this twin's n_users is approximate and the key is
    rows-only by design.
    """
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.round(F.sum("value"), 4).alias("revenue"),
            F.approx_count_distinct("user_id", 0.01).alias("n_users_approx"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("w.start").cast("string").alias("d_start"),
            "event_type",
            "revenue",
            "n_users_approx",
            "n",
        )
    )
    return run_to_memory(spark, agg, mode="append")


@query(
    "watermark_dedup_stream",
    oracle="SELECT event_id, user_id, event_type FROM events",
)
def watermark_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark on event_id — state is pruned once
    the watermark passes, exactly Flink's keyed dedup-with-timer."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    dedup = ev.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type"
    )
    return run_to_memory(spark, dedup, mode="append")


_STATE_SCHEMA = StructType(
    [StructField("seg", LongType()), StructField("cnt", LongType())]
)
_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("n_since_signup", IntegerType()),
    ]
)


@query(
    "stateful_count_session_stream",
    oracle=twin_oracle("stateful_count_session"),
)
def stateful_count_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of stateful_count_session via applyInPandasWithState.

    It arms no timer; the kernel's event-time-timeout launch never
    invokes it without data.
    """

    def count_since_signup(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Keyed state machine (KeyedProcessFunction + ValueState
        analogue): counter per user resetting at each 'signup' event.

        Correct only under per-key event-time order within the replay
        (each batch folds in (ts, event_id) order on arrival); the
        batch oracle (stateful_count_session) is the order-insensitive
        ground truth.
        """
        (seg, cnt) = state.get if state.exists else (0, 0)
        buf = []
        for pdf in pdfs:
            ingest_chunk(buf, pdf, "ts", "event_id", "event_type")
        rows = []
        for _us, eid, cls, _ in sorted(buf):
            if cls == "signup":
                seg, cnt = seg + 1, 1
            else:
                cnt += 1
            rows.append((key[0], eid, cnt))
        state.update((seg, cnt))
        yield frame(_OUT_SCHEMA, rows)

    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return keyed_fold(
        ev, "user_id", Machine(count_since_signup, _OUT_SCHEMA, _STATE_SCHEMA)
    )


@query(
    "window_sliding_agg_stream",
    oracle=twin_oracle(
        "window_sliding_agg",
        closed("CAST(b.w_start AS TIMESTAMP) + INTERVAL 1 HOUR"),
    ),
)
def window_sliding_agg_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of window_sliding_agg (1h window / 15min slide).

    Each event updates 4 window panes; state is (pane × user) — the
    Spark fan-out analogue of Flink's SlidingEventTimeWindows.
    """
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return run_to_memory(spark, sliding_agg(ev))


@query(
    "join_interval_stream",
    oracle=twin_oracle("join_interval"),
)
def join_interval_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of join_interval: stream-stream inner join with an
    event-time range condition — Flink `intervalJoin(...).between(0, 1h)`.

    Both sides carry watermarks and the range bound lets Spark expire
    join state (exactly Flink's relative-window state cleanup).
    """
    signups = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id"),
            F.col("ts").alias("ts1"),
        )
        .withWatermark("ts1", "10 minutes")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_id2"),
            F.col("ts").alias("ts2"),
        )
        .withWatermark("ts2", "10 minutes")
    )
    joined = signups.join(
        purchases,
        (signups.user_id == purchases.user_id2)
        & (purchases.ts2 >= signups.ts1)
        & (purchases.ts2 <= signups.ts1 + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("signup_id", "purchase_id", "user_id")
    return run_to_memory(spark, joined, mode="append")


@query(
    "window_early_fire_stream",
    oracle="""
    SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR) AS d_start,
           event_type,
           COUNT(*) AS running_n
    FROM events
    GROUP BY date_trunc('day', ts), event_type
    """,
)
def window_early_fire_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Early firing via UPDATE output mode: each micro-batch re-emits
    the day windows it touched — Spark's analogue of Flink's
    ContinuousEventTimeTrigger (per-batch instead of per-hour; the
    deterministic per-hour contract is the batch window_early_fire)."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("running_n"))
        .select(
            F.col("w.start").cast("string").alias("d_start"),
            "event_type",
            "running_n",
        )
    )
    return run_to_memory(spark, agg, mode="update")


# transformWithStateInPandas (the successor stateful API, closest to
# Flink's KeyedProcessFunction with typed state + timers) requires
# google.protobuf for its driver-worker protocol, which this container
# does not ship — gate the key on that dependency. The condition is
# pinned by tests/test_streaming_parity.py::
# test_tws_registration_tracks_protobuf_presence — registered ⇔
# google.protobuf importable, asserted both directions, and with
# protobuf present the test runs the tWS path against the
# applyInPandasWithState twin. Unconditional registration with a
# call-time raise would make the key fail on every host without
# protobuf, an environmental absence this engine cannot fix.
try:
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    _HAS_PROTOBUF = True
except ImportError:  # pragma: no cover
    _HAS_PROTOBUF = False


def _register_tws():
    if not _HAS_PROTOBUF:
        return

    @query("stateful_count_session_tws")  # rows-only
    def stateful_count_session_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _stateful_count_session_tws(spark, sf_dir)


def _stateful_count_session_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same keyed state machine via transformWithStateInPandas — the
    successor stateful API (typed state handles, timers), closest to
    Flink's KeyedProcessFunction. Defined inline (class shipped by
    value) for worker-import independence, like the applyInPandas twin.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class CountSinceSignup(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "segcnt", "seg BIGINT, cnt BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            (seg, cnt) = self._state.get() if self._state.exists() else (0, 0)
            for pdf in rows:
                pdf = pdf.sort_values(["ts", "event_id"])
                out_cnt = []
                for et in pdf["event_type"]:
                    if et == "signup":
                        seg, cnt = seg + 1, 1
                    else:
                        cnt += 1
                    out_cnt.append(cnt)
                yield pd.DataFrame(
                    {
                        "user_id": pdf["user_id"],
                        "event_id": pdf["event_id"],
                        "n_since_signup": pd.array(out_cnt, dtype="int32"),
                    }
                )
            self._state.update((seg, cnt))

        def close(self) -> None:
            pass

    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    out = ev.groupBy("user_id").transformWithStateInPandas(
        CountSinceSignup(),
        outputStructType=_OUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )
    return run_to_memory(spark, out, mode="append")


_register_tws()


@query(
    "stream_foreachbatch_upsert",
    oracle="""
    SELECT user_id, event_type,
           COUNT(*)              AS n,
           ROUND(SUM(value), 4)  AS sum_value
    FROM events GROUP BY user_id, event_type
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch upsert sink: each micro-batch's per-key delta is
    merged into a parquet target by generational rewrite (write gen N+1,
    then switch), the pattern for maintaining a serving table from a
    stream without a transactional format. Unlike the memory-sink twins
    this exercises the read-modify-write path: batch N+1 must see batch
    N's merged state.

    Generational dirs (never overwrite-in-place while readers exist)
    are the plain-parquet stand-in for Delta/Iceberg MERGE at 100 TB —
    same dataflow, the table format only adds atomicity. Because the
    bounded replay drains completely, the final target equals the batch
    global aggregate — giving this streaming key a full SQL oracle, not
    just a rows-only smoke.
    """
    base = scratch_dir("flws_upsert_")
    state = {"gen": -1}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")
        )
        if state["gen"] >= 0:
            old = batch_df.sparkSession.read.parquet(
                os.path.join(base, f"g{state['gen']}")
            )
            merged = (
                old.unionByName(delta)
                .groupBy("user_id", "event_type")
                .agg(F.sum("n").alias("n"), F.sum("sum_value").alias("sum_value"))
            )
        else:
            merged = delta
        merged.write.mode("overwrite").parquet(
            os.path.join(base, f"g{state['gen'] + 1}")
        )
        state["gen"] += 1

    ev = _events_stream(spark, sf_dir)
    q = (
        ev.writeStream.foreachBatch(merge)
        .option("checkpointLocation", scratch_dir("flws_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if state["gen"] < 0:
        # Zero micro-batches fired (empty replay): return the target's
        # schema with no rows instead of reading a generation that was
        # never written.
        return spark.createDataFrame(
            [], "user_id long, event_type string, n long, sum_value double"
        )
    final = spark.read.parquet(os.path.join(base, f"g{state['gen']}"))
    return final.select(
        "user_id",
        "event_type",
        "n",
        F.round("sum_value", 4).alias("sum_value"),
    )


@query(
    "join_window_tumbling_stream",
    oracle=twin_oracle("join_window_tumbling"),
)
def join_window_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of join_window_tumbling: stream-stream inner join
    on (user, same 1h tumbling pane) — Flink's
    ``.join(...).window(TumblingEventTimeWindows.of(Time.hours(1)))``.

    Joining on `window(ts, '1 hour')` equality gives both sides an
    event-time column Spark can bound state with: once the watermark
    passes a pane's end, that pane's join state is dropped — the same
    window-scoped state cleanup as Flink's window join.
    """
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.window("ts", "1 hour").alias("w"),
        )
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_id2"),
            F.window("ts", "1 hour").alias("w2"),
        )
    )
    joined = clicks.join(
        purchases,
        (clicks.user_id == purchases.user_id2) & (clicks.w == purchases.w2),
        "inner",
    ).select("click_id", "purchase_id", "user_id")
    return run_to_memory(spark, joined, mode="append")


_SESSION_GAP_US = 30 * 60 * 1_000_000

_SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_us", LongType()),
        StructField("last_ts_us", LongType()),
        StructField("n_events", LongType()),
    ]
)
_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start", LongType()),
        StructField("last", LongType()),
        StructField("n", LongType()),
    ]
)


def compile_session_timeout_stream() -> Machine:
    """Machine for stateful_session_timeout_stream (semantics in its
    docstring). It folds each batch in (ts, event_id) order on arrival
    — no hold buffer — and arms the session's gap deadline through the
    kernel's timer clamp."""

    def handler(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        out = []
        if state.hasTimedOut:
            start, last, n = state.get
            out.append((key[0], start, last, n))
            state.remove()
        else:
            start, last, n = state.get if state.exists else (None, None, 0)
            buf = []
            for chunk in pdfs:
                ingest_chunk(buf, chunk, "ts", "event_id")
            for us, *_ in sorted(buf):
                if start is None:
                    start, last, n = us, us, 1
                elif us - last < _SESSION_GAP_US:
                    last, n = us, n + 1
                else:
                    out.append((key[0], start, last, n))
                    start, last, n = us, us, 1
            if start is not None:
                state.update((start, last, n))
                state.setTimeoutTimestamp(timer_ms(
                    (last + _SESSION_GAP_US) // 1_000,
                    state.getCurrentWatermarkMs(),
                ))
        yield frame(_SESSION_OUT_SCHEMA, out)

    return Machine(handler, _SESSION_OUT_SCHEMA, _SESSION_STATE_SCHEMA)


@query(
    "stateful_session_timeout_stream",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, epoch_us(ts) AS us,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS gap_us
      FROM events
    ), marked AS (
      SELECT user_id, ts, event_id, us,
             CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), sessions AS (
      SELECT user_id, us,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sess_id
      FROM marked
    ), agg AS (
      SELECT user_id, sess_id,
             MIN(us) AS session_start_us,
             MAX(us) AS last_ts_us,
             COUNT(*) AS n_events
      FROM sessions GROUP BY user_id, sess_id
    ), latest AS (
      SELECT user_id, MAX(sess_id) AS max_sid FROM agg GROUP BY user_id
    )
    SELECT a.user_id, a.session_start_us, a.last_ts_us, a.n_events
    FROM agg a JOIN latest f USING (user_id)
    WHERE a.sess_id < f.max_sid
       OR a.last_ts_us + 1800000000
          < epoch_us((SELECT MAX(ts) FROM events) - INTERVAL 10 MINUTE)
    """,
)
def stateful_session_timeout_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom session windows via keyed state + EVENT-TIME TIMERS —
    the Flink ``KeyedProcessFunction`` + ``registerEventTimeTimer``
    pattern that built-in ``session_window`` hides.

    Per user the state holds (session_start_us, last_ts_us, n). Events
    inside the 30-min gap extend the session; a larger gap emits the
    finished session row immediately and restarts. After each batch the
    handler arms an event-time timeout at last_ts + gap: when the
    watermark passes it, Spark invokes the handler with
    ``state.hasTimedOut`` and the final session for that key is emitted
    without any new input — which is exactly what a timer is for.
    Sessions still open when the bounded replay ends stay unemitted
    (watermark never passes them); the pytest therefore checks
    emitted ⊆ batch and closed-sessions ⊆ emitted.
    """
    ev = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .select("user_id", "ts", "event_id")
    )
    return keyed_fold(ev, "user_id", compile_session_timeout_stream())


#: Idle-key state TTL (Flink ``StateTtlConfig`` analogue): state not
#: written to for this long (event time) is expired and its contents
#: DISCARDED — the accounting row below records the eviction, it does
#: not "emit the session" (that is stateful_session_timeout_stream's
#: contract; TTL'd state is garbage-collected, not flushed).
_STATE_TTL_US = 60 * 60 * 1_000_000

_TTL_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("evict_at_us", LongType()),
        StructField("last_seen_us", LongType()),
        StructField("n_discarded", LongType()),
    ]
)
_TTL_STATE_SCHEMA = StructType(
    [
        StructField("last", LongType()),
        StructField("n", LongType()),
        StructField("buf_us", ArrayType(LongType())),
        StructField("buf_id", ArrayType(LongType())),
    ]
)


def make_ttl_machine() -> Machine:
    """The keyed TTL machine (module-level so the multi-batch pytest
    replays crafted micro-batches through the exact shipped handler).
    Semantics in stateful_session_ttl_stream's docstring.

    The machine folds through the hold buffer (keyed.fold_machine):
    arrivals fold into the blob in (ts, event_id) order only once the
    watermark passes them. Folding in arrival order (sorted per batch
    only) would let a legal in-watermark out-of-order arrival across
    micro-batches fabricate or suppress an eviction the
    globally-sorted SQL oracle does not have. Eviction of the live
    blob is an EXPLICIT watermark test (``(last + ttl) // 1000 <
    wm_ms``, ms-aligned — the oracle's timer-path filter uses the
    identical expression) rather than trusting the timer's own fire
    boundary; held events can never rescue a blob past that test (a
    held event has ``ts_ms > wm_ms``, so its gap to ``last`` already
    exceeds the TTL — folding it later starts a fresh generation
    either way). The timer clamp's 1 ms residual applies (keyed.py)."""
    ttl_us = _STATE_TTL_US

    def step(k, ready, st, wm_ms, _held):
        out = []
        last, n = st.get("last", 0), st.get("n", 0)
        for us, *_ in ready:
            if n and us - last >= ttl_us:
                # lazy expiry on access (last_write + ttl <= now)
                out.append((k, last + ttl_us, last, n))
                n = 0
            if n == 0:
                last, n = us, 1
            else:
                last, n = max(last, us), n + 1
        if n and (last + ttl_us) // 1000 < wm_ms:
            # idle-key GC: the watermark strictly passed the deadline
            out.append((k, last + ttl_us, last, n))
            last = n = 0
        st.update(last=last, n=n)
        return out, n != 0, (last + ttl_us) // 1000 if n else None

    return fold_machine(_TTL_OUT_SCHEMA, _TTL_STATE_SCHEMA, step)


@query(
    "stateful_session_ttl_stream",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, epoch_us(ts) AS us,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS gap_us
      FROM events
    ), marked AS (
      SELECT user_id, ts, event_id, us,
             CASE WHEN gap_us IS NULL OR gap_us >= 3600000000
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), gens AS (
      SELECT user_id, us,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS gen
      FROM marked
    ), agg AS (
      SELECT user_id, gen,
             MIN(us) AS first_us,
             MAX(us) AS last_seen_us,
             COUNT(*) AS n_discarded
      FROM gens GROUP BY user_id, gen
    ), seqd AS (
      SELECT user_id, gen, last_seen_us, n_discarded,
             LEAD(first_us) OVER (
               PARTITION BY user_id ORDER BY gen
             ) AS next_start_us
      FROM agg
    )
    SELECT user_id,
           last_seen_us + 3600000000 AS evict_at_us,
           last_seen_us, n_discarded
    FROM seqd
    WHERE (next_start_us IS NOT NULL
           AND next_start_us // 1000
               <= epoch_us((SELECT MAX(ts) FROM events)) // 1000 - 600000)
       OR (last_seen_us + 3600000000) // 1000
          < epoch_us((SELECT MAX(ts) FROM events)) // 1000 - 600000
    """,
)
def stateful_session_ttl_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed-state TTL with idle-key eviction — Flink's
    ``StateTtlConfig`` (OnCreateAndWrite update type, 1h TTL) mapped
    onto event-time timers.

    Per user the state is a running (last_seen, n_events) blob
    refreshed by every write. Two expiry paths, both discarding
    the blob rather than emitting it as a result:

    - **Timer eviction**: after each batch the handler arms an
      event-time timer at last_seen + TTL; when the watermark passes
      it, the state is removed with no new input — the idle-key
      garbage collection Flink runs in the background.
    - **Lazy eviction on access**: an event arriving ≥ TTL after
      last_seen finds the state already past its deadline (the timer
      just hasn't fired because the watermark lags the data). Flink's
      TTL reader treats ``last_write + ttl <= now`` as expired on
      access; the handler mirrors that, dropping the old blob and
      starting a fresh generation from the new event.

    Output is the state-size ACCOUNTING stream (the way
    stream_late_drop pins drop counts): one row per evicted blob —
    (user_id, evict_at_us = last_seen + TTL, last_seen_us,
    n_discarded). ``evict_at_us`` is the deterministic expiry instant,
    not the discovery time, so both expiry paths emit identical rows
    and the emission set is SQL-derivable: a blob evicts iff its
    eviction became OBSERVABLE under the final watermark — its
    successor generation's first event folded (lazy path:
    ``next_start_ms <= final_wm_ms``, the hold-buffer's fold rule) or
    its deadline strictly passed (timer path:
    ``(last + ttl)//1000 < final_wm_ms``). A gap ≥ TTL whose proving
    successor event is still HELD at replay end evicts on neither
    path, and the oracle must not emit such generations (a ``gen <
    maxg`` test with no watermark guard would; the repro is pinned in
    tests). State still live at replay end is never emitted
    (tests/test_streaming_parity.py pins that evicted keys emit
    nothing after their TTL and that a post-eviction generation
    restarts its count from zero — the state was really dropped, not
    carried).

    At 100 TB this is the pattern that keeps a long-running keyed
    aggregation's state proportional to ACTIVE keys rather than
    ever-seen keys: per key the state is O(1), and the timer bounds
    its lifetime to TTL past the last write.
    """
    ev = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .select("user_id", "ts", "event_id")
    )
    return keyed_fold(ev, "user_id", make_ttl_machine())


@query(
    "stream_static_enrich",
    oracle="""
    WITH dim AS (
      SELECT user_id, COUNT(*) AS user_total
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, d.user_total
    FROM events e JOIN dim d ON e.user_id = d.user_id
    WHERE e.event_type = 'purchase'
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the purchase stream enriched against a
    STATIC dimension (per-user lifetime counts computed in batch) —
    Spark's analogue of Flink's broadcast-state / lookup-join pattern.

    The static side is planned per micro-batch as an ordinary batch
    join (broadcast here — the dim is user-sized), needs no watermark
    and holds no streaming state. Under bounded replay the result
    equals the batch join, giving this streaming key a full SQL oracle.
    At 100 TB the static side is a maintained table (see
    stream_foreachbatch_upsert) rather than a per-run aggregate.
    """
    dim = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_total"))
    )
    ev = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id")
    )
    joined = ev.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "user_total"
    )
    return run_to_memory(spark, joined, mode="append")


@query(
    "stream_stream_left_outer",
    oracle="""
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, date_trunc('hour', ts) AS h
      FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT event_id AS purchase_id, user_id, date_trunc('hour', ts) AS h
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, CAST(c.h AS VARCHAR) AS w_start,
           c.click_id, p.purchase_id
    FROM clicks c LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.h = p.h
    WHERE p.purchase_id IS NOT NULL
       OR c.h + INTERVAL 1 HOUR
          < (SELECT MAX(ts) FROM events) - INTERVAL 10 MINUTE
    """,
)  # rows-only; parity test is the strong check
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: every click joined to
    same-user purchases in the same 1h tumbling pane; clicks with no
    matching purchase emit null-padded ONCE the watermark passes the
    pane — Flink's interval/window outer join null-emission semantics.

    The mechanics under bounded replay: inner matches emit in the data
    micro-batch; unmatched left rows sit in the join state until a
    LATER batch runs with a watermark past their pane end — here the
    trailing no-data micro-batch Spark schedules once the watermark
    advances (spark.sql.streaming.noDataMicroBatches.enabled, on by
    default). CRITICAL plan shape: both sides derive from ONE shared
    watermarked source, with the event_type filters applied above it.
    The watermark node must observe the FULL event stream's max ts;
    with per-side sources Catalyst pushes each filter below its
    watermark node, making the join watermark min(max click ts, max
    purchase ts) − delay — hours behind the stream end, leaving the
    last closed panes unflushed (a deterministic parity failure).
    Sharing the source also means one scan instead of two. Rows in
    panes the final watermark has not passed remain unemitted — exactly
    the suffix the parity test excludes (tests/test_streaming_parity.py
    pins stream ⊆ batch and stream ⊇ closed-pane batch rows).

    Window-equality joins bound state at 100 TB: each side keeps only
    open panes' rows keyed by (user, pane); watermark eviction drops a
    pane's state the moment it can no longer match — without the window
    equi-term the join state would grow unboundedly.
    """
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
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
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user")) & (F.col("cw") == F.col("pw")),
        "left_outer",
    ).select(
        F.col("c_user").alias("user_id"),
        F.col("cw.start").cast("string").alias("w_start"),
        "click_id",
        "purchase_id",
    )
    return run_to_memory(spark, joined, mode="append")


@query(
    "stream_stream_full_outer",
    oracle="""
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, date_trunc('hour', ts) AS h
      FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT event_id AS purchase_id, user_id, date_trunc('hour', ts) AS h
      FROM events WHERE event_type = 'purchase'
    )
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           CAST(COALESCE(c.h, p.h) AS VARCHAR) AS w_start,
           c.click_id, p.purchase_id
    FROM clicks c FULL OUTER JOIN purchases p
      ON c.user_id = p.user_id AND c.h = p.h
    WHERE (c.click_id IS NOT NULL AND p.purchase_id IS NOT NULL)
       OR COALESCE(c.h, p.h) + INTERVAL 1 HOUR
          < (SELECT MAX(ts) FROM events) - INTERVAL 10 MINUTE
    """,
)  # rows-only; parity test is the strong check
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join on (user × 1h pane):
    clicks with no same-pane purchase AND purchases with no same-pane
    click both emit null-padded once the watermark closes their pane —
    the bidirectional completion of stream_stream_left_outer (Flink
    window coGroup with outer emission on both sides).

    Same load-bearing plan shape as the left-outer key (see its
    docstring): ONE shared watermarked source so the watermark
    tracks the full stream; state per side is pane-scoped and
    watermark-evicted, so at 100 TB the join state is O(open panes ×
    active keys), independent of stream length.
    """
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
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
    joined = clicks.join(
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
    return run_to_memory(spark, joined, mode="append")


@query("stream_late_drop")  # rows-only; pytest asserts the drop accounting
def stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live demonstration of SURVEY §2.9 gap #2 — what Spark DOES with
    late data (drops past-watermark rows; no Flink side output).

    The replay is three micro-batches: batch 0 carries the 90% on-time
    slice (event_id % 10 != 0), whose max ts advances the watermark to
    stream-end − 10 min; batch 1 is a one-row keeper (an unmodified
    duplicate of the max-ts row) — needed because Spark ≥3.4 filters late
    input with the PREVIOUS batch's watermark (SPARK-42376 split of
    late-events vs eviction watermark), so the keeper batch is what
    arms the filter; batch 2 replays the held-back 10%, now ALL late —
    every row whose 1-hour pane closed before the watermark is dropped
    by the aggregation's state operator (surfaced in
    LAST_STATE_METRICS["numRowsDroppedByWatermark"]); only late rows
    inside the final watermark window survive into their (never-
    emitted) open pane. tests/test_streaming_parity.py pins the
    accounting: emitted closed panes carry EXACTLY the on-time counts
    and the drop metric is positive. The batch operator
    late_data_split is the deterministic reconstruction of the same
    policy; Flink users port side-output consumers onto that split
    (gap policy #2).
    """
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    prep(spark)
    src = os.path.join(sf_dir, "events.parquet")
    replay = scratch_dir("flws_late_")
    tbl = pq.read_table(src)
    # event_id % 10 == 0 → held back as the late slice
    mod10 = pc.equal(
        pc.subtract(tbl["event_id"], pc.multiply(pc.divide(tbl["event_id"], 10), 10)),
        0,
    )
    ontime = tbl.filter(pc.invert(mod10))
    # keeper = the max-ts on-time row again; it lands in the final
    # (open, never-emitted) pane, so it cannot distort emitted counts
    keeper = ontime.take([pc.index(ontime["ts"], pc.max(ontime["ts"])).as_py()])
    # the demo depends on the order ontime → keeper → late
    write_batches(replay, ontime, keeper, tbl.filter(mod10))

    stream = batch_stream(spark, replay, spark.read.parquet(src).schema)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("w_start"), "n")
    )
    return run_to_memory(spark, agg, mode="append")


@query(
    "stream_watermark_skew",
    oracle="""
    WITH cut AS (
      SELECT MAX(ts) - INTERVAL 48 HOUR AS c FROM events
    ), slow_max AS (
      SELECT MAX(ts) AS m FROM events, cut
      WHERE user_id % 2 = 1 AND ts <= c
    )
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS w_start,
           COUNT(*) AS n
    FROM events, cut, slow_max
    WHERE (user_id % 2 = 0 OR ts <= c)
      AND date_trunc('hour', ts) + INTERVAL 1 HOUR < m - INTERVAL 10 MINUTE
    GROUP BY 1
    """,
)
def stream_watermark_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live demonstration of SURVEY §2.9 gap #1 — keyed sources with
    PER-PARTITION watermark skew under Spark's global-min semantics.

    Two file-replay sources model a 2-partition keyed stream: the
    even-user partition is current (events through stream end), the
    odd-user partition lags 48 hours (its reader has only fetched
    through max_ts − 48h). Each branch declares its own
    ``withWatermark``; after the union Spark combines them with the
    default ``multipleWatermarkPolicy = min``, so the query watermark
    is the LAGGING partition's frontier − 10min. Every 1-hour pane
    between that and the fast partition's frontier holds fast-partition
    rows but cannot close — exactly Flink's min-over-input-channels
    rule. What Spark lacks is Flink's in-band refinements
    (``withIdleness`` to unstick an idle partition, per-split
    watermark alignment); the session-wide escape hatch is
    ``multipleWatermarkPolicy = max``, which closes panes at the FAST
    frontier — and condemns the lagging partition's undelivered rows
    to arrive past-watermark (stream_late_drop shows that fate).
    tests/test_streaming_parity.py pins both pane accountings.

    Under bounded replay the min-policy emission set is deterministic —
    the query watermark is the LAGGING frontier (max odd-user ts ≤ max
    ts − 48h) − 10min, and the emitted panes are exactly those closed
    before it, counted over the replayed subset (all even-user rows +
    odd-user rows up to the lag cutoff). What stays beyond SQL's reach
    is only the runtime lag METRIC (per-source watermark gap in query
    progress), which the pytest accounting covers.

    At scale the two replay dirs are Kafka partitions and the lag is
    consumer skew; the state cost of the held-open panes is
    (skew hours) × (per-pane state), which is why Flink grew watermark
    alignment — the policy here makes that trade visible, not hidden.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    prep(spark)
    src = os.path.join(sf_dir, "events.parquet")
    tbl = pq.read_table(src)
    lag_cutoff = pc.subtract(
        pc.max(tbl["ts"]), pa.scalar(48 * 3600 * 1_000_000, type=pa.duration("us"))
    )
    even = pc.equal(pc.bit_wise_and(tbl["user_id"], 1), 0)
    fast_dir = scratch_dir("flws_wmskew_fast_")
    slow_dir = scratch_dir("flws_wmskew_slow_")
    pq.write_table(tbl.filter(even), os.path.join(fast_dir, "part.parquet"))
    pq.write_table(
        tbl.filter(pc.and_(pc.invert(even), pc.less_equal(tbl["ts"], lag_cutoff))),
        os.path.join(slow_dir, "part.parquet"),
    )

    schema = spark.read.parquet(src).schema
    fast = (
        spark.readStream.schema(schema).parquet(fast_dir)
        .withWatermark("ts", "10 minutes")
    )
    slow = (
        spark.readStream.schema(schema).parquet(slow_dir)
        .withWatermark("ts", "10 minutes")
    )
    agg = (
        fast.unionByName(slow)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("w_start"), "n")
    )
    return run_to_memory(spark, agg, mode="append")


@query(
    "stream_allowed_lateness_reemit",
    oracle="""
    WITH pane AS (
      SELECT date_trunc('hour', ts) AS w,
             COUNT(*) FILTER (WHERE event_id % 10 <> 0) AS n_ontime,
             COUNT(*) FILTER (WHERE event_id % 10 = 0)  AS n_late,
             COUNT(*) AS n_total
      FROM events GROUP BY 1
    )
    SELECT CAST(w AS VARCHAR) AS w_start,
           CAST(0 AS BIGINT)  AS batch_id,
           n_ontime           AS n
    FROM pane WHERE n_ontime > 0
    UNION ALL
    SELECT CAST(w AS VARCHAR), CAST(1 AS BIGINT), n_total
    FROM pane WHERE n_late > 0
    """,
)
def stream_allowed_lateness_reemit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink ``allowedLateness`` window re-emission, reconstructed with
    UPDATE output mode + a foreachBatch emission log (SURVEY §2.9 gap
    #2's optional "retract-and-reemit" form; the policy substitutes
    late_data_split / stream_late_drop remain the append-mode answer).

    Flink separates the lateness bound from the watermark: a pane
    fires at the watermark, but its state lives ``allowedLateness``
    longer, and a late-but-allowed element RE-FIRES the pane with
    updated contents. Spark has one knob — the watermark delay — which
    is both bound and retention; in UPDATE mode a late-but-allowed row
    updates its pane and the changed pane is emitted again, which IS
    the refire. The replay makes it observable: batch 0 carries the
    on-time 90% (all panes fire once), batch 1 replays the held-back
    10% against a 45-day allowance (longer than the fixture's whole
    span, so nothing is dropped) — every pane containing a late row
    fires AGAIN with its updated count. foreachBatch logs each
    emission with its batch id; the returned frame is that log
    (w_start, batch_id, n), so refires are rows, not prose. The log is
    SQL-derivable: UPDATE mode
    emits exactly the panes CHANGED per batch, so batch 0 is every
    pane with an on-time row at its on-time count, and batch 1 is
    every pane with a late row at its cumulative count — the 45-day
    allowance exceeds the fixture span, so no pane is evicted between
    batches and no late row is dropped.
    tests/test_streaming_parity.py pins: batch-1 refires exist, their
    counts equal the full batch aggregate (allowance honored), and
    batch-0 firings carry exactly the on-time counts.

    At 100 TB the emission log is the changelog a downstream serving
    table MERGEs (see stream_foreachbatch_upsert); allowance length ×
    pane cardinality bounds the retained state, same as Flink.
    """
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    prep(spark)
    src = os.path.join(sf_dir, "events.parquet")
    replay = scratch_dir("flws_lateness_")
    tbl = pq.read_table(src)
    mod10 = pc.equal(
        pc.subtract(tbl["event_id"], pc.multiply(pc.divide(tbl["event_id"], 10), 10)),
        0,
    )
    write_batches(replay, tbl.filter(pc.invert(mod10)), tbl.filter(mod10))

    stream = batch_stream(spark, replay, spark.read.parquet(src).schema)
    agg = (
        stream.withWatermark("ts", "45 days")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("w_start"), "n")
    )

    log: list[tuple[str, int, int]] = []

    def record(batch_df: DataFrame, batch_id: int) -> None:
        for r in batch_df.collect():  # pane-count rows only, never events
            log.append((r["w_start"], batch_id, r["n"]))

    with _pinned_stream_confs(spark):
        q = (
            agg.writeStream.foreachBatch(record)
            .outputMode("update")
            .option("checkpointLocation", scratch_dir("flws_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.createDataFrame(log, "w_start string, batch_id long, n long")


@query(
    "stream_checkpoint_restart",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS w_start,
           COUNT(*) AS n
    FROM events
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
          < (SELECT MAX(ts) FROM events) - INTERVAL 10 MINUTE
    GROUP BY 1
    """,
)
def stream_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop/restart continuity through one shared checkpoint — the
    Spark reconstruction of a Flink savepoint-and-resume (SURVEY §2.9;
    every other twin here runs a single query over a fresh checkpoint,
    which demonstrates window semantics but not the operational
    contract Flink users actually rely on: state survives a planned
    stop, and the resumed job neither loses nor double-counts).

    Two queries, one checkpoint, one exactly-once parquet sink:
    phase A replays events with ts <= max(ts) − 24h and STOPS — panes
    closed by A's watermark are emitted and committed, the pane
    containing the cutoff stays OPEN in RocksDB state with its partial
    count; phase B appends the last-24h file, and a NEW query on the
    same checkpoint restores source offsets (file A is not re-read),
    watermark, and window state, then closes the remaining panes. The
    straddling pane is the proof of restoration: its emitted count
    includes phase-A rows that only checkpointed state could know.
    The union of both phases' emissions is deterministic — exactly the
    panes closed by the FINAL watermark at full-data counts (no B row
    can belong to an A-closed pane: those panes end before
    cutoff − 10min while every B row has ts > cutoff) — hence the
    exact SQL oracle. The parquet sink's _spark_metadata log carries
    exactly-once across the restart: the final read lists committed
    batches from BOTH queries, no dedup step needed.

    At 100 TB this is the upgrade/rebalance path: stop the job, keep
    the checkpoint, restart with new resources — state volume, not
    input history, bounds the resume cost. (Spark pins the shuffle
    partition count in the checkpoint, so "new resources" means
    executors, not state partitions — Flink's savepoint rescaling has
    no Spark equivalent; that caveat is the one semantic gap.)
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    prep(spark)
    src = os.path.join(sf_dir, "events.parquet")
    replay = scratch_dir("flws_ckrestart_src_")
    out = scratch_dir("flws_ckrestart_out_")
    ckpt = scratch_dir("flws_ckrestart_ck_")
    tbl = pq.read_table(src)
    cutoff = pc.subtract(
        pc.max(tbl["ts"]), pa.scalar(24 * 3600 * 1_000_000, type=pa.duration("us"))
    )
    agg = (
        batch_stream(spark, replay, spark.read.parquet(src).schema)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("w_start"), "n")
    )

    # phase A runs and stops (checkpoint + open panes survive); the
    # restart resumes offsets, watermark and window state
    with _pinned_stream_confs(spark):
        for phase in (pc.less_equal, pc.greater):
            write_batches(replay, tbl.filter(phase(tbl["ts"], cutoff)))
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    return spark.read.parquet(out).select(
        "w_start", F.col("n").cast("long").alias("n")
    )


#: event_type -> revenue multiplier, versions 1 and 2. Literal in both
#: engines so the oracle needs no side-channel; v2 shifts every rule so
#: any pane containing post-swap rows is visibly re-weighted.
_RULES_V1 = {"click": 1, "error": 2, "purchase": 3, "signup": 4, "view": 5}
_RULES_V2 = {k: v + 10 for k, v in _RULES_V1.items()}


@query(
    "stream_rule_update_enrich",
    oracle="""
    WITH cut AS (
      SELECT MAX(ts) - INTERVAL 24 HOUR AS c FROM events
    ), mult(event_type, m1, m2) AS (
      VALUES ('click', 1, 11), ('error', 2, 12), ('purchase', 3, 13),
             ('signup', 4, 14), ('view', 5, 15)
    )
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS w_start,
           event_type,
           ROUND(SUM(value * CASE WHEN ts <= c THEN m1 ELSE m2 END), 2)
             AS revenue
    FROM events JOIN mult USING (event_type), cut
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
          < (SELECT MAX(ts) FROM events) - INTERVAL 10 MINUTE
    GROUP BY 1, 2
    """,
)
def stream_rule_update_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink broadcast-state rule updates (BroadcastProcessFunction),
    reconstructed with Spark's stream-static join re-resolution: the
    static side of a stream-static join is re-planned and re-read
    every micro-batch, so OVERWRITING the rules table mid-stream
    re-weights all subsequent elements — exactly a control-stream rule
    push. stream_static_enrich demonstrates the static case; this key
    demonstrates the UPDATE.

    Two phases over one checkpoint (the stream_checkpoint_restart
    scaffolding): phase A replays events with ts <= max(ts) − 24h
    under rules v1 and stops; the rules parquet is overwritten to v2;
    phase B appends the last-24h file and resumes. Each element is
    enriched with the rules ACTIVE WHEN IT ARRIVED — Flink's broadcast
    -state semantics — so the pane straddling the cutoff accumulates
    v1-weighted phase-A rows plus v2-weighted phase-B rows in restored
    state, and its emitted revenue matches neither pure-v1 nor pure-v2
    weighting (pinned by tests/test_streaming_parity.py). The emission
    set is deterministic under bounded replay (panes closed by the
    final watermark, per-row weights decided by the phase split), so
    the whole behavior is SQL-oracle-checked; per-row value × integer
    multiplier is exact, with the suite's ROUND(·, 2) money policy on
    the final sums.

    At 100 TB the rules table is a maintained dimension (Delta/Iceberg
    MERGE target); Spark re-reads it per micro-batch, so rule-push
    latency is one trigger interval — Flink delivers in-band instead,
    which is the remaining semantic gap (documented, SURVEY §2.9).
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    prep(spark)
    src = os.path.join(sf_dir, "events.parquet")
    replay = scratch_dir("flws_rules_src_")
    rules_dir = scratch_dir("flws_rules_dim_")
    out = scratch_dir("flws_rules_out_")
    ckpt = scratch_dir("flws_rules_ck_")
    tbl = pq.read_table(src)
    cutoff = pc.subtract(
        pc.max(tbl["ts"]), pa.scalar(24 * 3600 * 1_000_000, type=pa.duration("us"))
    )
    stream = batch_stream(spark, replay, spark.read.parquet(src).schema)

    # phase A under rules v1 stops; the rules table is overwritten to
    # v2 (the mid-stream rule push) and phase B resumes the checkpoint
    with _pinned_stream_confs(spark):
        for phase, version in (
            (pc.less_equal, _RULES_V1), (pc.greater, _RULES_V2)
        ):
            write_batches(replay, tbl.filter(phase(tbl["ts"], cutoff)))
            spark.createDataFrame(
                sorted(version.items()), "event_type string, mult int"
            ).coalesce(1).write.mode("overwrite").parquet(rules_dir)
            rules = spark.read.parquet(rules_dir)
            agg = (
                stream.withWatermark("ts", "10 minutes")
                .join(F.broadcast(rules), "event_type")
                .groupBy(
                    F.window("ts", "1 hour").alias("w"), "event_type"
                )
                .agg(
                    F.round(
                        F.sum(F.col("value") * F.col("mult")), 2
                    ).alias("revenue")
                )
                .select(
                    F.col("w.start").cast("string").alias("w_start"),
                    "event_type",
                    "revenue",
                )
            )
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    return spark.read.parquet(out).select(
        "w_start", "event_type", F.col("revenue").cast("double").alias("revenue")
    )


#: window_topn_stream keyed state: the per-window leaderboard —
#: parallel (user, count) arrays, merged vectorized per micro-batch.
_TOPN_STATE_SCHEMA = StructType(
    [
        StructField("users", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
    ]
)

_TOPN_OUT_SCHEMA = StructType(
    [
        StructField("d_start", StringType()),
        StructField("user_id", LongType()),
        StructField("n", LongType()),
        StructField("rn", IntegerType()),
    ]
)


@query(
    "window_topn_stream",
    oracle=twin_oracle(
        "window_topn",
        folded("epoch_us(CAST(b.d_start AS TIMESTAMP) + INTERVAL 1 DAY)"),
    ),
)
def window_topn_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of window_topn — Flink SQL's *window Top-N*
    (``ROW_NUMBER() OVER (PARTITION BY window ...)`` + ``rn <= N``),
    which Spark cannot express natively on a stream (window functions
    are unsupported in streaming queries): top-2 users by event count
    per day, emitted ONCE per day-window when the watermark closes it.

    Incremental shape: keyed state per day-window holds the running
    per-user leaderboard (parallel (user, count) arrays, merged
    VECTORIZED from each micro-batch's pandas chunk — no per-row
    Python), and an event-time timer at the window end emits the
    ranked top-2 then removes the state — exactly Flink's WindowRank
    operator: accumulate per (window, user), fire at
    ``watermark >= window_end``, one emission per window. Late rows
    cannot resurrect an emitted window: a day-D row with
    ``ts_ms >= wm_ms >= end_ms(D)`` is impossible (``ts < end ≤ wm``
    is exactly Spark's late-drop contract), so remove() is safe.

    Scale: state per key is O(distinct users in the window) — the
    same bound Flink's WindowRank keeps — NOT O(events); counts
    pre-reduce vectorized per batch. The keyed shuffle concentrates
    one day per task, also Flink's layout for a PARTITION BY
    window-only rank; with a secondary partition key (Flink's
    ``PARTITION BY window, key``) the same handler shards by
    (window, key). A day emits at ``end_ms <= wm_ms``: the timer
    arms at ``end_ms − 1`` and fires once the watermark reaches the
    end, the boundary the built-in windowed aggregation emits at.
    """
    ev = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .select(F.date_trunc("day", "ts").alias("d_start"), "user_id", "ts")
    )
    return keyed_fold(ev, "d_start", compile_topn_stream())


def compile_topn_stream(n: int = 2, window_ms: int = 86_400_000) -> Machine:
    """Machine for the per-window top-N leaderboard over a prepared
    (d_start, user_id, ts) stream keyed by d_start (module-level so
    the multi-batch pytest can replay a split directory through the
    EXACT operator the registered key runs)."""

    def handler(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        start = pd.Timestamp(key[0])
        end_ms = start.value // 1_000_000 + window_ms
        wm_ms = state.getCurrentWatermarkMs()
        counts: dict[int, int] = {}
        if state.exists:
            users, ns = state.get
            counts = dict(zip((int(u) for u in users), (int(c) for c in ns)))
        if not state.hasTimedOut:
            for chunk in pdfs:
                for uid, c in chunk.groupby("user_id").size().items():
                    counts[int(uid)] = counts.get(int(uid), 0) + int(c)
        if state.hasTimedOut or wm_ms >= end_ms:
            top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:n]
            if state.exists:
                state.remove()
            yield frame(_TOPN_OUT_SCHEMA, [
                (f"{start:%Y-%m-%d %H:%M:%S}", u, c, rn)
                for rn, (u, c) in enumerate(top, 1)
            ])
            return
        state.update(
            ([u for u in counts], [counts[u] for u in counts])
        )
        # A clamped timer (end_ms - 1 <= wm_ms) is the kernel's 1 ms
        # residual; the wm_ms >= end_ms branch above heals it on the
        # key's next data.
        state.setTimeoutTimestamp(timer_ms(end_ms - 1, wm_ms))
        yield frame(_TOPN_OUT_SCHEMA, [])

    return Machine(handler, _TOPN_OUT_SCHEMA, _TOPN_STATE_SCHEMA)


#: window_count_tumbling_stream keyed state: the open window's
#: accumulators plus the watermark buffer (events not yet folded, in
#: arrival order; folded into event-time order once the watermark
#: passes them — same rule as the CEP automata).
_COUNTWIN_STATE_SCHEMA = StructType(
    [
        StructField("next_idx", LongType()),
        StructField("cnt", LongType()),
        StructField("min_id", LongType()),
        StructField("max_id", LongType()),
        StructField("sum_val", DoubleType()),
        StructField("buf_us", ArrayType(LongType())),
        StructField("buf_id", ArrayType(LongType())),
        StructField("buf_val", ArrayType(DoubleType())),
    ]
)

_COUNTWIN_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("window_idx", LongType()),
        StructField("n", LongType()),
        StructField("first_event", LongType()),
        StructField("last_event", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)


def compile_countwindow_stream(size: int = 5) -> Machine:
    """Machine for count-tumbling windows (Flink ``countWindow(n)``):
    per key, every ``size`` consecutive events in event-time order
    form one window, emitted the moment its completing event FOLDS
    (i.e. once the watermark passes it — count windows depend on the
    per-key event ORDER, so arrivals buffer until the watermark
    proves their position is final: the kernel's fold rule).
    Partial windows never fire — Flink's countWindow contract — so
    the bounded-replay tail stays in state and the oracle filter is
    ``COUNT(*) = size AND last-event-ms <= final_wm_ms``."""

    def step(k, ready, st, _wm_ms, _held):
        if st:
            next_idx, cnt = st["next_idx"], st["cnt"]
            min_id, max_id = st["min_id"], st["max_id"]
            sum_val = dec_val(st["sum_val"])
        else:
            next_idx = cnt = min_id = max_id = 0
            sum_val = None
        out = []
        for _us, eid, _cls, val in ready:
            cnt += 1
            min_id = eid if cnt == 1 else min(min_id, eid)
            max_id = eid if cnt == 1 else max(max_id, eid)
            if val is not None:
                sum_val = val if sum_val is None else sum_val + val
            if cnt == size:
                out.append((
                    k, next_idx, cnt, min_id, max_id,
                    None if sum_val is None else round(sum_val, 4),
                ))
                next_idx += 1
                cnt = 0
                sum_val = None
        st.update(
            next_idx=next_idx, cnt=cnt, min_id=min_id, max_id=max_id,
            sum_val=enc_val(sum_val),
        )
        # Nothing folded and nothing numbered: drop the state rather
        # than persist an all-zero row forever. A key with next_idx > 0
        # must KEEP its row even when the buffer drains: next_idx is
        # live state — window numbering continues from it, so removing
        # would restart a future window at idx 0 (Flink's countWindow
        # likewise keeps the per-key count state for the stream's
        # lifetime; bounding it is a TTL layering, which renumbers by
        # design).
        return out, bool(cnt or next_idx), None

    return fold_machine(_COUNTWIN_OUT_SCHEMA, _COUNTWIN_STATE_SCHEMA, step)


@query(
    "window_count_tumbling_stream",
    oracle="""
    WITH numbered AS (
      SELECT user_id, ts, event_id, value,
             (ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY ts, event_id) - 1) // 5
               AS window_idx
      FROM events
    )
    SELECT user_id,
           CAST(window_idx AS BIGINT)  AS window_idx,
           COUNT(*)                    AS n,
           MIN(event_id)               AS first_event,
           MAX(event_id)               AS last_event,
           ROUND(SUM(value), 4)        AS sum_value
    FROM numbered GROUP BY user_id, window_idx
    HAVING COUNT(*) = 5
       AND epoch_us(MAX(ts)) // 1000
           <= epoch_us((SELECT MAX(ts) FROM events)) // 1000 - 600000
    """,
)
def window_count_tumbling_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of window_count_tumbling — Flink
    ``countWindow(5)`` detected incrementally. Count windows are
    ORDER-dependent (the window an event lands in is its per-key
    event-time position ÷ 5), so unlike the time-window twins this
    needs the CEP automata's watermark-buffer rule: arrivals buffer
    in state and fold in (ts, event_id) order only once the watermark
    passes them; a window emits the moment its 5th event folds.
    Partial windows never fire (Flink's countWindow contract — the
    bounded-replay tail stays in state), which is what the oracle's
    ``COUNT(*) = 5 AND last-event-ms <= final_wm_ms`` filter encodes
    against the batch key's row_number ÷ 5 SQL.

    Scale: per-key state is the open window's accumulators (5 scalars)
    plus O(events inside the watermark delay) buffered — the same
    bound as Flink's count-window state (a count trigger + window
    buffer); one shuffle on user_id, vectorized Arrow ingestion, no
    joins. The kernel's fold-tie residual (keyed.py) applies
    and is covered by the multibatch ordering pytest.
    """
    ev = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .select("user_id", "ts", "event_id", "value")
    )
    return keyed_fold(ev, "user_id", compile_countwindow_stream())


#: window_count_sliding_stream keyed state: folded-event position,
#: the ring of the last <= size folded values (NaN-encoded NULLs),
#: and the watermark hold buffer.
_COUNTSLIDE_STATE_SCHEMA = StructType(
    [
        StructField("pos", LongType()),
        StructField("ring", ArrayType(DoubleType())),
        StructField("buf_us", ArrayType(LongType())),
        StructField("buf_id", ArrayType(LongType())),
        StructField("buf_val", ArrayType(DoubleType())),
    ]
)

_COUNTSLIDE_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("window_idx", LongType()),
        StructField("n", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)


def compile_countwindow_sliding_stream(
    size: int = 6, slide: int = 2
) -> Machine:
    """Machine for sliding count windows (Flink ``countWindow(6, 2)``
    = CountTrigger(slide) + CountEvictor(size)): per key, window w
    covers event positions [2w, 2w+6) in event-time order; it emits
    the moment its COMPLETING event (position 2w+5) folds — i.e. once
    the watermark proves that position is final, the count-tumbling
    twin's rule. The batch key's warm-up ramp rows (window 0 fired
    partial at the head of a BOUNDED input) are a bounded-input
    artifact: on a stream window 0 is simply not complete yet, so
    only complete windows emit and the oracle filter is
    ``COUNT(*) = size AND last-event-ms <= final_wm_ms``.

    State: the ring of the last ≤ size folded VALUES plus the fold
    position — O(size) per key, Flink's CountEvictor bound — and the
    watermark hold buffer."""

    def step(k, ready, st, _wm_ms, _held):
        pos = int(st["pos"]) if st else 0
        ring = [dec_val(v) for v in st["ring"]] if st else []
        out = []
        for *_, val in ready:
            ring.append(val)
            del ring[: max(0, len(ring) - size)]
            pos += 1
            if pos >= size and (pos - size) % slide == 0:
                vals = [v for v in ring if v is not None]
                out.append((
                    k, (pos - size) // slide, size,
                    round(sum(vals), 4) if vals else None,
                ))
        st.update(pos=pos, ring=[enc_val(v) for v in ring])
        # nothing folded and nothing numbered (the count-tumbling
        # rule): don't persist an empty row
        return out, pos > 0, None

    return fold_machine(_COUNTSLIDE_OUT_SCHEMA, _COUNTSLIDE_STATE_SCHEMA, step)


@query(
    "window_count_sliding_stream",
    oracle="""
    WITH numbered AS (
      SELECT user_id, ts, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
      FROM events
    ), fanned AS (
      SELECT user_id, ts, value, rn,
             UNNEST(generate_series(
               CAST(GREATEST(CEIL((rn - 5) / 2.0), 0) AS BIGINT),
               rn // 2)) AS window_idx
      FROM numbered
    )
    SELECT user_id,
           CAST(window_idx AS BIGINT) AS window_idx,
           COUNT(*)                   AS n,
           ROUND(SUM(value), 4)       AS sum_value
    FROM fanned
    GROUP BY user_id, window_idx
    HAVING COUNT(*) = 6
       AND epoch_us(MAX(ts)) // 1000
           <= epoch_us((SELECT MAX(ts) FROM events)) // 1000 - 600000
    """,
)
def window_count_sliding_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of window_count_sliding — Flink
    ``countWindow(6, 2)`` detected incrementally. Like its tumbling
    sibling the window an event lands in is its per-key event-time
    POSITION, so arrivals buffer until the watermark proves their
    position final (the hold-buffer rule); unlike it the windows
    overlap, which the handler absorbs with a CountEvictor-style ring
    of the last ≤ 6 folded values — no per-window state, no fan-out:
    each fold appends once and a window emits every 2 folds, vs the
    batch form's explode to size/slide = 3 rows per event. That
    inversion (ring instead of fan-out) is exactly how Flink executes
    sliding count windows, and it is the shape that survives 100 TB:
    per-key state is O(size + watermark delay), one shuffle, no
    joins.

    The batch key's warm-up ramp (window 0 emitted partial) is a
    bounded-input artifact the stream correctly withholds — window 0
    is still open at replay end — so the oracle is the batch fan-out
    SQL with ``COUNT(*) = 6`` only, plus the ms-aligned
    completing-event-folded filter (the count-tumbling convention).
    """
    ev = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .select("user_id", "ts", "event_id", "value")
    )
    return keyed_fold(ev, "user_id", compile_countwindow_sliding_stream())


@query(
    "window_session_dynamic_gap_stream",
    oracle=twin_oracle(
        "window_session_dynamic_gap", closed("CAST(b.s_end AS TIMESTAMP)")
    ),
)
def window_session_dynamic_gap_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of window_session_dynamic_gap — per-event
    inactivity gaps (click 30 min / view 60 min / else 15 min;
    Flink's ``SessionWindowTimeGapExtractor``) through Spark's
    NATIVE dynamic-gap ``session_window`` in append mode, which
    merges overlapping panes incrementally in state and emits each
    merged session once the watermark passes its end. The batch
    key's oracle is a running-max island SQL (a deliberately different
    formulation of the merge rule), so the hash check pins Spark's
    incremental merge against an independent derivation. A session
    end landing inside the final watermark's sub-millisecond window
    is the same measure-zero residual as the CEP ms tie.

    Scale: one keyed shuffle; state per key is one interval per open
    session (merge is incremental), evicted at emission — identical
    to the fixed-gap twin's bound; the gap CASE is a row-local
    expression fused into the scan projection.
    """
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return run_to_memory(spark, session_dynamic_gap_agg(ev))


#: join_asof_stream keyed state: the settled side compressed to ONE
#: (ts, id) version plus the in-watermark click buffer and the
#: pending errors — Flink's temporal-join state exactly (latest
#: version + in-flight buffer). -1 sentinels = "no settled click".
_ASOF_STATE_SCHEMA = StructType(
    [
        StructField("best_old_us", LongType()),
        StructField("best_old_id", LongType()),
        StructField("click_us", ArrayType(LongType())),
        StructField("click_id", ArrayType(LongType())),
        StructField("err_us", ArrayType(LongType())),
        StructField("err_id", ArrayType(LongType())),
    ]
)

_ASOF_OUT_SCHEMA = StructType(
    [
        StructField("error_id", LongType()),
        StructField("click_id", LongType()),
    ]
)


def compile_asof_stream() -> Machine:
    """Machine for the streaming as-of join (each error paired with
    the nearest prior-or-equal click of its key) on the kernel's
    settle kernel: errors are the pending role (no settle delay — every
    unseen click is strictly after a settling error, so its match set
    is complete) and clicks are retained above the floor
    ``wm_ms·1000``.

    Click-buffer compression: a click the floor evicts can still win
    for a future or pending error (both have ``ts_us >= wm_ms·1000``),
    but only the MAX (ts, id) among them can — so the rule folds the
    clicks it is about to lose into one settled version
    (``best_old_*``), the temporal-join state bound. The click list
    arrives sorted, and each settling error resolves by bisect over a
    parallel key list (bisect's ``key=`` needs Python >= 3.10) —
    O((C + E)·log C) per invocation."""

    def resolve(k, due, roles, wm_ms, st):
        clicks = roles["click"]
        click_us = [c[0] for c in clicks]
        best = (int(st["best_old_us"]), int(st["best_old_id"]))
        best = best if best[0] >= 0 else None
        rows = []
        for us, eid in due:
            # the sorted prefix's last element IS its max (ts, id)
            idx = bisect.bisect_right(click_us, us)
            m = clicks[idx - 1] if idx else None
            if best is not None and (m is None or best > m):
                m = best
            rows.append((eid, None if m is None else m[1]))
        settled = [c for c in clicks if c[0] < wm_ms * 1000]
        if settled:
            best = max(settled + ([best] if best else []))
            st["best_old_us"], st["best_old_id"] = best
        return rows

    return settle_machine(
        _ASOF_OUT_SCHEMA, _ASOF_STATE_SCHEMA,
        {"click": ("click",), "err": ("error",)}, "err", resolve,
        init={"best_old_us": -1, "best_old_id": -1},
    )


@query(
    "join_asof_stream",
    oracle=twin_oracle(
        "join_asof", settled(event_us("error_id"), "click", "error")
    ),
)
def join_asof_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of join_asof — the event-time TEMPORAL join
    (Flink's ``FOR SYSTEM_TIME AS OF`` / KeyedCoProcessFunction
    pattern): each error pairs with the nearest prior-or-equal click
    of its user, emitted once the watermark proves no earlier click
    can still arrive. Spark's stream-stream joins cannot express
    "nearest prior" (no ordering inside the join condition), so the
    twin runs the union-tag state machine: both classes flow through
    one keyed handler; errors settle when ``e_ms < wm_ms``
    (:func:`compile_asof_stream` for the strictness argument); the
    click side compresses to Flink's exact temporal-join state —
    the LATEST settled (ts, id) version plus the in-watermark buffer,
    O(1) + O(watermark delay) per key, NOT the full click history.

    Classes filter before the keyed shuffle with the watermark
    declared on the filtered stream (the
    pattern_detect_notfollowedby_stream convention, so the watermark
    ranges over click/error rows). Ties match
    the batch key: a click at the error's exact timestamp wins
    (``c_us <= e_us``), higher event_id among equal-ts clicks.
    """
    ev = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type").isin("click", "error"))
        .select("user_id", "ts", "event_id", "event_type")
        .withWatermark("ts", "10 minutes")
    )
    return keyed_fold(ev, "user_id", compile_asof_stream())


@query(
    "window_tumbling_offset_stream",
    oracle=twin_oracle(
        "window_tumbling_offset",
        closed("CAST(b.w_start AS TIMESTAMP) + INTERVAL 1 HOUR"),
    ),
)
def window_tumbling_offset_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of window_tumbling_offset — offset tumbling
    panes (:15→:15; Flink ``TumblingEventTimeWindows.of(1h, 15min)``)
    through the native ``window(ts, 1h, 1h, 15min)`` in append mode:
    the startTime knob shifts pane boundaries, watermark emission is
    otherwise identical to the unshifted twin (a pane emits once the
    watermark passes its SHIFTED end). Same single-shuffle shape and
    per-pane state bound as window_tumbling_agg_stream.
    """
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return run_to_memory(spark, tumbling_offset_agg(ev))


@query(
    "window_cascading_rollup_stream",
    oracle="""
    SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR)
             AS w_start,
           event_type,
           COUNT(*)             AS n,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY
          < (SELECT MAX(ts) FROM events) - INTERVAL 10 MINUTE
    GROUP BY date_trunc('day', ts), event_type
    """,
)
def window_cascading_rollup_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of window_cascading_rollup's cascade: the DAY
    grain maintained by CHAINED STATEFUL OPERATORS in one streaming
    query — an hourly windowed aggregate whose finalized panes feed a
    second windowed aggregate over ``window_time(w)`` (Spark's
    multiple-stateful-operator support; Flink's equivalent is a
    two-level window topology). The day rollup therefore
    re-aggregates |hours|·|types| pane rows, never the raw events —
    the same one-scan cascade economics as the batch key, now
    incremental: each closed hour flows exactly once into its day's
    running partial, and the day emits when the watermark passes its
    end. The month grain stays a batch re-agg over the drained day
    sink, the batch key's own framing for coarser grains (its
    docstring: "the hourly aggregate is the stored stream sink,
    coarser grains are cheap batch re-aggs over it").

    The memory-sink metrics record TWO stateful operators for this
    query — pinned by pytest as the cascade's structural evidence.
    Oracle = the day grain recomputed directly from events (sums are
    associative; ROUND(.,4) absorbs float summation-order noise per
    suite convention) + the strict closed-day watermark filter.
    """
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    )
    daily = (
        hourly.groupBy(
            F.window(F.window_time("w"), "1 day").alias("d"), "event_type"
        )
        .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
        .select(
            F.col("d.start").cast("string").alias("w_start"),
            "event_type",
            "n",
            F.round("sv", 4).alias("sum_value"),
        )
    )
    return run_to_memory(spark, daily, mode="append")


@query(
    "ts_ohlc_bars_stream",
    oracle=twin_oracle(
        "ts_ohlc_bars", closed("CAST(b.bar_day AS TIMESTAMP) + INTERVAL 1 DAY")
    ),
)
def ts_ohlc_bars_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ts_ohlc_bars — daily OHLC bars maintained
    incrementally by a NATIVE windowed aggregation. The batch key
    needs a full-frame window because open/close require an order;
    in streaming the same determinism comes from ``min_by``/``max_by``
    over ``struct(ts, event_id)`` — the (ts, event_id) pair is a
    TOTAL order (event_id unique), so the "unspecified ties" caveat
    that rules out min_by in the batch formulation cannot occur, and
    the aggregate state is four scalars + the two order keys per
    bar — O(1), vs the buffered-fold machinery order-dependent
    operators otherwise need. Emission at watermark close of the day
    pane.
    """
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    key = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.round(F.min_by("value", key), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", key), 4).alias("close"),
        )
        .select(
            F.col("w.start").cast("string").alias("bar_day"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
        )
    )
    return run_to_memory(spark, agg, mode="append")


@query(
    "stream_state_reader",
    oracle="""
    SELECT user_id, COUNT(*) AS n
    FROM events
    GROUP BY user_id
    """,
)
def stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed state read back as a DataFrame — the Flink *State
    Processor API* analogue (reading keyed state out of a savepoint),
    via Spark's ``statestore`` data source.

    A bounded replay runs a keyed streaming aggregation (per-user
    event count, UPDATE mode) against a fresh checkpoint; the
    checkpoint's state store is then read OFFLINE as a relation —
    ``key.user_id`` / ``value.count`` / ``partition_id`` — and must
    equal the batch GROUP BY exactly (a non-windowed streaming
    aggregate evicts nothing, so its final state IS the full
    aggregate). This is the inspection/redistribution half of Flink's
    savepoint rescale: the state is addressable by key outside the
    running query and reshuffles losslessly to any partitioning
    (tests/test_streaming_parity.py pins a 4-partition
    redistribution); what Spark lacks is the WRITE-BACK half — no
    state writer exists, so a changed ``spark.sql.shuffle.partitions``
    still requires a fresh checkpoint. That residual (and only that)
    remains the documented limitation.

    Scale: the state source reads RocksDB SST files per partition in
    parallel without replaying the stream — at 100 TB this is how a
    day-old 10-billion-key aggregation state is audited or exported
    without touching the event log.
    """
    ev = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .count()
    )
    ckpt = scratch_dir("flws_statereader_")
    run_to_memory(spark, ev, mode="update", checkpoint=ckpt)
    state = spark.read.format("statestore").option("path", ckpt).load()
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").alias("n"),
    )


@query(
    "stream_state_reader_window",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS STRING) AS w_start,
           event_type,
           COUNT(*)             AS n,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) // 1000
          > epoch_us((SELECT MAX(ts) FROM events)) // 1000 - 600000
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def stream_state_reader_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSITE state read back from a checkpoint: where
    stream_state_reader reads a flat keyed count, this key reads a
    WINDOWED aggregation's state store, whose key is a nested struct —
    ``(window(start ts, end ts), event_type)`` — and whose value carries
    two aggregate buffers (count, sum). The ``statestore`` source
    decodes both levels schema-faithfully; the live query's own eviction
    defines the expected relation exactly: a watermark-evicted tumbling
    aggregation retains precisely the windows the final watermark has
    NOT closed (end > MAX(ts) − 10 min; at every fixture SF the boundary
    window is strictly clear of the watermark), with each retained
    window's FULL count/sum — so the oracle is the batch GROUP BY
    restricted to those tail windows, ms-aligned like every streaming
    oracle here.
    tests/test_streaming_parity.py additionally pins the decode of an
    ``applyInPandasWithState`` automaton state blob (arrays inside
    the value struct) — the compiled CEP machine's own schema — so
    the capability covers arbitrary user-defined composite state, not
    just built-in aggregates.

    Flink analogue: the State Processor API's window-state reader
    ([FLINK-API] ``SavepointReader.window(..)`` — public surface per
    SURVEY §0). The write-back half remains the documented platform
    limitation (no state writer in Spark).

    Scale: same as stream_state_reader — the source lists state files
    per shuffle partition and reads them in parallel, no stream
    replay; auditing a day-old windowed aggregation at 100 TB touches
    only the checkpoint's SST files.
    """
    ev = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
    )
    ckpt = scratch_dir("flws_statereader_w_")
    run_to_memory(spark, ev, mode="update", checkpoint=ckpt)
    state = spark.read.format("statestore").option("path", ckpt).load()
    return state.select(
        F.col("key.window.start").cast("string").alias("w_start"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n"),
        F.round(F.col("value.sum"), 4).alias("sum_value"),
    )


@query(
    "stream_state_reader_session",
    oracle="""
    WITH wm AS (
      SELECT epoch_us(MAX(ts)) // 1000 - 600000 AS wm_ms FROM events
    ), flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ), grouped AS (
      SELECT user_id, sid, MIN(ts) AS s_start,
             MAX(ts) + INTERVAL 30 MINUTE AS s_end, COUNT(*) AS n
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id,
           epoch_us(s_start) AS session_start_us,
           epoch_us(s_end)   AS session_end_us,
           CAST(n AS BIGINT) AS n
    FROM grouped, wm
    WHERE epoch_us(s_end) // 1000 > wm.wm_ms
    """,
)
def stream_state_reader_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-window state read back from a checkpoint (the fourth
    state reader after flat keyed count / tumbling
    composite / user-defined automaton blob / MERGING session
    windows, the one store class whose key is not a static grouping
    but a dynamically-merged interval). Flink analogue: the State
    Processor API's window reader over a session-windowed operator
    ([FLINK-API] public surface per SURVEY §0).

    A bounded replay runs ``session_window(ts, '30 minutes')`` per
    user (append mode — Spark rejects update for session
    aggregations); the ``statestore`` source then decodes the
    session store OFFLINE: key = (user_id, sessionStartTime), value
    carries the merged ``session_window`` struct and the aggregate
    buffer (one retained session at sf0.001).
    Retention rule: a streaming session aggregation stores EVERY
    admitted event's session (merging as it goes) and emits/evicts a
    session once the watermark passes its end, so the final store
    holds exactly the sessions with ``end > final watermark``
    (ms-aligned, the house convention). Merge polarity: two events
    belong to one session iff the later one STARTS STRICTLY BEFORE
    the earlier session's end (``ts < prev_end``) — an exact
    ``ts == prev_ts + gap`` tie is a NEW session (Spark merges on
    overlap, and ``[t, t+gap)`` does not overlap ``[.., t)``);
    the oracle's ``ts >= LAG(ts) + INTERVAL 30 MINUTE`` new-session
    flag encodes exactly that, and the synthetic-tie pytest pins
    both this polarity and the end==watermark eviction tie.

    Scale: the session store reads like every other statestore
    relation — per-partition SST files, no replay; auditing open
    sessions (the canonical "who is active right now" question) at
    100 TB touches only the checkpoint.
    """
    ev = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ckpt = scratch_dir("flws_statereader_sess_")
    run_to_memory(spark, ev, mode="append", checkpoint=ckpt)
    state = spark.read.format("statestore").option("path", ckpt).load()
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.unix_micros(F.col("value.session_window.start")).alias(
            "session_start_us"
        ),
        F.unix_micros(F.col("value.session_window.end")).alias(
            "session_end_us"
        ),
        F.col("value.count").alias("n"),
    )
