"""The benchmark's workloads: which keys run on which inputs (all on
the sf0.01 fixture, ``inputs.py``).

Why each workload exists is recorded in ``BENCHMARK.json``."""

from __future__ import annotations

from dataclasses import dataclass, field

PACKAGE = "flink_large_window_spark"

# Layers are named after the package's modules. `session` and `tables`
# are timed around their public functions; every query key belongs to
# the layer of the module that registers it.
KEY_LAYERS = ("operators", "plans", "streaming", "llm")
LAYERS = ("session", "tables") + KEY_LAYERS


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    # Timed passes per run are max(1, round(--seconds / pass_s)): a fixed
    # sample count for a given --seconds, however fast the code.
    pass_s: float
    # local[cpus]; None runs on every CPU the process may use (or
    # $SPARK_GRAFT_CPUS).
    cpus: int | None = None
    replicate: int = 1  # events copies along user_id (stream replay input)
    # stream keys by machine kind; empty for the batch workloads
    handler_keys: tuple[str, ...] = field(default=())
    native_keys: tuple[str, ...] = field(default=())

    @property
    def stream_keys(self) -> tuple[str, ...]:
        return self.handler_keys + self.native_keys


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="sql_fixture",
            keys=(
                "agg_hash_grouped",
                "q3_shipping_priority",
                "q5_local_supplier",
                "q11_important_stock",
                "window_sliding_agg",
                "window_large_day",
                "join_skew_salted",
                "pattern_detect_cep",
                "pattern_match_recognize",
            ),
            pass_s=8.0,
            # At this size the keys are bound by driver and per-task
            # overhead: local[4] runs a pass no faster than local[1]
            # (4.8 s against 4.5 s), and its spread across runs on a
            # shared 4-vCPU host was three times as wide.
            cpus=1,
        ),
        Workload(
            name="stream_llm",
            keys=(
                "pattern_detect_cep_stream",
                "window_sliding_agg_stream",
                "dedup_embed_cosine",
            ),
            pass_s=16.0,
            replicate=2,
            handler_keys=("pattern_detect_cep_stream",),
            native_keys=("window_sliding_agg_stream",),
        ),
    )
}


def layer_of(fn) -> str:
    """The package module layer that registers a query callable."""
    parts = fn.__module__.split(".")
    if parts[0] != PACKAGE or len(parts) < 2 or parts[1] not in KEY_LAYERS:
        raise ValueError(f"{fn.__module__} is not a query layer of {PACKAGE}")
    return parts[1]
