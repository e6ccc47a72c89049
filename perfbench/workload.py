"""What every workload receives and returns."""

from __future__ import annotations

from dataclasses import dataclass, field

from gen import Scale
from runtime import RssSampler
from spans import Tracer


@dataclass
class Context:
    work: str  # scratch dir for this run, inside the checkout
    seed: int
    seconds: float
    trace: bool
    scale: Scale
    tracer: Tracer  # records only when trace is on
    off: Tracer  # never records; passed where a call must stay untraced
    sampler: RssSampler


@dataclass
class Outcome:
    setup_s: list[float]  # one entry per set-up repetition
    attempted: int
    failed: int
    throughput: float  # work items per second of the measured phase
    latencies_ms: list[float]  # one per operation
    retained_mb: float  # runtime.retained_mb at the end of the timed phase
    layer: dict[str, float] = field(default_factory=dict)  # traced run only
    detail: dict = field(default_factory=dict)  # printed, not scored
