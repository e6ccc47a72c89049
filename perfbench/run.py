"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the workload's inputs from
``--seed`` under ``.bench_work/<workload>/``, sets up the engine, measures
for ``--seconds`` (``run_seconds`` in BENCHMARK.json, the same on every
commit), checks every output against a reference computation and prints,
as the last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones from
a run whose second half is traced (spans are written to
``.bench_work/<workload>/spans.jsonl``). The line before it, ``detail``,
repeats the figures under their workload-specific names. Before anything
is printed, the JVM and every process it started have ended. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "realtime_ingest", "corpus_curation")


def main(argv: list[str] | None = None, scale: str = "bench") -> int:
    """``scale`` is the input size; only the self-tests pass ``tiny``."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The engine package lives at the checkout root; without it there is
    # nothing to measure and the import below fails the run.
    sys.path.insert(0, ROOT)
    import flink_210225_spark  # noqa: F401

    import gen
    import metrics
    from runtime import RssSampler, adopt_orphans, median, percentile, stop_processes
    from spans import Tracer
    from workload import Context

    adopt_orphans()
    # a SIGTERM unwinds like an error, so the JVM is still stopped below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    ctx = Context(
        work=work,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        scale=gen.SCALES[scale],
        tracer=Tracer(enabled=bool(args.trace)),
        off=Tracer(enabled=False),
        sampler=RssSampler(),
    )
    module = __import__(args.workload)
    try:
        out = module.run(ctx)
    finally:
        ctx.sampler.stop()
        stop_processes()

    failed_frac = out.failed / out.attempted
    e2e = {
        "setup_s": median(out.setup_s),
        "throughput_per_s": out.throughput,
        "latency_p50_ms": percentile(out.latencies_ms, 50),
        "retained_mb": out.retained_mb,
    }
    p90 = percentile(out.latencies_ms, 90)
    if args.trace:
        ctx.tracer.dump(os.path.join(work, "spans.jsonl"))
        units = metrics.layer_units()
        values = {name: 0.0 for name in units}  # layers a workload bypasses stay 0
        values.update(out.layer)
        values["ops_failed_frac"] = failed_frac
        values["latency_p90_ms"] = p90
        values["memory.peak_rss_mb"] = ctx.sampler.peak_mb
        values["session.start_s"] = median(
            [s.ms / 1000 for s in ctx.tracer.by_name("session.start")]
        )
        values["trace.spans"] = float(len(ctx.tracer.spans))
        self_ms = ctx.tracer.self_ms()
        for name in metrics.SELF_TIME_SPANS:
            values[f"self.{name}_ms"] = self_ms.get(name, 0.0)
    else:
        units, values = metrics.E2E_UNITS, e2e
    named = dict(
        zip(
            metrics.WORKLOAD_NAMES[args.workload],
            (e2e["throughput_per_s"], e2e["latency_p50_ms"], p90),
        )
    )
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "traced": bool(args.trace),
        **named,
        "latency_samples": len(out.latencies_ms),
        "ops_failed_frac": failed_frac,
        "peak_rss_mb": ctx.sampler.peak_mb,
        "setup_s_each": [round(s, 3) for s in out.setup_s],
        **out.detail,
    }
    print("detail " + json.dumps(detail))
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
