"""``realtime_ingest``: the ODS → DWD → DWM → DWS → serving-store write path
under an open loop.

A generator thread lands one slice every ``slice_ms`` on a fixed schedule
that does not slow down when the engine does: a JSON-lines file of app-log
events (time-ordered, with out-of-order rows inside the 10 s watermark, a
few late rows beyond it, start logs and malformed lines) plus a file of
order CDC envelopes. Structured Streaming queries carry them through the
engine's public functions:

- store:   logsplit.parse_logs / split_log_stream → pipelines.merge_stats_batch
           (the serving store; slice freshness is measured at its commits)
- router:  cdc.parse_envelopes → router.route → router.upsert_dim_bucketed
- uv:      pipelines.uv_dedup_stream
- jump:    pipelines.jump_detection_stream
- windows: pipelines.windowed_agg_stream

The store query runs continuously, starting a micro-batch as soon as the
previous one ends. The other four are a scheduled incremental pass
(``availableNow`` triggers over their checkpoints) that runs when the
timed phase ends, as layers off the dashboard's freshness path are
commonly scheduled. On four cores, five queries that all trigger back to
back leave the store seconds behind and growing, and a pass in the middle
of a 10 s phase slows whichever slices it overlaps by several seconds, so
run-to-run figures could not be compared. The pass's cost shows in the
traced run (``router.upsert_ms``, ``stateful.ms``, ``windows.ms`` and the
streaming progress metrics) and in ``pipeline_drain_s``.

After the timed phase the store drains and the downstream pass runs; the
serving-store table and the upserted order dim are then compared with a
recomputation over every landed slice.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
import traceback
from collections import defaultdict

import pandas as pd
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from flink_210225_spark.operators import logsplit, router
from flink_210225_spark.schemas import TABLE_PROCESS_SCHEMA
from flink_210225_spark.sources import cdc
from flink_210225_spark.streaming import pipelines

import gen
from runtime import JobStats, median, retained_mb, start_session
from workload import Outcome

SETUP_REPS = 3
WATERMARK = "10 seconds"
WINDOW = "10 seconds"
JUMP_TIMEOUT_S = 30
DIM_BUCKETS = 8
QUERIES = ("store", "router", "uv", "jump", "windows")
DOWNSTREAM = QUERIES[1:]
STATEFUL = ("uv", "jump", "windows")


def to_events(page):
    """DWD page log → the flat events shape the DWM/DWS operators take.
    The generator keeps (uid, ts) unique, so it doubles as the event id."""
    uid = F.col("uid").cast("long")
    return page.select(
        (F.col("ts") * 1_000_000 + uid).alias("event_id"),
        F.timestamp_millis("ts").alias("ts"),
        uid.alias("user_id"),
        F.col("page_id").alias("event_type"),
        (F.col("during_time") / 1000.0).alias("value"),
    )


class Pipeline:
    """The streaming queries over one landing area, on one session.
    ``commits`` maps each store micro-batch to the time its merge returned,
    i.e. when the serving store showed it. ``runs`` keeps every query
    started per name (a scheduled pass is a new query on the same
    checkpoint)."""

    def __init__(self, spark, root: str, tracer, jobs: JobStats | None):
        self.spark = spark
        self.root = root
        self.tracer = tracer
        self.jobs = jobs
        self.log_dir = os.path.join(root, "land", "log")
        self.cdc_dir = os.path.join(root, "land", "cdc")
        self.store_dir = os.path.join(root, "store")
        self.dim_dir = os.path.join(root, "dim_order_info")
        self.cfg_path = os.path.join(root, "table_process")
        self.commits: dict[int, float] = {}
        self.outputs: dict[str, int] = defaultdict(int)
        self.runs: dict[str, list] = defaultdict(list)

    def register(self) -> None:
        """Landing dirs and the routing config table."""
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.cdc_dir, exist_ok=True)
        self.spark.createDataFrame(gen.TABLE_PROCESS, TABLE_PROCESS_SCHEMA).write.mode(
            "overwrite"
        ).parquet(self.cfg_path)

    def _group(self, name: str) -> None:
        if self.jobs is not None and self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(name, name)

    def _store(self, batch, batch_id: int) -> None:
        self._group("store")
        tid = f"store:{batch_id}"
        traced = self.tracer.enabled
        with self.tracer.span("logsplit", trace=tid):
            if traced:
                batch = batch.cache()
            parsed, dirty = logsplit.parse_logs(batch)
            events = to_events(logsplit.split_log_stream(parsed)["page"])
            if traced:
                events = events.cache()
                self.tracer.count("logsplit.rows_in", batch.count())
                self.tracer.count("logsplit.dirty_rows", dirty.count())
                events.count()
        with self.tracer.span("store.merge", trace=tid):
            if not pipelines.merge_stats_batch(events, batch_id, self.store_dir):
                self.tracer.count("store.replays_skipped")
        self.commits[batch_id] = time.perf_counter()
        if traced:
            events.unpersist()
            batch.unpersist()

    def _router(self, batch, batch_id: int) -> None:
        self._group("router")
        with self.tracer.span("router.upsert", trace=f"router:{batch_id}"):
            clean, _dirty = cdc.parse_envelopes(batch)
            cfg = self.spark.read.parquet(self.cfg_path)
            hbase = router.split_sinks(router.route(clean, cfg))["hbase"]
            dim = hbase.select(*[F.col("data")[c].alias(c) for c in gen.ORDER_SINK_COLUMNS])
            if self.tracer.enabled:
                dim = dim.cache()
                self.tracer.count("router.rows", dim.count())
            router.upsert_dim_bucketed(
                dim, self.dim_dir, pk="id", n_buckets=DIM_BUCKETS, order_col="operate_time"
            )
            if self.tracer.enabled:
                dim.unpersist()

    def _collector(self, name: str, span: str):
        def sink(batch, batch_id: int) -> None:
            self._group(name)
            with self.tracer.span(span, trace=f"{name}:{batch_id}"):
                n = len(batch.collect())
            self.outputs[name] += n
            self.tracer.count(f"{span}.rows_out", n)

        return sink

    def _query(self, name: str):
        """The streaming DataFrame and the foreachBatch sink of one query."""
        if name == "router":
            return self.spark.readStream.text(self.cdc_dir), self._router
        raw = self.spark.readStream.text(self.log_dir)
        if name == "store":
            return raw, self._store
        parsed, _dirty = logsplit.parse_logs(raw)
        events = to_events(logsplit.split_log_stream(parsed)["page"])
        if name == "uv":
            return pipelines.uv_dedup_stream(events, watermark=WATERMARK), self._collector(
                "uv", "stateful"
            )
        if name == "jump":
            return pipelines.jump_detection_stream(
                events, timeout_sec=JUMP_TIMEOUT_S
            ), self._collector("jump", "stateful")
        return pipelines.windowed_agg_stream(
            events, duration=WINDOW, watermark=WATERMARK
        ), self._collector("windows", "windows")

    def start(self, names, available_now: bool = False) -> None:
        """Start ``names``; with ``available_now`` each processes what has
        landed and stops. The stateful queries start under the engine's own
        state-store partition count (``pipelines._stream_shuffle``), as the
        engine starts its state-store streams; the others keep the
        session's setting."""
        for name in names:
            df, fn = self._query(name)
            w = df.writeStream.foreachBatch(fn).option(
                "checkpointLocation", os.path.join(self.root, "cp", name)
            )
            if available_now:
                w = w.trigger(availableNow=True)
            w = w.queryName(f"{name}_{id(self)}")
            if name in STATEFUL:
                with pipelines._stream_shuffle(self.spark):
                    self.runs[name].append(w.start())
            else:
                self.runs[name].append(w.start())

    def downstream_pass(self) -> None:
        """One scheduled pass of the downstream queries, to completion."""
        self.start(DOWNSTREAM, available_now=True)
        self.wait(DOWNSTREAM)

    def wait(self, names) -> None:
        for name in names:
            if self.runs[name]:
                self.runs[name][-1].awaitTermination()

    def progress(self, name: str, after_batch: int = -1) -> list[dict]:
        """Progress of ``name``'s micro-batches after ``after_batch``, over
        every run. An idle query also posts progress, under the id of the
        batch it will run next and without ``addBatch``; those are skipped."""
        return [
            p
            for q in self.runs[name]
            for p in q.recentProgress
            if p["batchId"] > after_batch and "addBatch" in p["durationMs"]
        ]

    def last_batch(self, name: str) -> int:
        return max((p["batchId"] for p in self.progress(name)), default=-1)

    def stop(self) -> None:
        for qs in self.runs.values():
            for q in qs:
                q.stop()

    def exceptions(self) -> list[str]:
        return [
            f"{n}: {q.exception()}" for n, qs in self.runs.items() for q in qs if q.exception()
        ]


class Lander(threading.Thread):
    """The open-loop generator: lands slice ``i`` at ``start + i * interval``
    however far behind the engine is. A file appears atomically (written
    under a dot-name the file source ignores, then renamed)."""

    def __init__(self, pipe: Pipeline, slices: list[gen.Slice], interval_s: float):
        super().__init__(name="lander", daemon=True)
        self.pipe = pipe
        self.slices = slices
        self.interval_s = interval_s
        self.landed: dict[int, float] = {}  # slice index -> landing time
        self.lateness: list[float] = []  # landing time - due time
        self.start_at = 0.0

    def land(self, s: gen.Slice) -> float:
        for d, lines in ((self.pipe.cdc_dir, s.cdc_lines), (self.pipe.log_dir, s.log_lines)):
            tmp = os.path.join(d, f".slice_{s.index:05d}.tmp")
            with open(tmp, "w") as f:
                f.write("\n".join(lines) + "\n")
            os.rename(tmp, os.path.join(d, f"slice_{s.index:05d}.json"))
        now = time.perf_counter()
        self.landed[s.index] = now
        return now

    def run(self) -> None:
        for k, s in enumerate(self.slices):
            due = self.start_at + k * self.interval_s
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            self.lateness.append(self.land(s) - due)


def _check(pipe: Pipeline, slices: list[gen.Slice]) -> set[int]:
    """Slices whose rows the serving store or the order dim got wrong,
    against a recomputation over every landed slice. A wrong output row
    fails every slice that fed it; a row no slice should have produced
    fails them all."""
    everything = {s.index for s in slices}
    bad: set[int] = set()
    want = defaultdict(lambda: [0, 0.0])
    feeds = defaultdict(set)
    for s in slices:
        for day, typ, value in s.page_rows:
            want[(day, typ)][0] += 1
            want[(day, typ)][1] += value
            feeds[(day, typ)].add(s.index)
    got = pd.read_parquet(os.path.join(pipe.store_dir, "table"))
    seen = set()
    for day, typ, pv, vsum in got[["day", "event_type", "pv_ct", "value_sum"]].itertuples(
        index=False
    ):
        seen.add((day, typ))
        w = want.get((day, typ))
        if w is None or w[0] != pv or abs(w[1] - vsum) > 1e-6 * max(1.0, abs(vsum)):
            bad |= feeds.get((day, typ), everything)
    for key in set(want) - seen:
        bad |= feeds[key]

    latest: dict[str, dict] = {}
    for s in slices:
        for row in s.order_rows:
            feeds[row["id"]].add(s.index)
            cur = latest.get(row["id"])
            if cur is None or row["operate_time"] > cur["operate_time"]:
                latest[row["id"]] = row
    dim = ds.dataset(pipe.dim_dir, format="parquet", partitioning="hive").to_table().to_pylist()
    got_dim = {r["id"]: {c: r[c] for c in gen.ORDER_SINK_COLUMNS} for r in dim}
    for k in latest.keys() | got_dim.keys():
        if latest.get(k) != got_dim.get(k):
            bad |= feeds.get(k, everything)
    return bad


def run(ctx) -> Outcome:
    sc = ctx.scale
    interval = sc.slice_ms / 1000.0
    n_slices = max(2, int(round(ctx.seconds / interval)))
    # slice 0 warms the pipeline during set-up; the rest are measured
    slices = gen.ingest_slices(ctx.seed, sc, n_slices + 1)

    # One set-up = session start, registration (landing dirs, routing
    # table), starting the store query and its commit of the warm-up slice
    # (time to first fresh data); repeated on fresh dirs, the last one
    # kept.
    setups = []
    spark = pipe = None
    for rep in range(SETUP_REPS):
        if pipe is not None:
            pipe.stop()
            spark.stop()
        root = os.path.join(ctx.work, f"rep{rep}")
        t0 = time.perf_counter()
        with ctx.tracer.span("session.start"):
            spark = start_session(ctx.work)
        ctx.sampler.attach(spark)
        pipe = Pipeline(spark, root, ctx.off, JobStats(spark))
        pipe.register()
        pipe.start(["store"])
        Lander(pipe, slices[:1], interval).land(slices[0])
        pipe.runs["store"][0].processAllAvailable()
        setups.append(time.perf_counter() - t0)
    for rep in range(SETUP_REPS - 1):
        shutil.rmtree(os.path.join(ctx.work, f"rep{rep}"), ignore_errors=True)

    measured = slices[1:]
    lander = Lander(pipe, measured, interval)
    first_batch = {n: pipe.last_batch(n) for n in QUERIES}
    traced_from = dict(first_batch)
    lander.start_at = time.perf_counter()
    end = lander.start_at + ctx.seconds
    midpoint = lander.start_at + ctx.seconds / 2
    lander.start()
    if ctx.trace:  # second half traced
        time.sleep(max(0.0, midpoint - time.perf_counter()))
        traced_from = {n: pipe.last_batch(n) for n in QUERIES}
        pipe.tracer = ctx.tracer
    while time.perf_counter() < end and not pipe.exceptions():
        time.sleep(0.05)
    lander.join()
    errors = pipe.exceptions()
    drain_s = None
    if not errors:
        t_drain = time.perf_counter()
        try:
            pipe.runs["store"][0].processAllAvailable()
            pipe.downstream_pass()
            _await_progress(pipe, max(pipe.commits))
        except Exception:
            errors.append(traceback.format_exc())
        drain_s = time.perf_counter() - t_drain
        errors += pipe.exceptions()
    for e in errors:
        print(e, file=sys.stderr)
    retained = retained_mb(spark)
    pipe.stop()

    # map store micro-batches to the slices they contained: the file source
    # takes every file landed since its last listing, in landing order, and
    # every slice file has slice_rows lines
    slice_commit: dict[int, float] = {}
    next_slice = 0
    store_progress = sorted(pipe.progress("store", first_batch["store"]), key=lambda p: p["batchId"])
    for p in store_progress:
        k = p["numInputRows"] // sc.slice_rows
        for s in measured[next_slice : next_slice + k]:
            slice_commit[s.index] = pipe.commits[p["batchId"]]
        next_slice += k
    fresh = [
        (slice_commit[s.index] - lander.landed[s.index]) * 1000
        for s in measured
        if s.index in slice_commit
    ]
    # rows committed per second, from the first landing to the last commit
    committed = sum(s.rows for s in measured if s.index in slice_commit)
    throughput = committed / (max(slice_commit.values()) - lander.start_at) if committed else 0.0

    # an operation is one landed slice; it fails if its micro-batch never
    # committed or the store or dim rows it fed are wrong
    bad = {s.index for s in measured if s.index not in slice_commit}
    bad |= _check(pipe, slices) if not errors else {s.index for s in slices}
    # files landed but not yet committed, every 100 ms of the timed phase
    backlog = [
        sum(1 for i, t in lander.landed.items() if t <= at and slice_commit.get(i, end + 1e9) > at)
        for at in (lander.start_at + k * 0.1 for k in range(int(ctx.seconds * 10)))
    ]

    layer: dict[str, float] = {}
    if ctx.trace:
        layer = _layer_metrics(ctx, pipe, traced_from, backlog)
        layer["trace.overhead_pct"] = _overhead(measured, slice_commit, lander, midpoint)
    spark.stop()
    if ctx.trace:
        layer["streaming.rows_per_s_local1"] = _local1_rate(ctx, slices)

    return Outcome(
        setup_s=setups,
        attempted=len(slices),
        failed=len(bad),
        throughput=throughput,
        latencies_ms=fresh,
        retained_mb=retained,
        layer=layer,
        detail={
            "ingest_batch_p50_ms": median(
                [p["durationMs"]["triggerExecution"] for p in store_progress]
            ),
            "store_batches": [
                (p["batchId"], p["numInputRows"], p["durationMs"]["triggerExecution"])
                for p in store_progress
            ],
            "slices": len(measured),
            "offered_rows_per_s": sc.slice_rows / interval,
            "backlog_slices_end": backlog[-1] if backlog else 0,
            "backlog_slices_max": max(backlog, default=0),
            "generator_late_ms_max": max(lander.lateness, default=0.0) * 1000,
            "pipeline_drain_s": drain_s,
            "outputs": dict(pipe.outputs),
            "errors": len(errors),
        },
    )


def _await_progress(pipe: Pipeline, batch_id: int, timeout_s: float = 10.0) -> None:
    """A batch's progress report is posted just after its commit; wait for
    it so the batch-to-slice mapping sees every committed batch."""
    give_up = time.perf_counter() + timeout_s
    while time.perf_counter() < give_up:
        if pipe.last_batch("store") >= batch_id:
            return
        time.sleep(0.05)


def _overhead(measured, slice_commit, lander, midpoint) -> float:
    early = [
        slice_commit[s.index] - lander.landed[s.index]
        for s in measured
        if s.index in slice_commit and lander.landed[s.index] < midpoint
    ]
    late = [
        slice_commit[s.index] - lander.landed[s.index]
        for s in measured
        if s.index in slice_commit and lander.landed[s.index] >= midpoint
    ]
    if not early or not late:
        return 0.0
    return 100.0 * (median(late) / median(early) - 1.0)


def _layer_metrics(ctx, pipe: Pipeline, traced_from: dict, backlog: list[int]) -> dict:
    tr = ctx.tracer
    progress = {n: pipe.progress(n, traced_from[n]) for n in QUERIES}
    allp = [p for ps in progress.values() for p in ps]
    dur = lambda key: [p["durationMs"].get(key, 0) for p in allp]  # noqa: E731
    states = [op for n in STATEFUL for p in progress[n] for op in p["stateOperators"]]
    last_state = [op for n in STATEFUL if progress[n] for op in progress[n][-1]["stateOperators"]]
    batches = sum(len(ps) for ps in progress.values())
    for name in QUERIES:
        pipe.jobs.collect(name, ops=len(progress[name]))
    half = len(backlog) // 2
    traced_backlog = backlog[half:] or [0]
    out = {
        "sources.backlog_files_max": float(max(traced_backlog)),
        "sources.backlog_files_mean": sum(traced_backlog) / len(traced_backlog),
        "sources.latest_offset_ms": _mean(dur("latestOffset")),
        "sources.get_batch_ms": _mean(dur("getBatch")),
        "sources.input_rows": float(sum(p["numInputRows"] for p in allp)),
        "streaming.trigger_ms": _mean(dur("triggerExecution")),
        "streaming.trigger_p50_ms": median(
            [p["durationMs"]["triggerExecution"] for p in progress["store"]]
        ),
        "streaming.query_planning_ms": _mean(dur("queryPlanning")),
        "streaming.add_batch_ms": _mean(dur("addBatch")),
        "streaming.wal_commit_ms": _mean(dur("walCommit")),
        "streaming.batches": float(batches),
        "streaming.state_rows": float(sum(op["numRowsTotal"] for op in last_state)),
        "streaming.state_bytes": float(sum(op["memoryUsedBytes"] for op in last_state)),
        "streaming.state_commit_ms": _mean([op["commitTimeMs"] for op in states]),
        "streaming.rows_dropped_by_watermark": float(
            sum(op["numRowsDroppedByWatermark"] for op in states)
        ),
        "logsplit.ms": tr.mean_ms("logsplit"),
        "logsplit.rows_in": tr.counts["logsplit.rows_in"],
        "logsplit.dirty_rows": tr.counts["logsplit.dirty_rows"],
        "router.upsert_ms": tr.mean_ms("router.upsert"),
        "router.rows": tr.counts["router.rows"],
        "stateful.ms": tr.mean_ms("stateful"),
        "stateful.rows_out": tr.counts["stateful.rows_out"],
        "windows.ms": tr.mean_ms("windows"),
        "windows.rows_out": tr.counts["windows.rows_out"],
        "store.merge_ms": tr.mean_ms("store.merge"),
        "store.replays_skipped": tr.counts["store.replays_skipped"],
    }
    out.update(pipe.jobs.metrics())
    return out


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _local1_rate(ctx, slices: list[gen.Slice]) -> float:
    """Single-core baseline: every landed slice drained once through the
    same five queries on a ``local[1]`` session (availableNow trigger)."""
    spark = start_session(ctx.work, master="local[1]")
    try:
        root = os.path.join(ctx.work, "local1")
        pipe = Pipeline(spark, root, ctx.off, None)
        pipe.register()
        lander = Lander(pipe, slices, 0.0)
        for s in slices:
            lander.land(s)
        t0 = time.perf_counter()
        pipe.start(QUERIES, available_now=True)
        pipe.wait(QUERIES)
        elapsed = time.perf_counter() - t0
        return sum(s.rows for s in slices) / elapsed
    finally:
        spark.stop()
