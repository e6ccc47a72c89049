"""Every metric the benchmark reports, with its unit, and for each per-layer
metric the end-to-end metric and workload it is expected to move.

Every run prints every end-to-end metric, whatever its workload, so the
end-to-end names are workload-neutral; what an operation is differs per
workload, and ``WORKLOAD_NAMES`` gives each metric its workload-specific name
(printed on the ``detail`` line):

==================  =======================  =========================  ====================
metric              dashboard                realtime_ingest            corpus_curation
==================  =======================  =========================  ====================
throughput_per_s    dashboard_qps            ingest_rows_per_s          curation_docs_per_s
latency_p50_ms      dashboard_p50_ms         ingest_freshness_p50_ms    curation_pass_p50_ms
latency_p90_ms      dashboard_p90_ms         ingest_freshness_p90_ms    curation_pass_p90_ms
==================  =======================  =========================  ====================

Slice freshness runs from the moment the generator lands a slice's file to
the serving-store commit of the micro-batch that contained it.
``latency_p90_ms`` is not end-to-end: a 10 s run holds about 20 slices and
4 curation passes, so its p90 has one or two samples beyond it and moved
by more than any bound could allow between runs of the same code. It is on
every run's ``detail`` line and is a per-layer metric of the traced run.
``setup_s`` is the median of several set-ups in one run (session start, table
registration, warm-up until the first timed operation); ``retained_mb``
is the memory the driver JVM holds after a full collection at the end of
the timed phase (``runtime.retained_mb``). Peak resident memory of the
JVM plus its Python workers, which moves with garbage-collector timing by
more than any bound could allow, is the traced run's
``memory.peak_rss_mb``.
Failed operations (raised, or returned a wrong result) are the result's
``failed`` out of ``attempted``; their ratio is ``ops_failed_frac``.
"""

from __future__ import annotations

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "retained_mb": "MB",
}

WORKLOAD_NAMES = {
    "dashboard": ("dashboard_qps", "dashboard_p50_ms", "dashboard_p90_ms"),
    "realtime_ingest": ("ingest_rows_per_s", "ingest_freshness_p50_ms", "ingest_freshness_p90_ms"),
    "corpus_curation": ("curation_docs_per_s", "curation_pass_p50_ms", "curation_pass_p90_ms"),
}

ENDPOINTS = (
    "gmv",
    "trademark_topn",
    "category_topn",
    "spu_topn",
    "province_stats",
    "visitor_stats",
    "hourly_stats",
    "keyword_topn",
    "rfm_segments",
)

# (name, unit, end-to-end metric it should move, workload that exercises it)
LAYER = [
    ("ops_failed_frac", "ratio", "-", "all"),
    ("latency_p90_ms", "ms", "-", "all"),
    ("memory.peak_rss_mb", "MB", "retained_mb", "all"),
    ("session.start_s", "s", "setup_s", "all"),
    ("io.load_tables_ms", "ms", "latency_p50_ms", "dashboard"),
    ("io.load_tables_calls", "count", "latency_p50_ms", "dashboard"),
    ("serving.build_ms", "ms", "latency_p50_ms", "dashboard"),
    ("serving.exec_ms", "ms", "latency_p50_ms,throughput_per_s", "dashboard"),
    *[(f"serving.{ep}.exec_ms", "ms", "latency_p90_ms", "dashboard") for ep in ENDPOINTS],
    ("spark.jobs_per_op", "count", "throughput_per_s", "dashboard,realtime_ingest"),
    ("spark.stages_per_op", "count", "throughput_per_s", "dashboard,realtime_ingest"),
    ("spark.tasks_per_op", "count", "throughput_per_s", "dashboard,realtime_ingest"),
    ("spark.tasks_failed", "count", "throughput_per_s", "dashboard,realtime_ingest"),
    ("sources.backlog_files_max", "count", "latency_p90_ms", "realtime_ingest"),
    ("sources.backlog_files_mean", "count", "latency_p90_ms", "realtime_ingest"),
    ("sources.latest_offset_ms", "ms", "latency_p50_ms", "realtime_ingest"),
    ("sources.get_batch_ms", "ms", "latency_p50_ms", "realtime_ingest"),
    ("sources.input_rows", "count", "throughput_per_s", "realtime_ingest"),
    ("streaming.trigger_ms", "ms", "latency_p50_ms", "realtime_ingest"),
    ("streaming.trigger_p50_ms", "ms", "latency_p50_ms", "realtime_ingest"),
    ("streaming.query_planning_ms", "ms", "latency_p50_ms", "realtime_ingest"),
    ("streaming.add_batch_ms", "ms", "latency_p50_ms", "realtime_ingest"),
    ("streaming.wal_commit_ms", "ms", "latency_p50_ms", "realtime_ingest"),
    ("streaming.batches", "count", "latency_p50_ms", "realtime_ingest"),
    ("streaming.state_rows", "count", "latency_p50_ms", "realtime_ingest"),
    ("streaming.state_bytes", "bytes", "latency_p50_ms", "realtime_ingest"),
    ("streaming.state_commit_ms", "ms", "latency_p50_ms", "realtime_ingest"),
    ("streaming.rows_dropped_by_watermark", "count", "latency_p50_ms", "realtime_ingest"),
    ("streaming.rows_per_s_local1", "1/s", "throughput_per_s", "realtime_ingest"),
    ("logsplit.ms", "ms", "latency_p50_ms", "realtime_ingest"),
    ("logsplit.rows_in", "count", "latency_p50_ms", "realtime_ingest"),
    ("logsplit.dirty_rows", "count", "latency_p50_ms", "realtime_ingest"),
    ("router.upsert_ms", "ms", "pipeline_drain_s", "realtime_ingest"),
    ("router.rows", "count", "pipeline_drain_s", "realtime_ingest"),
    ("stateful.ms", "ms", "pipeline_drain_s", "realtime_ingest"),
    ("stateful.rows_out", "count", "pipeline_drain_s", "realtime_ingest"),
    ("windows.ms", "ms", "pipeline_drain_s", "realtime_ingest"),
    ("windows.rows_out", "count", "pipeline_drain_s", "realtime_ingest"),
    ("store.merge_ms", "ms", "latency_p50_ms", "realtime_ingest"),
    ("store.replays_skipped", "count", "latency_p50_ms", "realtime_ingest"),
    ("text.curation_ms", "ms", "throughput_per_s", "corpus_curation"),
    ("dedup.exact_ms", "ms", "throughput_per_s", "corpus_curation"),
    ("dedup.minhash_ms", "ms", "throughput_per_s", "corpus_curation"),
    ("dedup.verify_ms", "ms", "throughput_per_s", "corpus_curation"),
    ("dedup.candidate_pairs", "count", "throughput_per_s", "corpus_curation"),
    ("dedup.verified_pairs", "count", "throughput_per_s", "corpus_curation"),
    ("dedup.verify_yield", "ratio", "throughput_per_s", "corpus_curation"),
    ("trace.overhead_pct", "%", "-", "all"),
    ("trace.spans", "count", "-", "all"),
]

# Span names whose self time is reported as ``self.<name>_ms`` (total over
# the traced half of the run), so the blocking steps can be compared.
SELF_TIME_SPANS = (
    "session.start",
    "request",
    "io.load_tables",
    "serving.build",
    "logsplit",
    "store.merge",
    "router.upsert",
    "stateful",
    "windows",
    "curation.pass",
    "text.curation",
    "dedup.exact",
    "dedup.minhash",
    "dedup.verify",
)


def layer_units() -> dict[str, str]:
    units = {name: unit for name, unit, _moves, _wl in LAYER}
    units.update({f"self.{s}_ms": "ms" for s in SELF_TIME_SPANS})
    return units
