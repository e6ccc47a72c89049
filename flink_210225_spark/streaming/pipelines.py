"""Streaming pipelines (SURVEY §2.5, §3.1): the reference's per-layer Flink
jobs as readStream → transform → writeStream queries.

Job map (reference → here):
- VisitorStats/ProductStats/... DWS windowed aggs (10s tumble + watermark)
  → ``windowed_agg_stream`` (watermark + window + agg, same builder shapes
  as operators/windows.py).
- UniqueVisitApp UV dedup (keyed ValueState + 24h TTL)
  → ``uv_dedup_stream`` (watermark + dropDuplicates on (user, day) —
  state retention bounded by the watermark, the TTL analog).
- UserJumpDetailApp CEP (pattern + timeout side output)
  → ``jump_detection_stream`` (applyInPandasWithState with event-time
  timeout: gap-jumps emit immediately, absence-jumps on timer expiry).
- BaseDbApp config router (broadcast state + side outputs)
  → ``run_router_stream`` (foreachBatch: re-read config, broadcast join,
  per-sink parquet writes + dim upserts — per-batch config refresh replaces
  cache invalidation).

Kafka topics between reference jobs become parquet/checkpoint hops or
in-process chaining; on a cluster the same code points at
``format("kafka")`` sources/sinks unchanged.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_210225_spark.io import commit, last_batch, one_row_df
from flink_210225_spark.operators import router as router_ops


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (stands in for the Kafka
    ods topic; swap for format('kafka') + from_json on a cluster)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(sf_dir, "events.parquet")
    batch = spark.read.parquet(src)
    # File-source streams need a directory; expose the single fixture file
    # through a per-sf temp dir via symlink (no copy).
    link_dir = os.path.join(
        tempfile.gettempdir(), f"spark_graft_events_{abs(hash(sf_dir)) % 10**8}"
    )
    os.makedirs(link_dir, exist_ok=True)
    link = os.path.join(link_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    stream = spark.readStream.schema(batch.schema).parquet(link_dir)
    if dict(stream.dtypes).get("ts") == "bigint":
        # `div` (long integer division) — floor(ts/1000) rounds through
        # double and flips microseconds; keep identical to io.load_table so
        # stream==batch parity holds on raw ts values.
        stream = stream.withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz")
        )
    return stream


def windowed_agg_stream(
    events: DataFrame, duration: str = "1 hour", watermark: str = "10 seconds"
) -> DataFrame:
    """A1 as a stream: watermark-bounded tumbling agg (append-safe)."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration), F.col("event_type").alias("ch"))
        .agg(
            F.approx_count_distinct("user_id").alias("uv_ct"),
            F.count("*").alias("pv_ct"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "ch",
            "uv_ct",
            "pv_ct",
        )
    )


def session_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Sessionization as a stream: the native session_window aggregation
    (operators/sessions.py session_window_agg — the same code path batch
    uses) under a watermark. Session state merges windows within ``gap`` and
    evicts once the watermark passes a session's close — the streaming form
    of the reference's "session = visit" analysis (sv_ct seeding at
    VisitorStatsApp.java:72-75), which the reference only approximates with
    per-event flags because Flink session windows never made it into the
    gmall jobs."""
    from flink_210225_spark.operators.sessions import session_window_agg

    ev = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", watermark
    )
    return session_window_agg(ev, gap)


def uv_dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T2 as a stream: first event per (user, day). dropDuplicates state is
    evicted once the watermark passes the day — the 24h-TTL analog
    (UniqueVisitApp.java:57-59)."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .withColumn("dt", F.date_format(F.to_date("ts"), "yyyy-MM-dd"))
        .dropDuplicates(["user_id", "dt"])
        .select("event_id", "user_id", "dt")
    )


JUMP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
    ]
)
# state: the pending (undecided) last event per user + the watermark buffer
# of not-yet-processable events (same bounded-by-watermark-delay buffer as
# PATTERN_STATE_SCHEMA)
JUMP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("pend_event_id", T.LongType()),
        T.StructField("pend_ts_us", T.LongType()),
        T.StructField("buf_ids", T.ArrayType(T.LongType())),
        T.StructField("buf_ts", T.ArrayType(T.LongType())),
    ]
)


def make_jump_func(timeout_sec: int = 600) -> Callable:
    """Stateful CEP replacement (UserJumpDetailApp.java:46-86). Per user:
    each consecutive event-time gap > timeout emits the earlier event as a
    jump (CEP 'matched' + in-batch timeout); the final event stays pending
    until the watermark passes its ts+timeout, then emits (CEP timeout side
    output). Union of both = jumps, exactly the reference's
    select+timeout-output union (:85).

    Cross-batch ORDER is watermark-correct, like Flink CEP's event-time
    buffering: incoming events are buffered in keyed state and the gap
    chain advances only over events at or below the current watermark,
    sorted by (ts, event_id) — an event arriving a micro-batch late but
    inside the watermark delay lands in its correct chain position, so a
    disordered arrival cannot fabricate or hide a gap. The pending event
    emits once the watermark passes ts+timeout: any successor that would
    have closed the gap is then necessarily late-dropped, so the emission
    is final."""
    timeout_us = timeout_sec * 1_000_000

    def f(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        if state.exists:
            pend_id, pend_ts, bi, bts = state.get
            buf = list(zip(bi or [], bts or []))
        else:
            pend_id, pend_ts, buf = None, None, []
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs))
            buf = buf + list(
                zip(rows["event_id"], rows["ts"].astype("int64") // 1000)
            )
        ready = sorted((e for e in buf if e[1] <= wm_us), key=lambda e: (e[1], e[0]))
        pending = [e for e in buf if e[1] > wm_us]
        chain = ([(pend_id, pend_ts)] if pend_id is not None else []) + ready
        jumps = [
            chain[i][0]
            for i in range(len(chain) - 1)
            if chain[i + 1][1] - chain[i][1] > timeout_us
        ]
        pend_id, pend_ts = chain[-1] if chain else (None, None)
        if pend_id is not None and wm_us > pend_ts + timeout_us:
            # watermark passed the pending event's decision deadline with no
            # successor inside the gap — the CEP timeout output
            jumps.append(pend_id)
            pend_id, pend_ts = None, None
        if pend_id is None and not pending:
            if state.exists:
                state.remove()
        else:
            state.update(
                (
                    None if pend_id is None else int(pend_id),
                    None if pend_ts is None else int(pend_ts),
                    [int(e[0]) for e in pending],
                    [int(e[1]) for e in pending],
                )
            )
            deadlines = []
            if pending:
                deadlines.append(min(e[1] for e in pending) // 1000)
            if pend_id is not None:
                deadlines.append(pend_ts // 1000 + timeout_sec * 1000)
            state.setTimeoutTimestamp(max(min(deadlines), wm_ms + 1))
        if jumps:
            yield pd.DataFrame(
                {"user_id": [user_id] * len(jumps), "event_id": [int(j) for j in jumps]}
            )

    return f


def jump_detection_stream(events: DataFrame, timeout_sec: int = 600) -> DataFrame:
    ev = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", "10 seconds"
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        make_jump_func(timeout_sec),
        outputStructType=JUMP_OUTPUT_SCHEMA,
        stateStructType=JUMP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


NEW_VISITOR_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("is_new", T.StringType()),
    ]
)
NEW_VISITOR_STATE_SCHEMA = T.StructType([T.StructField("seen", T.BooleanType())])


def _new_visitor_func(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """T1 streaming kernel (BaseLogApp.java:72-101): keyed ValueState records
    first-ever sighting; within a batch, events after the user's first are
    rewritten is_new='0'. State is one boolean per user — the reference's
    unbounded cross-day state; cap via the state-store TTL knob if the id
    space is unbounded (SURVEY §7.4)."""
    (user_id,) = key
    seen = state.exists
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        flags = []
        for _ in range(len(pdf)):
            flags.append("0" if seen else "1")
            seen = True
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": user_id,
                "is_new": flags,
            }
        )
    state.update((True,))


def new_visitor_stream(events: DataFrame) -> DataFrame:
    """T1 as a stream: first-ever event per user keeps is_new=1, later events
    forced to 0 — keyed state via applyInPandasWithState."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", "10 seconds"
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _new_visitor_func,
        outputStructType=NEW_VISITOR_OUTPUT_SCHEMA,
        stateStructType=NEW_VISITOR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


QUOTA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("priority", T.IntegerType()),
    ]
)
QUOTA_STATE_SCHEMA = T.StructType([T.StructField("admitted", T.IntegerType())])


def make_quota_func(quota: int = 10) -> Callable:
    """Streaming sibling of ``ops/sampling.quota_per_group``. Semantics
    differ deliberately: batch quota ranks the WHOLE corpus by md5 priority
    (needs global order — impossible online); the stream admits in arrival
    order (doc_id within a batch) until the per-(lang, source) cap, carrying
    the admitted count as keyed state across micro-batches. Same guarantee
    where it matters: ≤ quota survivors per group, dense ranks, replay-safe
    (counts live in the state store, rescanned batches don't double-admit)."""

    def f(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        lang, source = key
        admitted = state.get[0] if state.exists else 0
        rows = pd.concat(list(pdfs)).sort_values("doc_id")
        take = rows.head(max(0, quota - admitted))
        state.update((admitted + len(take),))
        if len(take):
            yield pd.DataFrame(
                {
                    "doc_id": take["doc_id"],
                    "lang": lang,
                    "source": source,
                    "priority": range(admitted + 1, admitted + len(take) + 1),
                }
            )

    return f


def quota_stream(docs: DataFrame, quota: int = 10) -> DataFrame:
    """Per-(lang, source) admission cap over a document stream."""
    return docs.groupBy("lang", "source").applyInPandasWithState(
        make_quota_func(quota),
        outputStructType=QUOTA_OUTPUT_SCHEMA,
        stateStructType=QUOTA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup: admit the first-seen document per text digest;
    later byte-identical copies are dropped by ``dropDuplicates`` keyed
    state that persists across micro-batches (a re-ingested mirror three
    batches later still dedups).

    Scale posture: state is ONE 16-byte digest per distinct document (never
    the text), hash-partitioned by the state store exactly like the batch
    groupBy digest shuffle; it grows with the distinct corpus, which is the
    inherent cost of global exact dedup — bound it by re-keying to
    ``dropDuplicatesWithinWatermark`` when the stream carries event time and
    a dedup horizon is acceptable. Which doc of a duplicate group is
    admitted follows arrival order (batch's min-doc_id tiebreak needs a
    total order a stream doesn't have) — the parity test checks the
    admitted digest SET and group membership, not the survivor id."""
    return (
        docs.withColumn("text_hash", F.md5("text"))
        .dropDuplicates(["text_hash"])
        .select("doc_id", "text_hash", "lang", "source")
    )


def run_curation_stream(docs_stream: DataFrame, out_dir: str, checkpoint_dir: str):
    """Materialize the curated dataset: the fused curation pass
    (ops/text.curation_pipeline — quality + repetition + lang ID + split in
    one projection) runs on the document stream and selected docs land as
    parquet partitioned by split, so train/val/test are separate directory
    trees prunable at read time. Stateless transform ⇒ the file sink's own
    exactly-once log suffices (no foreachBatch needed); restart against the
    same checkpoint never duplicates output files."""
    from flink_210225_spark.ops.text import curation_pipeline

    curated = curation_pipeline({"documents": docs_stream}).filter(F.col("selected"))
    return (
        curated.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("split")
        .trigger(availableNow=True)
        .start()
    )


def near_dedup_batch(
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
) -> bool:
    """Fold one micro-batch through the streaming NEAR-dup filter: admit a
    document unless its MinHash estimated Jaccard against (a) any previously
    admitted signature or (b) a smaller-doc_id document in the same batch
    reaches ``threshold``. Admitted signatures append to the store at
    ``store_dir/sigs`` as one ``batch_id=<id>`` partition, committed by
    rename with the batch's marker inside (``io.commit``), so a replayed
    batch is a no-op.

    Scale posture: the store holds one ``num_hashes``-long signature per
    admitted doc — signature-sized, not text-sized — and candidate
    generation is a (band, bucket) equi-join between the batch and the
    store, so per-batch cost is batch × collision rate, never batch ×
    store. Returns False on a replayed batch."""
    from flink_210225_spark.ops.dedup import (
        banded_buckets,
        est_jaccard_col,
        minhash_signatures,
    )

    spark = batch.sparkSession
    sdir = os.path.join(store_dir, "sigs")
    out = os.path.join(sdir, f"batch_id={batch_id}")
    if batch_id <= last_batch(out):
        return False

    sig = minhash_signatures(batch.select("doc_id", "text"), num_hashes)
    bb = banded_buckets(sig, num_hashes, bands)

    def dup_ids(other_bb: DataFrame, pair_cond) -> DataFrame:
        n, s = bb.alias("n"), other_bb.alias("s")
        pairs = (
            n.join(
                s,
                (F.col("n.band") == F.col("s.band"))
                & (F.col("n.bucket") == F.col("s.bucket"))
                & pair_cond,
            )
            .select(
                F.col("n.doc_id").alias("doc_id"),
                F.col("s.doc_id").alias("other"),
                F.col("n.minhash").alias("ma"),
                F.col("s.minhash").alias("mb"),
            )
            .dropDuplicates(["doc_id", "other"])
        )
        return (
            pairs.filter(est_jaccard_col(F.col("ma"), F.col("mb"), num_hashes) >= threshold)
            .select("doc_id")
            .distinct()
        )

    # intra-batch: drop the larger id of any near-dup pair (min-id
    # representative, matching the batch dedup family's survivor rule)
    dropped = dup_ids(bb, F.col("n.doc_id") > F.col("s.doc_id"))
    try:
        store = spark.read.parquet(sdir)
        dropped = dropped.unionByName(
            dup_ids(banded_buckets(store, num_hashes, bands), F.lit(True))
        ).distinct()
    except Exception:  # first batch: empty store
        pass
    admitted = sig.join(dropped, "doc_id", "left_anti")
    commit(out, admitted.write.parquet, batch_id)
    return True


def near_dedup_stream(
    docs_stream: DataFrame, store_dir: str, checkpoint_dir: str, threshold: float = 0.5
):
    """Streaming near-duplicate filtering — the MinHash-LSH sibling of
    ``dedup_stream``'s exact digests: a late-arriving paraphrase or
    re-crawl is dropped against the accumulated signature store even when
    the bytes differ. The admitted corpus is the signature store's doc_id
    set; join it back to the raw stream's sink for the surviving text."""

    def process(batch: DataFrame, batch_id: int) -> None:
        near_dedup_batch(batch, batch_id, store_dir, threshold)

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def embedding_assign_stream(emb_stream: DataFrame, cent) -> DataFrame:
    """Incremental ANN-index maintenance: assign arriving embeddings to the
    FROZEN coarse-quantizer cells of an IVF index built offline by
    ``ops.similarity.ivf_assign`` (cent = its returned centroid matrix).
    The kernel is a stateless Arrow ``mapInPandas`` GEMM — it composes with
    any sink, replays idempotently, and parallelizes with zero shuffle
    (each batch partition scores against the broadcast-small centroid
    matrix). Retraining the quantizer is an offline cadence decision —
    monitor cell-size drift with ``embedding_cluster_stats``; the frozen
    index stays queryable throughout (same trade IVF services make)."""
    import numpy as np
    import pandas as pd

    C = np.asarray(cent, dtype=np.float64)
    cn = np.sqrt((C * C).sum(axis=1))

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            nrm = np.sqrt((mat * mat).sum(axis=1))
            cos = (mat @ C.T) / np.outer(nrm, cn)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "cell": cos.argmax(axis=1).astype("int32"),
                }
            )

    return emb_stream.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id long, embedding array<float>, cell int"
    )


def merge_cell_counts_batch(
    batch: DataFrame, batch_id: int, monitor_dir: str, train_sizes
) -> bool:
    """Fold one micro-batch of IVF cell assignments into the running
    observed-cell histogram at ``monitor_dir/counts`` and append a drift
    report row to ``monitor_dir/drift``. Returns False on a replayed
    batch_id. Both outputs go through ``io.commit``: the drift row lands
    as its own ``batch_id=<id>`` partition first, then the counts version
    carrying the batch marker swaps in, so a replay after a crash between
    the two recomputes the identical drift row from the unchanged counts.
    Factored out of the stream so drift math and replay semantics are
    testable without a restart.

    ``train_sizes`` is {cell: count} from the offline build (small — one
    entry per coarse cell, broadcast as a literal DataFrame). Drift =
    total-variation distance between the normalized training histogram and
    the normalized observed histogram, plus the max per-cell load ratio;
    ``retrain`` fires when TVD exceeds the threshold stored alongside. The
    merge touches only cell-count-sized tables — nothing data-sized."""
    spark = batch.sparkSession
    counts_dir = os.path.join(monitor_dir, "counts")
    if batch_id <= last_batch(counts_dir):
        return False
    part = batch.groupBy("cell").agg(F.count("*").alias("ct"))
    try:
        merged = spark.read.parquet(counts_dir).unionByName(part)
    except Exception:
        merged = part
    obs = merged.groupBy("cell").agg(F.sum("ct").cast("long").alias("ct"))

    # JVM-side construction (array literals + range unroll): this runs once
    # PER MICRO-BATCH, where a python-list createDataFrame costs a full
    # 32-task Python-worker fan-out per action (see io.one_row_df).
    _pairs = sorted(train_sizes.items())
    if _pairs:
        _cells = F.array(*[F.lit(int(c)) for c, _ in _pairs])
        _cts = F.array(*[F.lit(int(n)) for _, n in _pairs])
        train = spark.range(len(_pairs)).select(
            F.element_at(_cells, (F.col("id") + 1).cast("int"))
            .cast("int")
            .alias("cell"),
            F.element_at(_cts, (F.col("id") + 1).cast("int"))
            .cast("long")
            .alias("train_ct"),
        )
    else:
        # zero-arg F.array() would be array<void> — build a TYPED empty
        # frame instead of relying on NullType->int cast analysis
        train = spark.range(0).select(
            F.lit(0).cast("int").alias("cell"),
            F.lit(0).cast("long").alias("train_ct"),
        )

    def write_counts(path: str) -> None:
        obs.write.parquet(path)
        # the drift row reads the just-written (cell-count sized) version
        joined = train.join(spark.read.parquet(path), "cell", "full").select(
            "cell",
            F.coalesce("train_ct", F.lit(0)).alias("train_ct"),
            F.coalesce("ct", F.lit(0)).alias("obs_ct"),
        )
        # one global-frame window (the joined table is cell-count sized),
        # then the agg — a window function can't sit inside an aggregate
        w = Window.partitionBy()
        shares = joined.select(
            (F.col("train_ct") / F.sum("train_ct").over(w)).alias("p"),
            (F.col("obs_ct") / F.sum("obs_ct").over(w)).alias("q"),
            F.count("*").over(w).alias("n_cells"),
        )
        drift = shares.agg(
            (F.sum(F.abs(F.col("p") - F.col("q"))) / 2).alias("tvd"),
            F.max(F.col("q") * F.col("n_cells")).cast("double").alias("max_load_ratio"),
        )
        commit(
            os.path.join(monitor_dir, "drift", f"batch_id={batch_id}"),
            drift.write.parquet,
        )

    commit(counts_dir, write_counts, batch_id)
    return True


def run_ivf_drift_monitor_stream(
    emb_stream: DataFrame,
    cent,
    train_sizes,
    monitor_dir: str,
    checkpoint_dir: str,
):
    """IVF quantizer drift monitor — the retrain-trigger half of
    incremental ANN index maintenance (``embedding_assign_stream`` keeps
    the index queryable; this decides WHEN the frozen quantizer has gone
    stale). Each micro-batch is assigned to cells with the same stateless
    GEMM, folded into a running cell histogram, and scored against the
    training-time histogram; downstream automation reads
    ``monitor_dir/drift`` and kicks an offline ``ivf_assign`` rebuild when
    ``tvd`` crosses its policy threshold (the index serves unchanged
    throughout — the same trade production IVF services make).

    Scale posture: state is one row per coarse cell (√N cells for N
    vectors — KB-sized at 100 TB), partials map-side combine inside each
    batch, and the embedding vectors themselves never shuffle or persist
    here. Exactly-once via the batch marker ``merge_cell_counts_batch``
    commits with the counts."""
    assigned = embedding_assign_stream(emb_stream, cent).select("cell")

    def process(batch: DataFrame, batch_id: int) -> None:
        merge_cell_counts_batch(batch, batch_id, monitor_dir, train_sizes)

    return (
        assigned.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# The compact serving table merge_stats_batch keeps.
_STATS_SCHEMA = pa.schema(
    [
        ("day", pa.string()),
        ("event_type", pa.string()),
        ("pv_ct", pa.int64()),
        ("value_sum", pa.float64()),
    ]
)


def merge_stats_batch(batch: DataFrame, batch_id: int, stats_dir: str) -> bool:
    """Fold one micro-batch into the compact (day, event_type) stats table
    at ``stats_dir/table``. Returns False if this batch_id was already
    applied (replay). The merged version is written beside the live table
    with the batch marker inside and renamed in (``io.commit``); that
    marker is what upgrades foreachBatch's at-least-once into exactly-once
    merges, and because it commits with the data, a crash at any step
    either applied the batch or left the old table. Factored out of the
    stream so replay semantics are testable without a restart.

    Spark aggregates the batch (two jobs: the shuffle and the result).
    That aggregate and the table are both days × event types rows however
    big the batch, so Python takes the aggregate as Arrow, adds it to
    the previous version (read with the table's known schema) and writes
    the sum as one parquet file. Spark's file writer and a Spark scan of
    the previous version each add tens to a hundred ms of job and commit
    set-up (4-core host), more than the aggregation itself, and a sink
    that runs every few hundred ms cannot carry that. A table that
    outgrew one process's memory would go back to a Spark union and
    ``DataFrame.write``."""
    data_dir = os.path.join(stats_dir, "table")
    if batch_id <= last_batch(data_dir):
        return False
    table = (
        batch.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .agg(F.count("*").alias("pv_ct"), F.sum(F.col("value").cast("double")).alias("value_sum"))
        .toArrow()
        .cast(_STATS_SCHEMA)
    )
    if os.path.isdir(data_dir):
        prev = pq.read_table(data_dir, schema=_STATS_SCHEMA)
        sums = (
            pa.concat_tables([prev, table])
            .group_by(["day", "event_type"])
            .aggregate([("pv_ct", "sum"), ("value_sum", "sum")])
        )
        table = sums.select(["day", "event_type", "pv_ct_sum", "value_sum_sum"]).rename_columns(
            _STATS_SCHEMA.names
        )

    def write(path: str) -> None:
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, "part-00000.parquet"))

    commit(data_dir, write, batch_id)
    return True


def run_stats_maintenance_stream(events: DataFrame, stats_dir: str, checkpoint_dir: str):
    """Incremental serving-table maintenance — the ClickHouse-sink analog
    (K3) with MERGE-ON-WRITE semantics: each micro-batch folds its partial
    aggregates into a compact (day, event_type) stats table instead of
    appending raw rows, so the serving read is a plain small scan with no
    compaction debt and dashboards never see partially-applied batches.

    Scale posture: partials are map-side combined (per-batch shuffle is
    group-count rows, not event rows) and the merge rewrites only the
    AGGREGATE table — serving-sized (days × event types), not data-sized;
    with Delta the read-union-swap becomes MERGE INTO. Exactly-once:
    foreachBatch is at-least-once on restart, and the batch marker that
    commits with each table version makes the merge idempotent
    (``merge_stats_batch``)."""

    def process(batch: DataFrame, batch_id: int) -> None:
        merge_stats_batch(batch, batch_id, stats_dir)

    return (
        events.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_router_stream(
    cdc_stream: DataFrame,
    config_loader: Callable[[SparkSession], DataFrame],
    out_dir: str,
    checkpoint_dir: str,
):
    """T3 end-to-end: per micro-batch re-read config (the broadcast-state
    refresh), route, write kafka-bound rows to parquet topics and upsert dim
    tables (K4). Exactly-once via checkpoint + idempotent per-batch writes."""

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        cfg = config_loader(spark)
        routed = router_ops.route(batch, cfg).cache()
        try:
            sinks = router_ops.split_sinks(routed)
            kafka_rows = sinks["kafka"].withColumn("data_json", F.to_json("data"))
            for row in kafka_rows.select("sink_table").distinct().collect():
                topic = row["sink_table"]
                (
                    kafka_rows.filter(F.col("sink_table") == topic)
                    .select("tableName", "type", "data_json")
                    .write.mode("append")
                    .parquet(os.path.join(out_dir, "topics", topic))
                )
            hbase_rows = sinks["hbase"]
            for row in hbase_rows.select("sink_table", "sink_pk").distinct().collect():
                tbl, pk = row["sink_table"], row["sink_pk"]
                dim = hbase_rows.filter(F.col("sink_table") == tbl).select(
                    F.col("data")[pk].alias(pk), F.to_json("data").alias("payload")
                )
                router_ops.upsert_dim(dim, os.path.join(out_dir, "dims", tbl), pk=pk)
        finally:
            routed.unpersist()

    return (
        cdc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_stream_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Test/debug harness: drain an availableNow run into a memory sink and
    return the result table."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def merge_scd2_batch(
    changes: DataFrame, batch_id: int, dim_dir: str, key: str = "key"
) -> bool:
    """Fold one micro-batch of CDC change rows (key, type, ts, attrs...)
    into a persistent SCD TYPE-2 dim history at ``dim_dir/table`` — the
    streaming sibling of ``operators/router.py scd2_history`` and the
    history-keeping upgrade of ``upsert_dim`` (which keeps only latest).
    The raw change rows persist at ``dim_dir/changes``; each merge writes
    the new change set, re-derives the history from it, and swaps both in
    with ``io.commit`` — with Delta this becomes MERGE INTO partitioned by
    key-bucket so untouched buckets aren't rewritten.
    Exactly-once: ``table`` swaps first, as a deterministic replace a
    replay rewrites identically, then ``changes`` swaps with the batch
    marker inside, so the marker commits with the rows it records. Every
    stored change row also carries the batch_id that delivered it, and a
    merge first drops stored rows bearing the incoming batch_id — should
    the marker ever be lost with the rows kept, the retried batch still
    cannot double its rows.
    Deletes arrive as rows with type='delete' and close intervals per
    scd2_history semantics; the raw delete rows persist in the store (they
    keep closing intervals on every re-derive)."""
    from flink_210225_spark.operators.router import scd2_history

    spark = changes.sparkSession
    raw_dir = os.path.join(dim_dir, "changes")
    if batch_id <= last_batch(raw_dir):
        return False
    tagged = changes.withColumn("__batch_id", F.lit(int(batch_id)))
    try:
        existing = spark.read.parquet(raw_dir)
        if "__batch_id" not in existing.columns:  # pre-tagging store
            existing = existing.withColumn(
                "__batch_id", F.lit(None).cast("long")
            )
        existing = existing.filter(
            F.col("__batch_id").isNull() | (F.col("__batch_id") != int(batch_id))
        )
        all_changes = existing.unionByName(tagged)
    except Exception:
        all_changes = tagged

    def write_changes(path: str) -> None:
        all_changes.write.parquet(path)
        hist = scd2_history(spark.read.parquet(path).drop("__batch_id"), [key], "ts")
        commit(os.path.join(dim_dir, "table"), hist.write.parquet)

    commit(raw_dir, write_changes, batch_id)
    return True


def run_scd2_stream(changes: DataFrame, dim_dir: str, checkpoint_dir: str, key: str = "key"):
    """SCD2 dim maintenance as a stream: foreachBatch + the batch marker
    committed with each change-set version = exactly-once history merges
    (K4/K5's type-2 upgrade)."""

    def process(batch: DataFrame, batch_id: int) -> None:
        merge_scd2_batch(batch, batch_id, dim_dir, key)

    return (
        changes.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


PATTERN_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("start_event_id", T.LongType()),
        T.StructField("end_event_id", T.LongType()),
    ]
)
# state: (stage, start_event_id, start_ts_us) of the in-flight partial match
# + the watermark buffer of not-yet-processable events (parallel arrays —
# the pandas GroupState tuple codec round-trips flat arrays; buffer size is
# bounded by events inside the watermark delay per key, the same bound every
# event-time-ordered CEP engine carries).
PATTERN_STATE_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.IntegerType()),
        T.StructField("start_event_id", T.LongType()),
        T.StructField("start_ts_us", T.LongType()),
        T.StructField("buf_ids", T.ArrayType(T.LongType())),
        T.StructField("buf_types", T.ArrayType(T.StringType())),
        T.StructField("buf_ts", T.ArrayType(T.LongType())),
    ]
)


def make_pattern_func(
    steps: tuple[str, ...] = ("view", "click", "purchase"), within_sec: int = 86400
) -> Callable:
    """Generalized CEP as keyed streaming state: the SAME greedy kernel the
    batch path runs (operators/stateful.match_pattern_kernel), with the
    in-flight partial match (stage, start id, start ts) carried across
    micro-batches.

    Cross-batch ORDER is watermark-correct, matching Flink CEP's event-time
    buffering (UserJumpDetailApp.java:46-56 assigns watermarks before the
    pattern): each invocation buffers incoming events in keyed state and
    feeds the kernel only events at or below the current watermark, sorted
    by (ts, event_id) — so an event arriving a micro-batch late but inside
    the watermark delay lands in its correct position before the kernel
    sees its successors. Events later than the watermark delay are dropped
    by the stream's late-row filter, identical to the batch oracle only up
    to that allowed-lateness contract (T8). An event-time timer fires when
    the watermark passes the earliest buffered event (releasing it) or an
    in-flight partial's completion deadline (evicting it — once the
    watermark passes start + within, any still-arriving completer would be
    late-dropped anyway, so the drop cannot change results)."""
    from flink_210225_spark.operators.stateful import match_pattern_kernel

    within_us = within_sec * 1_000_000

    def f(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        if state.exists:
            stage, start_id, start_ts, bi, bt, bts = state.get
            buf = list(zip(bi or [], bt or [], bts or []))
        else:
            stage, start_id, start_ts, buf = 0, None, None, []
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs))
            buf = buf + list(
                zip(
                    rows["event_id"],
                    rows["event_type"],
                    rows["ts"].astype("int64") // 1000,
                )
            )
        ready = sorted((e for e in buf if e[2] <= wm_us), key=lambda e: (e[2], e[0]))
        pending = [e for e in buf if e[2] > wm_us]
        out, (stage, start_id, start_ts) = match_pattern_kernel(
            ready, steps, within_us, (stage, start_id, start_ts)
        )
        if stage > 0 and wm_us > start_ts + within_us:
            # expired in-flight partial: completers can no longer arrive
            # (they would be behind the watermark = late-dropped), and any
            # pending event is past the deadline so the kernel would reset
            # on it anyway — drop now so quiet users don't pin state.
            stage, start_id, start_ts = 0, None, None
        if stage == 0 and not pending:
            # nothing in flight, nothing buffered: drop the state row
            # entirely (ADVICE r1 — an empty state.update here would pin a
            # row per user forever, unbounded keyed-state growth).
            if state.exists:
                state.remove()
        else:
            bi2 = [int(e[0]) for e in pending]
            bt2 = [str(e[1]) for e in pending]
            bts2 = [int(e[2]) for e in pending]
            state.update(
                (
                    int(stage),
                    None if start_id is None else int(start_id),
                    None if start_ts is None else int(start_ts),
                    bi2,
                    bt2,
                    bts2,
                )
            )
            # wake-up timer: earliest buffered event's release time and/or
            # the partial's completion deadline, whichever comes first.
            # Clamp just past the current watermark — a replayed deadline
            # already behind it would make setTimeoutTimestamp throw.
            deadlines = []
            if pending:
                deadlines.append(min(e[2] for e in pending) // 1000)
            if stage > 0:
                deadlines.append(start_ts // 1000 + within_us // 1000)
            state.setTimeoutTimestamp(max(min(deadlines), wm_ms + 1))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out),
                    "start_event_id": [a for a, _ in out],
                    "end_event_id": [b for _, b in out],
                }
            )

    return f


FUNNEL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("depth", T.IntegerType()),
    ]
)
# state: greedy latest-chain-starts (s0, s1) of the windowed-funnel DP, the
# deepest stage already emitted, + the watermark buffer (parallel arrays)
FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("s0", T.LongType()),
        T.StructField("s1", T.LongType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("buf_ids", T.ArrayType(T.LongType())),
        T.StructField("buf_types", T.ArrayType(T.StringType())),
        T.StructField("buf_ts", T.ArrayType(T.LongType())),
    ]
)


def make_funnel_func(
    steps: tuple[str, ...] = ("view", "click", "purchase"), window_sec: int = 21600
) -> Callable:
    """Streaming twin of ``sessions.funnel_windowed``: the greedy
    latest-start DP carried as keyed state, emitting (user_id, depth) each
    time a user's reached funnel depth strictly increases. The DP state is
    THREE scalars per user (two chain starts + emitted depth) — bounded
    forever, no eviction needed: stale chain starts are self-guarding
    because every extension re-checks ts − s_{j−1} ≤ window itself.

    Cross-batch order is watermark-correct via the same buffering contract
    as ``make_pattern_func``: events wait in keyed state until the
    watermark passes them, then feed the fold sorted by (ts, event_id) —
    bitwise the batch DP's strictly-earlier-rows semantics, which the
    shared oracle hash then proves end-to-end."""
    t_us = window_sec * 1_000_000

    def f(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        if state.exists:
            s0, s1, depth, bi, bt, bts = state.get
            buf = list(zip(bi or [], bt or [], bts or []))
        else:
            s0, s1, depth, buf = None, None, 0, []
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs))
            buf = buf + list(
                zip(
                    rows["event_id"],
                    rows["event_type"],
                    rows["ts"].astype("int64") // 1000,
                )
            )
        ready = sorted((e for e in buf if e[2] <= wm_us), key=lambda e: (e[2], e[0]))
        pending = [e for e in buf if e[2] > wm_us]
        emitted = []
        for _eid, et, ts in ready:
            if et == steps[0]:
                s0 = ts if s0 is None else max(s0, ts)
                reached = 1
            elif et == steps[1] and s0 is not None and ts - s0 <= t_us:
                s1 = s0 if s1 is None else max(s1, s0)
                reached = 2
            elif et == steps[2] and s1 is not None and ts - s1 <= t_us:
                reached = 3
            else:
                continue
            if reached > depth:
                depth = reached
                emitted.append(depth)
        if depth >= len(steps) and not pending:
            # terminal: full depth reached and nothing buffered
            if state.exists:
                state.remove()
        elif s0 is None and depth == 0 and not pending:
            if state.exists:
                state.remove()
        else:
            state.update(
                (
                    None if s0 is None else int(s0),
                    None if s1 is None else int(s1),
                    int(depth),
                    [int(e[0]) for e in pending],
                    [str(e[1]) for e in pending],
                    [int(e[2]) for e in pending],
                )
            )
            if pending:
                state.setTimeoutTimestamp(
                    max(min(e[2] for e in pending) // 1000, wm_ms + 1)
                )
        if emitted:
            yield pd.DataFrame(
                {"user_id": [user_id] * len(emitted), "depth": emitted}
            )

    return f


def funnel_stream(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    window_sec: int = 21600,
) -> DataFrame:
    """Windowed-funnel progression over the live event stream."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", "10 seconds"
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        make_funnel_func(steps, window_sec),
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def pattern_stream(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    within_sec: int = 86400,
) -> DataFrame:
    """T4 generalized: arbitrary-step CEP over the event stream."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", "10 seconds"
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        make_pattern_func(steps, within_sec),
        outputStructType=PATTERN_OUTPUT_SCHEMA,
        stateStructType=PATTERN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )





from contextlib import contextmanager


@contextmanager
def _stream_shuffle(spark: SparkSession, n: str = "8"):
    """Scoped shuffle-partition override for the STATE-STORE streaming
    capstones: each micro-batch instantiates one state-store per shuffle
    partition, so the 200-partition vanilla default is pure overhead at
    fixture scale (measured 24 -> 16 s on the window capstone; larger
    under the driver's unconfigured session). Restored on exit —
    production sizes this to keyed-state volume, not to a constant."""
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", n)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.shuffle.partitions")
        else:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def _local_paths(df: DataFrame) -> list[str]:
    """Every part-file of the DataFrame's source, as local paths (scheme
    stripped), sorted for determinism."""
    return sorted(
        "/" + f.split(":", 1)[1].lstrip("/") for f in df.inputFiles()
    )


def _stage_fixture(df: DataFrame, srcdir: str, stem: str) -> None:
    """Symlink EVERY part-file into the landing dir — a fixture written as
    a directory of part-files replays completely (staging only
    inputFiles()[0] silently drops all but the first part and fails the
    stream==batch hash with a confusing row-count mismatch)."""
    for i, local in enumerate(_local_paths(df)):
        os.symlink(local, os.path.join(srcdir, f"{stem}_{i}.parquet"))


_SCRATCH_ROOT = None


def _scratch(prefix: str) -> str:
    """Session-scoped scratch dir for the materialized streaming queries:
    every output/checkpoint/landing dir lives under ONE root that is
    removed at interpreter exit, so repeated bench/pytest runs cannot
    accumulate fixture-sized parquet + state-store copies in /tmp.
    Cleanup must be deferred to exit: the returned DataFrames read the
    materialized parquet LAZILY, so deleting right after return would
    break the caller's collect."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        import atexit
        import shutil

        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="stream_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _staged_sentinel_stream(
    ev: DataFrame,
    prefix: str,
    hours: tuple[int, ...] = (2, 4),
    normalize_ts: bool = True,
):
    """The sentinel/staging protocol every events-replay capstone shares
    (extracted — it existed as four verbatim copies, and NOTES records a
    sentinel-granularity bug that had to be chased through copies):
    stage the events fixture into a scratch source dir, append one lone
    far-future sentinel row per entry of ``hours`` (+Nh past the fixture
    max; user_id −1 / event_type '__sentinel__'), and open the
    one-file-per-trigger stream over it. Sentinels advance the watermark
    so final windows/state flush across micro-batch boundaries; they are
    dropped on READ-BACK, never pre-agg (Catalyst pushes filters below
    the EventTimeWatermark operator). Returns (spark, stream, out, cp).

    ``normalize_ts=False`` leaves a non-bigint ts column untouched
    (TIMESTAMP_NTZ) for consumers whose kernels diff timestamps
    themselves; True casts to session-zone timestamp for window() users.
    """
    spark = ev.sparkSession
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(*_local_paths(ev))
    max_ts = raw.agg(F.max("ts")).collect()[0][0]
    ts_is_long = dict(raw.dtypes)["ts"] == "bigint"
    out = _scratch(prefix=f"{prefix}_out_")
    cp = _scratch(prefix=f"{prefix}_cp_")
    srcdir = _scratch(prefix=f"{prefix}_src_")
    _stage_fixture(ev, srcdir, "events")
    for i, hrs in enumerate(hours):
        if ts_is_long:
            sent_ts = max_ts + hrs * 3_600_000_000_000
        else:
            from datetime import timedelta

            sent_ts = max_ts + timedelta(hours=hrs)
        sent_vals = [-(i + 1), sent_ts, -1, "__sentinel__", 0.0, "{}"]
        # loud arity check — zip would silently truncate if the events
        # fixture ever grows a column, writing a narrower sentinel parquet
        # (the old createDataFrame(..., raw.schema) raised here)
        if len(raw.dtypes) != len(sent_vals):
            raise ValueError(
                f"sentinel arity {len(sent_vals)} != events schema {raw.dtypes}"
            )
        sent = one_row_df(
            spark, [(n, dt, v) for (n, dt), v in zip(raw.dtypes, sent_vals)]
        )
        sdir = _scratch(prefix=f"{prefix}_sentinel{i}_")
        sent.coalesce(1).write.mode("overwrite").parquet(sdir)
        part = next(f for f in os.listdir(sdir) if f.endswith(".parquet"))
        # hard link (not symlink) so the file's mtime is NOW → the file
        # source orders it after the fixture file
        os.link(os.path.join(sdir, part), os.path.join(srcdir, f"sentinel_{i}.parquet"))
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcdir)
    )
    if ts_is_long:
        stream = stream.withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)").cast("timestamp")
        )
    elif normalize_ts:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark, stream, out, cp


def curation_stream_materialized(tables: dict[str, DataFrame]) -> DataFrame:
    """Driver-checkable END-TO-END streaming query (VERDICT r1 #9): the
    documents fixture replayed as a file-source STREAM through
    ``run_curation_stream`` (readStream → fused curation projection →
    partitioned parquet sink with availableNow + checkpoint), then the
    materialized dataset read back and returned. The whole Structured
    Streaming machinery — source offsets, the file sink's exactly-once
    commit log, partition-by-split layout — sits between the fixture and
    the returned rows, and the DuckDB oracle is the BATCH curation SQL
    filtered to selected: stream == batch, hash-gated by the driver."""
    import tempfile

    docs = tables["documents"]
    spark = docs.sparkSession
    out = _scratch(prefix="curation_stream_out_")
    cp = _scratch(prefix="curation_stream_cp_")
    # the file source wants a DIRECTORY (its basePath); stage the fixture
    # files into a temp landing zone via symlink — exactly how a drop-dir
    # ingest looks in production, no data copied
    srcdir = _scratch(prefix="curation_stream_src_")
    _stage_fixture(docs, srcdir, "docs")
    stream = spark.readStream.schema(docs.schema).parquet(srcdir)
    run_curation_stream(stream, out, cp).awaitTermination()
    return spark.read.parquet(out).select(
        "doc_id", "quality", "keep_repetition", "pred_lang", "split", "selected"
    )


def upsert_stream_materialized(tables: dict[str, DataFrame]) -> DataFrame:
    """Driver-gated end-to-end run of the BUCKETED upsert sink (VERDICT r2
    #5): a CDC-shaped change stream derived from orders (custkey, event-ts,
    status) is replayed in three date-sliced micro-batches through
    ``foreachBatch`` → ``upsert_dim_bucketed(order_col='ts')``, then the
    maintained dim is read back. Event-time last-write-wins makes the final
    table independent of micro-batch arrival order AND of replays, so no
    batch marker is needed and the DuckDB oracle is simply the
    latest-change-per-key window over the same synthesized changes. The
    sink only ever rewrites the bucket partitions each batch touches — the
    cost-proportional-to-touched-keys contract, here under the driver
    hash."""
    orders = tables["orders"]
    spark = orders.sparkSession
    changes = orders.select(
        F.col("o_custkey").alias("custkey"),
        # Synthesized event time must be INJECTIVE per key so last-write-wins
        # has no ambiguous tiebreak between the engines: the day multiplier
        # (1e10) sits safely above any o_orderkey at any plausible SF, so
        # (epoch_day, orderkey) -> ts is collision-free.
        (
            F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long") * 10000000000
            + F.col("o_orderkey")
        ).alias("ts"),
        F.col("o_orderstatus").alias("status"),
    )
    srcdir = _scratch(prefix="upsert_stream_src_")
    # ONE pass stages all three date slices (was: three filtered scans +
    # three write jobs): tag each row with its slice index, write
    # partitionBy(slice) with a single file per slice (repartition on the
    # tag), then hard-link each slice's part file into the landing dir.
    # Same three batch files, same rows per batch.
    slice_idx = (
        F.when(F.col("o_orderdate") < "1994-01-01", F.lit(0))
        .when(F.col("o_orderdate") < "1996-01-01", F.lit(1))
        .otherwise(F.lit(2))
    )
    orders.select(
        F.col("o_custkey").alias("custkey"),
        (
            F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long") * 10000000000
            + F.col("o_orderkey")
        ).alias("ts"),
        F.col("o_orderstatus").alias("status"),
        slice_idx.alias("slice"),
    ).repartition("slice").write.mode("overwrite").partitionBy("slice").parquet(srcdir)
    landing = _scratch(prefix="upsert_stream_landing_")
    for i in range(3):
        sdir = os.path.join(srcdir, f"slice={i}")
        if not os.path.isdir(sdir):  # a tiny SF may leave a slice empty
            continue
        parts = [f for f in os.listdir(sdir) if f.endswith(".parquet")]
        for j, part in enumerate(sorted(parts)):
            os.link(
                os.path.join(sdir, part), os.path.join(landing, f"b{i}_{j}.parquet")
            )
    dim_dir = _scratch(prefix="upsert_stream_dim_")
    cp = _scratch(prefix="upsert_stream_cp_")
    stream = (
        spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        router_ops.upsert_dim_bucketed(
            batch, os.path.join(dim_dir, "table"), pk="custkey",
            n_buckets=16, order_col="ts",
        )

    with _stream_shuffle(spark):
        q = (
            stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(os.path.join(dim_dir, "table")).select(
        "custkey", "ts", "status"
    )


def dedup_stream_materialized(tables: dict[str, DataFrame]) -> DataFrame:
    """Second driver-checkable END-TO-END streaming query — this one
    STATEFUL: the documents fixture is staged TWICE in the landing zone and
    replayed with maxFilesPerTrigger=1, so micro-batch 2 re-ingests every
    document and must drop ALL of them against the dropDuplicates digest
    state carried over from batch 1. The admitted rows land in parquet
    through the file sink's exactly-once commit log and are read back.

    Output is the admitted digest SET (not survivor doc_ids — which copy of
    a duplicate group is admitted follows arrival order, nondeterministic
    under parallelism; the digest set is exactly determined). Oracle =
    DISTINCT md5(text): if cross-batch state ever leaked (batch 2 re-admits
    a digest) the parquet output doubles and the row-count/hash gates
    break."""
    import tempfile

    docs = tables["documents"]
    spark = docs.sparkSession
    out = _scratch(prefix="dedup_stream_out_")
    cp = _scratch(prefix="dedup_stream_cp_")
    srcdir = _scratch(prefix="dedup_stream_src_")
    _stage_fixture(docs, srcdir, "replay_a")
    _stage_fixture(docs, srcdir, "replay_b")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcdir)
    )
    with _stream_shuffle(spark):
        q = (
            dedup_stream(stream)
            .select("text_hash")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out)


def window_stream_materialized(tables: dict[str, DataFrame]) -> DataFrame:
    """Third driver-checkable END-TO-END streaming query — WATERMARK-DRIVEN
    WINDOW FLUSH: the events fixture replayed file-by-file
    (maxFilesPerTrigger=1) through a tumbling 1-hour aggregation in APPEND
    mode, where a window may only be emitted once the event-time watermark
    passes its end. Two sentinel files (lone far-future rows, +2h/+4h past
    the fixture max) are staged AFTER the data file, so the real windows sit
    in the state store across micro-batch boundaries and flush only when the
    later batches advance the watermark — the exact mechanism Flink's
    tumbling event-time windows fire by (SURVEY §2.5 A1/T5). Sentinel rows
    drive event-time forward and aggregate into their own
    ``__sentinel__`` group, dropped on read-back (they cannot be filtered
    pre-agg: Catalyst pushes the filter below the watermark operator).

    Output = the batch ``window_visitor_stats`` shape (exact UV via
    collect_set — streaming forbids countDistinct; sum 2dp-floored), so the
    oracle is shared with the batch query: stream == batch, hash-gated."""
    spark, stream, out, cp = _staged_sentinel_stream(
        tables["events"], "window_stream"
    )
    # NOTE: no pre-agg sentinel filter — Catalyst pushes filters BELOW the
    # EventTimeWatermark operator (down to the scan), so a filtered sentinel
    # would never advance the watermark and the final real windows would
    # stay unflushed in state. The sentinel aggregates into its own
    # '__sentinel__' group instead and is dropped on read-back.
    agg = (
        stream.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type").alias("ch"))
        .agg(
            F.collect_set("user_id").alias("users"),
            F.count("*").alias("pv_ct"),
            F.sum("value").alias("sv"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "ch",
            F.size("users").cast("long").alias("uv_ct"),
            F.col("pv_ct").cast("long").alias("pv_ct"),
            (F.floor(F.col("sv") * 100 + F.lit(0.5)) / 100).alias("dur_sum"),
        )
    )
    with _stream_shuffle(spark):
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out).filter(F.col("ch") != "__sentinel__")


def join_stream_materialized(tables: dict[str, DataFrame]) -> DataFrame:
    """Fourth driver-checkable END-TO-END streaming query — STREAM-STREAM
    JOIN STATE: orders and lineitem fixtures replayed as two independent
    file-source streams through the watermarked interval join
    (``streaming/joins.interval_join_streams``, the reference's
    OrderWideApp J1 shape: detail.ship_ts ∈ [order.ts, +5 days) on the
    order key, OrderWideApp.java:59-66), materialized through the file
    sink's exactly-once commit log and read back. Both sides pass through
    Spark's symmetric join-state machinery (each row is buffered keyed by
    o_orderkey/l_orderkey until the other side's watermark clears it), so
    a state-handling regression — dropped buffers, premature eviction,
    double emission — changes the row set. Oracle = the BATCH interval
    join's SQL (join_interval_order_detail): stream == batch, hash-gated.

    Columns are pruned BEFORE the join (only the key, the two event times
    and the two price fields enter the buffered state) — at 100 TB the
    join state holds exactly what the output needs, not whole rows."""
    o, li = tables["orders"], tables["lineitem"]
    spark = o.sparkSession
    out = _scratch(prefix="join_stream_out_")
    cp = _scratch(prefix="join_stream_cp_")
    odir = _scratch(prefix="join_stream_osrc_")
    ldir = _scratch(prefix="join_stream_lsrc_")
    _stage_fixture(o, odir, "orders")
    _stage_fixture(li, ldir, "lineitem")
    o_stream = (
        spark.readStream.schema(o.schema)
        .parquet(odir)
        .select("o_orderkey", "o_orderdate")
    )
    l_stream = (
        spark.readStream.schema(li.schema)
        .parquet(ldir)
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice", "l_discount")
    )
    from flink_210225_spark.streaming.joins import interval_join_streams

    joined = interval_join_streams(
        o_stream, l_stream, "o_orderkey", "l_orderkey", "o_orderdate", "l_shipdate",
        0, 5 * 86400,
    )
    result = joined.select(
        "o_orderkey",
        "l_linenumber",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
        (
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
            / 100
        ).alias("split_amount"),
    )
    with _stream_shuffle(spark):
        q = (
            result.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out)


def stateful_stream_materialized(tables: dict[str, DataFrame]) -> DataFrame:
    """Fifth driver-checkable END-TO-END streaming query — CUSTOM KEYED
    STATE + EVENT-TIME TIMERS under the gate: the events fixture replayed
    file-by-file through ``jump_detection_stream``
    (``applyInPandasWithState``: per-user pending event carried across
    micro-batches, event-time timer emits the absence-jump — the
    reference's CEP timeout side output, UserJumpDetailApp.java:46-86).
    Two far-future sentinel files (+2h/+4h, user −1, dropped on read-back)
    are staged AFTER the data so the watermark advances past every real
    user's ts+timeout timer: the +2h batch raises the watermark, the +4h
    batch runs with it raised and FIRES the timers (timers are evaluated
    against the watermark computed from prior batches — the same one-batch
    lag the window query's two sentinels cover). With all timers fired,
    stream output == batch ``state_jump_detection`` exactly, so the batch
    oracle hash-gates the whole stateful machinery: state carry-over,
    timer registration, timeout emission, file-sink commit log."""
    spark, stream, out, cp = _staged_sentinel_stream(
        tables["events"], "stateful_stream", normalize_ts=False
    )
    with _stream_shuffle(spark):
        q = (
            jump_detection_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out).filter(F.col("user_id") >= 0).select(
        "event_id", "user_id"
    )


def enrich_stream_materialized(tables: dict[str, DataFrame]) -> DataFrame:
    """Sixth driver-checkable END-TO-END streaming query — STREAM-STATIC
    DIM ENRICHMENT: the orders fixture replayed as a file stream and
    broadcast-joined per micro-batch against the customer and nation dim
    snapshots (``streaming/joins.enrich_with_dims``'s shape — the
    reference's six async dim lookups, OrderWideApp.java:59-171, as
    stream-static broadcast joins; static sides re-resolve each
    micro-batch, which is the dim-freshness the reference buys with cache
    invalidation). Materialized through the file sink and read back;
    oracle = the same join in plain SQL: a dropped dim row, a stale
    broadcast, or a join-key regression breaks the hash."""
    o, c, n = tables["orders"], tables["customer"], tables["nation"]
    spark = o.sparkSession
    out = _scratch(prefix="enrich_stream_out_")
    cp = _scratch(prefix="enrich_stream_cp_")
    srcdir = _scratch(prefix="enrich_stream_src_")
    _stage_fixture(o, srcdir, "orders")
    stream = (
        spark.readStream.schema(o.schema)
        .parquet(srcdir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    enriched = (
        stream.join(
            F.broadcast(c.select("c_custkey", "c_name", "c_nationkey")),
            stream.o_custkey == F.col("c_custkey"),
            "left",
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left",
        )
        .select(
            "o_orderkey",
            "o_custkey",
            (F.floor(F.col("o_totalprice") * 100 + 0.5) / 100).alias("total_price"),
            F.col("c_name").alias("user_name"),
            F.col("n_name").alias("province_name"),
        )
    )
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out)


def funnel_stream_materialized(tables: dict[str, DataFrame]) -> DataFrame:
    """Seventh driver-checkable END-TO-END streaming query — the windowed
    FUNNEL as keyed streaming state: the events fixture replays
    file-by-file through ``funnel_stream`` (watermark-ordered buffering +
    the greedy latest-start DP per user, depth-increase rows appended).
    Two far-future sentinels flush every user's buffer (first raises the
    watermark, second fires the release timers against it). Read-back
    folds max(depth) per user into the stage/step/users rollup, so the
    stream shares ``session_funnel_windowed``'s batch oracle — state
    carry-over, buffer release order, and the DP itself all sit under one
    hash."""
    spark, stream, out, cp = _staged_sentinel_stream(
        tables["events"], "funnel_stream", normalize_ts=False
    )
    with _stream_shuffle(spark):
        q = (
            funnel_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    per_user = (
        spark.read.parquet(out)
        .filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(F.max("depth").alias("depth"))
    )
    steps = ("view", "click", "purchase")
    counts = per_user.agg(
        *[
            F.count(F.when(F.col("depth") >= j + 1, 1)).alias(f"users_{j}")
            for j in range(len(steps))
        ]
    )
    stack = ", ".join(f"{j}, '{s}', users_{j}" for j, s in enumerate(steps))
    return counts.selectExpr(f"stack({len(steps)}, {stack}) AS (stage, step, users)")


CUSUM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("day", T.StringType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("pv_ct", T.LongType()),
        T.StructField("cusum_pos", T.LongType()),
        T.StructField("cusum_neg", T.LongType()),
        T.StructField("shift_up", T.BooleanType()),
        T.StructField("shift_down", T.BooleanType()),
    ]
)
# recurrence scalars + the reference-profile constants + watermark buffer
CUSUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cpos", T.LongType()),
        T.StructField("cneg", T.LongType()),
        T.StructField("n_days", T.LongType()),
        T.StructField("total_ct", T.LongType()),
        T.StructField("buf_days", T.ArrayType(T.StringType())),
        T.StructField("buf_cts", T.ArrayType(T.LongType())),
        T.StructField("buf_ts", T.ArrayType(T.LongType())),
    ]
)


def session_stream_materialized(tables: dict[str, DataFrame]) -> DataFrame:
    """TENTH driver-checkable END-TO-END streaming query — SESSION-WINDOW
    MERGE STATE: the events fixture replayed file-by-file through the
    native ``session_window`` aggregation (the SAME code path the batch
    ``session_window_native`` query runs) in APPEND mode. Session windows
    are the one windowed aggregate whose state MERGES: an event landing
    within the 30-minute gap of a session held in the state store extends
    that session across micro-batch boundaries, and a session only emits
    once the watermark passes its close — the exact semantics Flink
    EventTimeSessionWindows carry and the reference's "session = visit"
    seeding approximates per-event (VisitorStatsApp.java:72-75). Two
    far-future sentinel files (+2h/+4h) drive the watermark past every
    real session's close so the final sessions flush (sentinels session
    under their own user_id −1, dropped on read-back — pre-agg filters
    would push below the watermark operator, the window-capstone lesson).

    stream == batch: shares ``session_window_native``'s gaps-and-islands
    oracle, so the hash gate proves the session-merge state machinery
    reproduces the batch closed form exactly."""
    spark, stream, out, cp = _staged_sentinel_stream(
        tables["events"], "session_stream"
    )
    from flink_210225_spark.operators.sessions import session_window_agg

    agg = session_window_agg(stream.withWatermark("ts", "10 seconds"))
    with _stream_shuffle(spark):
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out).filter(F.col("user_id") >= 0)


def make_cusum_func() -> Callable:
    """Streaming twin of ``windows.cusum_changepoint``: the LITERAL Page
    recurrence s_t = max(0, s_{t-1} + dev_t) carried as two integer
    scalars of keyed state per metric — so the driver gate triangulates
    three implementations of one contract (batch closed form, DuckDB
    recursive CTE, streaming fold). Days wait in the watermark buffer and
    feed the fold in day order (the make_pattern_func buffering
    contract); the reference-profile constants (n_days, total_ct — a
    prior batch job's output in production) arrive on each row via the
    stream-static join and pin into state. Keys with no profile (the
    sentinel group) buffer and emit nothing. State is bounded by the
    event-type domain: two scalars + the not-yet-released buffer."""

    def f(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (etype,) = key
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        if state.exists:
            cpos, cneg, nd, tot, bd, bc, bt = state.get
            buf = list(zip(bd or [], bc or [], bt or []))
        else:
            cpos, cneg, nd, tot, buf = 0, 0, None, None, []
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs))
            if len(rows) and nd is None and not pd.isna(rows["n_days"].iloc[0]):
                nd = int(rows["n_days"].iloc[0])
                tot = int(rows["total_ct"].iloc[0])
            buf = buf + list(
                zip(
                    rows["day"],
                    rows["pv_ct"],
                    rows["ts"].astype("int64") // 1000,
                )
            )
        ready = sorted((e for e in buf if e[2] <= wm_us), key=lambda e: e[0])
        pending = [e for e in buf if e[2] > wm_us]
        out = []
        if nd is not None:
            for day, ct, _ts in ready:
                dev = int(ct) * nd - tot
                cpos = max(0, cpos + dev)
                cneg = max(0, cneg - dev)
                out.append(
                    (str(day), etype, int(ct), cpos, cneg, cpos >= tot, cneg >= tot)
                )
        state.update(
            (
                int(cpos),
                int(cneg),
                None if nd is None else int(nd),
                None if tot is None else int(tot),
                [str(e[0]) for e in pending],
                [int(e[1]) for e in pending],
                [int(e[2]) for e in pending],
            )
        )
        if pending:
            state.setTimeoutTimestamp(
                max(min(e[2] for e in pending) // 1000, wm_ms + 1)
            )
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "day", "event_type", "pv_ct", "cusum_pos", "cusum_neg",
                    "shift_up", "shift_down",
                ],
            )

    return f


def cusum_stream_materialized(tables: dict[str, DataFrame]) -> DataFrame:
    """Eighth driver-checkable END-TO-END streaming query — and the first
    CHAINED two-stage streaming pipeline under the gate (the bronze→
    silver cascade every production lakehouse runs): stage 1 replays the
    events fixture file-by-file through a watermark-flushed 1-day tumble
    into an exactly-once parquet sink; stage 2 re-ingests THAT sink's
    files as a second stream (maxFilesPerTrigger=1, so daily rows cross
    micro-batch boundaries), stream-static joins the reference profile
    (n_days/total per type, a prior batch job's output), and folds the
    Page CUSUM recurrence as keyed state with watermark-ordered
    buffering. Two far-future day sentinels staged after the stage-1
    output flush the buffers (first raises the watermark, second fires
    the timers against it). Output == batch ``window_cusum`` row-for-row,
    so ONE oracle hash-gates: the window flush, the file-sink commit log,
    the re-ingest, the stream-static join, the buffer release order, and
    the recurrence itself."""
    ev = tables["events"]
    spark = ev.sparkSession
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(*_local_paths(ev))
    ts_is_long = dict(raw.dtypes)["ts"] == "bigint"
    if ts_is_long:
        batch_ev = raw.withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)").cast("timestamp")
        )
    else:
        batch_ev = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    # ONE full-scan aggregate for every driver-side scalar this pipeline
    # needs (raw max for the sentinels, day span for the silver watermark) —
    # previously max_ts and the span were two separate full-scan collects.
    if ts_is_long:
        _conv = F.expr("timestamp_micros(ts div 1000)").cast("timestamp")
    else:
        _conv = F.col("ts").cast("timestamp")
    scal = raw.agg(
        F.max("ts").alias("max_ts"),
        F.min(F.date_format(_conv, "yyyy-MM-dd")).alias("lo"),
        F.max(F.date_format(_conv, "yyyy-MM-dd")).alias("hi"),
    ).collect()[0]
    max_ts = scal["max_ts"]
    profile = (
        batch_ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .agg(F.count("*").alias("pv_ct"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"), F.sum("pv_ct").alias("total_ct")
        )
        # localCheckpoint: a stream-static join RE-EVALUATES the static side
        # every micro-batch — un-checkpointed, each silver trigger replayed
        # this two-level aggregation over the whole events fixture (N
        # micro-batches × full scan; at 100 TB the profile is a prior batch
        # job's OUTPUT, i.e. already materialized — this reproduces that
        # contract). The frame is event-type-sized, trivially small.
        .localCheckpoint(eager=True)
    )
    # ---- stage 1 (bronze): watermark-flushed daily counts ----
    bronze_out = _scratch(prefix="cusum_stream_bronze_")
    bronze_cp = _scratch(prefix="cusum_stream_bronze_cp_")
    srcdir = _scratch(prefix="cusum_stream_src_")
    _stage_fixture(ev, srcdir, "events")
    # Sentinel offsets are DAY-granular here (+1d/+2d), not the sibling
    # capstones' +2h/+4h: those tumble by hour, this stage tumbles by DAY,
    # and an hour-scale sentinel only flushes the final day's window when
    # the fixture's last event happens to fall late enough in the day.
    for i, days_off in enumerate((1, 2)):
        if ts_is_long:
            sent_ts = max_ts + days_off * 24 * 3_600_000_000_000
        else:
            from datetime import timedelta

            sent_ts = max_ts + timedelta(days=days_off)
        sent_vals = [-(i + 1), sent_ts, -1, "__sentinel__", 0.0, "{}"]
        if len(raw.dtypes) != len(sent_vals):
            raise ValueError(
                f"sentinel arity {len(sent_vals)} != events schema {raw.dtypes}"
            )
        sent = one_row_df(
            spark, [(n, dt, v) for (n, dt), v in zip(raw.dtypes, sent_vals)]
        )
        sdir = _scratch(prefix=f"cusum_stream_sentinel{i}_")
        sent.coalesce(1).write.mode("overwrite").parquet(sdir)
        part = next(f for f in os.listdir(sdir) if f.endswith(".parquet"))
        os.link(os.path.join(sdir, part), os.path.join(srcdir, f"sentinel_{i}.parquet"))
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcdir)
    )
    if ts_is_long:
        stream = stream.withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)").cast("timestamp")
        )
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    daily = (
        stream.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count("*").alias("pv_ct"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.col("pv_ct").cast("long").alias("pv_ct"),
        )
    )
    # 2 shuffle partitions, not the capstone-default 8: each bronze flush
    # batch writes one part file per shuffle partition, and stage 2 replays
    # the sink ONE FILE PER TRIGGER — at 8 partitions the silver stream pays
    # ~18 micro-batch state-store commits for the same 150 rows (measured
    # 33.9 s median; the whole trim is commit-log overhead, not data). The
    # day-tumble state needs 2 partitions at any fixture scale; production
    # sizes this to keyed-state volume.
    # repartition(1) sits BELOW the sink and ABOVE the stateful tumble: each
    # flush batch lands as ONE part file instead of one per shuffle
    # partition, and stage 2 replays the sink one file per trigger — so this
    # directly halves the silver stream's micro-batch (state-store commit)
    # count. repartition, never coalesce: coalesce would narrow the tumble
    # operator's own partitioning and change its state-store layout.
    with _stream_shuffle(spark, "2"):
        q = (
            daily.repartition(1)
            .writeStream.format("parquet")
            .option("path", bronze_out)
            .option("checkpointLocation", bronze_cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # ---- stage 2 (silver): re-ingest the bronze sink + CUSUM state ----
    landing = _scratch(prefix="cusum_stream_silver_src_")
    parts = sorted(
        f for f in os.listdir(bronze_out) if f.endswith(".parquet")
    )
    for i, f_ in enumerate(parts):
        os.link(os.path.join(bronze_out, f_), os.path.join(landing, f"b{i}.parquet"))
    import datetime as _dt

    max_day = _dt.date.fromisoformat(scal["hi"])
    # The bronze sink's part files carry NO cross-file time order (each
    # flush batch hash-partitions (day, type) rows over the shuffle), so
    # a file-by-file re-ingest sees days arbitrarily out of order. The
    # silver watermark delay must cover that full disorder — the series
    # span plus margin — or later-file rows behind the watermark are
    # dropped as late data before they reach the stateful operator
    # (measured: 50/150 rows survive with a 1-second delay).
    delay_days = (max_day - _dt.date.fromisoformat(scal["lo"])).days + 2
    for i, extra in enumerate((2, 4)):
        sent = one_row_df(
            spark,
            [
                ("day", "string", str(max_day + _dt.timedelta(days=delay_days + extra))),
                ("event_type", "string", "__sentinel__"),
                ("pv_ct", "long", 0),
            ],
        )
        sdir = _scratch(prefix=f"cusum_stream_silver_sentinel{i}_")
        sent.coalesce(1).write.mode("overwrite").parquet(sdir)
        part = next(f for f in os.listdir(sdir) if f.endswith(".parquet"))
        os.link(
            os.path.join(sdir, part), os.path.join(landing, f"sentinel_{i}.parquet")
        )
    silver = (
        spark.readStream.schema("day string, event_type string, pv_ct long")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .withColumn("ts", F.to_timestamp("day"))
        .join(F.broadcast(profile), "event_type", "left")
        .withWatermark("ts", f"{delay_days} days")
    )
    out = _scratch(prefix="cusum_stream_out_")
    cp = _scratch(prefix="cusum_stream_cp_")
    result = silver.groupBy("event_type").applyInPandasWithState(
        make_cusum_func(),
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    # The CUSUM state is keyed by event_type (a handful of keys): 2 state
    # stores per micro-batch, not 8 — the per-batch commit overhead is the
    # entire cost of this two-stage pipeline at fixture scale.
    with _stream_shuffle(spark, "2"):
        q = (
            result.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out).filter(F.col("event_type") != "__sentinel__")


def _visitor_stats_oracle() -> str:
    from flink_210225_spark.operators.windows import ORACLES as _WINDOW_ORACLES

    return _WINDOW_ORACLES["window_visitor_stats"]


def _session_native_oracle() -> str:
    from flink_210225_spark.operators.sessions import ORACLES as _SESSION_ORACLES

    return _SESSION_ORACLES["session_window_native"]


def topk_stream_materialized(tables: dict[str, DataFrame]) -> DataFrame:
    """ELEVENTH driver-checkable end-to-end streaming query — STREAMING
    TOP-K / heavy hitters: per (day, event type), the top-3 users by event
    count. Structured Streaming cannot rank inside an append stream (no
    window functions over unbounded input), so this materializes the
    production "speed + serving" split: the stream finalizes per-(day,
    type, user) counts under the watermark (keyed agg state across
    micro-batches, flushed by the sentinel protocol), the file sink
    commits them exactly-once, and the top-N is a rank over the FINALIZED
    sink — the same lambda-architecture seam the reference's
    publisher-over-ClickHouse dashboards use (SURVEY §2.10: DWS streams
    aggregate, the serving layer sorts/limits).

    Deterministic rank: count desc, user_id asc — pure integers, no
    rounding anywhere. Oracle = the batch daily-count + row_number SQL:
    stream == batch, hash-gated. State is (days×types×users)-keyed counts
    — bounded by the watermark horizon, the textbook streaming-top-k
    state budget."""
    spark, stream, out, cp = _staged_sentinel_stream(
        tables["events"], "topk_stream"
    )
    agg = (
        stream.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 day"), "event_type", "user_id")
        .agg(F.count("*").alias("ct"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd").alias("day"),
            "event_type",
            "user_id",
            F.col("ct").cast("long").alias("ct"),
        )
    )
    with _stream_shuffle(spark):
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    fin = spark.read.parquet(out).filter(F.col("event_type") != "__sentinel__")
    w = Window.partitionBy("day", "event_type").orderBy(
        F.desc("ct"), F.asc("user_id")
    )
    return (
        fin.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("day", "event_type", "user_id", "ct", "rank")
    )


def changepoint_stream_materialized(tables: dict[str, DataFrame]) -> DataFrame:
    """TWELFTH driver-checkable end-to-end streaming query — STREAMING
    CHANGEPOINT DETECTION as the speed/serving split: the stream
    finalizes per-(event type, day) counts under the watermark (keyed agg
    state, sentinel-flushed), the file sink commits them exactly-once,
    and binary segmentation runs over the FINALIZED sink through the SAME
    kernel as the batch query (``changepoint_from_daily``) — detection
    logic exists once, the stream only changes where the daily table
    comes from. Shares ``window_changepoint``'s oracle: stream == batch,
    hash-gated (the cusum capstone's triangulation discipline, minus its
    second stream stage — ranking/argmax over finalized state belongs to
    the serving layer, the topk capstone's lambda seam)."""
    from flink_210225_spark.operators.windows import changepoint_from_daily

    spark, stream, out, cp = _staged_sentinel_stream(
        tables["events"], "chgpt_stream"
    )
    agg = (
        stream.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count("*").alias("pv"))
        .select(
            "event_type",
            F.col("window.start").cast("date").alias("day"),
            F.col("pv").cast("long").alias("pv"),
        )
    )
    with _stream_shuffle(spark):
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    daily = spark.read.parquet(out).filter(F.col("event_type") != "__sentinel__")
    return changepoint_from_daily(daily)


def dedup_wm_stream_materialized(tables: dict[str, DataFrame]) -> DataFrame:
    """FOURTEENTH driver-checkable end-to-end streaming query — the NATIVE
    Spark 3.5+ streaming dedup operator ``dropDuplicatesWithinWatermark``,
    the engine's own answer to the reference's T2 daily-UV TTL dedup
    (``stream_dedup_materialized`` gates the foreachBatch digest-store
    form; THIS gates the built-in operator's state path). The events
    fixture is staged TWICE and replayed one file per trigger, so the
    second replay's every (user, day) key must be dropped against the
    operator's state carried across micro-batches. The watermark delay
    covers the full fixture span (the cusum lesson: a short delay would
    make batch 2 LATE-dropped — vacuously correct without ever touching
    dedup state); output is projected to the KEY set (which physical row
    wins per key follows arrival order — nondeterministic under
    parallelism — so only key columns pass the sink), then rolled up per
    day. Oracle = batch COUNT(DISTINCT user) per day: any state leak
    doubles the counts, any over-eviction halves them."""
    ev = tables["events"]
    spark = ev.sparkSession
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(*_local_paths(ev))
    ts_is_long = dict(raw.dtypes)["ts"] == "bigint"
    if ts_is_long:
        batch_ts = F.expr("timestamp_micros(ts div 1000)").cast("timestamp")
    else:
        batch_ts = F.col("ts").cast("timestamp")
    span = raw.select(batch_ts.alias("t")).agg(
        F.min("t").alias("lo"), F.max("t").alias("hi")
    ).collect()[0]
    delay_days = (span["hi"].date() - span["lo"].date()).days + 2
    out = _scratch(prefix="dedup_wm_out_")
    cp = _scratch(prefix="dedup_wm_cp_")
    srcdir = _scratch(prefix="dedup_wm_src_")
    _stage_fixture(ev, srcdir, "replay_a")
    _stage_fixture(ev, srcdir, "replay_b")
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcdir)
    )
    if ts_is_long:
        stream = stream.withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)").cast("timestamp")
        )
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    keyed = (
        stream.select(
            "ts", "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .withWatermark("ts", f"{delay_days} days")
        .dropDuplicatesWithinWatermark(["user_id", "day"])
        .select("day", "user_id")
    )
    with _stream_shuffle(spark):
        q = (
            keyed.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("n_users"))
    )


QUERIES = {
    "stream_dedup_wm_materialized": dedup_wm_stream_materialized,
    "stream_changepoint_materialized": changepoint_stream_materialized,
    "stream_topk_materialized": topk_stream_materialized,
    "stream_curation_materialized": curation_stream_materialized,
    "stream_upsert_materialized": upsert_stream_materialized,
    "stream_dedup_materialized": dedup_stream_materialized,
    "stream_window_materialized": window_stream_materialized,
    "stream_join_materialized": join_stream_materialized,
    "stream_stateful_materialized": stateful_stream_materialized,
    "stream_enrich_materialized": enrich_stream_materialized,
    "stream_funnel_materialized": funnel_stream_materialized,
    "stream_cusum_materialized": cusum_stream_materialized,
    "stream_session_materialized": session_stream_materialized,
}


def _cusum_oracle() -> str:
    from flink_210225_spark.operators.windows import ORACLES as _WINDOW_ORACLES

    return _WINDOW_ORACLES["window_cusum"]


def _jump_oracle() -> str:
    from flink_210225_spark.operators.stateful import ORACLES as _ST_ORACLES

    return _ST_ORACLES["state_jump_detection"]


def _interval_join_oracle() -> str:
    from flink_210225_spark.operators.joins import ORACLES as _JOIN_ORACLES

    return _JOIN_ORACLES["join_interval_order_detail"]


def _curation_selected_oracle() -> str:
    from flink_210225_spark.ops.text import ORACLES as _TEXT_ORACLES

    return (
        "SELECT * FROM ("
        + _TEXT_ORACLES["text_curation_pipeline"]
        + ") WHERE selected"
    )


def _funnel_oracle() -> str:
    from flink_210225_spark.operators.sessions import ORACLES as _S_ORACLES

    return _S_ORACLES["session_funnel_windowed"]


def _changepoint_oracle() -> str:
    from flink_210225_spark.operators.windows import ORACLES as _WINDOW_ORACLES

    return _WINDOW_ORACLES["window_changepoint"]


ORACLES = {
    # stream == batch over the shared changepoint kernel: watermark-flushed
    # daily counts must reproduce the batch rollup exactly, or the argmax
    # (and its pinned score) moves.
    "stream_changepoint_materialized": _changepoint_oracle(),
    # stream == batch: the watermark-flushed daily keyed counts must equal
    # a plain batch rollup; the rank is the deterministic serving layer.
    "stream_topk_materialized": """
        WITH d AS (
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   event_type, user_id, count(*)::BIGINT AS ct
            FROM events GROUP BY 1, 2, 3
        )
        SELECT day, event_type, user_id, ct, rank
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY day, event_type
                  ORDER BY ct DESC, user_id) AS rank
              FROM d)
        WHERE rank <= 3
    """,
    "stream_upsert_materialized": """
        WITH c AS (
            SELECT o_custkey AS custkey,
                   (o_orderdate::DATE - DATE '1970-01-01')::BIGINT * 10000000000
                       + o_orderkey AS ts,
                   o_orderstatus AS status
            FROM orders
        ),
        r AS (
            SELECT custkey, ts, status,
                   row_number() OVER (PARTITION BY custkey ORDER BY ts DESC) AS rn
            FROM c
        )
        SELECT custkey, ts, status FROM r WHERE rn = 1
    """,
    "stream_curation_materialized": _curation_selected_oracle(),
    "stream_dedup_materialized": (
        "SELECT DISTINCT md5(text) AS text_hash FROM documents"
    ),
    # native dropDuplicatesWithinWatermark over a DOUBLE replay == batch
    # per-day distinct users; a state leak doubles, over-eviction halves
    "stream_dedup_wm_materialized": """
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               count(DISTINCT user_id)::BIGINT AS n_users
        FROM events GROUP BY 1
    """,
    "stream_window_materialized": _visitor_stats_oracle(),
    "stream_join_materialized": _interval_join_oracle(),
    "stream_stateful_materialized": _jump_oracle(),
    "stream_enrich_materialized": """
        SELECT o_orderkey, o_custkey,
               floor(o_totalprice * 100 + 0.5) / 100 AS total_price,
               c_name AS user_name, n_name AS province_name
        FROM orders
        LEFT JOIN customer ON o_custkey = c_custkey
        LEFT JOIN nation ON c_nationkey = n_nationkey
    """,
    "stream_funnel_materialized": _funnel_oracle(),
    # the two-stage streaming cascade must equal the batch closed form,
    # which the recursive-CTE recurrence oracle already gates
    "stream_cusum_materialized": _cusum_oracle(),
    "stream_session_materialized": _session_native_oracle(),
}
