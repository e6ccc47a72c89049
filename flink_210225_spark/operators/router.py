"""T3: config-driven dynamic routing (BaseDbApp.java:61-89 +
TableProcessFunction.java:51-175).

The reference broadcasts a CDC-streamed ``table_process`` config table to
every task; each fact record looks up ``(sourceTable, opType)``, gets its
columns pruned to the configured list, a ``sinkTable`` stamped, and is routed
kafka (fact) vs hbase (dim). Unknown keys are logged & dropped
(TableProcessFunction.java:155-157).

Spark-first: the config is small ⇒ a **broadcast inner join** on
(tableName, type) replaces the broadcast state; ``map_filter`` prunes the
payload map to the configured column list JVM-side; two filtered projections
replace the side output. In streaming this runs per micro-batch inside
``foreachBatch`` (see streaming/pipelines.py), which also re-reads the config
— giving the same effective semantics as the reference's cache invalidation.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_210225_spark.io import commit, staging, swap
from flink_210225_spark.schemas import SINK_TYPE_HBASE, SINK_TYPE_KAFKA


def filter_deletes(cdc: DataFrame) -> DataFrame:
    """P2: drop delete images before routing (BaseDbApp.java:43)."""
    return cdc.filter(F.col("type") != "delete")


def route(cdc: DataFrame, config: DataFrame) -> DataFrame:
    """Join fact envelopes to routing config and prune payload columns.

    Returns one row per routed record: (tableName, type, sink_type,
    sink_table, data) with ``data`` pruned to sink_columns. Unmatched
    (tableName, type) pairs drop out via the inner join — the reference's
    "no config, discard" branch."""
    cfg = config.select(
        F.col("source_table"),
        F.col("operate_type"),
        F.col("sink_type"),
        F.col("sink_table"),
        F.split(F.col("sink_columns"), ",").alias("cols"),
        F.coalesce(F.col("sink_pk"), F.lit("id")).alias("sink_pk"),
    )
    joined = filter_deletes(cdc).join(
        F.broadcast(cfg),
        (F.col("tableName") == F.col("source_table"))
        & (F.col("type") == F.col("operate_type")),
    )
    pruned = joined.withColumn(
        "data",
        F.map_filter("data", lambda k, _v: F.array_contains(F.col("cols"), k)),
    )
    return pruned.select("tableName", "type", "sink_type", "sink_table", "sink_pk", "data")


def split_sinks(routed: DataFrame) -> dict[str, DataFrame]:
    """The kafka-main / hbase-side split (BaseDbApp.java:76-82)."""
    return {
        SINK_TYPE_KAFKA: routed.filter(F.col("sink_type") == SINK_TYPE_KAFKA),
        SINK_TYPE_HBASE: routed.filter(F.col("sink_type") == SINK_TYPE_HBASE),
    }


def cdc_route_demo(tables: dict[str, DataFrame]) -> DataFrame:
    """Driver-checkable T3 end-to-end: render nation/region as CDC snapshot
    envelopes (sources/cdc.py), route them through a two-row config (nation →
    kafka topic, region → hbase dim), and project the routed identity +
    pruned-map width. ``n_cols`` proves the column pruning (4-col source maps
    shrink to the 2 configured columns)."""
    from flink_210225_spark.sources.cdc import snapshot_envelopes

    spark = tables["nation"].sparkSession
    cdc = snapshot_envelopes(tables["nation"], "gmall", "nation").unionByName(
        snapshot_envelopes(tables["region"], "gmall", "region")
    )
    config = spark.createDataFrame(
        [
            ("nation", "insert", SINK_TYPE_KAFKA, "dwd_nation", "n_nationkey,n_name", "n_nationkey", None),
            ("region", "insert", SINK_TYPE_HBASE, "dim_region", "r_regionkey,r_name", "r_regionkey", None),
        ],
        "source_table string, operate_type string, sink_type string, sink_table string,"
        "sink_columns string, sink_pk string, sink_extend string",
    )
    routed = route(cdc, config)
    return routed.select(
        F.col("tableName").alias("table_name"),
        F.col("type").alias("op_type"),
        "sink_type",
        "sink_table",
        F.col("data")[F.col("sink_pk")].alias("rec_id"),
        F.coalesce(F.col("data")["n_name"], F.col("data")["r_name"]).alias("rec_name"),
        F.size("data").alias("n_cols"),
    )


def changes_from_envelopes(
    env: DataFrame, key_field: str, attr_fields: list[str], ts_field: str = "ts"
) -> DataFrame:
    """Adapter: CDC envelopes (sources/cdc.py canonical form, plus a ts
    column) → the flat change-row contract ``scd2_history`` consumes. Keys
    and attributes come out of the varchar ``data`` map — the same
    everything-is-varchar posture as the reference's Phoenix dims
    (TableProcessFunction.java:105-107)."""
    cols = [F.col("data")[key_field].alias("key"), F.col("type"), F.col(ts_field).alias("ts")]
    cols += [F.col("data")[a].alias(a) for a in attr_fields]
    return env.select(*cols)


def scd2_history(
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    type_col: str = "type",
) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 from a CDC change stream: instead of
    keeping only the latest row per key (``upsert_dim``, the reference's
    Phoenix upsert at DimSinkFunction.java:33-67 — SCD type 1), keep EVERY
    version with its validity interval. insert/update rows open a version at
    their ts; the next event on the same key (any type) closes it; a delete
    closes the last open version and opens nothing. ``is_current`` marks the
    open version; ``version`` numbers surviving versions 1..n in ts order.

    Scale: one shuffle keyed by the dim key. ``valid_to`` is a lead window
    over all events and ``version`` a row_number over the post-filter rows —
    both windows share the (key, ts) partitioning+ordering, so Catalyst plans
    a single Exchange with the second Window consuming the first's sort. Dim
    change streams are small relative to facts by construction; for a
    100 TB fact build the output is the broadcast side of as-of/range joins
    against fact event time."""
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    closed = changes.withColumn("valid_to", F.lead(ts_col).over(w))
    versions = closed.filter(F.col(type_col) != "delete")
    return (
        versions.withColumn("version", F.row_number().over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
        .withColumnRenamed(ts_col, "valid_from")
        .drop(type_col)
    )


def scd2_demo(tables: dict[str, DataFrame]) -> DataFrame:
    """Driver-checkable SCD2 end-to-end on fixture data: the customer dim
    tracked through a synthetic-but-deterministic change stream — an insert
    per customer (ts 0, status 'NEW'), an update per order stamping the
    order's status on its customer (ts = epoch-day·10⁵ + order key: unique
    and SQL-expressible on both engines), and a delete for every 1000th
    customer at the far-future ts 10¹⁵ (closes their history;
    ``is_current`` false everywhere for those keys)."""
    cust, orders = tables["customer"], tables["orders"]
    inserts = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.lit("insert").alias("type"),
        F.lit(0).cast("long").alias("ts"),
        F.lit("NEW").alias("status"),
    )
    updates = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.lit("update").alias("type"),
        (
            F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long") * 10000000000
            + F.col("o_orderkey")
        ).alias("ts"),
        F.col("o_orderstatus").alias("status"),
    )
    deletes = cust.filter(F.col("c_custkey") % 1000 == 0).select(
        F.col("c_custkey").alias("custkey"),
        F.lit("delete").alias("type"),
        F.lit(10**15).alias("ts"),
        F.lit(None).cast("string").alias("status"),
    )
    changes = inserts.unionByName(updates).unionByName(deletes)
    return scd2_history(changes, ["custkey"], "ts").select(
        "custkey", "version", "status", "valid_from", "valid_to", "is_current"
    )


def _latest(
    existing: DataFrame | None, batch: DataFrame, pk: str, order_col: str | None = None
) -> DataFrame:
    """The merge of both dim upserts: the newest row per ``pk`` among the
    stored rows and ``batch``, whose ``__v`` column holds its arrival
    order. Batch rows beat stored ones; with ``order_col`` the max
    ``order_col`` row wins first (event-time last-write-wins)."""
    if existing is not None:
        batch = existing.withColumn("__v", F.lit(-1).cast("long")).unionByName(batch)
    order = ([F.desc(order_col)] if order_col else []) + [F.desc("__v")]
    w = Window.partitionBy(pk).orderBy(*order)
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__v")
    )


def upsert_dim(batch: DataFrame, dim_path: str, pk: str = "id") -> None:
    """K4/K5: dim upsert sink. The reference upserts by PK into Phoenix and
    invalidates the Redis cache (DimSinkFunction.java:33-67); here the dim
    table is parquet and the upsert is read-union-dedup per batch, swapped
    in whole with ``io.commit``: the merged table is fully written to a
    staging dir before a rename replaces the live one, so a crash at any
    step leaves the old dim or the new one. Broadcast-join consumers
    re-read per micro-batch, so no cache exists to invalidate. (With Delta
    available this would be MERGE INTO.)

    Cost is O(table) per batch — right for dims. For a LARGE mutable
    table use ``upsert_dim_bucketed``: hash-bucketed layout, per-batch
    cost proportional to touched buckets only."""
    try:
        existing = batch.sparkSession.read.parquet(dim_path)
    except Exception:  # first write: no existing table (K5 auto-create)
        existing = None
    latest = _latest(existing, batch.withColumn("__v", F.monotonically_increasing_id()), pk)
    commit(dim_path, latest.write.parquet)


def upsert_dim_bucketed(
    batch: DataFrame,
    dim_path: str,
    pk: str = "id",
    n_buckets: int = 64,
    order_col: str | None = None,
) -> None:
    """``upsert_dim`` with cost proportional to TOUCHED KEYS, not table
    size — the parquet answer to Delta MERGE for a LARGE mutable table
    (VERDICT r2 #5). Layout: ``dim_path/bucket=<b>/`` hive partitions on a
    stable key hash (xxhash64 of the stringified PK, so the bucket of a
    key never moves). A batch reads and rewrites ONLY the bucket
    partitions its keys hash into — for a 1-key micro-batch against a
    10⁹-row dim that is one bucket (~1/n_buckets of the table), not the
    whole table; untouched buckets are never even opened.

    The micro-batch is evaluated once: it is staged bucket-partitioned, the
    staged bucket dirs name the touched buckets, and each merged bucket
    swaps in with ``io.swap`` (a crash before a bucket's swap leaves that
    bucket intact). A crash mid-loop leaves a MIXED table: some buckets
    merged, the rest old — safe because re-applying the identical batch is
    idempotent per bucket (merge keeps the latest row per PK;
    already-merged buckets re-merge to themselves). Size n_buckets so one
    bucket ≈ one comfortable task (table_bytes / n_buckets ≲ a few hundred
    MB); the fixture default 64 is for tests.

    ``order_col``: when set, the merge keeps the MAX-``order_col`` row per
    PK (event-time last-write-wins, the CDC merge rule) instead of arrival
    order — then the final table is independent of micro-batch arrival
    order entirely, and any replay (even of stale batches) converges."""
    spark = batch.sparkSession
    bcol = F.pmod(F.xxhash64(F.col(pk).cast("string")), F.lit(n_buckets)).cast("int")
    target = Path(dim_path)
    target.mkdir(parents=True, exist_ok=True)
    with staging(target) as tmp:
        batch.withColumn("bucket", bcol).withColumn(
            "__v", F.monotonically_increasing_id()
        ).write.partitionBy("bucket").parquet(str(tmp / "batch"))
        touched = [d.name for d in (tmp / "batch").iterdir() if d.name.startswith("bucket=")]
        if not touched:
            return
        live = [str(target / b) for b in touched if (target / b).exists()]
        existing = (
            spark.read.option("basePath", str(target)).parquet(*live) if live else None
        )
        latest = _latest(existing, spark.read.parquet(str(tmp / "batch")), pk, order_col)
        latest.write.partitionBy("bucket").parquet(str(tmp / "out"))
        for b in touched:
            swap(tmp / "out" / b, target / b)


def scd2_point_in_time(tables: dict[str, DataFrame]) -> DataFrame:
    """The query SCD2 exists to serve: POINT-IN-TIME dimension lookup —
    each fact row joins to the history version valid at its event time
    (ts ∈ [valid_from, valid_to)). Here: every order asks "what was this
    customer's status JUST BEFORE this order" (lookup at ts − 1), so the
    first order per customer sees the insert-time 'NEW' and later orders
    see the previous order's status — a real temporal join, not a
    self-identity.

    Scale: the history is dim-sized and BROADCAST; the custkey equality
    drives the hash join and the interval predicate rides as a filter on
    matched keys — a fact-side single pass, no shuffle, the same posture as
    the J3 dim chain but on the time axis."""
    hist = scd2_demo(tables)
    orders = tables["orders"]
    ts = (
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long") * 10000000000
        + F.col("o_orderkey")
    )
    o = orders.select("o_orderkey", F.col("o_custkey").alias("custkey"), (ts - 1).alias("at_ts"))
    cond = (
        (o["custkey"] == hist["custkey"])
        & (o["at_ts"] >= hist["valid_from"])
        & (hist["valid_to"].isNull() | (o["at_ts"] < hist["valid_to"]))
    )
    return o.join(F.broadcast(hist), cond, "left").select(
        "o_orderkey",
        o["custkey"].alias("custkey"),
        hist["status"].alias("prev_status"),
        hist["version"].alias("version_at"),
    )


QUERIES = {
    "cdc_route_config": cdc_route_demo,
    "cdc_scd2_history": scd2_demo,
    "cdc_scd2_lookup": scd2_point_in_time,
}

ORACLES = {
    "cdc_route_config": """
        SELECT 'nation' AS table_name, 'insert' AS op_type, 'kafka' AS sink_type,
               'dwd_nation' AS sink_table, n_nationkey::VARCHAR AS rec_id,
               n_name AS rec_name, 2 AS n_cols
        FROM nation
        UNION ALL
        SELECT 'region', 'insert', 'hbase', 'dim_region',
               r_regionkey::VARCHAR, r_name, 2
        FROM region
    """,
    "cdc_scd2_history": """
        WITH changes AS (
            SELECT c_custkey AS custkey, 'insert' AS type, 0::BIGINT AS ts,
                   'NEW' AS status
            FROM customer
            UNION ALL
            SELECT o_custkey, 'update',
                   datediff('day', DATE '1970-01-01', o_orderdate)::BIGINT * 10000000000
                       + o_orderkey,
                   o_orderstatus
            FROM orders
            UNION ALL
            SELECT c_custkey, 'delete', 1000000000000000::BIGINT, NULL
            FROM customer WHERE c_custkey % 1000 = 0
        ),
        closed AS (
            SELECT *, lead(ts) OVER (PARTITION BY custkey ORDER BY ts) AS valid_to
            FROM changes
        )
        SELECT custkey,
               row_number() OVER (PARTITION BY custkey ORDER BY ts)::INT AS version,
               status, ts AS valid_from, valid_to,
               valid_to IS NULL AS is_current
        FROM closed WHERE type != 'delete'
    """,
    "cdc_scd2_lookup": """
        WITH changes AS (
            SELECT c_custkey AS custkey, 'insert' AS type, 0::BIGINT AS ts,
                   'NEW' AS status
            FROM customer
            UNION ALL
            SELECT o_custkey, 'update',
                   datediff('day', DATE '1970-01-01', o_orderdate)::BIGINT * 10000000000
                       + o_orderkey,
                   o_orderstatus
            FROM orders
            UNION ALL
            SELECT c_custkey, 'delete', 1000000000000000::BIGINT, NULL
            FROM customer WHERE c_custkey % 1000 = 0
        ),
        closed AS (
            SELECT *, lead(ts) OVER (PARTITION BY custkey ORDER BY ts) AS valid_to
            FROM changes
        ),
        hist AS (
            SELECT custkey,
                   row_number() OVER (PARTITION BY custkey ORDER BY ts)::INT AS version,
                   status, ts AS valid_from, valid_to
            FROM closed WHERE type != 'delete'
        ),
        o AS (
            SELECT o_orderkey, o_custkey AS custkey,
                   datediff('day', DATE '1970-01-01', o_orderdate)::BIGINT * 10000000000
                       + o_orderkey - 1 AS at_ts
            FROM orders
        )
        SELECT o.o_orderkey, o.custkey,
               h.status AS prev_status, h.version AS version_at
        FROM o LEFT JOIN hist h
          ON h.custkey = o.custkey
         AND o.at_ts >= h.valid_from
         AND (h.valid_to IS NULL OR o.at_ts < h.valid_to)
    """,
}


def log_compaction_demo(tables: dict[str, DataFrame]) -> DataFrame:
    """CDC log compaction — Kafka compacted-topic / Debezium-materialization
    semantics (reference: the dim upsert path, MyKafkaUtils.java:24-56 +
    DimSinkFunction's latest-row-wins table): an ORDERED change log holds
    several operations PER KEY (insert, then update, then delete, then a
    re-insert of the same key), and materialization keeps only each key's
    latest operation, dropping keys whose latest op is a delete. Where
    ``warehouse_merge_upsert`` gates ONE merge of a change batch and
    ``cdc_scd2_history`` keeps every version, THIS gates the fold order —
    a compactor that applies ops out of sequence resurrects deleted rows
    or loses re-inserts (custkey % 51 keys here die in seq 2 and return
    in seq 3, so both failure modes flip the aggregate).

    Plan: one union of the log arms (all projections off the same scan),
    ONE key-partitioned window to rank seq descending, one rollup — the
    latest-wins shuffle keys on the dim key exactly like the reference's
    upsert sink; at 100 TB the log is partition-pruned by ingest date
    before compaction ever shuffles."""
    c = tables["customer"]
    bal = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    base = c.select("c_custkey", "c_mktsegment", bal.alias("bal_cents"))
    ins = base.select(
        "c_custkey",
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        F.col("c_mktsegment").alias("segment"),
        "bal_cents",
    )
    upd = (
        base.where(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            F.lit(2).alias("seq"),
            F.lit("U").alias("op"),
            F.lit("UPDATED").alias("segment"),
            (F.col("bal_cents") + 1000).alias("bal_cents"),
        )
    )
    dele = (
        base.where(F.col("c_custkey") % 17 == 0)
        .select(
            "c_custkey",
            F.lit(3).alias("seq"),
            F.lit("D").alias("op"),
            F.lit(None).cast("string").alias("segment"),
            F.lit(None).cast("long").alias("bal_cents"),
        )
    )
    reins = (
        base.where(F.col("c_custkey") % 51 == 0)
        .select(
            "c_custkey",
            F.lit(4).alias("seq"),
            F.lit("I").alias("op"),
            F.lit("REBORN").alias("segment"),
            (F.col("c_custkey") * 10).cast("long").alias("bal_cents"),
        )
    )
    log = ins.unionByName(upd).unionByName(dele).unionByName(reins)
    w = Window.partitionBy("c_custkey").orderBy(F.col("seq").desc())
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
    )
    return latest.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("c_custkey").cast("long").alias("sum_keys"),
        F.sum("bal_cents").cast("long").alias("sum_bal_cents"),
    )


QUERIES["cdc_log_compaction"] = log_compaction_demo
ORACLES["cdc_log_compaction"] = """
    WITH base AS (
        SELECT c_custkey, c_mktsegment,
               floor(c_acctbal * 100 + 0.5)::BIGINT AS bal_cents
        FROM customer
    ),
    log AS (
        SELECT c_custkey, 1 AS seq, 'I' AS op, c_mktsegment AS segment,
               bal_cents FROM base
        UNION ALL
        SELECT c_custkey, 2, 'U', 'UPDATED', bal_cents + 1000
        FROM base WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey, 3, 'D', NULL, NULL
        FROM base WHERE c_custkey % 17 = 0
        UNION ALL
        SELECT c_custkey, 4, 'I', 'REBORN', c_custkey * 10
        FROM base WHERE c_custkey % 51 = 0
    ),
    latest AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey
                                         ORDER BY seq DESC) AS rn
            FROM log
        ) WHERE rn = 1 AND op != 'D'
    )
    SELECT segment, count(*)::BIGINT AS n_rows,
           sum(c_custkey)::BIGINT AS sum_keys,
           sum(bal_cents)::BIGINT AS sum_bal_cents
    FROM latest GROUP BY segment
"""


def state_reconciliation(tables: dict[str, DataFrame]) -> DataFrame:
    """CDC state RECONCILIATION — the nightly invariant every change-data
    pipeline runs: materialize the same ordered change log two
    independent ways and prove they agree. Path A is the compactor
    (latest-op-wins window fold, ``cdc_log_compaction``'s algorithm);
    path B is the sequential replayer (apply seq levels one join at a
    time: insert ⟶ merge updates ⟶ subtract deletes ⟶ add re-inserts —
    the algorithm a backfill job uses). A fold bug (wrong op order,
    resurrection, lost re-insert) makes the two states diverge; the
    emitted only_in_fold / only_in_replay counts MUST be zero, and the
    per-segment rollup comes from path B so the hash gates both.

    Exactness: pure set algebra over exact keys/cents.

    Scale: path A is one key-partitioned window; path B is three
    key-keyed joins; the reconciliation is two anti-join counts — all on
    the dim key, no row-sized state."""
    c = tables["customer"]
    bal = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    # localCheckpoint (r11): base feeds all four log arms, and fold/s4 are
    # each re-derived by THREE consumers (the two anti-join count
    # subqueries + the rollup) — un-checkpointed the plan scanned customer
    # 27x. base is |customer| rows x 3 narrow columns; with it pinned the
    # replayed machinery above it is key-sized joins only.
    base = c.select(
        "c_custkey", "c_mktsegment", bal.alias("bal_cents")
    ).localCheckpoint()
    # path A: reuse the compactor's exact log + fold
    # (rebuild the same log arms here so the two paths share inputs)
    ins = base.select(
        "c_custkey", F.lit(1).alias("seq"), F.lit("I").alias("op"),
        F.col("c_mktsegment").alias("segment"), "bal_cents",
    )
    upd = base.where(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", F.lit(2).alias("seq"), F.lit("U").alias("op"),
        F.lit("UPDATED").alias("segment"),
        (F.col("bal_cents") + 1000).alias("bal_cents"),
    )
    dele = base.where(F.col("c_custkey") % 17 == 0).select(
        "c_custkey", F.lit(3).alias("seq"), F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("segment"),
        F.lit(None).cast("long").alias("bal_cents"),
    )
    reins = base.where(F.col("c_custkey") % 51 == 0).select(
        "c_custkey", F.lit(4).alias("seq"), F.lit("I").alias("op"),
        F.lit("REBORN").alias("segment"),
        (F.col("c_custkey") * 10).cast("long").alias("bal_cents"),
    )
    log = ins.unionByName(upd).unionByName(dele).unionByName(reins)
    w = Window.partitionBy("c_custkey").orderBy(F.col("seq").desc())
    fold = (
        log.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("c_custkey", "segment", "bal_cents")
    )
    # path B: sequential replay, one seq level at a time
    s1 = ins.select("c_custkey", "segment", "bal_cents")
    u = upd.select(
        "c_custkey",
        F.col("segment").alias("u_seg"),
        F.col("bal_cents").alias("u_bal"),
    )
    s2 = s1.join(u, "c_custkey", "left").select(
        "c_custkey",
        F.coalesce("u_seg", "segment").alias("segment"),
        F.coalesce("u_bal", "bal_cents").alias("bal_cents"),
    )
    s3 = s2.join(dele.select("c_custkey"), "c_custkey", "left_anti")
    r = reins.select("c_custkey", "segment", "bal_cents")
    s4 = s3.join(r.select("c_custkey"), "c_custkey", "left_anti").unionByName(r)
    only_fold = fold.join(
        s4, ["c_custkey", "segment", "bal_cents"], "left_anti"
    ).agg(F.count("*").cast("long")).scalar()
    only_replay = s4.join(
        fold, ["c_custkey", "segment", "bal_cents"], "left_anti"
    ).agg(F.count("*").cast("long")).scalar()
    return s4.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("c_custkey").cast("long").alias("sum_keys"),
        F.sum("bal_cents").cast("long").alias("sum_bal_cents"),
    ).select(
        "segment",
        "n_rows",
        "sum_keys",
        "sum_bal_cents",
        only_fold.alias("only_in_fold"),
        only_replay.alias("only_in_replay"),
    )


QUERIES["cdc_state_reconciliation"] = state_reconciliation
# The oracle replays path B (the sequential materializer) and pins the
# reconciliation zeros as literals — a fold/replay divergence flips them.
ORACLES["cdc_state_reconciliation"] = """
    WITH base AS (
        SELECT c_custkey, c_mktsegment,
               floor(c_acctbal * 100 + 0.5)::BIGINT AS bal_cents
        FROM customer
    ),
    s2 AS (
        SELECT b.c_custkey,
               CASE WHEN b.c_custkey % 3 = 0 THEN 'UPDATED'
                    ELSE b.c_mktsegment END AS segment,
               CASE WHEN b.c_custkey % 3 = 0 THEN b.bal_cents + 1000
                    ELSE b.bal_cents END AS bal_cents
        FROM base b
    ),
    s3 AS (SELECT * FROM s2 WHERE c_custkey % 17 != 0),
    s4 AS (
        SELECT * FROM s3 WHERE c_custkey % 51 != 0
        UNION ALL
        SELECT c_custkey, 'REBORN', c_custkey * 10
        FROM base WHERE c_custkey % 51 = 0
    )
    SELECT segment, count(*)::BIGINT AS n_rows,
           sum(c_custkey)::BIGINT AS sum_keys,
           sum(bal_cents)::BIGINT AS sum_bal_cents,
           0::BIGINT AS only_in_fold, 0::BIGINT AS only_in_replay
    FROM s4 GROUP BY segment
"""
