"""DWS tumbling-window aggregations (SURVEY §2.6 A1-A4).

The reference computes all DWS stats with 10-second event-time tumbling
windows (TumblingEventTimeWindows / SQL TUMBLE — VisitorStatsApp.java:99,
ProductStatsApp.java:217, ProvinceStatsSqlApp.java:47-65,
KeywordStatsApp.java:56-66) and stamps ``stt``/``edt`` window-bound strings
via DATE_FORMAT. Here the same shapes run over the fixture tables with
windows sized to the fixtures' time density (hours/days instead of seconds —
the operator is identical, only the interval literal differs; the streaming
variants in ``streaming/`` reuse these builders with ``withWatermark``).

Scale notes:
- ``F.window`` group keys shuffle once on (window, dims) with map-side
  partial aggregation — the same partial→final split the reference
  hand-builds with ReduceFunction+WindowFunction (VisitorStatsApp.java:100-117).
- Exact distinct (A2/A3's HashSet / COUNT(DISTINCT)) uses Spark's native
  countDistinct (expand + two-phase agg). At 100 TB swap in
  approx_count_distinct via the ``exact`` flag if the distinct keyspace per
  window explodes; both spellings are provided.
- Windows align to the unix epoch in UTC (Spark's window() origin); oracle
  SQL uses time_bucket with an explicit epoch origin so both engines bucket
  identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_210225_spark.functions.scalars import fmt_ymd_hms, round2, round6

# Epoch-aligned origin handed to DuckDB's time_bucket so its buckets match
# Spark's window() (which aligns to 1970-01-01 00:00:00 UTC).
_EPOCH = "TIMESTAMP '1970-01-01 00:00:00'"


def tumble(df: DataFrame, ts_col: str, duration: str) -> DataFrame:
    """Attach epoch-aligned tumbling-window bounds as stt/edt string columns
    (the reference's WindowFunction stt/edt stamping, VisitorStatsApp.java:108-117)."""
    w = F.window(F.col(ts_col), duration)
    return df.withColumn("__w", w).withColumn(
        "stt", fmt_ymd_hms(F.col("__w.start"))
    ).withColumn("edt", fmt_ymd_hms(F.col("__w.end"))).drop("__w")


def _window_cols(ts: Column, duration: str) -> list[Column]:
    w = F.window(ts, duration)
    return [
        fmt_ymd_hms(w["start"]).alias("stt"),
        fmt_ymd_hms(w["end"]).alias("edt"),
    ]


# --- A1: VisitorStats — multi-dim keyed tumbling window ---


def visitor_stats_window(tables: dict[str, DataFrame], duration: str = "1 hour") -> DataFrame:
    """key=(event_type) over 1h tumble: uv/pv/dur sums + window bounds
    (VisitorStatsApp.java:94-117's 4-dim key reduced to the fixture's one
    behavioral dim)."""
    ev = tables["events"]
    return (
        ev.groupBy(F.window("ts", duration), F.col("event_type").alias("ch"))
        .agg(
            F.countDistinct("user_id").alias("uv_ct"),
            F.count("*").alias("pv_ct"),
            round2(F.sum("value")).alias("dur_sum"),
        )
        .select(
            fmt_ymd_hms(F.col("window.start")).alias("stt"),
            fmt_ymd_hms(F.col("window.end")).alias("edt"),
            "ch",
            "uv_ct",
            "pv_ct",
            "dur_sum",
        )
    )


# --- A2: ProductStats — per-sku window with exact distinct order counts ---


def product_stats_window(
    tables: dict[str, DataFrame], duration: str = "1 day", exact: bool = True
) -> DataFrame:
    """key=sku (l_partkey) per day: metric sums + distinct order count —
    the HashSet-based exact distinct of ProductStatsApp.java:216-261.
    ``exact=False`` switches to approx_count_distinct for extreme scale."""
    li = tables["lineitem"]
    order_ct = (
        F.countDistinct("l_orderkey") if exact else F.approx_count_distinct("l_orderkey")
    )
    return (
        li.groupBy(F.window("l_shipdate", duration), F.col("l_partkey").alias("sku_id"))
        .agg(
            order_ct.alias("order_ct"),
            round2(F.sum("l_quantity")).alias("order_sku_num"),
            round2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "order_amount"
            ),
        )
        .select(
            fmt_ymd_hms(F.col("window.start")).alias("stt"),
            fmt_ymd_hms(F.col("window.end")).alias("edt"),
            "sku_id",
            "order_ct",
            "order_sku_num",
            "order_amount",
        )
    )


# --- A3: ProvinceStats — SQL TUMBLE + COUNT(DISTINCT) with dim enrichment ---


def province_stats_window(tables: dict[str, DataFrame], duration: str = "7 days") -> DataFrame:
    """orders → customer → nation (broadcast), 7-day tumble per province:
    sum(total_amount) + count(distinct order_id) (ProvinceStatsSqlApp.java:47-65)."""
    orders, cust, nation = tables["orders"], tables["customer"], tables["nation"]
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.window("o_orderdate", duration), F.col("n_name").alias("province_name"))
        .agg(
            round2(F.sum("o_totalprice")).alias("order_amount"),
            F.countDistinct("o_orderkey").alias("order_count"),
        )
        .select(
            fmt_ymd_hms(F.col("window.start")).alias("stt"),
            fmt_ymd_hms(F.col("window.end")).alias("edt"),
            "province_name",
            "order_amount",
            "order_count",
        )
    )


# --- A4: KeywordStats — TUMBLE count(*) with constant source column ---


def keyword_stats_window(tables: dict[str, DataFrame], duration: str = "1 day") -> DataFrame:
    """group by word + tumble, COUNT(*), constant source tag
    (KeywordStatsApp.java:56-66; GmallConstant.java:65)."""
    ev = tables["events"]
    return (
        ev.groupBy(F.window("ts", duration), F.col("event_type").alias("keyword"))
        .agg(F.count("*").alias("ct"))
        .select(
            fmt_ymd_hms(F.col("window.start")).alias("stt"),
            fmt_ymd_hms(F.col("window.end")).alias("edt"),
            "keyword",
            "ct",
            F.lit("EVENT").alias("source"),
        )
    )


# --- Beyond the reference: sliding windows + rollup (SURVEY §2.6 note:
# "no sliding/session windows, no grouping sets/cube/rollup in reference";
# Spark provides both natively, so the engine exposes them) ---


def sliding_visitor_stats(
    tables: dict[str, DataFrame], size: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding event-time window: each event lands in size/slide overlapping
    windows (here 2). Same one-shuffle partial→final agg as tumbling — the
    overlap factor multiplies shuffle rows, which is the knob to watch at
    scale."""
    ev = tables["events"]
    w = F.window("ts", size, slide)
    return (
        ev.groupBy(w, F.col("event_type"))
        .agg(F.count("*").alias("pv_ct"), round2(F.sum("value")).alias("value_sum"))
        .select(
            fmt_ymd_hms(F.col("window.start")).alias("stt"),
            fmt_ymd_hms(F.col("window.end")).alias("edt"),
            "event_type",
            "pv_ct",
            "value_sum",
        )
    )


def rollup_stats(tables: dict[str, DataFrame]) -> DataFrame:
    """ROLLUP over (event_type, is_mobile): per-combination, per-event_type
    subtotal, and grand total in ONE pass (Expand + single shuffle — vs the
    3 separate jobs the reference would need). grouping_id() disambiguates
    subtotal rows; NULL dims are labeled 'ALL'."""
    ev = tables["events"]
    flagged = ev.withColumn(
        "is_mobile", F.when(F.col("event_type").isin("page_view", "click"), "y").otherwise("n")
    )
    return (
        flagged.rollup("event_type", "is_mobile")
        .agg(
            F.count("*").alias("pv_ct"),
            F.countDistinct("user_id").alias("uv_ct"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("is_mobile", F.lit("ALL")).alias("is_mobile"),
            "pv_ct",
            "uv_ct",
            "gid",
        )
    )


def grouping_sets_stats(tables: dict[str, DataFrame]) -> DataFrame:
    """Explicit GROUPING SETS — the general form of ROLLUP/CUBE: exactly the
    granularities the dashboard needs ((event_type, day), (event_type),
    (day)), skipping the grand total CUBE would also compute. One Expand +
    one shuffle, vs one job per granularity hand-scheduled. At scale the
    Expand multiplies input rows by the number of sets BEFORE the shuffle —
    prune sets you don't serve (this is why not-just-CUBE matters)."""
    ev = tables["events"]
    day = F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    flagged = ev.select("event_type", day, "user_id", "value")
    flagged.createOrReplaceTempView("gs_events")
    return flagged.sparkSession.sql(
        """
        SELECT coalesce(event_type, 'ALL') AS event_type,
               coalesce(day, 'ALL') AS day,
               count(*) AS pv_ct,
               floor(sum(value) * 100 + 0.5) / 100 AS value_sum,
               -- explicit bit math: grouping_id() arg order is engine-
               -- specific, grouping(col) is portable
               CAST(grouping(event_type) * 2 + grouping(day) AS BIGINT) AS gid
        FROM gs_events
        GROUP BY GROUPING SETS ((event_type, day), (event_type), (day))
        """
    )


def rolling_active_users(tables: dict[str, DataFrame], window_days: int = 7) -> DataFrame:
    """Trailing N-day distinct active users per day (WAU) — the rolling
    engagement series every dashboard carries, and a distinct count no
    window FRAME can express (countDistinct over a range frame is
    unsupported everywhere). The scalable spelling: collapse events to
    (user, day) once, EXPLODE each activity day into the N as-of days it
    contributes to, and countDistinct per as-of day — shuffle volume is
    active-(user, day) pairs × N, with map-side combine collapsing
    duplicates, vs the naive N-fold self-join re-scanning events. Trailing
    windows that extend past the last day are clipped via a scalar-subquery
    max (no data leaves the cluster)."""
    ev = tables["events"]
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), window_days - 1))
        ).alias("as_of"),
    )
    max_day = ev.agg(F.max(F.to_date("ts"))).scalar()
    return (
        contrib.filter(F.col("as_of") <= max_day)
        .groupBy(F.date_format("as_of", "yyyy-MM-dd").alias("as_of"))
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


def cube_stats(tables: dict[str, DataFrame]) -> DataFrame:
    """Full CUBE over (event_type, day) — all four granularities including
    the grand total in ONE Expand + shuffle (completes the subtotal family:
    ``rollup_stats`` = hierarchy prefixes, ``grouping_sets_stats`` =
    explicit list, CUBE = the power set). Same portable grouping-bit gid
    contract; same 100 TB caveat — the Expand multiplies input by 2^dims
    before the shuffle, so prefer GROUPING SETS when a dashboard doesn't
    serve every slice."""
    ev = tables["events"]
    day = F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    flagged = ev.select("event_type", day, "value")
    return (
        flagged.cube("event_type", "day")
        .agg(
            F.count("*").alias("pv_ct"),
            (F.floor(F.sum("value") * 100 + 0.5) / 100).alias("value_sum"),
            (F.grouping("event_type") * 2 + F.grouping("day"))
            .cast("long")
            .alias("gid"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "pv_ct",
            "value_sum",
            "gid",
        )
    )


def hourly_moving_stats(tables: dict[str, DataFrame], trail: int = 3) -> DataFrame:
    """OVER-clause window FRAMES (rowsBetween) — the time-series smoothing /
    anomaly surface the reference lacks entirely (its only ranking is
    order-by+limit): per event_type hourly counts with a trailing
    ``trail``-hour moving average and a deviation ratio (current/avg).

    Two-level plan: the hourly rollup is a map-side-combined groupBy (event
    rows collapse to hours BEFORE any sort), then the frame runs over the
    tiny hourly series — one shuffle on event_type whose partitions are
    hours-count sized, never event-sized. Frame math in double with
    explicit 4dp rounding for cross-engine stability."""
    ev = tables["events"]
    hourly = ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00").alias("hr"),
        "event_type",
    ).agg(F.count("*").alias("pv_ct"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-trail, -1)
    )
    trail_avg = F.avg(F.col("pv_ct").cast("double")).over(w)
    return hourly.select(
        "hr",
        "event_type",
        "pv_ct",
        (F.floor(trail_avg * 10000 + 0.5) / 10000).alias("trail_avg"),
        (
            F.when(
                trail_avg.isNotNull(),
                F.floor(F.col("pv_ct") / trail_avg * 10000 + 0.5) / 10000,
            )
        ).alias("dev_ratio"),
    )


def daily_anomaly(tables: dict[str, DataFrame], z_thresh: float = 2.0) -> DataFrame:
    """Per-(event_type, day) traffic anomaly flags: z-score of the daily
    event count against the type's own distribution, |z| ≥ ``z_thresh``
    flagged. The batch twin of a streaming alerting rule — complements
    ``hourly_moving_stats``'s trailing-window deviation (that one detects
    level shifts vs recent history; this one global outlier days).

    Plan: the (day, event_type) rollup map-side combines event rows before
    its Exchange; the stats window then runs per event_type over a
    days-count-sized series — both shuffles move rollup rows, never
    events. Stats in double, 4dp half-up on BOTH z and the flag boundary
    (the flag tests the ROUNDED z, so engines can't disagree at the
    threshold). Degenerate case: a single-day type has σ = 0 → null z,
    never flagged."""
    ev = tables["events"]
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(F.count("*").alias("pv_ct"))
    w = Window.partitionBy("event_type")
    mu = F.avg(F.col("pv_ct").cast("double")).over(w)
    sd = F.stddev_pop(F.col("pv_ct").cast("double")).over(w)

    def r4(c: Column) -> Column:
        return F.floor(c * 10000 + 0.5) / 10000

    z = F.when(sd > 0, r4((F.col("pv_ct") - mu) / sd))
    return daily.select(
        "day",
        "event_type",
        "pv_ct",
        r4(mu).alias("mean_ct"),
        r4(sd).alias("std_ct"),
        z.alias("zscore"),
        F.coalesce(F.abs(z) >= z_thresh, F.lit(False)).alias("is_anomaly"),
    )


def uv_approx_sketch(tables: dict[str, DataFrame], rsd: float = 0.02) -> DataFrame:
    """HLL++ sketch distinct: per-(day, event_type) approximate unique users
    via ``approx_count_distinct``. This is the streaming-exact-distinct
    escape hatch SURVEY §7.4 calls for (A2/A3's HashSet state): the sketch
    is fixed-size (~kilobytes at rsd=2%) and MERGEABLE, so partial
    aggregation works map-side and windows/days roll up without rescanning —
    exact countDistinct holds the full key set per group instead.

    Oracle-gated form: the HLL estimate itself is engine-specific, so the
    output carries the EXACT count (cross-engine hashable) plus ``uv_ok`` =
    |approx/exact − 1| ≤ 5·rsd. The DuckDB oracle recomputes the exact count
    independently and emits literal TRUE — a sketch regression past the
    5-sigma band flips the boolean and breaks the hash. (5·rsd, not 3·rsd:
    rsd is one standard error and a sf0.1 run has ~10² groups, so a 3-sigma
    band has a ~25% chance of one benign flip; 5-sigma is ~1e-6 per group.
    The tighter pytest gate in test_windows.py still checks 3·rsd+2.)"""
    ev = tables["events"]
    agg = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("dt"),
        "event_type",
    ).agg(
        F.approx_count_distinct("user_id", rsd).alias("uv_approx"),
        F.countDistinct("user_id").alias("uv_exact"),
    )
    rel_err = F.abs(F.col("uv_approx") / F.col("uv_exact") - 1.0)
    return agg.select(
        "dt",
        "event_type",
        "uv_exact",
        (rel_err <= 5 * rsd).alias("uv_ok"),
    )


def autocorr_daily(tables: dict[str, DataFrame], lags: tuple[int, ...] = (1, 7)) -> DataFrame:
    """Lag-k autocorrelation of the per-type daily series — the
    diagnostic BEHIND the seasonal ops (``window_seasonal`` assumes a
    weekly cycle, ``window_holt_winters`` smooths one; r₇ ≫ r₁ is the
    evidence). Pearson r over the (x_t, x_{t−k}) pairs, computed from
    exact integer sums (n, Σx, Σy, Σxy, Σx², Σy² — one fold per lag) and
    assembled with the same operation order on both engines, 4dp.
    Undefined r (constant series) nulls out explicitly.

    Plan: one daily rollup, one lag window per k over the same type-keyed
    sort, then a types×lags-sized agg — series length is calendar-bounded
    so everything after the rollup is tiny."""
    ev = tables["events"]
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").cast("long").alias("x"))
    w = Window.partitionBy("event_type").orderBy("day")
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    out = None
    for k in lags:
        paired = daily.select(
            "event_type",
            "x",
            F.lag("x", k).over(w).alias("y"),
        ).where(F.col("y").isNotNull())
        agg = paired.groupBy("event_type").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        )
        num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
        dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
        dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
        # dx·dy as DOUBLE (mirrored ::DOUBLE in the oracle): the long
        # product overflows past ~day-count·(daily-count)² ≈ 2⁶³ at
        # extreme SFs; each factor alone stays comfortably integral
        r = F.when(
            (dx > 0) & (dy > 0),
            num / F.sqrt(dx.cast("double") * dy.cast("double")),
        )
        row = agg.select(
            "event_type",
            F.lit(k).cast("long").alias("lag"),
            "n",
            r4(r).alias("autocorr"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def value_bands_daily(tables: dict[str, DataFrame]) -> DataFrame:
    """Daily p10/p50/p90 value corridor per event type — the monitoring
    BANDS the anomaly family alarms against (``window_anomaly_mad`` flags
    points; dashboards draw the corridor). Exact interpolated percentiles
    per (day, type) group — Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the (n−1)·p rule (the ship_latency
    precedent), 2dp both sides. At 100 TB the slot-in is
    ``approx_percentile`` with the same call shape; one day×type-keyed
    shuffle either way."""
    ev = tables["events"]
    r2 = lambda c: F.floor(c * 100 + F.lit(0.5)) / 100  # noqa: E731
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        r2(F.percentile("value", F.lit(0.1))).alias("p10"),
        r2(F.percentile("value", F.lit(0.5))).alias("p50"),
        r2(F.percentile("value", F.lit(0.9))).alias("p90"),
    )


def uv_sketch_weekly(tables: dict[str, DataFrame]) -> DataFrame:
    """MERGEABLE-sketch rollup — the property ``window_uv_sketch`` only
    names, exercised for real: per-(day, type) DataSketches HLL sketches
    built once, then UNIONED per week and estimated — daily sketch bytes
    roll up to weekly uniques with NO rescan of the raw events, the
    mechanism that lets a serving store answer distinct-count queries at
    any granularity from pre-aggregated kilobytes (re-aggregatability is
    exactly what plain countDistinct lacks). Audit contract as the uv
    family: output carries the independently-recomputable exact weekly
    count plus ``uv_ok`` = |union-estimate/exact − 1| ≤ 8% (lgK=12 → rsd
    ≈1.6%, 5σ band); the oracle recomputes exact and emits literal TRUE,
    so a merge regression flips the boolean and breaks the hash.

    Plan: one day-grain partial agg of fixed-size sketch buffers, one
    weeks-sized union agg, one exact pass for the audit column (the
    audit pass disappears in production — the sketch IS the answer)."""
    ev = tables["events"]
    week = F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd")
    daily = ev.groupBy(
        week.alias("week_start"),
        F.date_format("ts", "yyyy-MM-dd").alias("dt"),
        "event_type",
    ).agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    weekly = daily.groupBy("week_start", "event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(False))).alias("uv_merged"),
        F.count("*").cast("long").alias("n_days"),
    )
    exact = ev.groupBy(week.alias("week_start"), "event_type").agg(
        F.countDistinct("user_id").cast("long").alias("uv_exact")
    )
    joined = exact.join(weekly, ["week_start", "event_type"])
    rel_err = F.abs(F.col("uv_merged") / F.col("uv_exact") - 1.0)
    return joined.select(
        "week_start",
        "event_type",
        "n_days",
        "uv_exact",
        (rel_err <= 0.08).alias("uv_ok"),
    )


def audience_overlap(tables: dict[str, DataFrame]) -> DataFrame:
    """Audience-overlap matrix via sketch INCLUSION-EXCLUSION — the
    audience-analytics query (how many users do segments A and B share?)
    answered from pre-aggregated HLL sketches: |A∩B| ≈ |A| + |B| − |A∪B|,
    where |A∪B| comes from UNIONING the two per-type sketches — the
    operation plain countDistinct can never do from rollups
    (``window_uv_sketch_weekly`` exercises union-over-time; this is
    union-across-segments, the other half of mergeability). Audit
    contract: the output carries independently-recomputable EXACT counts
    and banded booleans (union ≤ 8%, overlap ≤ 15% — the overlap is a
    DIFFERENCE of estimates, so its relative band is wider); the oracle
    recomputes the exact side and emits literal TRUE.

    The 5-type domain comes back to the driver once (a config-sized list,
    the router precedent) so the pair frame is literal and every join
    stays equi — a 5-row non-equi self-join would plan the BNLJ the
    blanket cartesian gate forbids."""
    ev = tables["events"]
    spark = ev.sparkSession
    types = sorted(
        r[0] for r in ev.select("event_type").distinct().collect()
    )
    pair_rows = [
        (a, b, f"{a}|{b}") for i, a in enumerate(types) for b in types[i + 1 :]
    ]
    pair_df = spark.createDataFrame(pair_rows, "ta string, tb string, pair string")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"),
        F.countDistinct("user_id").cast("long").alias("n_exact"),
    )
    # two membership rows per pair → one union agg per pair
    memb = pair_df.select(
        "pair", F.col("ta").alias("event_type")
    ).unionByName(pair_df.select("pair", F.col("tb").alias("event_type")))
    union_est = (
        memb.join(per_type, "event_type")
        .groupBy("pair")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(False))).alias(
                "est_union"
            )
        )
    )
    a_side = per_type.select(
        F.col("event_type").alias("ta"),
        F.col("n_exact").alias("n_a"),
    )
    b_side = per_type.select(
        F.col("event_type").alias("tb"),
        F.col("n_exact").alias("n_b"),
    )
    ut = ev.select("user_id", "event_type").distinct()
    ov = (
        ut.alias("x")
        .join(ut.alias("y"), "user_id")
        .where(F.col("x.event_type") < F.col("y.event_type"))
        .groupBy(
            F.col("x.event_type").alias("ta"), F.col("y.event_type").alias("tb")
        )
        .agg(F.countDistinct("user_id").cast("long").alias("exact_overlap"))
    )
    exact_union = F.col("n_a") + F.col("n_b") - F.col("exact_overlap")
    est_overlap = F.col("n_a") + F.col("n_b") - F.col("est_union")
    joined = (
        pair_df.join(F.broadcast(a_side), "ta")
        .join(F.broadcast(b_side), "tb")
        .join(ov, ["ta", "tb"])
        .join(union_est, "pair")
    )
    return joined.select(
        "ta",
        "tb",
        "n_a",
        "n_b",
        "exact_overlap",
        (F.abs(F.col("est_union") / exact_union - 1.0) <= 0.08).alias(
            "union_ok"
        ),
        (F.abs(est_overlap / F.col("exact_overlap") - 1.0) <= 0.15).alias(
            "overlap_ok"
        ),
    )


def daily_anomaly_mad(tables: dict[str, DataFrame], k: float = 3.0) -> DataFrame:
    """Robust sibling of ``daily_anomaly``: median/MAD instead of mean/σ —
    one genuinely anomalous day inflates σ and can mask itself (the
    classic z-score failure); the median absolute deviation is
    breakdown-resistant, so the robust score |x − med| / MAD still flags
    it. Same plan shape: the (day, type) rollup map-side combines, then
    TWO exact medians window over the days-sized series per type (same
    partition key ⇒ one Exchange, two Window stages). Flag tests the
    ROUNDED score (engines can't disagree at the threshold); MAD = 0
    (≥ half the days identical) ⇒ null score, never flagged — same
    degenerate-case contract as σ = 0."""
    ev = tables["events"]
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(F.count("*").alias("pv_ct"))
    w = Window.partitionBy("event_type")

    def r4(c: Column) -> Column:
        return F.floor(c * 10000 + 0.5) / 10000

    with_med = daily.select(
        "day",
        "event_type",
        "pv_ct",
        F.median(F.col("pv_ct").cast("double")).over(w).alias("med"),
    )
    scored = with_med.select(
        "day",
        "event_type",
        "pv_ct",
        "med",
        F.median(F.abs(F.col("pv_ct") - F.col("med"))).over(w).alias("mad"),
    )
    rz = F.when(F.col("mad") > 0, r4((F.col("pv_ct") - F.col("med")) / F.col("mad")))
    return scored.select(
        "day",
        "event_type",
        "pv_ct",
        r4(F.col("med")).alias("med_ct"),
        r4(F.col("mad")).alias("mad_ct"),
        rz.alias("rscore"),
        F.coalesce(F.abs(rz) >= k, F.lit(False)).alias("is_anomaly"),
    )


def ema_per_user(tables: dict[str, DataFrame], alpha: float = 0.25) -> DataFrame:
    """Per-user exponential moving average of event values — the
    RECURRENCE member of the moving-metric family (``window_moving_avg``
    is the finite-frame member): ema_i = α·x_i + (1−α)·ema_{i−1}, the
    smoothing every monitoring/trend layer runs. A closed-form rewrite
    (Σ α(1−α)^{i−j}x_j) would let a plain window express it but is
    numerically DIFFERENT (huge intermediate powers); the contract here is
    the exact recurrence, so both engines replay the same fold: Spark
    sorts each user's events in-row (collect_list → array_sort → one
    aggregate fold emitting the running array), DuckDB walks a recursive
    CTE — identical IEEE op sequence because α = 0.25 is an exact binary
    fraction, so values match BITWISE and the 4dp rounding is pure
    formality.

    Scale: one shuffle (user key); per-user state is that user's events —
    bounded by per-entity activity, the same envelope every keyed-state
    op in this repo carries. Rounding: 4dp half-up."""
    ev = tables["events"]
    per_user = ev.select(
        "user_id", F.struct("ts", "event_id", "value").alias("e")
    ).groupBy("user_id").agg(F.array_sort(F.collect_list("e")).alias("es"))
    emas = F.aggregate(
        "es",
        F.array().cast("array<double>"),
        lambda acc, e: F.concat(
            acc,
            F.array(
                F.when(
                    F.size(acc) == 0, e.getField("value")
                ).otherwise(
                    F.lit(alpha) * e.getField("value")
                    + F.lit(1.0 - alpha) * F.element_at(acc, -1)
                )
            ),
        ),
    )
    rows = per_user.select(
        "user_id", F.posexplode(F.arrays_zip("es", emas.alias("m"))).alias("i", "z")
    )
    return rows.select(
        F.col("z.es.event_id").alias("event_id"),
        "user_id",
        F.col("z.es.ts").alias("ts"),
        F.col("z.es.value").alias("value"),
        (F.floor(F.col("z.m") * 10000 + 0.5) / 10000).alias("ema"),
    )


def holt_per_user(
    tables: dict[str, DataFrame], alpha: float = 0.5, beta: float = 0.25
) -> DataFrame:
    """Holt DOUBLE-exponential smoothing per user — the trend-aware member
    of the recurrence family (``window_ema`` is the level-only member):
    l_i = alpha*x_i + (1-alpha)*(l_{i-1} + b_{i-1}),
    b_i = beta*(l_i - l_{i-1}) + (1-beta)*b_{i-1}, seeded l_1 = x_1,
    b_1 = 0; the emitted one-step-ahead forecast l_i + b_i is what a
    monitoring layer alarms against (an EMA lags every ramp by design —
    Holt tracks it). Same exact-recurrence contract as window_ema: both
    engines run the IDENTICAL op sequence with exact-binary 0.5/0.25
    coefficients, so state matches bitwise and the 4dp rounding is
    formality. Same scale envelope too: one user-keyed shuffle, per-user
    in-row fold."""
    ev = tables["events"]
    per_user = ev.select(
        "user_id", F.struct("ts", "event_id", "value").alias("e")
    ).groupBy("user_id").agg(F.array_sort(F.collect_list("e")).alias("es"))
    a, b1 = F.lit(alpha), F.lit(1.0 - alpha)
    g, g1 = F.lit(beta), F.lit(1.0 - beta)
    state = F.aggregate(
        "es",
        F.array().cast("array<struct<l:double,b:double>>"),
        lambda acc, e: F.concat(
            acc,
            F.array(
                F.when(
                    F.size(acc) == 0,
                    F.struct(
                        e.getField("value").alias("l"),
                        F.lit(0.0).alias("b"),
                    ),
                ).otherwise(
                    F.struct(
                        (
                            a * e.getField("value")
                            + b1
                            * (
                                F.element_at(acc, -1).getField("l")
                                + F.element_at(acc, -1).getField("b")
                            )
                        ).alias("l"),
                        (
                            g
                            * (
                                (
                                    a * e.getField("value")
                                    + b1
                                    * (
                                        F.element_at(acc, -1).getField("l")
                                        + F.element_at(acc, -1).getField("b")
                                    )
                                )
                                - F.element_at(acc, -1).getField("l")
                            )
                            + g1 * F.element_at(acc, -1).getField("b")
                        ).alias("b"),
                    )
                )
            ),
        ),
    )
    rows = per_user.select(
        "user_id", F.posexplode(F.arrays_zip("es", state.alias("s"))).alias("i", "z")
    )
    return rows.select(
        F.col("z.es.event_id").alias("event_id"),
        "user_id",
        F.col("z.es.ts").alias("ts"),
        F.col("z.es.value").alias("value"),
        (F.floor(F.col("z.s.l") * 10000 + 0.5) / 10000).alias("level"),
        (F.floor(F.col("z.s.b") * 10000 + 0.5) / 10000).alias("trend"),
        (
            F.floor((F.col("z.s.l") + F.col("z.s.b")) * 10000 + 0.5) / 10000
        ).alias("forecast"),
    )


def cusum_changepoint(tables: dict[str, DataFrame]) -> DataFrame:
    """CUSUM changepoint detection over the daily per-type count series —
    the drift-detecting member of the anomaly family (``window_daily_anomaly``
    flags single outlier days; a slow level shift never trips a z-score but
    accumulates in a CUSUM, Page 1954). The textbook recurrence is
    s_t = max(0, s_{t-1} + (x_t − target)); this implementation uses the
    closed form s_t = P_t − min(0, min_{j≤t} P_j) with P the running sum of
    deviations — TWO plain window functions, no fold, no Python, fully
    inside whole-stage codegen. The DuckDB oracle replays the literal
    recurrence through a recursive CTE, so the algebraic rewrite is gated
    against an independent algorithm.

    Exactness: deviations are scaled by n_days (dev = x·N − total, a
    BIGINT) so every state value is an exact integer — no float summation
    order to disagree on. ``shift_up``/``shift_down`` flag when the
    accumulated (scaled) drift exceeds one full mean day (cusum ≥ total).

    Scale: one map-side-combined (day, type) rollup, then one Exchange on
    event_type for the ordered windows; per-partition state is the
    days-sized series per type — the same envelope as the anomaly/moving
    siblings."""
    ev = tables["events"]
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(F.count("*").alias("pv_ct"))
    wall = Window.partitionBy("event_type")
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = daily.select(
        "day",
        "event_type",
        "pv_ct",
        F.count("*").over(wall).alias("n_days"),
        F.sum("pv_ct").over(wall).alias("total_ct"),
    )
    dev = F.col("pv_ct") * F.col("n_days") - F.col("total_ct")
    p = base.select(
        "day",
        "event_type",
        "pv_ct",
        "total_ct",
        F.sum(dev).over(wrun).alias("p"),
    )
    zero = F.lit(0).cast("long")
    cpos = F.col("p") - F.least(F.min("p").over(wrun), zero)
    cneg = F.greatest(F.max("p").over(wrun), zero) - F.col("p")
    return p.select(
        "day",
        "event_type",
        "pv_ct",
        cpos.cast("long").alias("cusum_pos"),
        cneg.cast("long").alias("cusum_neg"),
        (cpos >= F.col("total_ct")).alias("shift_up"),
        (cneg >= F.col("total_ct")).alias("shift_down"),
    )


def seasonal_profile(tables: dict[str, DataFrame]) -> DataFrame:
    """Day-of-week seasonal decomposition of the daily count series — the
    seasonality-aware member of the anomaly family. ``window_daily_anomaly``
    z-scores against the GLOBAL day distribution, so a perfectly normal
    Saturday looks anomalous on a weekday-heavy metric; here each day is
    compared to its own weekday's profile (season_ratio = count ÷ same-DOW
    mean), the fold every weekly-seasonal alerting rule applies before
    thresholding. Flags fire at ≥2× or ≤0.5× of the weekday norm.

    Determinism: dow via ISO weekday (Spark weekday()+1 == DuckDB isodow),
    season_ratio and dow_mean are integer-ratio divisions rounded 4dp, the
    flag tests the ROUNDED ratio. Plan: the (day, type) rollup map-side
    combines; the profile window partitions by (type, dow) over the
    days-sized grid — same envelope as the anomaly siblings."""
    ev = tables["events"]
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(F.count("*").alias("pv_ct"))
    base = daily.select(
        "day",
        "event_type",
        "pv_ct",
        (F.weekday(F.to_date("day")) + 1).cast("long").alias("dow"),
    )
    w = Window.partitionBy("event_type", "dow")
    n = F.count("*").over(w)
    tot = F.sum("pv_ct").over(w)

    def r4(c: Column) -> Column:
        return F.floor(c * 10000 + 0.5) / 10000

    ratio = r4(F.col("pv_ct") * n / tot)
    return base.select(
        "day",
        "event_type",
        "dow",
        "pv_ct",
        r4(tot / n).alias("dow_mean"),
        ratio.alias("season_ratio"),
        ((ratio >= 2.0) | (ratio <= 0.5)).alias("is_seasonal_anomaly"),
    )


def holt_winters_daily(tables: dict[str, DataFrame]) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing) over the
    per-type DAILY series, season length 7 — the seasonal member of the
    recurrence family (``window_ema`` tracks level, ``window_holt`` adds
    trend; HW adds the weekly shape ``window_seasonal`` measures
    statically, folded into a live forecast). Same exact-recurrence
    contract as its siblings: exact-binary coefficients (α=.5, β=.25,
    γ=.25), both engines run the IDENTICAL op sequence — Spark folds per
    type carrying (l, b, s, last-7 seasonal list) state; the oracle walks
    the literal recurrence in a recursive CTE carrying the same LIST —
    so state matches bitwise and the 4dp rounding is formality. Seeds:
    l₁=x₁, b₁=0, seasonal history all-zero (s₁ then lands 0 by the γ
    update). l_t = α(x_t−s_{t−7}) + (1−α)(l+b); b_t = β(l_t−l)+(1−β)b;
    s_t = γ(x_t−l_t)+(1−γ)s_{t−7}; forecast = l_t + b_t + s_{t−6}.

    Plan: one daily rollup (days×types rows), one type-keyed shuffle,
    per-type in-row fold — series length is bounded by calendar days, so
    the sequential part never grows with corpus size."""
    ev = tables["events"]
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").cast("long").alias("x"))
    per_type = daily.select(
        "event_type", F.struct("day", "x").alias("e")
    ).groupBy("event_type").agg(F.array_sort(F.collect_list("e")).alias("es"))

    def _step(acc, e):
        prev = F.element_at(acc, -1)
        x = e.getField("x")
        sprev = F.element_at(prev.getField("sl"), 1)
        lnew = F.lit(0.5) * (x - sprev) + F.lit(0.5) * (
            prev.getField("l") + prev.getField("b")
        )
        bnew = F.lit(0.25) * (lnew - prev.getField("l")) + F.lit(0.75) * prev.getField(
            "b"
        )
        snew = F.lit(0.25) * (x - lnew) + F.lit(0.75) * sprev
        return F.concat(
            acc,
            F.array(
                F.when(
                    F.size(acc) == 0,
                    F.struct(
                        x.cast("double").alias("l"),
                        F.lit(0.0).alias("b"),
                        F.lit(0.0).alias("s"),
                        F.array_repeat(F.lit(0.0), 7).alias("sl"),
                    ),
                ).otherwise(
                    F.struct(
                        lnew.alias("l"),
                        bnew.alias("b"),
                        snew.alias("s"),
                        F.concat(
                            F.slice(prev.getField("sl"), 2, 6), F.array(snew)
                        ).alias("sl"),
                    )
                )
            ),
        )

    state = F.aggregate(
        "es",
        F.array().cast(
            "array<struct<l:double,b:double,s:double,sl:array<double>>>"
        ),
        _step,
    )
    rows = per_type.select(
        "event_type",
        F.posexplode(F.arrays_zip("es", state.alias("st"))).alias("i", "z"),
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return rows.select(
        "event_type",
        F.col("z.es.day").alias("day"),
        F.col("z.es.x").alias("pv_ct"),
        r4(F.col("z.st.l")).alias("level"),
        r4(F.col("z.st.b")).alias("trend"),
        r4(F.col("z.st.s")).alias("seasonal"),
        r4(
            F.col("z.st.l")
            + F.col("z.st.b")
            + F.element_at(F.col("z.st.sl"), 1)
        ).alias("forecast"),
    )


def wow_growth(tables: dict[str, DataFrame]) -> DataFrame:
    """Week-over-week growth per event type — the reporting-calendar
    member of the trend family (``window_moving_avg`` smooths hours,
    ``window_ema``/``holt`` track per-entity recurrences; WoW is the
    number product reviews quote). Weeks are ISO date_trunc('week')
    buckets (Monday start in BOTH engines); growth compares each week to
    its predecessor BY POSITION over the per-type week series — a lag()
    over the weeks-sized rollup, one Exchange. First week per type has
    NULL prev/growth (nothing to compare — the same empty-frame contract
    as the moving average). growth = floor((ct−prev)·10⁴/prev + 0.5)/10⁴,
    integer-ratio exact."""
    ev = tables["events"]
    weekly = ev.groupBy(
        F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias(
            "week_start"
        ),
        "event_type",
    ).agg(F.count("*").alias("pv_ct"))
    w = Window.partitionBy("event_type").orderBy("week_start")
    prev = F.lag("pv_ct").over(w)
    growth = F.floor((F.col("pv_ct") - prev) * 10000.0 / prev + 0.5) / 10000
    return weekly.select(
        "week_start",
        "event_type",
        "pv_ct",
        prev.alias("prev_ct"),
        growth.alias("wow_growth"),
    )


def _monthly_priority_series(orders: DataFrame) -> DataFrame:
    """Shared series builder for the robust-trend pair: monthly order counts
    per o_orderpriority, with a per-key positional index. The series is
    CALENDAR-granular (~80 months × 5 priorities at every SF), so anything
    quadratic in it — Mann-Kendall's pair sums, Theil-Sen's pairwise slopes
    — is SF-INVARIANT: the fact scan grows with data, the pair table does
    not. That is the whole scale story for this family."""
    monthly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM").alias(
            "month"
        ),
    ).agg(F.count("*").alias("ct"))
    w = Window.partitionBy("priority").orderBy("month")
    return monthly.withColumn("rn", F.row_number().over(w))


_MK_SERIES_SQL = """
        m AS (
            SELECT o_orderpriority AS priority,
                   strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
                   count(*)::BIGINT AS ct
            FROM orders GROUP BY 1, 2
        ),
        s AS (
            SELECT priority, month, ct,
                   row_number() OVER (PARTITION BY priority ORDER BY month)
                       AS rn
            FROM m
        )
"""


def _series_pairs(series: DataFrame) -> DataFrame:
    """All i<j index pairs of the per-priority series (equi-join on the key,
    positional filter after — never a cartesian: the join key is priority)."""
    a = series.select(
        "priority", F.col("rn").alias("i"), F.col("ct").alias("ci")
    )
    b = series.select(
        "priority", F.col("rn").alias("j"), F.col("ct").alias("cj")
    )
    return a.join(b, "priority").where(F.col("i") < F.col("j"))


def mann_kendall_trend(tables: dict[str, DataFrame]) -> DataFrame:
    """Mann-Kendall non-parametric trend test per order priority — the
    monotone-trend detector monitoring stacks run over KPI series (is this
    metric drifting, without assuming linearity or normality). S = Σ_{i<j}
    sign(x_j − x_i) and the tie-corrected variance numerator
    18·Var = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) are EXACT INTEGERS; z applies
    the standard continuity correction (S∓1)/sqrt(Var) — sqrt is
    IEEE-exact-rounded on both engines, division of exact ints through
    double is deterministic, 6dp pin. The trend CALL avoids the float
    boundary entirely: |z| > 1.96 is decided as the integer comparison
    (S∓1)²·180000 > 38416·var_num (1.96² = 38416/10⁴, 18·10⁴ = 180000).

    Plan: one month-grain partial agg off the fact scan; the pair join and
    tie rollup run over the ~400-row calendar-bounded series (AQE
    broadcasts); everything after the first Exchange is SF-invariant."""
    series = _monthly_priority_series(tables["orders"])
    pairs = _series_pairs(series)
    s_agg = pairs.groupBy("priority").agg(
        F.sum(F.signum(F.col("cj") - F.col("ci")).cast("long")).alias("s_stat"),
        F.count("*").alias("n_pairs"),
    )
    n_agg = series.groupBy("priority").agg(F.count("*").alias("n_months"))
    t = F.col("t")
    tie_agg = (
        series.groupBy("priority", "ct")
        .agg(F.count("*").alias("t"))
        .groupBy("priority")
        .agg(F.sum(t * (t - 1) * (2 * t + 5)).alias("tie_term"))
    )
    n = F.col("n_months")
    joined = s_agg.join(n_agg, "priority").join(tie_agg, "priority")
    var_num = (n * (n - 1) * (2 * n + 5) - F.col("tie_term")).alias("var_num")
    s = F.col("s_stat")
    shifted = F.when(s > 0, s - 1).when(s < 0, s + 1).otherwise(F.lit(0))
    z = F.when(
        F.col("var_num") > 0, shifted / F.sqrt(F.col("var_num") / F.lit(18.0))
    ).otherwise(F.lit(0.0))
    sig = (shifted * shifted * F.lit(180000)) > (F.lit(38416) * F.col("var_num"))
    trend = (
        F.when((s > 0) & sig, F.lit("increasing"))
        .when((s < 0) & sig, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
    )
    return (
        joined.select("priority", "n_months", "n_pairs", "s_stat", var_num)
        .select(
            "priority",
            "n_months",
            "n_pairs",
            "s_stat",
            "var_num",
            (F.floor(z * 1000000 + F.lit(0.5)) / 1000000).alias("z"),
            trend.alias("trend"),
        )
    )


def theil_sen_slope(tables: dict[str, DataFrame]) -> DataFrame:
    """Theil-Sen robust trend slope per order priority — the median of all
    pairwise slopes (x_j − x_i)/(j − i), the estimator that shrugs off the
    outlier months OLS would chase (up to ~29% contamination). Slopes are
    exact doubles of integer ratios; the median interpolates two exact
    values identically on both engines (Spark percentile == DuckDB
    quantile_cont). The intercept is the median of residuals against the
    6dp-PINNED slope — pinning before reuse so float drift can't compound
    across the two medians.

    Plan: same calendar-bounded pair table as Mann-Kendall (shared
    builder); two group-sized medians, zero additional fact scans."""
    series = _monthly_priority_series(tables["orders"])
    pairs = _series_pairs(series)
    slope = (F.col("cj") - F.col("ci")) / (F.col("j") - F.col("i"))
    med = pairs.groupBy("priority").agg(
        F.count("*").alias("n_pairs"),
        (
            F.floor(F.percentile(slope, F.lit(0.5)) * 1000000 + F.lit(0.5))
            / 1000000
        ).alias("slope"),
    )
    resid = series.join(F.broadcast(med), "priority").select(
        "priority",
        "n_pairs",
        "slope",
        (F.col("ct") - F.col("slope") * F.col("rn")).alias("r"),
    )
    return resid.groupBy("priority", "n_pairs", "slope").agg(
        (
            F.floor(F.percentile(F.col("r"), F.lit(0.5)) * 1000000 + F.lit(0.5))
            / 1000000
        ).alias("intercept")
    )


def ks_two_sample(tables: dict[str, DataFrame]) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test per event type: did the value
    distribution SHIFT between the first half of the month (days 1-15) and
    the second — the drift gate batch-scoring pipelines run before trusting
    a model trained on last month's data. D = max_v |F1(v) − F2(v)| is
    computed entirely in integers: with cumulative counts c1, c2 over the
    merged value axis, D_num = max |n2·c1 − n1·c2| and D = D_num/(n1·n2).
    The α=0.05 rejection (c(α)=1.358) is the exact integer comparison
    D_num²·10⁶ > 1844164·(n1+n2)·n1·n2 carried in decimal(38,0) — no
    sqrt, no float boundary, safe past int64 at 100 TB sample sizes.

    Plan: one (type, value) partial agg off the fact scan, one per-type
    ordered window over the distinct-value axis (bounded by distinct
    values, not rows), one max. Two Exchanges total."""
    ev = tables["events"]
    is_a = F.dayofmonth("ts") <= 15
    per_val = ev.groupBy("event_type", "value").agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("a_ct"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("b_ct"),
    )
    w = Window.partitionBy("event_type").orderBy("value")
    wall = Window.partitionBy("event_type")
    cum = per_val.select(
        "event_type",
        F.sum("a_ct").over(w).alias("c1"),
        F.sum("b_ct").over(w).alias("c2"),
        F.sum("a_ct").over(wall).alias("n1"),
        F.sum("b_ct").over(wall).alias("n2"),
    )
    d_gap = F.abs(F.col("n2") * F.col("c1") - F.col("n1") * F.col("c2"))
    agg = cum.groupBy("event_type", "n1", "n2").agg(F.max(d_gap).alias("d_num"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    lhs = dec(F.col("d_num")) * dec(F.col("d_num")) * F.lit(1000000).cast(
        "decimal(38,0)"
    )
    rhs = (
        F.lit(1844164).cast("decimal(38,0)")
        * dec(F.col("n1") + F.col("n2"))
        * dec(F.col("n1"))
        * dec(F.col("n2"))
    )
    d_dbl = F.col("d_num") / (F.col("n1") * F.col("n2"))
    return agg.select(
        "event_type",
        "n1",
        "n2",
        "d_num",
        (F.floor(d_dbl * 1000000 + F.lit(0.5)) / 1000000).alias("d"),
        (lhs > rhs).alias("reject"),
    )


def classical_decompose(tables: dict[str, DataFrame]) -> DataFrame:
    """Classical additive seasonal decomposition of the daily series per
    event type: trend = centered 7-day moving average, seasonal = per-ISO-
    weekday mean of the detrended series, residual = the rest — the
    model-free decomposition (STL's ancestor) every observability stack
    plots before fitting anything (``window_holt_winters`` is the
    model-FITTING sibling; this one has zero parameters). Detrending
    stays integer by 7-scaling (det7 = 7·x − Σ₇ — no division until the
    weekday mean), each emitted component is 6dp-pinned, and the residual
    subtracts the PINNED components so float drift can't compound.
    Edge days (incomplete 7-day window) carry NULL trend/residual — the
    honest contract, not a padded fake.

    Plan: one daily partial agg off the fact scan; one ±3-row window;
    one weekday-grain rollup broadcast back. Calendar-bounded after the
    first Exchange."""
    ev = tables["events"]
    daily = ev.groupBy(
        F.col("event_type"),
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        (F.weekday("ts") + 1).alias("isodow"),
    ).agg(F.count("*").alias("pv"))
    w7 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    )
    r6 = round6
    # full ⇔ 7 ROWS spanning exactly 6 CALENDAR days: a count alone can't
    # see a zero-event gap day, and a gapped window would mix non-adjacent
    # days into the trend (and poison the weekday seasonal means)
    span = F.datediff(
        F.to_date(F.max("day").over(w7)), F.to_date(F.min("day").over(w7))
    )
    full = (F.count("*").over(w7) == 7) & (span == 6)
    sum7 = F.sum("pv").over(w7)
    t = daily.select(
        "event_type",
        "day",
        "isodow",
        "pv",
        F.when(full, r6(sum7 / 7.0)).alias("trend"),
        F.when(full, 7 * F.col("pv") - sum7).alias("det7"),
    )
    si = (
        t.where(F.col("det7").isNotNull())
        .groupBy("event_type", "isodow")
        .agg(
            r6(
                F.sum("det7") / (7 * F.count("det7")).cast("double")
            ).alias("seasonal")
        )
    )
    joined = t.join(F.broadcast(si), ["event_type", "isodow"], "left")
    resid = F.when(
        F.col("trend").isNotNull() & F.col("seasonal").isNotNull(),
        r6(F.col("pv") - F.col("trend") - F.col("seasonal")),
    )
    return joined.select(
        "event_type", "day", "isodow", "pv", "trend", "seasonal",
        resid.alias("resid"),
    )


def forecast_backtest(tables: dict[str, DataFrame]) -> DataFrame:
    """Rolling-origin backtest of the seasonal-naive forecaster (ŷ_d =
    y_{d−7}) over the last 14 days per event type — the baseline every
    forecasting deployment must beat, and the eval harness shape (hold
    out a horizon, score per series) regardless of the model. Errors are
    exact integers; the summary emits MAE, WAPE (Σ|err|/Σactual — the
    scale-free aggregate that, unlike MAPE, is one integer-ratio division
    instead of an order-dependent float sum of per-day ratios) and mean
    bias, each 6dp-pinned.

    Plan: one daily partial agg, one lag window, one per-type rollup."""
    ev = tables["events"]
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
    ).agg(F.count("*").alias("pv"))
    wd = Window.partitionBy("event_type").orderBy("day")
    wn = Window.partitionBy("event_type")
    scored = daily.select(
        "event_type",
        "day",
        "pv",
        F.lag("pv", 7).over(wd).alias("fc"),
        F.lag("day", 7).over(wd).alias("fc_day"),
        F.row_number().over(wd).alias("rn"),
        F.count("*").over(wn).alias("n"),
    ).where(
        F.col("fc").isNotNull()
        & (F.col("rn") > F.col("n") - 14)
        # the lagged ROW must be exactly 7 CALENDAR days back — one
        # zero-event gap day would otherwise misalign every later
        # forecast onto the wrong weekday
        & (F.datediff(F.to_date("day"), F.to_date("fc_day")) == 7)
    )
    r6 = round6
    agg = scored.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum(F.abs(F.col("pv") - F.col("fc"))).alias("abs_err"),
        F.sum(F.col("fc") - F.col("pv")).alias("sgn_err"),
        F.sum("pv").alias("actual"),
    )
    return agg.select(
        "event_type",
        "n_days",
        r6(F.col("abs_err") / F.col("n_days")).alias("mae"),
        r6(F.col("abs_err") / F.col("actual")).alias("wape"),
        r6(F.col("sgn_err") / F.col("n_days")).alias("bias"),
    )


def max_drawdown(tables: dict[str, DataFrame]) -> DataFrame:
    """Maximum drawdown of the daily-GMV series per order priority — the
    slump metric revenue dashboards carry (how far below its
    best-day-so-far the daily series fell, and when; a cumulative-revenue
    series is monotone, so the drawdown runs on the DAILY values).
    Everything is EXACT integer cents: peak = running max of daily cents,
    drawdown_d = peak_d − cents_d; the answer row per priority is the
    argmax drawdown (earliest day on ties) plus the pinned relative depth
    (one division). Plan: one day-grain partial agg off the orders scan,
    one prefix window over the calendar-bounded series, one argmax
    window."""
    o = tables["orders"]
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias(
            "cents"
        )
    )
    wcum = Window.partitionBy("priority").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dd = daily.select(
        "priority",
        "day",
        "cents",
        F.max("cents").over(wcum).alias("peak"),
    ).select(
        "priority",
        "day",
        (F.col("peak") - F.col("cents")).alias("drawdown_cents"),
        "peak",
    )
    pick = Window.partitionBy("priority").orderBy(
        F.col("drawdown_cents").desc(), F.col("day").asc()
    )
    r6 = round6
    return (
        dd.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            "priority",
            F.col("day").cast("string").alias("trough_day"),
            F.col("drawdown_cents").cast("long").alias("drawdown_cents"),
            F.col("peak").cast("long").alias("peak_cents"),
            r6(
                F.col("drawdown_cents").cast("double") / F.col("peak").cast("double")
            ).alias("depth"),
        )
    )


def intervention_lift(tables: dict[str, DataFrame]) -> DataFrame:
    """Difference-in-differences lift — the quasi-experimental readout for
    a launch without random assignment: treat vs control (even/odd
    user_id — the fixture's assignment axis), pre vs post the intervention
    date (the calendar midpoint, derived as an exact integer:
    min_day + span div 2), metric = purchase share of events. DiD =
    (post_t − pre_t) − (post_c − pre_c) over the four rates.

    Exactness: the 8 cell counts are exact integers; each rate is one
    division; the DiD combination is ONE fixed-shape expression tree over
    those four doubles, pinned 1e-6 — no sum whose order an engine could
    choose. Plan: one (group, period) agg off the fact scan; the midpoint
    attaches as a scalar subquery."""
    ev = tables["events"]
    d = F.date_trunc("day", "ts").cast("date")
    mid = ev.agg(
        F.date_add(
            F.min(d), ((F.datediff(F.max(d), F.min(d)) - F.datediff(F.max(d), F.min(d)) % 2) / 2).cast("int")
        ).alias("m")
    ).scalar()
    cells = ev.select(
        F.when(F.col("user_id") % 2 == 0, "treat").otherwise("control").alias("grp"),
        F.when(d > mid, "post").otherwise("pre").alias("period"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    ).groupBy("grp", "period").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("conv").cast("long").alias("k"),
    )
    wide = cells.groupBy().pivot("grp", ["treat", "control"]).agg(
        F.sum(F.when(F.col("period") == "pre", F.col("n"))).alias("pre_n"),
        F.sum(F.when(F.col("period") == "pre", F.col("k"))).alias("pre_k"),
        F.sum(F.when(F.col("period") == "post", F.col("n"))).alias("post_n"),
        F.sum(F.when(F.col("period") == "post", F.col("k"))).alias("post_k"),
    )
    rate = lambda k, n: F.col(k).cast("double") / F.col(n).cast("double")  # noqa: E731
    did = (
        rate("treat_post_k", "treat_post_n") - rate("treat_pre_k", "treat_pre_n")
    ) - (
        rate("control_post_k", "control_post_n")
        - rate("control_pre_k", "control_pre_n")
    )
    r6 = round6
    return wide.select(
        F.col("treat_pre_n").cast("long").alias("treat_pre_n"),
        F.col("treat_pre_k").cast("long").alias("treat_pre_k"),
        F.col("treat_post_n").cast("long").alias("treat_post_n"),
        F.col("treat_post_k").cast("long").alias("treat_post_k"),
        F.col("control_pre_n").cast("long").alias("control_pre_n"),
        F.col("control_pre_k").cast("long").alias("control_pre_k"),
        F.col("control_post_n").cast("long").alias("control_post_n"),
        F.col("control_post_k").cast("long").alias("control_post_k"),
        r6(did).alias("did"),
    )


def seasonality_strength(tables: dict[str, DataFrame]) -> DataFrame:
    """Seasonality-strength score per event type — Hyndman's F_s intuition
    as a one-way ANOVA of the DETRENDED daily series across ISO weekdays:
    η² = SSB/SST of det7 (``window_decompose``'s 7-scaled integer
    detrending) grouped by isodow. η² → 1 means the weekday profile
    explains the detrended variation (strong weekly seasonality); → 0
    means the profile is noise. The decision input for \"do I fit a
    seasonal model at all\" (``window_holt_winters``' prerequisite).

    Exactness: det7 is an exact integer; Σx, Σx², group sums are exact
    decimals; the one multi-term float sum T = Σ_g S_g²/n_g folds in
    FIXED isodow order on both engines (the anova_segments discipline);
    η² = (n·T − S²)/(n·Σx² − S²) is one pinned division whose numerator
    mixes T only once. Same full-window calendar guards as decompose —
    a gapped window would poison the detrending identically on both
    engines, invisible to the hash."""
    ev = tables["events"]
    daily = ev.groupBy(
        F.col("event_type"),
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        (F.weekday("ts") + 1).alias("isodow"),
    ).agg(F.count("*").alias("pv"))
    w7 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    span = F.datediff(
        F.to_date(F.max("day").over(w7)), F.to_date(F.min("day").over(w7))
    )
    full = (F.count("*").over(w7) == 7) & (span == 6)
    det = daily.select(
        "event_type",
        "isodow",
        F.when(full, 7 * F.col("pv") - F.sum("pv").over(w7)).alias("det7"),
    ).where(F.col("det7").isNotNull())
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = det.groupBy("event_type", "isodow").agg(
        F.count("*").alias("ng"),
        F.sum(dec(F.col("det7"))).alias("sg"),
        F.sum(dec(F.col("det7")) * dec(F.col("det7"))).alias("qq_g"),
    )
    glob = g.groupBy("event_type").agg(
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("qq_g").alias("qq"),
        F.count("*").alias("k"),
        F.sort_array(
            F.collect_list(
                F.struct("isodow", F.col("sg").cast("double").alias("sgd"), "ng")
            )
        ).alias("arr"),
    )
    t_val = F.aggregate(
        F.col("arr"), F.lit(0.0), lambda acc, x: acc + x["sgd"] * x["sgd"] / x["ng"]
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    qqd = F.col("qq").cast("double")
    r6 = round6
    return glob.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.col("k").cast("long").alias("k_groups"),
        r6(
            (nd * t_val - sd * sd) / (nd * qqd - sd * sd)
        ).alias("eta_sq"),
    )


def binary_changepoint(tables: dict[str, DataFrame]) -> DataFrame:
    """Single-changepoint detection per event type via binary segmentation
    (the first split of the CBS/PELT family): over the zero-filled daily
    count series, pick the split k maximizing the between-segment SSE
    reduction gain(k) = (S_l·n_r − S_r·n_l)² / (n_l·n_r·n) — exactly
    n_l·n_r·(mean_l − mean_r)²/n. ``window_cusum`` localizes a mean shift
    by the CUSUM excursion; this is the variance-reduction view (the one
    that generalizes to recursive segmentation), so the two detectors
    cross-check each other on the same series.

    Exactness: the series is zero-filled over the full calendar (the
    decompose/backtest gap lesson — a missing day must be a 0 sample, and
    an engine-shared gap would be structurally invisible to the hash);
    S_l, S_r, n_l, n_r are exact integers, the diff is an exact long, and
    the score is diff·diff computed as DOUBLE (the autocorr overflow rule:
    the long square overflows past ~3e9 events/split) over one integer
    denominator, pinned at 1e-6. Argmax tie-breaks on earliest day over
    the PINNED score, so float noise can't flip the winner.

    Plan: one daily partial agg off the fact scan; the calendar spine
    attaches as a scalar-subquery array (no join, no cartesian) and
    explodes against the |types|-sized frame; prefix sums + argmax run
    per-type over the calendar-bounded series."""
    ev = tables["events"]
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").alias("pv"))
    return changepoint_from_daily(daily)


def changepoint_from_daily(daily: DataFrame) -> DataFrame:
    """Binary-segmentation kernel over a finalized (event_type, day, pv)
    daily-count table — shared by the batch query above and the streaming
    capstone (``stream_changepoint_materialized``), which feeds it the
    watermark-flushed sink instead of a batch groupBy. The calendar spine
    derives from the table's own global min/max day (identical to the
    event min/max — the boundary days have events by definition)."""
    spine = (
        daily.agg(
            F.sequence(F.min("day"), F.max("day")).alias("days")
        ).scalar()
    )
    types = daily.select("event_type").distinct()
    # .scalar() is a scalar-subquery Column: attach + explode, no join
    full = types.withColumn("days", spine).select(
        "event_type", F.explode("days").alias("day")
    )
    series = full.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("pv", F.lit(0)).cast("long").alias("x")
    )
    wo = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    cum = series.select(
        "event_type",
        "day",
        F.row_number().over(wo).cast("long").alias("k"),
        F.sum("x").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("sl"),
        F.count("*").over(wall).cast("long").alias("n"),
        F.sum("x").over(wall).alias("s"),
    ).where(F.col("k") < F.col("n"))
    diff = F.col("sl") * (F.col("n") - F.col("k")) - (
        F.col("s") - F.col("sl")
    ) * F.col("k")
    r6 = round6
    scored = cum.select(
        "event_type",
        "day",
        "k",
        "n",
        "sl",
        "s",
        r6(
            diff.cast("double")
            * diff.cast("double")
            / (F.col("k") * (F.col("n") - F.col("k")) * F.col("n")).cast("double")
        ).alias("score"),
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.col("score").desc(), F.col("day").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").cast("string").alias("change_day"),
            F.col("n").alias("n_days"),
            "score",
            r6(F.col("sl") * F.lit(1.0) / F.col("k")).alias("mean_before"),
            r6(
                (F.col("s") - F.col("sl")).cast("double")
                / (F.col("n") - F.col("k")).cast("double")
            ).alias("mean_after"),
        )
    )


QUERIES = {
    "window_drawdown": max_drawdown,
    "window_intervention_lift": intervention_lift,
    "window_seasonality_strength": seasonality_strength,
    "window_changepoint": binary_changepoint,
    "window_audience_overlap": audience_overlap,
    "window_decompose": classical_decompose,
    "window_backtest": forecast_backtest,
    "window_mann_kendall": mann_kendall_trend,
    "window_theil_sen": theil_sen_slope,
    "window_ks_test": ks_two_sample,
    "window_cusum": cusum_changepoint,
    "window_seasonal": seasonal_profile,
    "window_wow_growth": wow_growth,
    "window_holt_winters": holt_winters_daily,
    "window_ema": ema_per_user,
    "window_holt": holt_per_user,
    "window_anomaly_mad": daily_anomaly_mad,
    "window_uv_sketch": uv_approx_sketch,
    "window_uv_sketch_weekly": uv_sketch_weekly,
    "window_value_bands": value_bands_daily,
    "window_autocorr": autocorr_daily,
    "window_sliding_stats": sliding_visitor_stats,
    "window_rollup_stats": rollup_stats,
    "window_grouping_sets": grouping_sets_stats,
    "window_cube_stats": cube_stats,
    "window_rolling_active": rolling_active_users,
    "window_moving_avg": hourly_moving_stats,
    "window_daily_anomaly": daily_anomaly,
    "window_visitor_stats": visitor_stats_window,
    "window_product_stats": product_stats_window,
    "window_province_stats": province_stats_window,
    "window_keyword_stats": keyword_stats_window,
}

ORACLES = {
    # Exact integer cents; running max; argmax over (drawdown desc, day).
    "window_drawdown": """
        WITH daily AS (
            SELECT o_orderpriority AS priority,
                   o_orderdate::DATE AS day,
                   sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
            FROM orders GROUP BY 1, 2
        ),
        dd AS (
            SELECT priority, day,
                   (max(cents) OVER w - cents)::BIGINT AS drawdown_cents,
                   max(cents) OVER w::BIGINT AS peak
            FROM daily
            WINDOW w AS (PARTITION BY priority ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        pick AS (
            SELECT *, row_number() OVER (PARTITION BY priority
                         ORDER BY drawdown_cents DESC, day ASC) AS rn
            FROM dd
        )
        SELECT priority, day::VARCHAR AS trough_day, drawdown_cents,
               peak AS peak_cents,
               floor(drawdown_cents::DOUBLE / peak::DOUBLE * 1000000 + 0.5)
                 / 1000000 AS depth
        FROM pick WHERE rn = 1
    """,
    # Same exact-integer midpoint; the DiD combination is one fixed-shape
    # expression over four integer-ratio doubles, pinned 1e-6.
    "window_intervention_lift": """
        WITH b AS (
            SELECT date_trunc('day', ts)::DATE AS d,
                   CASE WHEN user_id % 2 = 0 THEN 'treat' ELSE 'control' END AS grp,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
            FROM events
        ),
        mid AS (
            SELECT min(d) + (datediff('day', min(d), max(d)) // 2)::INT AS m
            FROM b
        ),
        cells AS (
            SELECT grp,
                   CASE WHEN d > (SELECT m FROM mid) THEN 'post' ELSE 'pre' END AS period,
                   count(*)::BIGINT AS n, sum(conv)::BIGINT AS k
            FROM b GROUP BY 1, 2
        ),
        wide AS (
            SELECT
              max(CASE WHEN grp='treat' AND period='pre' THEN n END)::BIGINT AS treat_pre_n,
              max(CASE WHEN grp='treat' AND period='pre' THEN k END)::BIGINT AS treat_pre_k,
              max(CASE WHEN grp='treat' AND period='post' THEN n END)::BIGINT AS treat_post_n,
              max(CASE WHEN grp='treat' AND period='post' THEN k END)::BIGINT AS treat_post_k,
              max(CASE WHEN grp='control' AND period='pre' THEN n END)::BIGINT AS control_pre_n,
              max(CASE WHEN grp='control' AND period='pre' THEN k END)::BIGINT AS control_pre_k,
              max(CASE WHEN grp='control' AND period='post' THEN n END)::BIGINT AS control_post_n,
              max(CASE WHEN grp='control' AND period='post' THEN k END)::BIGINT AS control_post_k
            FROM cells
        )
        SELECT *,
               floor(((treat_post_k::DOUBLE / treat_post_n::DOUBLE
                       - treat_pre_k::DOUBLE / treat_pre_n::DOUBLE)
                      - (control_post_k::DOUBLE / control_post_n::DOUBLE
                         - control_pre_k::DOUBLE / control_pre_n::DOUBLE))
                     * 1000000 + 0.5) / 1000000 AS did
        FROM wide
    """,
    # Same det7 integer detrending + calendar guards as window_decompose;
    # T = Σ S_g²/n_g folds in FIXED isodow order (list_reduce == F.aggregate).
    "window_seasonality_strength": """
        WITH daily AS (
            SELECT event_type,
                   strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   isodow(ts)::INT AS dow, count(*)::BIGINT AS pv
            FROM events GROUP BY 1, 2, 3
        ),
        t AS (
            SELECT event_type, dow,
                   CASE WHEN count(*) OVER w = 7
                         AND datediff('day', min(day::DATE) OVER w,
                                      max(day::DATE) OVER w) = 6
                        THEN 7 * pv - sum(pv) OVER w END AS det7
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        g AS (
            SELECT event_type, dow, count(*)::BIGINT AS ng,
                   sum(det7::HUGEINT)::HUGEINT AS sg,
                   sum(det7::HUGEINT * det7::HUGEINT)::HUGEINT AS qq_g
            FROM t WHERE det7 IS NOT NULL GROUP BY 1, 2
        ),
        gstat AS (
            SELECT event_type, sum(ng)::BIGINT AS n, sum(sg)::HUGEINT AS s,
                   sum(qq_g)::HUGEINT AS qq, count(*)::BIGINT AS k,
                   list_reduce(
                       list(sg::DOUBLE * sg::DOUBLE / ng ORDER BY dow),
                       (a, b) -> a + b) AS t_val
            FROM g GROUP BY event_type
        )
        SELECT event_type, n AS n_days, k AS k_groups,
               floor((n::DOUBLE * t_val - s::DOUBLE * s::DOUBLE)
                     / (n::DOUBLE * qq::DOUBLE - s::DOUBLE * s::DOUBLE)
                     * 1000000 + 0.5) / 1000000 AS eta_sq
        FROM gstat
    """,
    # Zero-filled calendar spine; exact integer prefix sums; the square is
    # computed as DOUBLE·DOUBLE over the exact long diff (autocorr rule);
    # argmax over the PINNED score with earliest-day tie-break.
    "window_changepoint": """
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts)::DATE AS day,
                   count(*)::BIGINT AS pv
            FROM events GROUP BY 1, 2
        ),
        bounds AS (
            SELECT min(date_trunc('day', ts)::DATE) AS lo,
                   max(date_trunc('day', ts)::DATE) AS hi
            FROM events
        ),
        spine AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
            FROM bounds
        ),
        series AS (
            SELECT t.event_type, s.day,
                   coalesce(d.pv, 0)::BIGINT AS x
            FROM (SELECT DISTINCT event_type FROM daily) t
            CROSS JOIN spine s
            LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
        ),
        cum AS (
            SELECT event_type, day,
                   row_number() OVER (PARTITION BY event_type ORDER BY day)::BIGINT AS k,
                   sum(x) OVER (PARTITION BY event_type ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS sl,
                   count(*) OVER (PARTITION BY event_type)::BIGINT AS n,
                   sum(x) OVER (PARTITION BY event_type)::BIGINT AS s
            FROM series
        ),
        scored AS (
            SELECT event_type, day, k, n, sl, s,
                   floor((sl * (n - k) - (s - sl) * k)::DOUBLE
                         * (sl * (n - k) - (s - sl) * k)::DOUBLE
                         / (k * (n - k) * n)::DOUBLE * 1000000 + 0.5)
                     / 1000000 AS score
            FROM cum WHERE k < n
        ),
        pick AS (
            SELECT *, row_number() OVER (PARTITION BY event_type
                          ORDER BY score DESC, day ASC) AS rn
            FROM scored
        )
        SELECT event_type, day::VARCHAR AS change_day, n AS n_days, score,
               floor(sl * 1.0 / k * 1000000 + 0.5) / 1000000 AS mean_before,
               floor((s - sl)::DOUBLE / (n - k)::DOUBLE * 1000000 + 0.5)
                 / 1000000 AS mean_after
        FROM pick WHERE rn = 1
    """,
    # uv_sketch audit pattern: exact counts recomputed, sketch-side bands
    # emitted as literal TRUE (a union/inclusion-exclusion regression on
    # the Spark side flips the boolean and breaks the hash).
    "window_audience_overlap": """
        WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        pt AS (
            SELECT event_type, count(DISTINCT user_id)::BIGINT AS n
            FROM events GROUP BY 1
        ),
        ov AS (
            SELECT x.event_type AS ta, y.event_type AS tb,
                   count(DISTINCT x.user_id)::BIGINT AS exact_overlap
            FROM ut x JOIN ut y ON x.user_id = y.user_id
                              AND x.event_type < y.event_type
            GROUP BY 1, 2
        )
        SELECT ov.ta, ov.tb, a.n AS n_a, b.n AS n_b, exact_overlap,
               TRUE AS union_ok, TRUE AS overlap_ok
        FROM ov JOIN pt a ON a.event_type = ov.ta
                JOIN pt b ON b.event_type = ov.tb
    """,
    # Same 7-scaled detrending (integer until the weekday mean), pinned
    # components, residual against the pinned values.
    "window_decompose": """
        WITH daily AS (
            SELECT event_type,
                   strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   isodow(ts) AS isodow, count(*)::BIGINT AS pv
            FROM events GROUP BY 1, 2, 3
        ),
        s7 AS (
            SELECT *,
                   sum(pv) OVER (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7,
                   count(*) OVER (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
            FROM daily
        ),
        t AS (
            -- 7 rows AND a 6-day calendar span: a zero-event gap day would
            -- otherwise mix non-adjacent days into the trend
            SELECT event_type, day, isodow, pv,
                   CASE WHEN c7 = 7 AND dspan = 6
                        THEN floor(sum7 / 7.0 * 1000000 + 0.5) / 1000000
                        END AS trend,
                   CASE WHEN c7 = 7 AND dspan = 6 THEN 7 * pv - sum7
                        END AS det7
            FROM (SELECT *,
                         (max(day) OVER (PARTITION BY event_type ORDER BY day
                              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)::DATE
                          - min(day) OVER (PARTITION BY event_type ORDER BY day
                              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)::DATE)
                             AS dspan
                  FROM s7)
        ),
        si AS (
            SELECT event_type, isodow,
                   floor(sum(det7) / ((7 * count(det7))::DOUBLE)
                         * 1000000 + 0.5) / 1000000 AS seasonal
            FROM t WHERE det7 IS NOT NULL GROUP BY 1, 2
        )
        SELECT t.event_type, t.day, t.isodow, t.pv, t.trend, si.seasonal,
               CASE WHEN t.trend IS NOT NULL AND si.seasonal IS NOT NULL
                    THEN floor((t.pv - t.trend - si.seasonal)
                               * 1000000 + 0.5) / 1000000
                    END AS resid
        FROM t LEFT JOIN si ON t.event_type = si.event_type
                           AND t.isodow = si.isodow
    """,
    # Exact integer errors; WAPE = Σ|err|/Σactual is one division (MAPE's
    # per-day ratio sum would be order-dependent float addition).
    "window_backtest": """
        WITH daily AS (
            SELECT event_type,
                   strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   count(*)::BIGINT AS pv
            FROM events GROUP BY 1, 2
        ),
        sc AS (
            SELECT event_type, day, pv,
                   lag(pv, 7) OVER (PARTITION BY event_type ORDER BY day)
                       AS fc,
                   lag(day, 7) OVER (PARTITION BY event_type ORDER BY day)
                       AS fc_day,
                   row_number() OVER (PARTITION BY event_type ORDER BY day)
                       AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM daily
        ),
        e AS (
            -- the lagged row must be exactly 7 calendar days back (gap
            -- days would misalign forecasts onto the wrong weekday)
            SELECT event_type, count(*)::BIGINT AS n_days,
                   sum(abs(pv - fc))::BIGINT AS abs_err,
                   sum(fc - pv)::BIGINT AS sgn_err,
                   sum(pv)::BIGINT AS actual
            FROM sc WHERE fc IS NOT NULL AND rn > n - 14
                      AND (day::DATE - fc_day::DATE) = 7
            GROUP BY 1
        )
        SELECT event_type, n_days,
               floor(abs_err / (n_days::DOUBLE) * 1000000 + 0.5) / 1000000
                   AS mae,
               floor(abs_err / (actual::DOUBLE) * 1000000 + 0.5) / 1000000
                   AS wape,
               floor(sgn_err / (n_days::DOUBLE) * 1000000 + 0.5) / 1000000
                   AS bias
        FROM e
    """,
    # Pair sums and the tie-corrected variance numerator are exact integers;
    # z replays the same continuity-corrected expression; the trend call is
    # the integer comparison (S∓1)²·180000 > 38416·var_num on both engines.
    "window_mann_kendall": f"""
        WITH {_MK_SERIES_SQL},
        p AS (
            SELECT a.priority,
                   sum(CASE WHEN b.ct > a.ct THEN 1
                            WHEN b.ct < a.ct THEN -1 ELSE 0 END)::BIGINT
                       AS s_stat,
                   count(*)::BIGINT AS n_pairs
            FROM s a JOIN s b ON a.priority = b.priority AND a.rn < b.rn
            GROUP BY 1
        ),
        n AS (SELECT priority, count(*)::BIGINT AS n_months FROM s GROUP BY 1),
        tt AS (
            SELECT priority,
                   sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_term
            FROM (SELECT priority, ct, count(*)::BIGINT AS t
                  FROM s GROUP BY 1, 2)
            GROUP BY 1
        ),
        j AS (
            SELECT p.priority, n_months, n_pairs, s_stat,
                   (n_months * (n_months - 1) * (2 * n_months + 5)
                    - tie_term)::BIGINT AS var_num,
                   CASE WHEN s_stat > 0 THEN s_stat - 1
                        WHEN s_stat < 0 THEN s_stat + 1 ELSE 0 END AS sh
            FROM p JOIN n ON p.priority = n.priority
                   JOIN tt ON p.priority = tt.priority
        )
        SELECT priority, n_months, n_pairs, s_stat, var_num,
               CASE WHEN var_num > 0
                    THEN floor(sh / sqrt(var_num / 18.0) * 1000000 + 0.5)
                         / 1000000
                    ELSE 0.0 END AS z,
               CASE WHEN s_stat > 0 AND sh * sh * 180000 > 38416 * var_num
                    THEN 'increasing'
                    WHEN s_stat < 0 AND sh * sh * 180000 > 38416 * var_num
                    THEN 'decreasing'
                    ELSE 'no_trend' END AS trend
        FROM j
    """,
    # Pairwise slopes are exact doubles of integer ratios; quantile_cont's
    # two-point interpolation matches Spark percentile; the intercept median
    # runs against the 6dp-pinned slope on both engines.
    "window_theil_sen": f"""
        WITH {_MK_SERIES_SQL},
        pr AS (
            SELECT a.priority,
                   (b.ct - a.ct) * 1.0 / (b.rn - a.rn) AS slope
            FROM s a JOIN s b ON a.priority = b.priority AND a.rn < b.rn
        ),
        med AS (
            SELECT priority, count(*)::BIGINT AS n_pairs,
                   floor(quantile_cont(slope, 0.5) * 1000000 + 0.5) / 1000000
                       AS slope
            FROM pr GROUP BY 1
        )
        SELECT s.priority, n_pairs, med.slope,
               floor(quantile_cont(s.ct - med.slope * s.rn, 0.5) * 1000000
                     + 0.5) / 1000000 AS intercept
        FROM s JOIN med ON s.priority = med.priority
        GROUP BY 1, 2, 3
    """,
    # D_num = max |n2·c1 − n1·c2| over the merged value axis is an exact
    # integer; the rejection comparison runs in HUGEINT (decimal(38,0) on
    # the Spark side) so it cannot saturate at large n.
    "window_ks_test": """
        WITH pv AS (
            SELECT event_type, value,
                   sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END)::BIGINT
                       AS a_ct,
                   sum(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END)::BIGINT
                       AS b_ct
            FROM events GROUP BY 1, 2
        ),
        c AS (
            SELECT event_type,
                   sum(a_ct) OVER (PARTITION BY event_type ORDER BY value)
                       AS c1,
                   sum(b_ct) OVER (PARTITION BY event_type ORDER BY value)
                       AS c2,
                   sum(a_ct) OVER (PARTITION BY event_type) AS n1,
                   sum(b_ct) OVER (PARTITION BY event_type) AS n2
            FROM pv
        ),
        agg AS (
            SELECT event_type, n1::BIGINT AS n1, n2::BIGINT AS n2,
                   max(abs(n2 * c1 - n1 * c2))::BIGINT AS d_num
            FROM c GROUP BY 1, 2, 3
        )
        SELECT event_type, n1, n2, d_num,
               floor(d_num / ((n1 * n2)::DOUBLE) * 1000000 + 0.5) / 1000000
                   AS d,
               (d_num::HUGEINT * d_num::HUGEINT * 1000000::HUGEINT
                > 1844164::HUGEINT * (n1 + n2)::HUGEINT
                  * n1::HUGEINT * n2::HUGEINT) AS reject
        FROM agg
    """,
    # Independent-algorithm gate: Spark runs the closed form
    # (running sum − running min); the oracle walks the LITERAL Page
    # recurrence s_t = max(0, s_{t-1} + d_t) one day at a time. Integer
    # state (deviations scaled by n_days) ⇒ exact equality, no rounding.
    "window_cusum": """
        WITH RECURSIVE d AS (
            SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                   count(*)::BIGINT AS pv_ct
            FROM events GROUP BY 1, 2
        ),
        s AS (
            SELECT day, event_type, pv_ct,
                   count(*) OVER (PARTITION BY event_type) AS n_days,
                   sum(pv_ct) OVER (PARTITION BY event_type) AS total_ct,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY day) AS rn
            FROM d
        ),
        walk AS (
            SELECT day, event_type, pv_ct, n_days, total_ct, rn,
                   greatest(pv_ct * n_days - total_ct, 0)::BIGINT AS cpos,
                   greatest(total_ct - pv_ct * n_days, 0)::BIGINT AS cneg
            FROM s WHERE rn = 1
            UNION ALL
            SELECT s.day, s.event_type, s.pv_ct, s.n_days, s.total_ct, s.rn,
                   greatest(w.cpos + s.pv_ct * s.n_days - s.total_ct, 0),
                   greatest(w.cneg - (s.pv_ct * s.n_days - s.total_ct), 0)
            FROM walk w
            JOIN s ON s.event_type = w.event_type AND s.rn = w.rn + 1
        )
        SELECT day, event_type, pv_ct,
               cpos AS cusum_pos, cneg AS cusum_neg,
               (cpos >= total_ct) AS shift_up,
               (cneg >= total_ct) AS shift_down
        FROM walk
    """,
    # Literal recurrence walk carrying the 7-slot seasonal LIST; same
    # seeds, same exact-binary coefficients, same op order — bitwise state
    # parity with the Spark fold before the 4dp rounding.
    "window_holt_winters": """
        WITH RECURSIVE d AS (
            SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                   count(*)::BIGINT AS x,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY strftime(ts, '%Y-%m-%d'))
                       AS rn
            FROM events GROUP BY 1, 2
        ),
        walk AS (
            SELECT event_type, day, x, rn,
                   x::DOUBLE AS l, 0.0::DOUBLE AS b, 0.0::DOUBLE AS s,
                   -- ::DOUBLE[] is load-bearing: a bare [0.0,...] anchor
                   -- types the recursive column LIST(DECIMAL(2,1)) and
                   -- silently rounds every seasonal to one decimal
                   [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]::DOUBLE[] AS sl
            FROM d WHERE rn = 1
            UNION ALL
            SELECT d.event_type, d.day, d.x, d.rn,
                   0.5 * (d.x - w.sl[1]) + 0.5 * (w.l + w.b),
                   0.25 * ((0.5 * (d.x - w.sl[1]) + 0.5 * (w.l + w.b)) - w.l)
                       + 0.75 * w.b,
                   0.25 * (d.x - (0.5 * (d.x - w.sl[1])
                                  + 0.5 * (w.l + w.b))) + 0.75 * w.sl[1],
                   list_concat(w.sl[2:7],
                       [0.25 * (d.x - (0.5 * (d.x - w.sl[1])
                                       + 0.5 * (w.l + w.b)))
                        + 0.75 * w.sl[1]])
            FROM walk w
            JOIN d ON d.event_type = w.event_type AND d.rn = w.rn + 1
        )
        SELECT event_type, day, x AS pv_ct,
               floor(l * 10000 + 0.5) / 10000 AS level,
               floor(b * 10000 + 0.5) / 10000 AS trend,
               floor(s * 10000 + 0.5) / 10000 AS seasonal,
               floor((l + b + sl[1]) * 10000 + 0.5) / 10000 AS forecast
        FROM walk
    """,
    # Same integer moment sums, same op order; dx*dy multiplied as DOUBLE
    # on both engines, undefined r (constant series) NULL.
    "window_autocorr": """
        WITH d AS (
            SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                   count(*)::BIGINT AS x
            FROM events GROUP BY 1, 2
        ),
        p1 AS (
            SELECT event_type, x,
                   lag(x, 1) OVER (PARTITION BY event_type ORDER BY day)
                       AS y
            FROM d
        ),
        a1 AS (
            SELECT event_type, 1::BIGINT AS lag, count(*)::BIGINT AS n,
                   sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                   sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
                   sum(y * y)::BIGINT AS syy
            FROM p1 WHERE y IS NOT NULL GROUP BY 1
        ),
        p7 AS (
            SELECT event_type, x,
                   lag(x, 7) OVER (PARTITION BY event_type ORDER BY day)
                       AS y
            FROM d
        ),
        a7 AS (
            SELECT event_type, 7::BIGINT AS lag, count(*)::BIGINT AS n,
                   sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                   sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
                   sum(y * y)::BIGINT AS syy
            FROM p7 WHERE y IS NOT NULL GROUP BY 1
        )
        SELECT event_type, lag, n,
               CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                    THEN floor((n * sxy - sx * sy)
                               / sqrt((n * sxx - sx * sx)::DOUBLE
                                      * (n * syy - sy * sy)::DOUBLE)
                               * 10000 + 0.5) / 10000
               END AS autocorr
        FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a7)
    """,
    # quantile_cont == Spark percentile ((n-1)*p interpolation), 2dp.
    "window_value_bands": """
        SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
               count(*)::BIGINT AS n_events,
               floor(quantile_cont(value, 0.1) * 100 + 0.5) / 100 AS p10,
               floor(quantile_cont(value, 0.5) * 100 + 0.5) / 100 AS p50,
               floor(quantile_cont(value, 0.9) * 100 + 0.5) / 100 AS p90
        FROM events GROUP BY 1, 2
    """,
    # exact weekly uniques recomputed; the sketch-merge estimate must sit
    # inside the 8% band or uv_ok flips against the literal TRUE.
    "window_uv_sketch_weekly": """
        SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
               event_type,
               count(DISTINCT strftime(ts, '%Y-%m-%d'))::BIGINT AS n_days,
               count(DISTINCT user_id)::BIGINT AS uv_exact,
               TRUE AS uv_ok
        FROM events GROUP BY 1, 2
    """,
    "window_wow_growth": """
        WITH weekly AS (
            SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
                   event_type, count(*)::BIGINT AS pv_ct
            FROM events GROUP BY 1, 2
        )
        SELECT week_start, event_type, pv_ct,
               lag(pv_ct) OVER w AS prev_ct,
               floor((pv_ct - lag(pv_ct) OVER w) * 10000.0
                     / lag(pv_ct) OVER w + 0.5) / 10000 AS wow_growth
        FROM weekly
        WINDOW w AS (PARTITION BY event_type ORDER BY week_start)
    """,
    # Spark weekday()+1 == DuckDB isodow (Mon=1); integer-ratio divisions,
    # flag on the rounded ratio.
    "window_seasonal": """
        WITH d AS (
            SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                   count(*)::BIGINT AS pv_ct
            FROM events GROUP BY 1, 2
        ),
        g AS (
            SELECT day, event_type, isodow(day::DATE)::BIGINT AS dow, pv_ct,
                   count(*) OVER (PARTITION BY event_type, isodow(day::DATE))
                       AS n,
                   sum(pv_ct) OVER (PARTITION BY event_type, isodow(day::DATE))
                       AS tot
            FROM d
        )
        SELECT day, event_type, dow, pv_ct,
               floor(tot / n * 10000 + 0.5) / 10000 AS dow_mean,
               floor(pv_ct * n / tot * 10000 + 0.5) / 10000 AS season_ratio,
               (floor(pv_ct * n / tot * 10000 + 0.5) / 10000 >= 2.0
                OR floor(pv_ct * n / tot * 10000 + 0.5) / 10000 <= 0.5)
                   AS is_seasonal_anomaly
        FROM g
    """,
    # Same interpolated-median semantics both engines (Spark median ==
    # DuckDB quantile_cont(0.5)); flag on the rounded score.
    "window_anomaly_mad": """
        WITH d AS (
            SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                   count(*)::BIGINT AS pv_ct
            FROM events GROUP BY 1, 2
        ),
        m AS (
            SELECT day, event_type, pv_ct,
                   median(pv_ct::DOUBLE) OVER (PARTITION BY event_type) AS med
            FROM d
        ),
        s AS (
            SELECT day, event_type, pv_ct, med,
                   median(abs(pv_ct - med)) OVER (PARTITION BY event_type) AS mad
            FROM m
        )
        SELECT day, event_type, pv_ct,
               floor(med * 10000 + 0.5) / 10000 AS med_ct,
               floor(mad * 10000 + 0.5) / 10000 AS mad_ct,
               CASE WHEN mad > 0
                    THEN floor((pv_ct - med) / mad * 10000 + 0.5) / 10000
               END AS rscore,
               coalesce(abs(CASE WHEN mad > 0
                    THEN floor((pv_ct - med) / mad * 10000 + 0.5) / 10000
               END) >= 3, FALSE) AS is_anomaly
        FROM s
    """,
    # Holt recurrence replay: identical op sequence and exact-binary
    # 0.5/0.25 coefficients as the Spark fold -> bitwise state equality.
    "window_holt": """
        WITH RECURSIVE e AS (
            SELECT event_id, user_id, ts, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        walk AS (
            SELECT event_id, user_id, ts, value, rn,
                   value::DOUBLE AS l, 0.0::DOUBLE AS b
            FROM e WHERE rn = 1
            UNION ALL
            SELECT e.event_id, e.user_id, e.ts, e.value, e.rn,
                   0.5 * e.value + 0.5 * (w.l + w.b),
                   0.25 * ((0.5 * e.value + 0.5 * (w.l + w.b)) - w.l)
                       + 0.75 * w.b
            FROM walk w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1
        )
        SELECT event_id, user_id, ts, value,
               floor(l * 10000 + 0.5) / 10000 AS level,
               floor(b * 10000 + 0.5) / 10000 AS trend,
               floor((l + b) * 10000 + 0.5) / 10000 AS forecast
        FROM walk
    """,
    # Exact-recurrence replay: same (ts, event_id) order, same seed
    # (ema_1 = x_1), same 0.25/0.75 exact-binary coefficients — bitwise
    # equality before the 4dp rounding.
    "window_ema": """
        WITH RECURSIVE e AS (
            SELECT event_id, user_id, ts, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        walk AS (
            SELECT event_id, user_id, ts, value, rn, value AS ema
            FROM e WHERE rn = 1
            UNION ALL
            SELECT e.event_id, e.user_id, e.ts, e.value, e.rn,
                   0.25 * e.value + 0.75 * w.ema
            FROM walk w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1
        )
        SELECT event_id, user_id, ts, value,
               floor(ema * 10000 + 0.5) / 10000 AS ema
        FROM walk
    """,
    # exact count recomputed independently; uv_ok must be TRUE everywhere —
    # a sketch error past the 5·rsd band breaks the value hash.
    "window_uv_sketch": """
        SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
               count(DISTINCT user_id)::BIGINT AS uv_exact,
               TRUE AS uv_ok
        FROM events GROUP BY 1, 2
    """,
    "window_daily_anomaly": """
        WITH d AS (
            SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                   count(*)::BIGINT AS pv_ct
            FROM events GROUP BY 1, 2
        ),
        s AS (
            SELECT day, event_type, pv_ct,
                   avg(pv_ct) OVER (PARTITION BY event_type) AS mu,
                   stddev_pop(pv_ct) OVER (PARTITION BY event_type) AS sd
            FROM d
        )
        SELECT day, event_type, pv_ct,
               floor(mu * 10000 + 0.5) / 10000 AS mean_ct,
               floor(sd * 10000 + 0.5) / 10000 AS std_ct,
               CASE WHEN sd > 0
                    THEN floor((pv_ct - mu) / sd * 10000 + 0.5) / 10000 END AS zscore,
               coalesce(abs(CASE WHEN sd > 0
                    THEN floor((pv_ct - mu) / sd * 10000 + 0.5) / 10000 END) >= 2,
                    FALSE) AS is_anomaly
        FROM s
    """,
    "window_sliding_stats": """
        WITH ex AS (
            SELECT event_type, value,
                   floor(epoch(ts) / 1800) * 1800 - k * 1800 AS ws
            FROM events, (SELECT unnest(range(2)) AS k)
        )
        SELECT strftime(to_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(to_timestamp(ws + 3600), '%Y-%m-%d %H:%M:%S') AS edt,
               event_type,
               count(*) AS pv_ct,
               floor(sum(value) * 100 + 0.5) / 100 AS value_sum
        FROM ex
        GROUP BY ws, event_type
    """,
    "window_rollup_stats": """
        WITH flagged AS (
            SELECT event_type,
                   CASE WHEN event_type IN ('page_view', 'click') THEN 'y' ELSE 'n' END AS is_mobile,
                   user_id
            FROM events
        )
        SELECT coalesce(event_type, 'ALL') AS event_type,
               coalesce(is_mobile, 'ALL') AS is_mobile,
               count(*) AS pv_ct,
               count(DISTINCT user_id) AS uv_ct,
               (CASE WHEN event_type IS NULL THEN 2 ELSE 0 END
                + CASE WHEN is_mobile IS NULL THEN 1 ELSE 0 END)::BIGINT AS gid
        FROM flagged
        GROUP BY ROLLUP(event_type, is_mobile)
    """,
    # empty trailing frame: Spark's avg over 0 rows and DuckDB's both yield
    # NULL, so the first row per event_type has NULL trail_avg/dev_ratio.
    "window_moving_avg": """
        WITH hourly AS (
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hr,
                   event_type, count(*) AS pv_ct
            FROM events
            GROUP BY 1, 2
        ),
        framed AS (
            SELECT hr, event_type, pv_ct,
                   avg(pv_ct::DOUBLE) OVER (PARTITION BY event_type ORDER BY hr
                                            ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
                       AS ta
            FROM hourly
        )
        SELECT hr, event_type, pv_ct,
               floor(ta * 10000 + 0.5) / 10000 AS trail_avg,
               CASE WHEN ta IS NOT NULL
                    THEN floor(pv_ct / ta * 10000 + 0.5) / 10000 END AS dev_ratio
        FROM framed
    """,
    # fixture dims are never NULL, so NULL-ness identifies subtotal rows —
    # same derivation as the rollup oracle.
    "window_rolling_active": """
        WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
        c AS (
            SELECT user_id, day + to_days(i.i::INT) AS as_of
            FROM ud, range(7) i(i)
        )
        SELECT strftime(as_of, '%Y-%m-%d') AS as_of,
               count(DISTINCT user_id)::BIGINT AS active_users
        FROM c
        WHERE as_of <= (SELECT max(ts::DATE) FROM events)
        GROUP BY 1
    """,
    "window_cube_stats": """
        SELECT coalesce(event_type, 'ALL') AS event_type,
               coalesce(strftime(ts, '%Y-%m-%d'), 'ALL') AS day,
               count(*)::BIGINT AS pv_ct,
               floor(sum(value) * 100 + 0.5) / 100 AS value_sum,
               (grouping(event_type) * 2 + grouping(strftime(ts, '%Y-%m-%d')))::BIGINT AS gid
        FROM events
        GROUP BY CUBE (event_type, strftime(ts, '%Y-%m-%d'))
    """,
    "window_grouping_sets": """
        WITH flagged AS (
            SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value
            FROM events
        )
        SELECT coalesce(event_type, 'ALL') AS event_type,
               coalesce(day, 'ALL') AS day,
               count(*) AS pv_ct,
               floor(sum(value) * 100 + 0.5) / 100 AS value_sum,
               (CASE WHEN event_type IS NULL THEN 2 ELSE 0 END
                + CASE WHEN day IS NULL THEN 1 ELSE 0 END)::BIGINT AS gid
        FROM flagged
        GROUP BY GROUPING SETS ((event_type, day), (event_type), (day))
    """,
    "window_visitor_stats": f"""
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts, {_EPOCH}), '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(time_bucket(INTERVAL '1 hour', ts, {_EPOCH}) + INTERVAL '1 hour',
                        '%Y-%m-%d %H:%M:%S') AS edt,
               event_type AS ch,
               count(DISTINCT user_id) AS uv_ct,
               count(*) AS pv_ct,
               floor((sum(value)) * 100 + 0.5) / 100 AS dur_sum
        FROM events
        GROUP BY 1, 2, 3
    """,
    "window_product_stats": f"""
        SELECT strftime(time_bucket(INTERVAL '1 day', l_shipdate, {_EPOCH}), '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(time_bucket(INTERVAL '1 day', l_shipdate, {_EPOCH}) + INTERVAL '1 day',
                        '%Y-%m-%d %H:%M:%S') AS edt,
               l_partkey AS sku_id,
               count(DISTINCT l_orderkey) AS order_ct,
               floor((sum(l_quantity)) * 100 + 0.5) / 100 AS order_sku_num,
               floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS order_amount
        FROM lineitem
        GROUP BY 1, 2, 3
    """,
    "window_province_stats": f"""
        SELECT strftime(time_bucket(INTERVAL '7 days', o_orderdate, {_EPOCH}), '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(time_bucket(INTERVAL '7 days', o_orderdate, {_EPOCH}) + INTERVAL '7 days',
                        '%Y-%m-%d %H:%M:%S') AS edt,
               n_name AS province_name,
               floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS order_amount,
               count(DISTINCT o_orderkey) AS order_count
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2, 3
    """,
    "window_keyword_stats": f"""
        SELECT strftime(time_bucket(INTERVAL '1 day', ts, {_EPOCH}), '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(time_bucket(INTERVAL '1 day', ts, {_EPOCH}) + INTERVAL '1 day',
                        '%Y-%m-%d %H:%M:%S') AS edt,
               event_type AS keyword,
               count(*) AS ct,
               'EVENT' AS source
        FROM events
        GROUP BY 1, 2, 3
    """,
}


def page_hinkley(tables: dict[str, DataFrame]) -> DataFrame:
    """Page–Hinkley drift test per event type — the third changepoint lens
    next to ``window_cusum`` (reference-profile CUSUM) and
    ``window_changepoint`` (binary segmentation): PH tracks the cumulative
    deviation of the daily count from the SERIES mean and alarms when it
    climbs more than a margin above its running minimum — the standard
    streaming-drift detector (Page 1954, public). Two-pass and FULLY
    integer: with S = Σx and n days, the mean-centered cumulative sum
    scaled by n is Mₜ = n·prefixₜ − t·S (exact int64), PHₜ = Mₜ − min_{i≤t} Mᵢ,
    and the alarm rule PH_max > 5·S (drift exceeding five mean-days) is an
    integer comparison — nothing to pin anywhere.

    Emits per event type: n_days, total events, the scaled PH maximum,
    the day it peaks (earliest on ties), and the alarm flag. Plan: one
    (type, day) agg with map-side partials, two type-keyed running
    windows over |types × days| rows, one argmax window."""
    ev = tables["events"]
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").cast("long").alias("x"))
    wall = Window.partitionBy("event_type")
    worder = wall.orderBy("day")
    wrun = worder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored = daily.select(
        "event_type",
        "day",
        "x",
        F.count("*").over(wall).alias("n"),
        F.sum("x").over(wall).alias("s"),
        F.sum("x").over(wrun).alias("prefix"),
        F.row_number().over(worder).alias("t"),
    ).select(
        "event_type",
        "day",
        "n",
        "s",
        (F.col("n") * F.col("prefix") - F.col("t") * F.col("s")).alias("m"),
    )
    # the running min includes the m₀ = 0 anchor (PH starts at zero): a
    # series whose every prefix deviation is positive must measure against
    # 0, not against its own smallest positive prefix — caught by the
    # brute-force parity test
    ph = scored.select(
        "event_type",
        "day",
        "n",
        "s",
        (F.col("m") - F.least(F.lit(0), F.min("m").over(wrun))).alias("ph"),
    )
    wpick = Window.partitionBy("event_type").orderBy(
        F.desc("ph"), F.asc("day")
    )
    return (
        ph.withColumn("rn", F.row_number().over(wpick))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_days"),
            F.col("s").cast("long").alias("total_events"),
            F.col("ph").cast("long").alias("max_ph_scaled"),
            F.col("day").alias("peak_day"),
            F.when(F.col("ph") > 5 * F.col("s"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("drift_flag"),
        )
    )


QUERIES["window_page_hinkley"] = page_hinkley
ORACLES["window_page_hinkley"] = """
    WITH daily AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
               count(*)::BIGINT AS x
        FROM events GROUP BY 1, 2
    ),
    sc AS (
        SELECT event_type, day,
               count(*) OVER (PARTITION BY event_type)::BIGINT AS n,
               sum(x) OVER (PARTITION BY event_type)::BIGINT AS s,
               sum(x) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS prefix,
               row_number() OVER (PARTITION BY event_type ORDER BY day)::BIGINT AS t
        FROM daily
    ),
    m AS (
        SELECT event_type, day, n, s, n * prefix - t * s AS m FROM sc
    ),
    ph AS (
        SELECT event_type, day, n, s,
               m - least(0, min(m) OVER (PARTITION BY event_type ORDER BY day
                                         ROWS UNBOUNDED PRECEDING)) AS ph
        FROM m
    )
    SELECT event_type, n AS n_days, s AS total_events,
           ph::BIGINT AS max_ph_scaled, day AS peak_day,
           (CASE WHEN ph > 5 * s THEN 1 ELSE 0 END)::INT AS drift_flag
    FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY ph DESC, day) AS rn
        FROM ph
    ) WHERE rn = 1
"""


def runs_test(tables: dict[str, DataFrame]) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily-GMV delta signs, per order
    priority — the randomness screen that belongs next to
    ``window_mann_kendall`` (monotone trend) and ``window_autocorr``
    (linear memory): too FEW runs of consecutive up/down days means
    momentum/regimes, too MANY means oscillation; either breaks the
    i.i.d. assumption every naive daily-KPI control chart makes. Signs
    come from exact integer cent deltas (zero deltas dropped, the
    textbook treatment); n_plus/n_minus/n_runs are exact integers, and
    the z-score z = (R − μ)/σ with μ = 2ab/(a+b) + 1,
    σ² = 2ab(2ab−a−b)/((a+b)²(a+b−1)) is evaluated in ONE identical
    floating expression on both engines, pinned to micro.

    Plan: one day-grain partial agg off the orders scan, one
    calendar-bounded lag window for deltas, one more for run starts, one
    per-priority rollup — all windows run on the |days| series, never on
    order rows."""
    o = tables["orders"]
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias(
            "cents"
        )
    )
    wd = Window.partitionBy("priority").orderBy("day")
    signed = (
        daily.select(
            "priority",
            "day",
            (F.col("cents") - F.lag("cents").over(wd)).alias("delta"),
        )
        .where(F.col("delta").isNotNull() & (F.col("delta") != 0))
        .select("priority", "day", (F.col("delta") > 0).cast("int").alias("sgn"))
    )
    ws = Window.partitionBy("priority").orderBy("day")
    runs = signed.select(
        "priority",
        "sgn",
        F.when(
            F.lag("sgn").over(ws).isNull()
            | (F.col("sgn") != F.lag("sgn").over(ws)),
            1,
        )
        .otherwise(0)
        .alias("run_start"),
    )
    agg = runs.groupBy("priority").agg(
        F.sum("sgn").cast("long").alias("n_plus"),
        F.sum(1 - F.col("sgn")).cast("long").alias("n_minus"),
        F.sum("run_start").cast("long").alias("n_runs"),
    )
    a = F.col("n_plus").cast("double")
    b = F.col("n_minus").cast("double")
    r = F.col("n_runs").cast("double")
    mu = 2.0 * a * b / (a + b) + 1.0
    var = (
        2.0 * a * b * (2.0 * a * b - a - b)
        / ((a + b) * (a + b) * (a + b - 1.0))
    )
    return agg.select(
        "priority",
        "n_plus",
        "n_minus",
        "n_runs",
        # n_plus+n_minus > 2 also excludes the var=0 case (a=b=1 makes
        # 2ab-a-b = 0 -> 0/0 NaN, the stop_shingles 0/0 lesson)
        F.when(
            (F.col("n_plus") > 0)
            & (F.col("n_minus") > 0)
            & (F.col("n_plus") + F.col("n_minus") > 2),
            F.floor((r - mu) / F.sqrt(var) * 1000000 + 0.5),
        ).cast("long").alias("z_micro"),
    )


QUERIES["window_runs_test"] = runs_test
# Same exact-cent daily series; the float z expression is written in the
# identical operation order (2ab products, one sqrt, one division).
ORACLES["window_runs_test"] = """
    WITH daily AS (
        SELECT o_orderpriority AS priority, o_orderdate::DATE AS day,
               sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY 1, 2
    ),
    signed AS (
        SELECT priority, day,
               CASE WHEN delta > 0 THEN 1 ELSE 0 END AS sgn
        FROM (
            SELECT priority, day,
                   cents - lag(cents) OVER (PARTITION BY priority ORDER BY day)
                       AS delta
            FROM daily
        )
        WHERE delta IS NOT NULL AND delta != 0
    ),
    runs AS (
        SELECT priority, sgn,
               CASE WHEN lag(sgn) OVER (PARTITION BY priority ORDER BY day)
                         IS DISTINCT FROM sgn THEN 1 ELSE 0 END AS run_start
        FROM (SELECT *, day FROM signed)
    ),
    agg AS (
        SELECT priority,
               sum(sgn)::BIGINT AS n_plus,
               sum(1 - sgn)::BIGINT AS n_minus,
               sum(run_start)::BIGINT AS n_runs
        FROM runs GROUP BY 1
    )
    SELECT priority, n_plus, n_minus, n_runs,
           CASE WHEN n_plus > 0 AND n_minus > 0
                     AND n_plus + n_minus > 2 THEN
               floor((n_runs::DOUBLE
                      - (2.0 * n_plus::DOUBLE * n_minus::DOUBLE
                         / (n_plus::DOUBLE + n_minus::DOUBLE) + 1.0))
                     / sqrt(2.0 * n_plus::DOUBLE * n_minus::DOUBLE
                            * (2.0 * n_plus::DOUBLE * n_minus::DOUBLE
                               - n_plus::DOUBLE - n_minus::DOUBLE)
                            / ((n_plus::DOUBLE + n_minus::DOUBLE)
                               * (n_plus::DOUBLE + n_minus::DOUBLE)
                               * (n_plus::DOUBLE + n_minus::DOUBLE - 1.0)))
                     * 1000000 + 0.5)::BIGINT
           END AS z_micro
    FROM agg
"""


def yoy_growth(tables: dict[str, DataFrame]) -> DataFrame:
    """Year-over-year monthly GMV growth — the calendar-aligned companion
    to ``window_wow_growth`` (weeks are position-aligned; YoY must align
    the CALENDAR month, so the comparison is an explicit month-key join
    on yyyyMM − 100, never a lag(12) row offset that silently misaligns
    the moment one month is missing from the series). Exact integer
    cents; growth is ONE pinned micro division against the prior-year
    month, NULL when that month is absent or zero.

    Plan: one month-grain partial agg off the orders scan, one
    month-key self-join of the |months|-sized series — both bounded by
    the calendar, never by rows."""
    o = tables["orders"]
    month_int = F.date_format("o_orderdate", "yyyyMM").cast("long")
    monthly = o.groupBy(month_int.alias("month")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias(
            "cents"
        )
    )
    prev = monthly.select(
        (F.col("month") + 100).alias("month"), F.col("cents").alias("prev_cents")
    )
    return (
        monthly.join(prev, "month", "left")
        .select(
            "month",
            "cents",
            "prev_cents",
            F.when(
                F.col("prev_cents") > 0,
                F.floor(
                    (F.col("cents") - F.col("prev_cents")).cast("double")
                    / F.col("prev_cents").cast("double")
                    * 1000000
                    + 0.5
                ),
            ).cast("long").alias("yoy_growth_micro"),
        )
    )


QUERIES["window_yoy_growth"] = yoy_growth
ORACLES["window_yoy_growth"] = """
    WITH monthly AS (
        SELECT strftime(o_orderdate, '%Y%m')::BIGINT AS month,
               sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY 1
    )
    SELECT m.month, m.cents, p.cents AS prev_cents,
           CASE WHEN p.cents > 0 THEN
               floor((m.cents - p.cents)::DOUBLE / p.cents::DOUBLE * 1000000
                     + 0.5)::BIGINT
           END AS yoy_growth_micro
    FROM monthly m LEFT JOIN monthly p ON p.month = m.month - 100
"""


def spearman_daily(tables: dict[str, DataFrame]) -> DataFrame:
    """Spearman rank correlation between the daily GMV and the daily order
    count, per order priority — the monotone-association twin of the
    Pearson family above (rank correlation is the robust default for
    skewed revenue series; ties are REAL here because small dailies repeat
    counts). Ranks use the textbook average-rank tie rule carried as
    DOUBLED integers (2·avg_rank = 2·rank() + ties − 1 — min-rank plus
    max-rank of the tie group), so every rank statistic up to the final
    rho stays exact int64; rho is Pearson over the doubled ranks (the
    ×2 cancels), one sqrt·sqrt + one division, round6-pinned. Degenerate
    series (a constant side) pin rho to NULL via the variance guard.

    Scale: one (priority, day) pre-agg shuffle, one priority-keyed window
    for ranks, one priority rollup — day count per group bounds the
    window, never raw orders."""
    o = tables["orders"]
    daily = o.groupBy(
        "o_orderpriority", F.date_format("o_orderdate", "yyyyMMdd").alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .alias("cents"),
        F.count("*").cast("long").alias("n_orders"),
    )
    wp = Window.partitionBy("o_orderpriority")

    def dranks(col: str) -> Column:
        w = wp.orderBy(col)
        ties = F.count("*").over(Window.partitionBy("o_orderpriority", col))
        return (2 * F.rank().over(w) + ties - 1).cast("long")

    r = daily.select(
        "o_orderpriority",
        dranks("cents").alias("rx"),
        dranks("n_orders").alias("ry"),
    )
    agg = r.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    n = F.col("n_days")
    a = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    bx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    by = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return agg.select(
        "priority",
        "n_days",
        F.when(
            (bx > 0) & (by > 0), round6(a / (F.sqrt(bx) * F.sqrt(by)))
        ).alias("rho"),
    )


QUERIES["window_spearman"] = spearman_daily
# Same doubled-average-rank algebra; identical operation order in the final
# expression (sqrt(bx) * sqrt(by), never sqrt(bx*by)).
ORACLES["window_spearman"] = """
    WITH daily AS (
        SELECT o_orderpriority,
               strftime(o_orderdate, '%Y%m%d') AS day,
               sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents,
               count(*)::BIGINT AS n_orders
        FROM orders GROUP BY 1, 2
    ),
    r AS (
        SELECT o_orderpriority,
               (2 * rank() OVER (PARTITION BY o_orderpriority ORDER BY cents)
                + count(*) OVER (PARTITION BY o_orderpriority, cents)
                - 1)::BIGINT AS rx,
               (2 * rank() OVER (PARTITION BY o_orderpriority
                                 ORDER BY n_orders)
                + count(*) OVER (PARTITION BY o_orderpriority, n_orders)
                - 1)::BIGINT AS ry
        FROM daily
    ),
    agg AS (
        SELECT o_orderpriority AS priority,
               count(*)::BIGINT AS n_days,
               sum(rx)::BIGINT AS sx, sum(ry)::BIGINT AS sy,
               sum(rx * rx)::BIGINT AS sxx, sum(ry * ry)::BIGINT AS syy,
               sum(rx * ry)::BIGINT AS sxy
        FROM r GROUP BY 1
    )
    SELECT priority, n_days,
           CASE WHEN (n_days * sxx - sx * sx) > 0
                 AND (n_days * syy - sy * sy) > 0
                THEN floor((n_days * sxy - sx * sy)::DOUBLE
                           / (sqrt((n_days * sxx - sx * sx)::DOUBLE)
                              * sqrt((n_days * syy - sy * sy)::DOUBLE))
                           * 1000000 + 0.5) / 1000000
           END AS rho
    FROM agg
"""


def cross_correlation(tables: dict[str, DataFrame]) -> DataFrame:
    """Lagged cross-correlation between two daily series — does click
    activity LEAD purchase value (lag > 0) or follow it? Pearson r at each
    lag in [-3, +3] between x = daily click count and y = daily purchase
    cents, aligned on day(x) + lag = day(y). The lead-lag scan behind
    "which metric moves first" dashboards and intervention analyses
    (companion to ``window_intervention_lift``'s single-cut view).

    Exactness: x is an exact count, y exact cents; the Pearson numerator
    and variance terms are exact DECIMAL(38,0) cross-products (per-term
    cast BEFORE the sum, same discipline as the periodogram and
    cluster_design kernels — daily purchase cents grow ~10× per SF decade,
    so sum(y·y) grows ~100× per decade and would silently wrap int64
    around sf10 in non-ANSI Spark; decimal38 holds through sf≥100), only
    the final ratio drops to one pinned double (ADVICE r7 #2).

    Scale: two day-keyed partial aggs (|days| rows each), a 7× explode of
    the DAILY frame (not raw events), one day-keyed equi join (lag folded
    into the join key), and a |lags|-row final agg. Raw events are
    touched once per series."""
    ev = tables["events"]
    day = F.to_date("ts")
    x = ev.where(F.col("event_type") == "click").groupBy(day.alias("day")).agg(
        F.count("*").cast("long").alias("x")
    )
    y = ev.where(F.col("event_type") == "purchase").groupBy(day.alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5)).cast("long").alias("y")
    )
    lagged = x.select(
        "day", "x", F.explode(F.sequence(F.lit(-3), F.lit(3))).alias("lag")
    )
    j = lagged.join(
        y.select(F.col("day").alias("yday"), "y"),
        F.date_add("day", F.col("lag")) == F.col("yday"),
    )
    dec = "decimal(38,0)"
    agg = j.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).alias("syy"),
        F.sum(F.col("x").cast(dec) * F.col("y").cast(dec)).alias("sxy"),
    )
    n = F.col("n_days")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return agg.select(
        F.col("lag").cast("long").alias("lag"),
        "n_days",
        F.when(
            (varx > 0) & (vary > 0),
            round6(
                num.cast("double")
                / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double")))
            ),
        ).alias("r"),
    )


QUERIES["window_cross_correlation"] = cross_correlation
# Same exact-integer moment basis per lag; generate_series is DuckDB's
# explode(sequence) twin; y-cents summed as BIGINT before any double;
# cross-products per-term HUGEINT to mirror the Spark decimal(38,0)
# discipline (DuckDB would ERROR on a BIGINT*BIGINT overflow where
# non-ANSI Spark silently wraps — this keeps both exact instead).
ORACLES["window_cross_correlation"] = """
    WITH x AS (
        SELECT ts::DATE AS day, count(*)::BIGINT AS x
        FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    y AS (
        SELECT ts::DATE AS day, sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS y
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    lags AS (SELECT unnest(generate_series(-3, 3)) AS lag),
    j AS (
        SELECT l.lag, x.x, y.y
        FROM x CROSS JOIN lags l
        JOIN y ON x.day + to_days(l.lag::INT) = y.day
    ),
    agg AS (
        SELECT lag, count(*)::BIGINT AS n_days,
               sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
               sum(x::HUGEINT * x::HUGEINT) AS sxx,
               sum(y::HUGEINT * y::HUGEINT) AS syy,
               sum(x::HUGEINT * y::HUGEINT) AS sxy
        FROM j GROUP BY lag
    )
    SELECT lag::BIGINT AS lag, n_days,
           CASE WHEN (n_days * sxx - sx * sx) > 0
                 AND (n_days * syy - sy * sy) > 0
                THEN floor((n_days * sxy - sx * sy)::DOUBLE
                           / (sqrt((n_days * sxx - sx * sx)::DOUBLE)
                              * sqrt((n_days * syy - sy * sy)::DOUBLE))
                           * 1000000 + 0.5) / 1000000
           END AS r
    FROM agg
"""


# Integer DFT basis for the 30-day periodogram: cos/sin(2πkt/30) scaled by
# 2^10 and rounded — generated ONCE here in Python and interpolated into
# BOTH engines as literals, so every correlation sum is an exact integer
# (the H.264-integer-transform determinism move, applied to spectral
# analysis; no cross-engine libm cos protocol). 2^10, not 2^20: the
# squared sums must fit decimal(38,0)/HUGEINT through sf≥1 — S ≤
# 30·|xc|·2¹⁰ ≈ 7e16 at sf0.1, S² ≈ 5e33 ≪ 1e38; a 2^20 basis overflows
# the square at sf0.1. The ~1e-3 basis quantization is part of the
# metric's definition (both engines share the identical integer basis).
_PGRAM_N = 30
_PGRAM_SCALE = 1 << 10
_PGRAM_KS = tuple(range(1, 16))


def _pgram_basis() -> list[tuple[int, int, int, int]]:
    import math

    rows = []
    for k in _PGRAM_KS:
        for t in range(_PGRAM_N):
            ang = 2.0 * math.pi * k * t / _PGRAM_N
            rows.append(
                (
                    k,
                    t,
                    int(math.floor(math.cos(ang) * _PGRAM_SCALE + 0.5)),
                    int(math.floor(math.sin(ang) * _PGRAM_SCALE + 0.5)),
                )
            )
    return rows


def periodogram(tables: dict[str, DataFrame]) -> DataFrame:
    """Integer periodogram of the daily event-value series (the events
    table's 30 contiguous days — orders dates are sparse/multi-year) —
    which cycle length dominates? Power at harmonics k=1..15 of the
    30-day window via exact integer correlation sums against the scaled
    cos/sin basis above: P_k = S_c² + S_s², S_c = Σ_t x'_t·c_{k,t}, with
    x'_t = 30·x_t − T (the ×30-scaled mean-centering that stays in
    integers). The spectral sibling of ``window_seasonality_strength``/
    ``window_autocorr`` — autocorrelation answers "is there a weekly
    cycle?", the periodogram ranks ALL cycle lengths at once
    (Schuster 1898).

    Exactness: x cents exact; basis integers by construction; S_c/S_s
    exact integers summed in decimal(38,0)/HUGEINT; the emitted relative
    power is one pinned division of two decimals. ZERO float protocol
    before the final ratio.

    Scale: one day-keyed agg (30 rows), a 15×30 basis-literal broadcast
    join, a k-keyed agg. At 100 TB the S sums are already decimal
    partials — map-side combine keeps the shuffle at |days|×|k| rows."""
    ev = tables["events"]
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5)).cast("long").alias("x")
    )
    wd = Window.orderBy("day")
    idx = daily.select(
        (F.row_number().over(wd) - 1).alias("t"), "x"
    ).where(F.col("t") < _PGRAM_N)
    tot = idx.agg(F.sum("x").cast("long")).scalar()
    centered = idx.select(
        "t", (F.lit(_PGRAM_N) * F.col("x") - tot).cast("long").alias("xc")
    )
    basis = idx.sparkSession.createDataFrame(
        _pgram_basis(), "k int, t int, c long, s long"
    )
    corr = (
        centered.join(F.broadcast(basis), "t")
        .groupBy("k")
        .agg(
            # per-term decimal BEFORE the sum: a single xc·c product fits
            # a long at sf0.1 but the 30-term sum does not
            F.sum(F.col("xc").cast("decimal(38,0)") * F.col("c")).alias("sc"),
            F.sum(F.col("xc").cast("decimal(38,0)") * F.col("s")).alias("ss"),
        )
    )
    power = corr.select(
        F.col("k").cast("long").alias("k"),
        (F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")).alias("p"),
    )
    wall = Window.partitionBy()
    tot_p = F.sum("p").over(wall)
    max_p = F.max("p").over(wall)
    return power.select(
        "k",
        F.floor(
            F.col("p").cast("double") / tot_p.cast("double") * 1000000 + 0.5
        )
        .cast("long")
        .alias("power_rel_micro"),
        (F.col("p") == max_p).alias("is_peak"),
    )


QUERIES["window_periodogram"] = periodogram
_PGRAM_BASIS_SQL = ", ".join(
    f"({k}, {t}, {c}, {s})" for k, t, c, s in _pgram_basis()
)
# Same basis literals, same ×30 integer centering, HUGEINT squares.
ORACLES["window_periodogram"] = f"""
    WITH daily AS (
        SELECT ts::DATE AS day,
               sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS x
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT (row_number() OVER (ORDER BY day) - 1)::BIGINT AS t, x
        FROM daily QUALIFY t < {_PGRAM_N}
    ),
    centered AS (
        SELECT t, ({_PGRAM_N} * x - (SELECT sum(x) FROM idx))::BIGINT AS xc
        FROM idx
    ),
    basis(k, t, c, s) AS (VALUES {_PGRAM_BASIS_SQL}),
    corr AS (
        SELECT k, sum(xc::HUGEINT * c)::HUGEINT AS sc,
               sum(xc::HUGEINT * s)::HUGEINT AS ss
        FROM centered JOIN basis USING (t)
        GROUP BY k
    ),
    power AS (SELECT k, sc * sc + ss * ss AS p FROM corr)
    SELECT k::BIGINT AS k,
           floor(p::DOUBLE / sum(p) OVER ()::DOUBLE * 1000000 + 0.5)::BIGINT
               AS power_rel_micro,
           p = max(p) OVER () AS is_peak
    FROM power
"""


def record_breaks(tables: dict[str, DataFrame]) -> DataFrame:
    """Running-record analytics — "record hot day" counting: per event
    type, walk the daily value series in time order and flag days that
    set a NEW RUNNING MAXIMUM; report record counts, the current record,
    when it was set, and the longest drought between records. For an
    i.i.d. series ~ln(n) records are expected, so an excess says trend —
    the classic sequential-analysis cousin of ``window_mann_kendall``
    (which sums pairwise signs; records need only the running max).

    Exactness: cents exact; record flags are integer comparisons; the
    drought is exact day arithmetic.

    Scale: one day-keyed rollup then a per-type ordered window (the
    running max) — partition-parallel across types; days per type are
    calendar-bounded."""
    ev = tables["events"]
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("day")
    ).agg(F.sum(F.floor(F.col("value") * 100 + 0.5)).cast("long").alias("x"))
    w = Window.partitionBy("event_type").orderBy("day")
    prev_max = F.max("x").over(
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = daily.select(
        "event_type",
        "day",
        "x",
        (prev_max.isNull() | (F.col("x") > prev_max)).alias("is_record"),
    )
    recs = flagged.where("is_record").select(
        "event_type", "day", "x",
        F.lag("day").over(
            Window.partitionBy("event_type").orderBy("day")
        ).alias("prev_rec_day"),
    )
    return recs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_records"),
        F.max("x").cast("long").alias("record_cents"),
        F.date_format(F.max("day"), "yyyy-MM-dd").alias("last_record_day"),
        F.max(F.datediff(F.col("day"), F.col("prev_rec_day")))
        .cast("long")
        .alias("longest_drought_days"),
    )


QUERIES["window_record_breaks"] = record_breaks
ORACLES["window_record_breaks"] = """
    WITH daily AS (
        SELECT event_type, ts::DATE AS day,
               sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS x
        FROM events GROUP BY 1, 2
    ),
    flagged AS (
        SELECT event_type, day, x,
               coalesce(x > max(x) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        TRUE) AS is_record
        FROM daily
    ),
    recs AS (
        SELECT event_type, day, x,
               lag(day) OVER (PARTITION BY event_type ORDER BY day)
                   AS prev_rec_day
        FROM flagged WHERE is_record
    )
    SELECT event_type, count(*)::BIGINT AS n_records,
           max(x)::BIGINT AS record_cents,
           strftime(max(day), '%Y-%m-%d') AS last_record_day,
           max(day - prev_rec_day)::BIGINT AS longest_drought_days
    FROM recs GROUP BY event_type
"""


def rolling_beta(tables: dict[str, DataFrame], window_days: int = 14) -> DataFrame:
    """Rolling OLS beta — how strongly does purchase value track click
    volume day by day? Per day, regress the TRAILING 14 days of daily
    purchase cents (y) on daily click counts (x): β = (nΣxy − ΣxΣy) /
    (nΣx² − (Σx)²), the windowed coupling monitor (static Pearson lives
    in ``window_cross_correlation``; this tracks the RELATIONSHIP
    drifting over time, the metric behind "did the promo decouple
    traffic from revenue?").

    Exactness: x, y exact integers; all five moments are exact BIGINT
    window sums (ROWS frame over the daily series); β is one pinned
    division per row, NULL until the frame holds ≥ 7 days or x is
    constant within it.

    Scale: ONE day-keyed rollup of two series (a single scan, conditional
    aggregation) then a calendar-bounded frame window — no row-sized
    state anywhere."""
    ev = tables["events"]
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + 0.5),
            ).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-(window_days - 1), 0)
    n = F.count("*").over(w)
    sx = F.sum("x").over(w)
    sy = F.sum("y").over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "x",
        "y",
        n.cast("long").alias("n_days_in_frame"),
        F.when(
            (n >= 7) & (den > 0),
            F.floor(num.cast("double") / den.cast("double") * 1000000 + 0.5),
        ).cast("long").alias("beta_micro"),
    )


QUERIES["window_rolling_beta"] = rolling_beta
ORACLES["window_rolling_beta"] = """
    WITH daily AS (
        SELECT ts::DATE AS day,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
                   AS x,
               sum(CASE WHEN event_type = 'purchase'
                        THEN floor(value * 100 + 0.5)::BIGINT
                        ELSE 0 END)::BIGINT AS y
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT day, x, y,
               count(*) OVER w AS n,
               sum(x) OVER w AS sx, sum(y) OVER w AS sy,
               sum(x * x) OVER w AS sxx, sum(x * y) OVER w AS sxy
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, x, y,
           n::BIGINT AS n_days_in_frame,
           CASE WHEN n >= 7 AND (n * sxx - sx * sx) > 0
                THEN floor((n * sxy - sx * sy)::DOUBLE
                           / (n * sxx - sx * sx)::DOUBLE * 1000000
                           + 0.5)::BIGINT
           END AS beta_micro
    FROM m
"""


def gumbel_maxima(tables: dict[str, DataFrame]) -> DataFrame:
    """Extreme-value return levels — block-maxima + Gumbel fit by the
    method of moments: weekly maxima of daily event value, then
    σ̂ = s·√6/π and μ̂ = x̄ − γ·σ̂ (Euler–Mascheroni γ), and the T-period
    return level μ̂ − σ̂·ln(−ln(1 − 1/T)) for T ∈ {30, 100, 365} — the
    capacity-planning question ("what daily load do we provision for?")
    that mean+3σ systematically understates for heavy upper tails
    (Fisher–Tippett–Gnedenko; MoM, not MLE, so the fit is CLOSED-FORM
    and the whole op sits under the exact hash gate). Constants are
    pinned literals on both engines: γ = 0.5772156649015329,
    √6/π = 0.7796968012336761.

    Exactness: block maxima exact cents; mean/s² from exact integer
    moments; the fit and return levels are fixed-shape doubles,
    micro-pinned.

    Scale: one day agg, one week agg (both map-side combined), one
    4-row emit."""
    ev = tables["events"]
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5)).cast("long").alias("x")
    )
    weekly = daily.groupBy(
        F.date_format(F.date_trunc("week", F.col("day")), "yyyy-MM-dd").alias(
            "week"
        )
    ).agg(F.max("x").cast("long").alias("mx"))
    mom = weekly.agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum("mx").cast("long").alias("s1"),
        F.sum(F.col("mx") * F.col("mx")).cast("decimal(38,0)").alias("s2"),
    )
    nd = F.col("n_blocks").cast("double")
    mean = F.col("s1").cast("double") / nd
    var = F.col("s2").cast("double") / nd - mean * mean
    sigma = F.sqrt(var) * F.lit(0.7796968012336761)
    mu = mean - F.lit(0.5772156649015329) * sigma
    base = mom.select("n_blocks", mu.alias("mu"), sigma.alias("sigma"))
    rows = []
    for t in (30, 100, 365):
        rows.append(
            base.select(
                F.lit(t).cast("long").alias("t_days"),
                "n_blocks",
                F.floor(F.col("mu") * 1000000 + 0.5).cast("long").alias(
                    "mu_micro"
                ),
                F.floor(F.col("sigma") * 1000000 + 0.5).cast("long").alias(
                    "sigma_micro"
                ),
                F.floor(
                    (
                        F.col("mu")
                        - F.col("sigma")
                        * F.log(-F.log(1.0 - F.lit(1.0) / F.lit(float(t))))
                    )
                    * 1000000
                    + 0.5
                ).cast("long").alias("return_level_micro"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


QUERIES["window_gumbel_maxima"] = gumbel_maxima
ORACLES["window_gumbel_maxima"] = """
    WITH daily AS (
        SELECT ts::DATE AS day,
               sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS x
        FROM events GROUP BY 1
    ),
    weekly AS (
        SELECT date_trunc('week', day) AS week, max(x)::BIGINT AS mx
        FROM daily GROUP BY 1
    ),
    mom AS (
        SELECT count(*)::BIGINT AS n_blocks, sum(mx)::BIGINT AS s1,
               sum(mx::HUGEINT * mx)::HUGEINT AS s2
        FROM weekly
    ),
    fit AS (
        SELECT n_blocks,
               s1::DOUBLE / n_blocks::DOUBLE AS mean,
               sqrt(s2::DOUBLE / n_blocks::DOUBLE
                    - (s1::DOUBLE / n_blocks::DOUBLE)
                      * (s1::DOUBLE / n_blocks::DOUBLE))
               * 0.7796968012336761 AS sigma
        FROM mom
    ),
    p AS (
        SELECT n_blocks, mean - 0.5772156649015329 * sigma AS mu, sigma
        FROM fit
    )
    SELECT t.t::BIGINT AS t_days, n_blocks,
           floor(mu * 1000000 + 0.5)::BIGINT AS mu_micro,
           floor(sigma * 1000000 + 0.5)::BIGINT AS sigma_micro,
           floor((mu - sigma * ln(-ln(1.0 - 1.0 / t.t))) * 1000000
                 + 0.5)::BIGINT AS return_level_micro
    FROM p, (VALUES (30.0), (100.0), (365.0)) t(t)
"""


def xmr_chart(tables: dict[str, DataFrame]) -> DataFrame:
    """Shewhart individuals chart (XmR) — the SPC control chart for
    one-observation-per-period series: daily event value as individuals
    X, moving range mR = |X_t − X_{t−1}|, limits X̄ ± 2.66·m̄R (the
    d2=1.128 constant folded into 2.66 — PINNED literal) and the mR
    chart's own UCL 3.267·m̄R. Flags each day outside the limits — the
    judgment-free "is the process stable?" monitor that predates and
    complements ``window_cusum`` (drift accumulator) and
    ``window_anomaly_mad`` (robust z): XmR catches single excursions
    with NO tuning parameter.

    Exactness: X exact cents; mR exact integer |diff|; X̄/m̄R and limits
    are fixed-shape doubles over exact sums, micro-pinned; violation
    flags compare exact cents against the micro-pinned limits
    (identical rounded boundary on both engines).

    Scale: one day agg, one lag window, one global-stats scalar pass,
    one flag projection — calendar-bounded."""
    ev = tables["events"]
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5)).cast("long").alias("x")
    )
    w = Window.orderBy("day")
    mr = daily.select(
        "day", "x", F.abs(F.col("x") - F.lag("x").over(w)).alias("mr")
    )
    xbar = mr.agg(F.sum("x").cast("double") / F.count("*")).scalar()
    mrbar = mr.agg(
        F.sum("mr").cast("double") / F.count("mr")
    ).scalar()
    ucl = F.floor((xbar + F.lit(2.66) * mrbar) * 1000000 + 0.5) / 1000000
    lcl = F.floor((xbar - F.lit(2.66) * mrbar) * 1000000 + 0.5) / 1000000
    mr_ucl = F.floor(F.lit(3.267) * mrbar * 1000000 + 0.5) / 1000000
    return mr.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "x",
        F.col("mr").cast("long").alias("mr"),
        F.floor(ucl * 1000000 + 0.5).cast("long").alias("ucl_micro"),
        F.floor(lcl * 1000000 + 0.5).cast("long").alias("lcl_micro"),
        (F.col("x") > ucl).alias("above_ucl"),
        (F.col("x") < lcl).alias("below_lcl"),
        F.coalesce(F.col("mr") > mr_ucl, F.lit(False)).alias("mr_violation"),
    )


QUERIES["window_xmr_chart"] = xmr_chart
ORACLES["window_xmr_chart"] = """
    WITH daily AS (
        SELECT ts::DATE AS day,
               sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS x
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT day, x,
               abs(x - lag(x) OVER (ORDER BY day))::BIGINT AS mr
        FROM daily
    ),
    st AS (
        SELECT sum(x)::DOUBLE / count(*) AS xbar,
               sum(mr)::DOUBLE / count(mr) AS mrbar
        FROM m
    ),
    lim AS (
        SELECT floor((xbar + 2.66 * mrbar) * 1000000 + 0.5) / 1000000 AS ucl,
               floor((xbar - 2.66 * mrbar) * 1000000 + 0.5) / 1000000 AS lcl,
               floor(3.267 * mrbar * 1000000 + 0.5) / 1000000 AS mr_ucl
        FROM st
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, x, mr,
           floor(ucl * 1000000 + 0.5)::BIGINT AS ucl_micro,
           floor(lcl * 1000000 + 0.5)::BIGINT AS lcl_micro,
           x > ucl AS above_ucl,
           x < lcl AS below_lcl,
           coalesce(mr > mr_ucl, FALSE) AS mr_violation
    FROM m, lim
"""


def hurst_rs(tables: dict[str, DataFrame]) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis — long-range
    dependence of the daily value series: for block sizes n ∈
    {5, 10, 15, 30}, split the 30-day series into consecutive blocks,
    compute each block's rescaled range R/S (range of mean-adjusted
    cumulative deviations over population std), average per size, and
    fit H as the OLS slope of ln(R̄/S̄) on ln(n). H≈0.5 says random walk,
    H>0.5 persistent trends, H<0.5 mean reversion (Hurst 1951 / Mandelbrot)
    — the memory diagnostic behind ``window_autocorr``'s single-lag
    view. Emits one row per block size (n, n_blocks, mean R/S micro)
    plus the summary row n = −1 carrying H (the basket_poissonness
    long-form pattern).

    Exactness: block sums/ranges are exact integers until the S
    division; ln/OLS are fixed-shape doubles over ≤ 4 points,
    micro-pinned. Zero-variance blocks are excluded identically on both
    engines.

    Scale: the series is calendar-bounded; the 4× size explosion and
    (size, block) windows are domain-sized."""
    ev = tables["events"]
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5)).cast("long").alias("x")
    )
    wd = Window.orderBy("day")
    idx = daily.select((F.row_number().over(wd) - 1).alias("t"), "x").where(
        F.col("t") < 30
    )
    sized = idx.select(
        "t", "x", F.explode(F.array(*[F.lit(s) for s in (5, 10, 15, 30)])).alias("n")
    ).select("n", (F.col("t") % F.col("n")).alias("pos"),
             F.floor(F.col("t") / F.col("n")).alias("blk"), "x")
    wb = Window.partitionBy("n", "blk")
    wo = Window.partitionBy("n", "blk").orderBy("pos")
    stats = sized.select(
        "n", "blk", "pos", "x",
        F.avg(F.col("x").cast("double")).over(wb).alias("mean"),
        F.sum("x").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
    )
    z = stats.select(
        "n", "blk", "x", "mean",
        (F.col("cum").cast("double") - (F.col("pos") + 1) * F.col("mean")).alias(
            "z"
        ),
    )
    per_blk = z.groupBy("n", "blk").agg(
        (F.max("z") - F.min("z")).alias("r"),
        F.sqrt(
            F.avg(F.col("x").cast("double") * F.col("x").cast("double"))
            - F.avg(F.col("x").cast("double")) * F.avg(F.col("x").cast("double"))
        ).alias("s"),
    )
    rs = per_blk.where(F.col("s") > 0).groupBy("n").agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.avg(F.col("r") / F.col("s")).alias("rs"),
    )
    pts = rs.select(
        "n", "n_blocks", "rs",
        F.log(F.col("n").cast("double")).alias("lx"),
        F.log("rs").alias("ly"),
    )
    mom = pts.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    kd = F.col("k").cast("double")
    h = (kd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        kd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    main = pts.select(
        F.col("n").cast("long").alias("n"),
        "n_blocks",
        F.floor(F.col("rs") * 1000000 + 0.5).cast("long").alias("rs_micro"),
    )
    summary = mom.select(
        F.lit(-1).cast("long").alias("n"),
        F.col("k").alias("n_blocks"),
        F.floor(h * 1000000 + 0.5).cast("long").alias("rs_micro"),
    )
    return main.unionByName(summary)


QUERIES["window_hurst"] = hurst_rs
# Summary row n=-1 carries H in the rs column (long-form union).
ORACLES["window_hurst"] = """
    WITH daily AS (
        SELECT ts::DATE AS day,
               sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS x
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT (row_number() OVER (ORDER BY day) - 1)::BIGINT AS t, x
        FROM daily QUALIFY t < 30
    ),
    sized AS (
        SELECT s.n, t % s.n AS pos, t // s.n AS blk, x
        FROM idx CROSS JOIN (VALUES (5), (10), (15), (30)) s(n)
    ),
    stats AS (
        SELECT n, blk, pos, x,
               avg(x::DOUBLE) OVER (PARTITION BY n, blk) AS mean,
               sum(x) OVER (PARTITION BY n, blk ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM sized
    ),
    z AS (
        SELECT n, blk, x, mean,
               cum::DOUBLE - (pos + 1) * mean AS z
        FROM stats
    ),
    per_blk AS (
        SELECT n, blk, max(z) - min(z) AS r,
               sqrt(avg(x::DOUBLE * x::DOUBLE)
                    - avg(x::DOUBLE) * avg(x::DOUBLE)) AS s
        FROM z GROUP BY n, blk
    ),
    rs AS (
        SELECT n, count(*)::BIGINT AS n_blocks, avg(r / s) AS rs
        FROM per_blk WHERE s > 0 GROUP BY n
    ),
    pts AS (
        SELECT n, n_blocks, rs, ln(n::DOUBLE) AS lx, ln(rs) AS ly FROM rs
    ),
    mom AS (
        SELECT count(*)::BIGINT AS k, sum(lx) AS sx, sum(ly) AS sy,
               sum(lx * lx) AS sxx, sum(lx * ly) AS sxy
        FROM pts
    )
    SELECT n::BIGINT AS n, n_blocks,
           floor(rs * 1000000 + 0.5)::BIGINT AS rs_micro
    FROM pts
    UNION ALL
    SELECT -1::BIGINT, k,
           floor((k::DOUBLE * sxy - sx * sy)
                 / (k::DOUBLE * sxx - sx * sx) * 1000000 + 0.5)::BIGINT
    FROM mom
"""


def ljung_box(tables: dict[str, DataFrame], max_lag: int = 7) -> DataFrame:
    """Ljung–Box portmanteau whiteness test — ``window_autocorr`` reads
    one lag at a time; Q = n(n+2)·Σ_{k≤7} ρ̂²_k/(n−k) aggregates the
    first 7 into ONE is-this-noise number (χ²₇ under H₀ — Q ≫ 14 says
    the daily series carries structure worth a seasonal model; the
    pre-flight check before trusting ``window_holt_winters``'s
    residuals). Per-lag rows carry ρ̂_k (micro) with the summary row
    k = −1 carrying Q (long-form union).

    Exactness: the series is exact cents; mean-adjusted autocovariances
    are fixed-shape double sums over the 30-point series (the classic
    biased-denominator estimator, n in every lag), micro-pinned.

    Scale: one day agg; lags via 7 window lags over the daily frame —
    calendar-bounded."""
    ev = tables["events"]
    # localCheckpoint + driver-side finish (r11, the theil_sen/medallion
    # lesson): n/mean rode as scalar subqueries inside dev, and the 8-row
    # union re-derived the dev→prods→agg pipeline PER BRANCH — the plan
    # scanned events 33x with 35 subqueries. Now: one events scan into the
    # |days|-row checkpoint, ONE stats pass, ONE covariance pass, and the
    # 8 output rows are exact double arithmetic over the collected c_k
    # (same IEEE ops in the same association order as the Column form).
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(F.floor(F.col("value") * 100 + 0.5)).cast("long").alias("x"))
        .localCheckpoint()
    )
    st = daily.agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("x").cast("double") / F.count("*")).alias("mean"),
    ).collect()[0]
    n_days = int(st["n"])
    mean = float(st["mean"]) if st["mean"] is not None else 0.0
    w = Window.orderBy("day")
    dev = daily.select(
        "day", (F.col("x").cast("double") - F.lit(mean)).alias("d")
    )
    lag_cols = [
        (F.col("d") * F.lag("d", k).over(w)).alias(f"p{k}")
        for k in range(1, max_lag + 1)
    ]
    prods = dev.select("d", *lag_cols)
    c = prods.agg(
        F.sum(F.col("d") * F.col("d")).alias("c0"),
        *[F.sum(f"p{k}").alias(f"c{k}") for k in range(1, max_lag + 1)],
    ).collect()[0]
    import math

    def micro(v: float | None) -> int | None:
        return None if v is None else int(math.floor(v * 1000000 + 0.5))

    rows = []
    q_terms = []
    c0 = c["c0"]
    for k in range(1, max_lag + 1):
        ck = c[f"c{k}"]
        # a constant series has c0 == 0: rho is NULL, as 0/0 is in SQL
        rho = None if not c0 or ck is None else ck / c0
        if rho is not None:
            q_terms.append(rho * rho / (float(n_days) - k))
        rows.append((k, n_days, micro(rho)))
    if len(q_terms) == max_lag:
        s = q_terms[0]
        for t in q_terms[1:]:
            s = s + t
        q = float(n_days) * (float(n_days) + 2.0) * s
    else:
        q = None
    rows.append((-1, n_days, micro(q)))
    return ev.sparkSession.createDataFrame(
        rows, "lag long, n_days long, stat_micro long"
    )


QUERIES["window_ljung_box"] = ljung_box
# Summary row lag=-1 carries Q; autocovariances use the biased
# n-denominator convention (both engines divide identical sums).
ORACLES["window_ljung_box"] = """
    WITH daily AS (
        SELECT ts::DATE AS day,
               sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS x
        FROM events GROUP BY 1
    ),
    st AS (SELECT count(*)::BIGINT AS n,
                  sum(x)::DOUBLE / count(*) AS mean FROM daily),
    dev AS (
        SELECT day, x::DOUBLE - (SELECT mean FROM st) AS d FROM daily
    ),
    pr AS (
        SELECT d,
               d * lag(d, 1) OVER (ORDER BY day) AS p1,
               d * lag(d, 2) OVER (ORDER BY day) AS p2,
               d * lag(d, 3) OVER (ORDER BY day) AS p3,
               d * lag(d, 4) OVER (ORDER BY day) AS p4,
               d * lag(d, 5) OVER (ORDER BY day) AS p5,
               d * lag(d, 6) OVER (ORDER BY day) AS p6,
               d * lag(d, 7) OVER (ORDER BY day) AS p7
        FROM dev
    ),
    agg AS (
        SELECT sum(d * d) AS c0, sum(p1) AS c1, sum(p2) AS c2,
               sum(p3) AS c3, sum(p4) AS c4, sum(p5) AS c5,
               sum(p6) AS c6, sum(p7) AS c7
        FROM pr
    )
    SELECT k.k::BIGINT AS lag, (SELECT n FROM st) AS n_days,
           floor(CASE k.k
                 WHEN 1 THEN c1 / c0 WHEN 2 THEN c2 / c0
                 WHEN 3 THEN c3 / c0 WHEN 4 THEN c4 / c0
                 WHEN 5 THEN c5 / c0 WHEN 6 THEN c6 / c0
                 ELSE c7 / c0 END * 1000000 + 0.5)::BIGINT AS stat_micro
    FROM agg, (VALUES (1), (2), (3), (4), (5), (6), (7)) k(k)
    UNION ALL
    SELECT -1::BIGINT, (SELECT n FROM st),
           floor((SELECT n FROM st)::DOUBLE
                 * ((SELECT n FROM st)::DOUBLE + 2.0)
                 * ((c1/c0)*(c1/c0) / ((SELECT n FROM st)::DOUBLE - 1)
                    + (c2/c0)*(c2/c0) / ((SELECT n FROM st)::DOUBLE - 2)
                    + (c3/c0)*(c3/c0) / ((SELECT n FROM st)::DOUBLE - 3)
                    + (c4/c0)*(c4/c0) / ((SELECT n FROM st)::DOUBLE - 4)
                    + (c5/c0)*(c5/c0) / ((SELECT n FROM st)::DOUBLE - 5)
                    + (c6/c0)*(c6/c0) / ((SELECT n FROM st)::DOUBLE - 6)
                    + (c7/c0)*(c7/c0) / ((SELECT n FROM st)::DOUBLE - 7))
                 * 1000000 + 0.5)::BIGINT
    FROM agg
"""


def haar_energy(tables: dict[str, DataFrame]) -> DataFrame:
    """Multiresolution Haar energy — which TIME SCALE carries the daily
    series' variation? Unnormalized Haar pyramid over the first 16 days
    (the wHash integer-exactness move applied to a time series): level-1
    details are day-pair differences, level 2 pair-of-pair, … level 4
    the two-halves contrast; per level, the exact integer sum of squared
    detail coefficients. The wavelet complement of
    ``window_periodogram`` (Fourier localizes frequency, Haar localizes
    scale AND position — a single spike loads every Fourier bin but one
    Haar branch).

    Exactness: everything integer — sums/differences of exact cents,
    decimal(38,0)/HUGEINT squares; the emitted share is the single
    pinned division.

    Scale: calendar-bounded; the pyramid is log₂(16)=4 chained pairwise
    aggs on a 16-row frame."""
    ev = tables["events"]
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5)).cast("long").alias("x")
    )
    wd = Window.orderBy("day")
    # localCheckpoint: the ≤16-row base series feeds all four pyramid
    # levels AND each level's energy branch of the final union — without it
    # every union branch re-derives `daily` (full events scan + groupBy)
    # through the chained lineage, ~4 redundant corpus scans per run (the
    # multi-consumer discipline the dedup cascade applies; VERDICT r9 #2).
    cur = (
        daily.select(
            (F.row_number().over(wd) - 1).alias("t"), F.col("x").alias("a")
        )
        .where(F.col("t") < 16)
        .localCheckpoint(eager=True)
    )
    spark = ev.sparkSession
    rows = []
    for level in (1, 2, 3, 4):
        paired = cur.select(
            F.floor(F.col("t") / 2).alias("t"),
            (F.col("t") % 2 == 0).alias("is_even"),
            "a",
        )
        nxt = paired.groupBy("t").agg(
            F.sum("a").cast("long").alias("a"),
            (
                F.sum(F.when(F.col("is_even"), F.col("a")).otherwise(0))
                - F.sum(F.when(~F.col("is_even"), F.col("a")).otherwise(0))
            )
            .cast("long")
            .alias("d"),
        )
        energy = nxt.agg(
            F.coalesce(
                F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")), F.lit(0)
            ).alias("e"),
            F.count("*").cast("long").alias("n_coeffs"),
        )
        rows.append(
            energy.select(
                F.lit(level).cast("long").alias("level"),
                F.lit(2**level).cast("long").alias("scale_days"),
                "n_coeffs",
                F.col("e").cast("decimal(38,0)").alias("energy"),
            )
        )
        cur = nxt.select("t", "a")
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    wall = Window.partitionBy()
    tot = F.sum("energy").over(wall)
    return out.select(
        "level",
        "scale_days",
        "n_coeffs",
        # DOUBLE for the hash: Spark Decimal vs DuckDB HUGEINT->float64
        # canonicalize differently; the share column is the metric, the
        # raw energy is descriptive (exact under 2^53 at fixture SFs)
        F.col("energy").cast("double").alias("energy"),
        F.floor(
            F.col("energy").cast("double") / tot.cast("double") * 1000000 + 0.5
        ).cast("long").alias("share_micro"),
    )


QUERIES["window_haar_energy"] = haar_energy
# Same pyramid unrolled as chained CTEs; HUGEINT squares; detail =
# even-position partial minus odd-position partial at every level.
ORACLES["window_haar_energy"] = """
    WITH daily AS (
        SELECT ts::DATE AS day,
               sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS x
        FROM events GROUP BY 1
    ),
    l0 AS (
        SELECT (row_number() OVER (ORDER BY day) - 1)::BIGINT AS t, x AS a
        FROM daily QUALIFY t < 16
    ),
    l1 AS (
        SELECT t // 2 AS t, sum(a)::BIGINT AS a,
               (sum(CASE WHEN t % 2 = 0 THEN a ELSE 0 END)
                - sum(CASE WHEN t % 2 = 1 THEN a ELSE 0 END))::BIGINT AS d
        FROM l0 GROUP BY 1
    ),
    l2 AS (
        SELECT t // 2 AS t, sum(a)::BIGINT AS a,
               (sum(CASE WHEN t % 2 = 0 THEN a ELSE 0 END)
                - sum(CASE WHEN t % 2 = 1 THEN a ELSE 0 END))::BIGINT AS d
        FROM l1 GROUP BY 1
    ),
    l3 AS (
        SELECT t // 2 AS t, sum(a)::BIGINT AS a,
               (sum(CASE WHEN t % 2 = 0 THEN a ELSE 0 END)
                - sum(CASE WHEN t % 2 = 1 THEN a ELSE 0 END))::BIGINT AS d
        FROM l2 GROUP BY 1
    ),
    l4 AS (
        SELECT t // 2 AS t, sum(a)::BIGINT AS a,
               (sum(CASE WHEN t % 2 = 0 THEN a ELSE 0 END)
                - sum(CASE WHEN t % 2 = 1 THEN a ELSE 0 END))::BIGINT AS d
        FROM l3 GROUP BY 1
    ),
    lv AS (
        SELECT 1 AS level, 2 AS scale_days, count(*)::BIGINT AS n_coeffs,
               coalesce(sum(d::HUGEINT * d), 0)::HUGEINT AS energy FROM l1
        UNION ALL
        SELECT 2, 4, count(*)::BIGINT,
               coalesce(sum(d::HUGEINT * d), 0)::HUGEINT FROM l2
        UNION ALL
        SELECT 3, 8, count(*)::BIGINT,
               coalesce(sum(d::HUGEINT * d), 0)::HUGEINT FROM l3
        UNION ALL
        SELECT 4, 16, count(*)::BIGINT,
               coalesce(sum(d::HUGEINT * d), 0)::HUGEINT FROM l4
    )
    SELECT level::BIGINT AS level, scale_days::BIGINT AS scale_days,
           n_coeffs, energy::DOUBLE AS energy,
           floor(energy::DOUBLE / sum(energy) OVER ()::DOUBLE * 1000000
                 + 0.5)::BIGINT AS share_micro
    FROM lv
"""


def theil_sen_daily(tables: dict[str, DataFrame]) -> DataFrame:
    """Theil–Sen robust trend estimator over the DAILY purchase series —
    the median of all pairwise slopes (and the matching median intercept),
    the outlier-proof alternative to OLS that survives up to ~29% corrupt
    days (one flash-sale spike drags a least-squares line; it moves ONE
    pairwise slope family here). Completes the robust-stats shelf next to
    ``window_spearman`` (rank correlation) and ``window_rolling_beta``
    (OLS slope).

    Exactness: y is exact daily cents, t exact day offsets; each pairwise
    slope is one double division on identical integers, the median of an
    even count averages the two middle doubles IDENTICALLY on both
    engines (probed bit-equal), and rounding to 6dp happens after.

    Scale: the pair set is built EQUI-JOIN shaped from the |days|-row
    daily aggregate — rank r joins rank r+o with the offset exploded per
    row (sequence guarded to never run downward), so no BNLJ and no
    cartesian even in plan form; |days|²/2 pairs of a 30-row frame is
    435 rows. The day-rank window sorts the DAILY frame (day-count-
    bounded), never raw events."""
    ev = tables["events"]
    # localCheckpoint: the |days|-row daily aggregate feeds SEVEN
    # derivations (mn/n scalar subqueries — n twice —, the slope pipeline
    # referenced by TWO consumers through slope_med, icept_med, and the
    # final agg), and ReuseSubquery dedups none of them: un-checkpointed,
    # every one replayed the full events scan+agg (r11, the
    # medallion_recon lesson). One scan, then day-count-sized work only.
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("y")
        )
        .localCheckpoint()
    )
    mn = daily.agg(F.min("day")).scalar()
    n = daily.agg(F.count("*")).scalar()
    d = daily.select(
        F.datediff(F.col("day"), mn).cast("long").alias("t"),
        "y",
        F.row_number().over(Window.orderBy("day")).alias("rn"),
    )
    a = d.select(
        F.col("rn").alias("ra"), F.col("t").alias("ta"), F.col("y").alias("ya")
    ).where(F.col("ra") < n)
    fan = a.select(
        "ra",
        "ta",
        "ya",
        F.explode(F.sequence(F.lit(1), (n - F.col("ra")).cast("int"))).alias("o"),
    ).select("ta", "ya", (F.col("ra") + F.col("o")).alias("rb"))
    b = d.select(
        F.col("rn").alias("rb"), F.col("t").alias("tb"), F.col("y").alias("yb")
    )
    pairs = fan.join(b, "rb").select(
        (
            (F.col("yb") - F.col("ya")).cast("double")
            / (F.col("tb") - F.col("ta")).cast("double")
        ).alias("slope")
    )
    slope_med = pairs.agg(F.median("slope")).scalar()
    resid = d.select((F.col("y").cast("double") - slope_med * F.col("t")).alias("c"))
    icept_med = resid.agg(F.median("c")).scalar()
    r6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return daily.agg(
        F.count("*").cast("long").alias("n_days"),
        (F.count("*") * (F.count("*") - 1) / 2).cast("long").alias("n_pairs"),
        r6(slope_med).alias("slope6"),
        r6(icept_med).alias("intercept6"),
    )


QUERIES["window_theil_sen_daily"] = theil_sen_daily
ORACLES["window_theil_sen_daily"] = """
    WITH daily AS (
        SELECT ts::DATE AS day,
               sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS y
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    d AS (
        SELECT date_diff('day', (SELECT min(day) FROM daily), day)::BIGINT AS t,
               y, row_number() OVER (ORDER BY day) AS rn
        FROM daily
    ),
    pairs AS (
        SELECT (b.y - a.y)::DOUBLE / (b.t - a.t)::DOUBLE AS slope
        FROM d a JOIN d b ON a.rn < b.rn
    ),
    med AS (SELECT median(slope) AS m FROM pairs),
    icept AS (
        SELECT median(y::DOUBLE - (SELECT m FROM med) * t) AS c FROM d
    )
    SELECT (SELECT count(*) FROM daily)::BIGINT AS n_days,
           ((SELECT count(*) FROM daily)
            * ((SELECT count(*) FROM daily) - 1) / 2)::BIGINT AS n_pairs,
           floor((SELECT m FROM med) * 1000000 + 0.5) / 1000000 AS slope6,
           floor((SELECT c FROM icept) * 1000000 + 0.5) / 1000000 AS intercept6
"""
