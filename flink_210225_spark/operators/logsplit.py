"""DWD log parsing & stream splitting (SURVEY §2.3 P1-P9).

Reference behavior (BaseLogApp.java:46-141):
- P1 try-parse JSON, dirty rows to a side output;
- T1 new-visitor correction (see ``stateful``);
- P3 three-way split: start logs / page logs / exploded ``displays[]`` with
  the parent page_id injected into each display row.

Spark-first: ``from_json`` gives typed parse-or-NULL (the NULL side IS the
dirty stream — no exceptions, fully vectorized), filters give the split, and
``explode`` replaces the per-row display loop (BaseLogApp.java:117-127).
Each returned DataFrame is an independent projection of ONE parsed scan;
Catalyst prunes the unused struct fields per branch.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_210225_spark.functions.scalars import cond_sum, round2, round6
from flink_210225_spark.schemas import LOG_EVENT_SCHEMA


def parse_logs(raw: DataFrame, json_col: str = "value") -> tuple[DataFrame, DataFrame]:
    """P1: returns (parsed, dirty). ``parsed`` has the typed event struct;
    ``dirty`` keeps the original string for the dead-letter sink
    (BaseLogApp.java:57-70's OutputTag)."""
    with_parsed = raw.withColumn("event", F.from_json(F.col(json_col), LOG_EVENT_SCHEMA))
    # from_json yields NULL for malformed rows AND for valid JSON of a
    # totally different shape (all fields NULL) — match the reference's
    # "parseable at all" notion by requiring at least ts or common.
    ok = F.col("event").isNotNull() & (
        F.col("event.ts").isNotNull() | F.col("event.common").isNotNull()
    )
    return with_parsed.filter(ok), with_parsed.filter(~ok).drop("event")


def _start(parsed: DataFrame) -> DataFrame:
    return parsed.filter(F.col("event.start").isNotNull()).select(
        "event.common.*", "event.start.*", F.col("event.ts").alias("ts")
    )


def _page(parsed: DataFrame) -> DataFrame:
    return parsed.filter(F.col("event.start").isNull()).select(
        "event.common.*", "event.page.*", F.col("event.ts").alias("ts")
    )


def _display(parsed: DataFrame) -> DataFrame:
    return (
        parsed.filter(F.col("event.start").isNull() & (F.size("event.displays") > 0))
        .select(
            F.col("event.common.mid").alias("mid"),
            F.col("event.page.page_id").alias("page_id"),  # injected parent id
            F.explode("event.displays").alias("display"),
            F.col("event.ts").alias("ts"),
        )
        .select("mid", "page_id", "display.*", "ts")
    )


class _Branches(Mapping):
    """The three branches of one parsed stream, each built on first access."""

    _BUILD = {"start": _start, "page": _page, "display": _display}

    def __init__(self, parsed: DataFrame):
        self._parsed = parsed
        self._built: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._built:
            self._built[name] = self._BUILD[name](self._parsed)
        return self._built[name]

    def __iter__(self) -> Iterator[str]:
        return iter(self._BUILD)

    def __len__(self) -> int:
        return len(self._BUILD)


def split_log_stream(parsed: DataFrame) -> Mapping[str, DataFrame]:
    """P3: start / page / display branches off one parsed stream
    (BaseLogApp.java:103-141). A branch is built when it is first looked
    up: Spark analyses every DataFrame op as it is made, about 10 ms each
    over the parsed event struct, and a per-micro-batch sink that uses one
    branch should not build all three."""
    return _Branches(parsed)


# --- Fixture-table queries (driver-checkable analogs) ---


def props_extract(tables: dict[str, DataFrame]) -> DataFrame:
    """P1/F9 analog on fixtures: typed JSON field extraction from the events
    ``props`` payload (the reference's page['item'] map access,
    KeywordStatsApp.java:42-46). get_json_object stays JVM-side."""
    ev = tables["events"]
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


def padzero_union_metrics(tables: dict[str, DataFrame]) -> DataFrame:
    """P7: the pad-zero union pattern — each source projected into the common
    wide schema with its one metric seeded, unionByName, then one aggregation
    (VisitorStatsApp.java:48-83; ProductStatsApp.java:120-202).

    Deliberately built as N projections + unionByName (not conditional sums)
    to exercise the operator shape; the oracle proves the two formulations
    equivalent. Catalyst collapses the union branches back into one scan."""
    ev = tables["events"]

    def seeded(event_type: str, metric: str, metrics: list[str]) -> DataFrame:
        cols = [F.col("user_id")]
        for m in metrics:
            cols.append(
                (F.lit(1) if m == metric else F.lit(0)).alias(m)
            )
        cols.append(
            (F.col("value") if metric == "purchase_ct" else F.lit(0.0)).alias("amount")
        )
        return ev.filter(F.col("event_type") == event_type).select(*cols)

    metrics = ["pv_ct", "click_ct", "purchase_ct", "error_ct", "signup_ct"]
    branches = [
        seeded("view", "pv_ct", metrics),
        seeded("click", "click_ct", metrics),
        seeded("purchase", "purchase_ct", metrics),
        seeded("error", "error_ct", metrics),
        seeded("signup", "signup_ct", metrics),
    ]
    unioned = branches[0]
    for b in branches[1:]:
        unioned = unioned.unionByName(b)
    return unioned.groupBy("user_id").agg(
        F.sum("pv_ct").alias("pv_ct"),
        F.sum("click_ct").alias("click_ct"),
        F.sum("purchase_ct").alias("purchase_ct"),
        F.sum("error_ct").alias("error_ct"),
        F.sum("signup_ct").alias("signup_ct"),
        round2(F.sum("amount")).alias("purchase_amount"),
    )


def page_flatmap_metrics(tables: dict[str, DataFrame]) -> DataFrame:
    """P6/P8 analog: conditional flag rows — click row iff page_id=='good_detail'
    (here event_type=='click'), good-comment flag iff appraise=='1201' (here
    value>=30) — computed as when() guards inside one pass."""
    ev = tables["events"]
    return ev.groupBy("event_type").agg(
        cond_sum(F.col("value") >= 30.0).alias("flag_ct"),
        cond_sum(F.get_json_object("props", "$.k").cast("int") > 50).alias("high_k_ct"),
    )


def error_burn_rate(tables: dict[str, DataFrame]) -> DataFrame:
    """SLO burn-rate accounting over the event stream — the SRE rollup on
    top of the log family: with a 2% error-rate objective (pinned), an
    hour is IN BURN iff errors·50 > total (the exact-integer spelling of
    rate > 2%), and each day reports its burning hours, worst hour, and
    the day-level burn multiple (observed rate / objective = one pinned
    division of exact integers ×50). Multi-window burn alerting composes
    by running the same rule at other grains.

    Plan: one (day, hour) partial agg off the fact scan; everything after
    is calendar-bounded."""
    ev = tables["events"]
    hourly = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.hour("ts").alias("hr"),
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("errs"),
    )
    r6 = round6
    return hourly.groupBy(F.col("day").cast("string").alias("day")).agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum(F.when(F.col("errs") * 50 > F.col("n"), 1).otherwise(0))
        .cast("long")
        .alias("burn_hours"),
        F.sum("n").cast("long").alias("n_events"),
        F.sum("errs").cast("long").alias("n_errors"),
        r6(
            (F.sum("errs") * 50).cast("double") / F.sum("n").cast("double")
        ).alias("burn_multiple"),
    )


QUERIES = {
    "log_props_extract": props_extract,
    "log_padzero_union": padzero_union_metrics,
    "log_flag_rows": page_flatmap_metrics,
    "log_error_burn_rate": error_burn_rate,
}

ORACLES = {
    # errors·50 > total is the exact spelling of rate > 2%; the burn
    # multiple is one pinned division of exact integers.
    "log_error_burn_rate": """
        WITH hourly AS (
            SELECT date_trunc('day', ts)::DATE AS day, hour(ts) AS hr,
                   count(*)::BIGINT AS n,
                   sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS errs
            FROM events GROUP BY 1, 2
        )
        SELECT day::VARCHAR AS day, count(*)::BIGINT AS n_hours,
               sum(CASE WHEN errs * 50 > n THEN 1 ELSE 0 END)::BIGINT AS burn_hours,
               sum(n)::BIGINT AS n_events, sum(errs)::BIGINT AS n_errors,
               floor((sum(errs) * 50)::DOUBLE / sum(n)::DOUBLE * 1000000 + 0.5)
                 / 1000000 AS burn_multiple
        FROM hourly GROUP BY day
    """,
    "log_props_extract": """
        SELECT event_id, CAST(props->>'$.k' AS INT) AS k FROM events
    """,
    "log_padzero_union": """
        SELECT user_id,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS pv_ct,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click_ct,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase_ct,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error_ct,
               sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup_ct,
               floor((sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END)) * 100 + 0.5) / 100
                   AS purchase_amount
        FROM events
        WHERE event_type IN ('view','click','purchase','error','signup')
        GROUP BY user_id
    """,
    "log_flag_rows": """
        SELECT event_type,
               sum(CASE WHEN value >= 30.0 THEN 1 ELSE 0 END)::BIGINT AS flag_ct,
               sum(CASE WHEN CAST(props->>'$.k' AS INT) > 50 THEN 1 ELSE 0 END)::BIGINT AS high_k_ct
        FROM events
        GROUP BY event_type
    """,
}


def grok_router(tables: dict[str, DataFrame]) -> DataFrame:
    """Multi-pattern log routing — the grok-pipeline generalization of the
    reference's P1 single-format parse + dirty side output
    (BaseLogApp.java's JSON-or-dirty fork): REAL text lines arrive in
    three formats (access, error, metric — synthesized deterministically
    from events and round-tripped through a genuine text write/read), a
    pattern ladder tries each regex in order, the first match tags the
    line's route and extracts its fields, and lines matching nothing land
    in the ``__unparsed__`` side output (every 11th line is torn
    mid-field to guarantee that route exists). Per route: line count and
    an extracted-value checksum, so a router that misroutes one format or
    swallows the dirty line moves an aggregate.

    Scale: stateless regex ladder inside codegen over a splittable text
    scan; one map-side-combined rollup — the same envelope as the other
    dirty sources."""
    from flink_210225_spark.streaming.pipelines import _scratch

    ev = tables["events"]
    spark = ev.sparkSession
    line = (
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(
                F.lit("ACCESS u"),
                F.col("user_id"),
                F.lit(" GET /p/"),
                F.col("event_id"),
                F.lit(" 200"),
            ),
        )
        .when(
            F.col("event_id") % 3 == 1,
            F.concat(
                F.lit("ERROR code="),
                (F.col("event_id") % 7).cast("long"),
                F.lit(" u"),
                F.col("user_id"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("METRIC v="),
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
                F.lit(" e"),
                F.col("event_id"),
            )
        )
    )
    torn = F.when(
        F.col("event_id") % 11 == 0, F.substring(line, 1, 9)
    ).otherwise(line)
    out = _scratch(prefix="grok_src_")
    ev.select(torn.alias("value")).write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    pats = {
        "access": r"^ACCESS u([0-9]+) GET /p/([0-9]+) ([0-9]{3})$",
        "error": r"^ERROR code=([0-9]+) u([0-9]+)$",
        "metric": r"^METRIC v=(-?[0-9]+) e([0-9]+)$",
    }
    route = (
        F.when(F.col("value").rlike(pats["access"]), F.lit("access"))
        .when(F.col("value").rlike(pats["error"]), F.lit("error"))
        .when(F.col("value").rlike(pats["metric"]), F.lit("metric"))
        .otherwise(F.lit("__unparsed__"))
    )
    extracted = (
        F.when(
            F.col("value").rlike(pats["access"]),
            F.regexp_extract("value", pats["access"], 1).cast("long"),
        )
        .when(
            F.col("value").rlike(pats["error"]),
            F.regexp_extract("value", pats["error"], 1).cast("long"),
        )
        .when(
            F.col("value").rlike(pats["metric"]),
            F.regexp_extract("value", pats["metric"], 1).cast("long"),
        )
        .otherwise(F.lit(0))
    )
    return raw.select(route.alias("route"), extracted.alias("x")).groupBy(
        "route"
    ).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("x").cast("long").alias("checksum"),
    )


QUERIES["log_grok_router"] = grok_router
# Replay from parquet: the %11 torn lines can never match a full pattern
# (every pattern is end-anchored past 9 chars), so they form the
# __unparsed__ route; each surviving route's checksum replays its first
# capture group.
ORACLES["log_grok_router"] = """
    SELECT CASE WHEN event_id % 11 = 0 THEN '__unparsed__'
                WHEN event_id % 3 = 0 THEN 'access'
                WHEN event_id % 3 = 1 THEN 'error'
                ELSE 'metric' END AS route,
           count(*)::BIGINT AS n_lines,
           sum(CASE WHEN event_id % 11 = 0 THEN 0
                    WHEN event_id % 3 = 0 THEN user_id
                    WHEN event_id % 3 = 1 THEN event_id % 7
                    ELSE floor(value * 100 + 0.5)::BIGINT END)::BIGINT
               AS checksum
    FROM events GROUP BY 1
"""


def template_mining(tables: dict[str, DataFrame]) -> DataFrame:
    """Log-template mining (Drain-lite): DISCOVER message templates by
    masking the variable fields, then profile each template — the
    log-analytics primitive ``grok_router`` presupposes (grok routes by
    KNOWN patterns; mining is how you learn what patterns exist in a feed
    you don't control). Raw lines are synthesized printf-style from events
    (user/value/timestamp variables, an optional retry suffix every third
    line, an error-code field on error events), masked with ONE regex pass
    (digit runs → <N>), and rolled up per discovered template: volume,
    distinct users, value mass.

    Scale: masking is a stateless codegen projection riding the scan; the
    rollup keys on the template string (low cardinality by construction of
    any real log feed — that is WHY template mining works), one Exchange."""
    ev = tables["events"]
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    line = F.concat(
        F.lit("user "),
        F.col("user_id").cast("string"),
        F.lit(" did "),
        F.col("event_type"),
        F.lit(" value="),
        cents.cast("string"),
        F.lit(" at "),
        F.date_format("ts", "yyyyMMddHHmmss"),
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(F.lit(" retry="), (F.col("event_id") % 5).cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("event_type") == "error",
            F.concat(F.lit(" code="), (F.col("event_id") % 7).cast("string")),
        ).otherwise(F.lit("")),
    )
    masked = ev.select(
        "user_id",
        cents.alias("cents"),
        F.regexp_replace(line, "[0-9]+", "<N>").alias("template"),
    )
    return masked.groupBy("template").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("cents"),
    )


QUERIES["log_template_mining"] = template_mining
ORACLES["log_template_mining"] = """
    WITH lines AS (
        SELECT user_id, floor(value * 100 + 0.5)::BIGINT AS cents,
               regexp_replace(
                   'user ' || user_id::VARCHAR || ' did ' || event_type
                   || ' value=' || floor(value * 100 + 0.5)::BIGINT::VARCHAR
                   || ' at ' || strftime(ts, '%Y%m%d%H%M%S')
                   || CASE WHEN event_id % 3 = 0
                           THEN ' retry=' || (event_id % 5)::VARCHAR
                           ELSE '' END
                   || CASE WHEN event_type = 'error'
                           THEN ' code=' || (event_id % 7)::VARCHAR
                           ELSE '' END,
                   '[0-9]+', '<N>', 'g') AS template
        FROM events
    )
    SELECT template, count(*)::BIGINT AS n_lines,
           count(DISTINCT user_id)::BIGINT AS n_users,
           sum(cents)::BIGINT AS cents
    FROM lines GROUP BY 1
"""
