"""SparkSession factory.

The reference hardcodes +08:00 wall-clock handling
(gmall-realtime utils/DateTimeUtil.java:24); we instead pin the session
timezone to UTC so event-time windows are deterministic and match the
DuckDB oracle (which operates on naive timestamps). All date/window
semantics in this engine assume UTC.

Scale posture: AQE on (runtime coalescing + skew-join splitting), a
shuffle-partition default sized for local[32] test runs but overridable via
``SPARK_GRAFT_SHUFFLE_PARTITIONS`` for cluster deployments, and broadcast
threshold generous enough that every dimension table in the star schema
broadcasts (dims are ≤ a few MB per 100 TB-scale fact data).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def _default_driver_mem() -> str:
    """Local-mode driver-heap default, derived from the host (ADVICE r8 #3).

    The JVM default (1g) is also the EXECUTOR heap in local mode and GC-
    thrashes a full-registry bench run; 16g fixed that on the 128 GiB bench
    box but would push a small dev machine into swap/OOM-kill. So: a
    quarter of physical RAM, clamped to [2g, 16g]; SPARK_GRAFT_DRIVER_MEM
    overrides unconditionally.
    """
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        total_gib = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) / (
            1024**3
        )
    except (ValueError, OSError, AttributeError):  # non-POSIX: keep it modest
        return "4g"
    return f"{max(2, min(16, int(total_gib // 4)))}g"


def get_spark(
    app_name: str = "flink_210225_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # Local-mode driver heap: the JVM default is 1g, which is also the
        # EXECUTOR heap in local mode — the round-8 clean bench OOMed
        # ~460 queries in (accumulated broadcast blocks + AQE stage state
        # across 3 reps × full registry in one JVM), and the earlier
        # late-rep slowdowns were this heap's GC pressure. Default derives
        # from physical RAM (quarter, clamped [2g,16g] — 16g on the
        # 128 GiB bench box) so small dev machines don't swap;
        # SPARK_GRAFT_DRIVER_MEM overrides. Only effective when this
        # builder launches the JVM (ignored on getOrCreate of a live
        # session — harmless).
        .config("spark.driver.memory", _default_driver_mem())
        # AQE: runtime shuffle coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # parallelismFirst: Spark's docs suggest false (respect the
        # advisory partition size) — measured A/B over an 18-query
        # cross-family subset in round 10:
        # false REGRESSED the shingle/join pipelines 40-110% at fixture
        # scale (post-shuffle stages coalesce to 1-2 tasks and lose the
        # parallelism the partial-topk/fold work needs) and won only on
        # a few Python-after-shuffle stages; net -17% suite-side. Default
        # stays true (Spark's own default); env-overridable for cluster
        # profiles where the 64 MB advisory floor is the right target.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"),
        )
        # preferSortMergeJoin: guide §3.1/§9 — allowing shuffled-hash join
        # when its size conditions fit skips both sort passes. A/B'd over
        # a join-heavy subset in round 10: one
        # session pair showed ~15% join-side wins, the re-run was inside
        # this host's session jitter — not adopted on local evidence.
        # Env-overridable so cluster profiles (where SHJ's win is
        # size-condition-driven, not noise-bound) can re-measure.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "true"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Dim tables (region/nation/customer/supplier/part) stay broadcast-able
        # well past sf1; the reference's async-lookup+Redis cache (J3) is
        # replaced wholesale by broadcast hash joins.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for pandas UDF paths (tokenizer, minhash, multimodal stubs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.streaming.schemaInference", "false")
        # The fixture events table stores ts as TIMESTAMP(NANOS), which the
        # Parquet reader rejects; read it as a long (nanos) and normalize in
        # io.load_table (nanos are micro-aligned in the fixtures — lossless).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if master is not None:
        builder = builder.config("spark.master", master)
    elif "spark.master" not in os.environ.get("SPARK_CONF", ""):
        builder = builder.config("spark.master", f"local[{DEFAULT_CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
