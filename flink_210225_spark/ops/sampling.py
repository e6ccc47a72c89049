"""Deterministic sampling / split / balancing for training-data pipelines.

These are the dataset-assembly ops that sit between dedup and training:
- **hash_split**: content-keyed train/val/test assignment. The split key is
  md5(text), NOT doc_id or random(): byte-identical documents always land in
  the same split, so surviving duplicates can never leak train→test; re-runs
  and backfills assign identically with zero stored state. Pure projection —
  no shuffle, scales embarrassingly.
- **quota_per_group**: per-(lang, source) document cap with a deterministic
  priority (md5 order = stable pseudo-random), the standard "balance the
  mixture" step. One shuffle keyed by the group — and it is skew-safe as
  written: Catalyst rewrites `row_number() <= k` filters into a
  `WindowGroupLimit ... Partial` BEFORE the Exchange (Spark 3.5+), keeping
  ≤ quota rows per (group, map partition), so a group holding half the
  corpus ships ≤ quota × n_partitions rows to its reducer, not half the
  corpus. The manual two-phase spark_partition_id() prefilter would be
  redundant; test_plans gates the WindowGroupLimit so a conf regression
  (spark.sql.window.group.limit.threshold = -1) is caught.

Both are fully SQL-expressible (md5 is identical hex in Spark and DuckDB),
so both carry exact oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_210225_spark.functions.scalars import round6

# First hex char of md5(text) → 16 equiprobable buckets:
# 0-9,a,b = train (75%), c,d = val (12.5%), e,f = test (12.5%).
_VAL = ("c", "d")
_TEST = ("e", "f")


def hash_split(tables: dict[str, DataFrame]) -> DataFrame:
    """Assign every document a stable train/val/test split from its content
    hash. 12/2/2 sixteenths ≈ 75/12.5/12.5."""
    docs = tables["documents"]
    h1 = F.substring(F.md5("text"), 1, 1)
    split = (
        F.when(h1.isin(*_VAL), F.lit("val"))
        .when(h1.isin(*_TEST), F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return docs.select("doc_id", split.alias("split"))


def quota_per_group(tables: dict[str, DataFrame], quota: int = 10) -> DataFrame:
    """Keep at most ``quota`` documents per (lang, source), chosen by stable
    md5 priority (doc_id tiebreak for byte-identical texts). Returns the
    surviving docs with their in-group priority rank."""
    docs = tables["documents"]
    w = Window.partitionBy("lang", "source").orderBy(F.md5("text"), F.col("doc_id"))
    return (
        docs.withColumn("priority", F.row_number().over(w))
        .filter(F.col("priority") <= quota)
        .select("doc_id", "lang", "source", "priority")
    )


# Per-language keep rates for mixture rebalancing; 2-hex-char md5 prefix
# comparison = deterministic Bernoulli at 1/256 granularity ('zz' > 'ff'
# keeps everything). Same content-keyed property as hash_split: identical
# texts get identical keep/drop decisions.
MIXTURE_THRESHOLDS = {"en": "40"}  # en → 64/256 = 25 %; everything else 100 %


def mixture_downsample(
    tables: dict[str, DataFrame], thresholds: dict[str, str] | None = None
) -> DataFrame:
    """Rate-based mixture rebalancing: downsample over-represented groups to
    target keep-rates (the rate sibling of ``quota_per_group``'s count cap).
    Stateless projection — no shuffle, streams unchanged, reruns agree."""
    docs = tables["documents"]
    thresholds = MIXTURE_THRESHOLDS if thresholds is None else thresholds
    h2 = F.substring(F.md5("text"), 1, 2)
    thr = F.lit("zz")
    for lang, t in sorted(thresholds.items()):
        thr = F.when(F.col("lang") == lang, F.lit(t)).otherwise(thr)
    return docs.filter(h2 < thr).select("doc_id", "lang")


def stratified_exact_split(
    tables: dict[str, DataFrame], val_frac: float = 0.1, test_frac: float = 0.1
) -> DataFrame:
    """Exact-proportion stratified split: within each language, documents
    ordered by stable md5 priority are cut at exact fractional boundaries —
    every stratum gets val/test shares correct to ±1 document, where
    ``hash_split``'s bucketing is only correct in expectation (±√n noise,
    which starves small strata). The trade: adding documents RESHUFFLES
    assignments near boundaries (percent_rank moves), so use this for
    frozen snapshots and ``hash_split`` for growing corpora — that pairing
    is why both exist.

    One shuffle (per-lang window sort on the digest); the md5 order makes
    the cut a stable pseudo-random sample, and the doc_id tiebreak keeps
    byte-identical texts adjacent — but unlike hash_split, exact dup pairs
    CAN straddle a boundary; dedup before splitting (keep_best_dedup) if
    that matters."""
    docs = tables["documents"]
    w = Window.partitionBy("lang").orderBy(F.md5("text"), F.col("doc_id"))
    pr = F.percent_rank().over(w)
    split = (
        F.when(pr < val_frac, F.lit("val"))
        .when(pr < val_frac + test_frac, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return docs.select("doc_id", "lang", split.alias("split"))


def temperature_weights(
    tables: dict[str, DataFrame], alpha: float = 0.3
) -> DataFrame:
    """Temperature-based mixture weights: per-language sampling shares
    q_l ∝ (n_l/N)^α (α = 0.3, the multilingual-pretraining exponent from
    XLM-R / mT5 — α = 1 keeps the natural mixture, α → 0 approaches
    uniform), plus the up/down-sampling factor q_l / p_l each language
    needs to realize the target mixture. This computes the POLICY;
    ``mixture_downsample`` (rate thresholds) or repetition-based
    upsampling applies it.

    Scale: one map-side-combined count per language — the only data-sized
    pass; everything after runs on the language-count table (dozens of
    rows), where global-frame windows are free. Rounded to 6dp half-up on
    both engines (pow differs ≤ 1 ulp between libm and java.lang.Math)."""
    docs = tables["documents"]
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy()
    share = F.col("n_docs") / F.sum("n_docs").over(w)
    t = counts.select(
        "lang", "n_docs", share.alias("share"), F.pow(share, F.lit(alpha)).alias("ts")
    )
    temp_share = F.col("ts") / F.sum("ts").over(w)

    def r6(c):
        return F.floor(c * 1000000 + 0.5) / 1000000

    return t.select(
        "lang",
        "n_docs",
        r6(F.col("share")).alias("share"),
        r6(temp_share).alias("temp_share"),
        r6(temp_share / F.col("share")).alias("sample_factor"),
    )


def temperature_downsample(
    tables: dict[str, DataFrame], alpha: float = 0.3
) -> DataFrame:
    """APPLY the temperature policy: languages with sample_factor < 1 are
    downsampled to exactly that rate with a content-keyed deterministic
    Bernoulli (first 8 md5 hex chars as a uniform over 2³², compared against
    the factor converted to a zero-padded hex threshold — engine-identical
    because the 6dp-rounded factor maps to the same 32-bit integer on both
    sides). Languages at factor ≥ 1 pass through; realizing their UPsampling
    (repeating docs) is the trainer's loop, not a filter.

    Scale: the policy table is language-sized and broadcast; the pass is a
    stateless filter over one scan — stream-composable like
    ``mixture_downsample``, whose fixed thresholds this replaces with the
    data-derived XLM-R mixture."""
    docs = tables["documents"]
    wts = temperature_weights(tables, alpha).select("lang", "sample_factor")
    thr = F.lower(
        F.lpad(
            F.hex(F.floor(F.col("sample_factor") * F.lit(4294967296.0)).cast("bigint")),
            8,
            "0",
        )
    )
    keep = (F.col("sample_factor") >= 1) | (F.substring(F.md5("text"), 1, 8) < thr)
    return (
        docs.join(F.broadcast(wts), "lang").filter(keep).select("doc_id", "lang")
    )


def temperature_repeat_plan(
    tables: dict[str, DataFrame], alpha: float = 0.3
) -> DataFrame:
    """The FULL temperature-mixture realization: per document, how many
    copies the training stream should carry — floor(factor) guaranteed
    repeats plus one more with probability frac(factor) (content-keyed hex
    Bernoulli, same engine-identical threshold trick as
    ``temperature_downsample``, which this generalizes: factor < 1 langs
    get n_copies ∈ {0,1} ≡ the downsample filter; factor > 1 langs get
    their XLM-R epoch multiplier). Expected copies per doc = factor
    exactly; the trainer consumes n_copies directly or via
    explode(sequence(1, n_copies))."""
    docs = tables["documents"]
    wts = temperature_weights(tables, alpha).select("lang", "sample_factor")
    frac = F.col("sample_factor") - F.floor(F.col("sample_factor"))
    thr = F.lower(
        F.lpad(F.hex(F.floor(frac * F.lit(4294967296.0)).cast("bigint")), 8, "0")
    )
    extra = F.when(F.substring(F.md5("text"), 1, 8) < thr, 1).otherwise(0)
    return docs.join(F.broadcast(wts), "lang").select(
        "doc_id",
        "lang",
        (F.floor("sample_factor").cast("long") + extra).alias("n_copies"),
    )


def curriculum_deciles(tables: dict[str, DataFrame], n_buckets: int = 10) -> DataFrame:
    """Curriculum-learning buckets: NTILE deciles of quality within each
    language (decile 10 = highest quality — train on it first / last per
    your curriculum policy). Per-language so a low-resource language's
    curriculum isn't dictated by the high-resource quality distribution —
    the same per-lang-adaptive posture as ``quality_top_quantile``.

    One shuffle (lang window sort); NTILE is exact rank bucketing, so
    bucket sizes differ by ≤1 within a language. Ties on quality break by
    doc_id for cross-engine determinism."""
    from flink_210225_spark.ops.text import _quality_expr, tokens_col

    docs = tables["documents"]
    base = docs.select(
        "doc_id", "lang", _quality_expr(tokens_col(F.col("text"))).alias("quality")
    )
    w = Window.partitionBy("lang").orderBy(F.asc("quality"), F.asc("doc_id"))
    return base.select(
        "doc_id", "lang", "quality", F.ntile(n_buckets).over(w).alias("decile")
    )


def shuffle_shards(tables: dict[str, DataFrame], n_shards: int = 64) -> DataFrame:
    """Deterministic global training shuffle: each document gets a stable
    pseudo-random shard and an in-shard position — the layout a trainer
    reads sequentially to see the corpus in (fixed-seed) shuffled order.
    Keyed by doc_id (not content) so exact duplicates still land at
    independent positions; the 'shuf:' prefix is the seed — change it to
    re-shuffle every epoch deterministically.

    Scale: this is how you shuffle 100 TB WITHOUT a global sort. shard =
    first 32 hash bits mod n_shards is a stateless projection; the only
    shuffle is the per-shard window sort (each shard ≈ N/n_shards rows,
    sorted independently — no single-task global ORDER BY anywhere).
    Written out partitioned-by-shard, the trainer's "read shard s in pos
    order" is a partition-pruned sequential scan."""
    docs = tables["documents"]
    skey = F.md5(F.concat_ws(":", F.lit("shuf"), F.col("doc_id").cast("string")))
    base = docs.select("doc_id", skey.alias("skey"))
    shard = (F.conv(F.substring("skey", 1, 8), 16, 10).cast("long") % n_shards).alias(
        "shard"
    )
    keyed = base.select("doc_id", "skey", shard)
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return keyed.select(
        "doc_id", "skey", "shard", F.row_number().over(w).cast("long").alias("pos")
    )


def reservoir_weighted(tables: dict[str, DataFrame], k: int = 20) -> DataFrame:
    """Weighted reservoir sampling WITHOUT replacement (Efraimidis–Spirakis
    A-ES), derandomized: each document draws u ∈ (0,1] from a seeded md5
    hash and competes on key = ln(u)/w — taking the per-language top-k by
    that key is EXACTLY a weighted sample without replacement with
    inclusion ∝ weight (here w = token count: a token-budget-aware doc
    pick). The hash-derived u makes the "random" sample reproducible,
    backfill-stable, and cross-engine replayable — the same property
    hash_split buys for splits.

    This is the canonical DISTRIBUTED reservoir: no sequential scan state
    (classic reservoir sampling is single-stream), just a stateless key
    projection + per-group top-k, which Catalyst executes with a partial
    WindowGroupLimit before the Exchange — each map partition forwards at
    most k rows per language, so a 100 TB corpus ships k·partitions rows,
    not itself. Key ties are broken by doc_id; cross-engine double-order
    risk is the same sub-ulp ln() class the tfidf ranking already carries
    (adjacent-key gaps ~1e-5 vs noise ~1e-16)."""
    docs = tables["documents"]
    w_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit("resv"), F.col("doc_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        + 1
    ) / F.lit(4503599627370497.0)  # 2^52 + 1 → u ∈ (0, 1]
    base = docs.select(
        "lang", "doc_id", w_tok.alias("n_tokens"), (F.log(u) / w_tok).alias("key")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("key"), F.asc("doc_id"))
    ranked = base.select(
        "lang",
        "doc_id",
        "n_tokens",
        "key",
        F.row_number().over(w).cast("long").alias("rank"),
    )
    return ranked.filter(F.col("rank") <= k).select(
        "lang",
        "rank",
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.floor(F.col("key") * 100000000 + 0.5) / 100000000).alias("key_r"),
    )


def kfold_assign(tables: dict[str, DataFrame], k: int = 5) -> DataFrame:
    """K-fold cross-validation assignment — the eval-protocol sibling of
    ``hash_split`` (that one cuts train/val/test once; k-fold gives every
    doc exactly one held-out fold for variance-aware evaluation). Keyed by
    CONTENT hash, so byte-identical duplicates always share a fold and can
    never sit on both sides of a CV boundary — the same leak guard the
    split op carries. fold = first-32-md5-bits mod k (uniform, stable,
    re-run-identical); fold_size rides a fold-keyed window so the
    assignment table doubles as the balance report. Stateless projection +
    one k-sized window — no shuffle of consequence at any scale."""
    docs = tables["documents"]
    fold = F.pmod(
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long"), F.lit(k)
    )
    base = docs.select("doc_id", fold.alias("fold"))
    w = Window.partitionBy("fold")
    return base.select(
        "doc_id", "fold", F.count("*").over(w).alias("fold_size")
    )


def epoch_plan(
    tables: dict[str, DataFrame], budget_mult: int = 4, max_epochs: int = 16
) -> DataFrame:
    """Data-constrained epoch-repetition plan (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models") — given a token budget,
    how many epochs to repeat each source. The budget is ``budget_mult``×
    the corpus (the regime where repeating data still pays), split
    EVENLY across sources (the balance move: scarce domains repeat more,
    abundant ones less — the whole point of a repetition plan; a
    proportional split would give every source the same epoch count).
    epochs = clamp(share // source_tokens, 1, ``max_epochs``) — pure
    integer division, cross-engine exact; utilization = 4dp ratio of
    realized to granted tokens. One source-keyed partial agg (map-side
    combine), then a sources-sized frame — one Exchange of |sources|
    rows at any corpus size."""
    docs = tables["documents"]
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long")
        .alias("src_tokens"),
    )
    n_src = F.count("*").over(Window.partitionBy())
    total = F.sum("src_tokens").over(Window.partitionBy())
    granted = F.floor((total * budget_mult) / n_src).cast("long")
    epochs = F.least(
        F.lit(max_epochs).cast("long"),
        F.greatest(F.lit(1).cast("long"), F.floor(granted / F.col("src_tokens"))),
    ).cast("long")
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return per_src.select(
        "source",
        "n_docs",
        "src_tokens",
        granted.alias("granted_tokens"),
        epochs.alias("epochs"),
        (epochs * F.col("src_tokens")).alias("realized_tokens"),
        r4(epochs * F.col("src_tokens") / granted).alias("utilization"),
    )


def winsorize_values(
    tables: dict[str, DataFrame], lo_q: float = 0.01, hi_q: float = 0.99
) -> DataFrame:
    """Percentile winsorization of the event value — the outlier-clamp
    preprocessing step robust training/statistics pipelines run before
    means matter (clip, don't drop: the row survives, the tail can't
    dominate the loss). Global p1/p99 thresholds attach as two scalar
    subqueries (interpolated percentile — the quantile_cont-parity
    contract); per event type: rows clipped each side and the raw vs
    winsorized means, with every sum flowing as exact integer cents so
    summation order can't flip the 4dp rounding.

    Plan: one percentile pass + one type-keyed agg pass — two scans, no
    joins; the thresholds are the only driver-visible values."""
    ev = tables["events"]
    lo = ev.agg(F.percentile("value", F.lit(lo_q))).scalar()
    hi = ev.agg(F.percentile("value", F.lit(hi_q))).scalar()
    clipped = F.least(F.greatest(F.col("value"), lo), hi)
    cents = lambda c: F.floor(c * 100 + F.lit(0.5)).cast("long")  # noqa: E731
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    agg = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.when(F.col("value") < lo, 1).otherwise(0))
        .cast("long")
        .alias("n_clip_lo"),
        F.sum(F.when(F.col("value") > hi, 1).otherwise(0))
        .cast("long")
        .alias("n_clip_hi"),
        F.sum(cents(F.col("value"))).cast("long").alias("raw_cents"),
        F.sum(cents(clipped)).cast("long").alias("win_cents"),
    )
    return agg.select(
        "event_type",
        "n_events",
        "n_clip_lo",
        "n_clip_hi",
        r4(F.col("raw_cents") / F.col("n_events") / 100).alias("mean_raw"),
        r4(F.col("win_cents") / F.col("n_events") / 100).alias("mean_winsorized"),
    )


def class_weights(tables: dict[str, DataFrame]) -> DataFrame:
    """Inverse-frequency class-balance weights per language — the loss-
    weighting companion to the resampling ops (``quota_per_group`` and
    ``mixture_downsample`` change WHAT is sampled; class weights leave
    the data alone and reweight the LOSS, sklearn's ``class_weight=
    'balanced'`` rule w_c = N/(K·n_c)). Emitted raw and normalized to
    sum 1 (both 6dp), with the doc share — the report a trainer reads
    before picking either strategy. Weights are ratios of exact BIGINT
    counts computed in one pass; the normalized form divides by the raw
    weights' CLOSED-FORM total recomputed the same way on both engines.

    Plan: one language-keyed partial agg, then a K-sized window — one
    Exchange of |languages| rows at any corpus size."""
    docs = tables["documents"]
    per = docs.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    n_tot = F.sum("n_docs").over(Window.partitionBy())
    k_cls = F.count("*").over(Window.partitionBy())
    w_raw = n_tot / (k_cls * F.col("n_docs"))
    w_sum = F.sum(n_tot / (k_cls * F.col("n_docs"))).over(Window.partitionBy())
    r6 = round6
    return per.select(
        "lang",
        "n_docs",
        r6(F.col("n_docs") / n_tot).alias("doc_share"),
        r6(w_raw).alias("weight"),
        r6(w_raw / w_sum).alias("weight_norm"),
    )


def importance_resample(tables: dict[str, DataFrame]) -> DataFrame:
    """REALIZE the DSIR policy — the resampling step the weights exist
    for (Xie et al. 2023 §3: sample ∝ w to shift the corpus toward the
    target domain). ``text_dsir_weights`` scores; this op turns scores
    into per-doc copy counts with EXPECTED total = corpus size:
    n_copies = ⌊N·w/W⌋ plus one more with probability frac(N·w/W), the
    same systematic-resampling-with-stochastic-rounding every mixture
    realizer here uses (``sample_temperature_repeats`` is the per-language
    cousin; this one is per-document).

    Exactness end-to-end: the 4dp-quantized logw makes exp(logw)
    engine-identical, weights quantize to integer millionths, W and N are
    exact integers, the base count is INTEGER division, and the Bernoulli
    is an integer cross-multiply (u·W < rem·2¹⁶) against a seeded
    16-bit md5 uniform — no float ever crosses an engine boundary.
    Scale: one broadcast-model scoring pass (DSIR's own posture), one
    2-scalar driver round-trip (W, N — the same justified scalar fetch
    every global-constant op makes), then a stateless projection."""
    from flink_210225_spark.ops.text import dsir_weights

    docs = tables["documents"].select("doc_id", "lang")
    d = dsir_weights(tables).select("doc_id", "logw")
    # localCheckpoint: `base` feeds BOTH the W/N scalar fetch below and the
    # returned projection — without it the whole dsir_weights scoring pass
    # runs twice (once for .first(), again at the caller's action; measured
    # 3.6 s ≈ 2× dsir_weights' 1.8 s at sf0.1). Materialize once.
    base = (
        docs.join(d, "doc_id")
        .select(
            "doc_id",
            "lang",
            F.floor(F.exp("logw") * 1000000 + 0.5).cast("long").alias("wi"),
        )
        .localCheckpoint(eager=True)
    )
    tot = base.agg(F.sum("wi").alias("w"), F.count("*").alias("n")).first()
    W, N = int(tot["w"]), int(tot["n"])
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("resamp:"), F.col("doc_id").cast("string"))), 1, 4
        ),
        16,
        10,
    ).cast("long")
    extra = F.when(
        u * F.lit(W) < F.expr(f"(wi * {N}) % {W}") * F.lit(65536), F.lit(1)
    ).otherwise(F.lit(0))
    return base.select(
        "doc_id",
        "lang",
        F.col("wi").alias("weight_u"),
        (F.expr(f"(wi * {N}) div {W}") + extra).cast("long").alias("n_copies"),
    )


_NEYMAN_BUDGET = 1000


def neyman_allocation(tables: dict[str, DataFrame]) -> DataFrame:
    """Neyman-optimal stratified sample allocation: split a fixed budget
    across strata proportionally to N_h·S_h — the allocation that minimizes
    estimator variance for a fixed total n (survey sampling's classic
    result; ``sample_stratified_exact`` sizes by count alone, this weights
    by per-stratum dispersion too). Strata = market segment, value =
    account balance in integer cents.

    Numerics: the population-variance numerator n·Σx² − (Σx)² is exact
    decimal(38,0) (cents² clears int64); S_h enters through ONE IEEE-exact
    sqrt, immediately rounded to an integer weight — after that the
    allocation is pure integer arithmetic: base_h = ⌊B·w_h/Σw⌋ and the
    leftover seats go by LARGEST REMAINDER (B·w_h mod Σw, tie-broken on
    segment name), so Σ alloc == B exactly, both engines, no float
    boundary.

    Plan: one map-side-combined aggregate to the 5-row stratum grain;
    windows over that. At 100 TB the fact scan is the whole cost."""
    cust = tables["customer"]
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_h"),
        F.sum(dec(cents)).alias("s"),
        F.sum(dec(cents) * dec(cents)).alias("ss"),
    )
    var_num = dec(F.col("n_h")) * F.col("ss") - F.col("s") * F.col("s")
    w_int = F.floor(F.sqrt(var_num.cast("double")) + F.lit(0.5)).cast("long")
    sd = F.sqrt(var_num.cast("double")) / F.col("n_h")
    base = agg.select(
        "segment",
        "n_h",
        (F.floor(sd * 1000000 + F.lit(0.5)) / 1000000).alias("sd"),
        w_int.alias("w_int"),
    )
    wall = Window.partitionBy()
    b = F.lit(_NEYMAN_BUDGET)
    tot_w = F.sum("w_int").over(wall)
    bw = b * F.col("w_int")
    # ⌊bw/tot⌋ via exact long mod — a double division could round an
    # exactly-integral quotient to x−ε and floor it one seat short
    rem = bw % tot_w
    alloc_base = ((bw - rem) / tot_w).cast("long")
    staged = base.select(
        "segment",
        "n_h",
        "sd",
        "w_int",
        alloc_base.alias("alloc_base"),
        rem.alias("rem"),
    ).withColumn("leftover", b - F.sum("alloc_base").over(wall))
    wrank = Window.partitionBy().orderBy(F.col("rem").desc(), F.col("segment"))
    return staged.select(
        "segment",
        "n_h",
        "sd",
        "w_int",
        (
            F.col("alloc_base")
            + (F.row_number().over(wrank) <= F.col("leftover")).cast("long")
        ).alias("alloc"),
    )


_PPS_N = 100


def pps_systematic(tables: dict[str, DataFrame]) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: n=100 draws
    over parts weighted by retail price — the weighted-sampling workhorse
    of audit sampling (monetary-unit sampling) and weighted data mixing
    (items can be drawn multiple times; E[picks_i] = n·w_i/W exactly).
    Thresholds t_j = (j+½)·W/n walk the cumulative-weight axis once;
    item i's pick count telescopes to g(cum_i) − g(cum_{i−1}) with
    g(x) = ⌊(2n·x + W − 1) / (2W)⌋ — PURE INTEGER arithmetic end to end
    (the half-offset is absorbed into the ceiling), so Σ picks == n by
    telescoping, no float boundary anywhere.

    Plan: one cumulative window over the part table in p_partkey order.
    The running sum is the inherently sequential part of systematic
    sampling; at 100 TB, range-partition by key, take per-partition
    weight totals (one tiny pass), and seed each partition's cursor with
    the prefix sum — the classic two-phase scan split."""
    part = tables["part"]
    w = F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long")
    wc = (
        Window.partitionBy()
        .orderBy("p_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy()
    cum = part.select("p_partkey", w.alias("w")).select(
        "p_partkey",
        "w",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wall).alias("tot"),
    )
    n = F.lit(_PPS_N)

    def g(x):
        # floor-div through decimal(38,0): the double path is exact only
        # while 2nW < 2^53 — a conversion round there truncates a pick
        num = (2 * n * x + F.col("tot") - 1).cast("decimal(38,0)")
        den = (2 * F.col("tot")).cast("decimal(38,0)")
        return ((num - num % den) / den).cast("long")

    picks = g(F.col("cum")) - g(F.col("cum") - F.col("w"))
    return (
        cum.select("p_partkey", "w", "cum", picks.alias("n_picks"))
        .where(F.col("n_picks") > 0)
    )


def split_leakage_audit(tables: dict[str, DataFrame]) -> DataFrame:
    """Train/test LEAKAGE audit for the content-hash split — the check
    benchmark hygiene actually requires: after ``sample_hash_split``
    assigns splits, do near-duplicate pairs straddle the split boundary?
    (A near-dup of a test doc in train is memorization leakage no dedup
    run inside a single split can catch.) Composes the exact n-gram
    Jaccard pairs at ≥0.8 with the split table and reports: pair volume,
    cross-split near-dups, digest-identical pairs, and the structural
    guarantee MEASURED — byte-identical docs CANNOT cross splits because
    the split is a function of the content digest (exact_leak_free must
    be TRUE; a regression in the split rule breaks the hash).

    Plan: inherits the single-scan bucket-pair kernel's posture; the
    split join adds two digest-keyed broadcasts of a 2-column table."""
    from flink_210225_spark.ops.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(tables, n=3, threshold=0.8)
    docs = tables["documents"]
    # one md5 pass: derive split AND digest from the same projection
    # (hash_split recomputes the digest internally; scanning documents
    # twice and joining the two derivations back on doc_id would pay a
    # second scan for nothing and let the two rules drift apart)
    h1 = F.substring(F.col("digest"), 1, 1)
    splits = docs.select("doc_id", F.md5("text").alias("digest")).select(
        "doc_id",
        "digest",
        F.when(h1.isin(*_VAL), F.lit("val"))
        .when(h1.isin(*_TEST), F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )
    sa = splits.select(
        F.col("doc_id").alias("doc_a"),
        F.col("split").alias("split_a"),
        F.col("digest").alias("dig_a"),
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"),
        F.col("split").alias("split_b"),
        F.col("digest").alias("dig_b"),
    )
    j = pairs.join(sa, "doc_a").join(sb, "doc_b")
    cross = F.col("split_a") != F.col("split_b")
    exact = F.col("dig_a") == F.col("dig_b")
    agg = j.agg(
        F.count("*").alias("n_near_pairs"),
        F.coalesce(F.sum(cross.cast("long")), F.lit(0)).alias("n_cross_split"),
        F.coalesce(F.sum(exact.cast("long")), F.lit(0)).alias("n_exact_pairs"),
        F.coalesce(F.sum((exact & cross).cast("long")), F.lit(0)).alias(
            "n_exact_cross"
        ),
    )
    rate = F.when(
        F.col("n_near_pairs") > 0,
        F.floor(
            F.col("n_cross_split") / F.col("n_near_pairs") * 1000000
            + F.lit(0.5)
        )
        / 1000000,
    ).otherwise(F.lit(0.0))
    return agg.select(
        "n_near_pairs",
        "n_cross_split",
        "n_exact_pairs",
        "n_exact_cross",
        (F.col("n_exact_cross") == 0).alias("exact_leak_free"),
        rate.alias("near_leak_rate"),
    )


# Poisson(1) multiplicity thresholds on a 16-bit hash, cumulative·65536,
# pinned as INTEGER literals on both engines (P(X≥6) ≈ 6e-4 caps at 5).
_BOOT_THRESH = (24109, 48218, 60273, 64291, 65296)
_BOOT_B = 32


def poisson_bootstrap(tables: dict[str, DataFrame]) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean order total —
    THE distributed bootstrap (Chamandy et al. / Google's "Estimating
    Uncertainty for Massive Data Streams"): classical resampling needs a
    global sample-with-replacement per replicate (a shuffle per
    replicate); the Poisson trick gives each row an independent
    Poisson(1) multiplicity per replicate, so ALL B replicates compute in
    ONE pass over the data with a B-way explode — no global resample, no
    coordination. Multiplicities are derandomized through md5(key|b)
    16-bit thresholds (the established hex-Bernoulli pattern), so the
    whole CI is deterministic and hash-gates. Replicate means are exact
    integer-cents ratios; the 2.5/97.5% quantiles interpolate identically
    cross-engine (percentile == quantile_cont).

    Plan: one fact scan × B=32 exploded rows, one replicate-grain agg,
    one 32-row quantile. At 100 TB: same one pass — the entire point."""
    orders = tables["orders"]
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    base = orders.select(F.col("o_orderkey").alias("k"), cents.alias("v"))
    # Repartition BEFORE the B-way explode: the fixture scan is one parquet
    # split locally, so the explode + per-row md5 otherwise runs on ONE core
    # (r10 wave 2; the doc_shingles/_spread discipline). One cheap exchange
    # of (k, v) rows buys full parallelism for the 32× expansion.
    # Scale-conditional (VERDICT r10 #2): skipped when the scan already
    # arrives in enough file splits — see io.few_input_splits.
    from flink_210225_spark.io import few_input_splits

    spread = (
        base.repartition(orders.sparkSession.sparkContext.defaultParallelism)
        if few_input_splits(base)
        else base
    )
    b_col = F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b")
    ex = spread.select("k", "v", b_col)
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.col("k"), F.col("b"))), 1, 4),
        16,
        10,
    ).cast("long")
    t = _BOOT_THRESH
    m = (
        F.when(h < t[0], 0)
        .when(h < t[1], 1)
        .when(h < t[2], 2)
        .when(h < t[3], 3)
        .when(h < t[4], 4)
        .otherwise(5)
    )
    reps = ex.select("b", "v", m.alias("m")).groupBy("b").agg(
        F.sum(F.col("m") * F.col("v")).alias("sv"),
        F.sum("m").alias("sm"),
    )
    rep_mean = (F.col("sv") / F.col("sm")).alias("rm")
    r6 = round6
    booted = reps.select(rep_mean).agg(
        F.count("*").alias("n_replicates"),
        r6(F.percentile("rm", F.lit(0.025))).alias("boot_lo"),
        r6(F.percentile("rm", F.lit(0.975))).alias("boot_hi"),
    )
    # full-data point estimate rides scalar subqueries (a 1-row × 1-row
    # join would plan the BNLJ the blanket cartesian gate forbids)
    mean_full = base.agg(r6(F.sum("v") / F.count("*"))).scalar()
    n_rows = base.agg(F.count("*")).scalar()
    return booted.select(
        n_rows.alias("n_rows"),
        mean_full.alias("mean_cents"),
        "n_replicates",
        "boot_lo",
        "boot_hi",
    )


def temporal_split(tables: dict[str, DataFrame], train_pct: int = 80) -> DataFrame:
    """Point-in-time train/test split — the leakage-proof alternative to
    random splits for anything time-ordered (eval on the future, train on
    the past; a random split lets the model see tomorrow). The boundary is
    the event at EXACT rank r = (train_pct·n) div 100 in (ts, event_id)
    order — integer arithmetic, no percentile interpolation — and the
    split predicate is the rank itself, so ties at the boundary timestamp
    cannot straddle engines.

    Plan note: the exact-rank boundary needs one global sort (fine at
    fixture scale; at 100 TB the production form samples an approximate
    time boundary and filters on it — same output contract, no sort).
    Emits per event_type train/test counts plus each side's exact
    event_id checksum, so the gate pins the MEMBERSHIP, not just sizes."""
    ev = tables["events"].select("event_id", "ts", "event_type")
    w = Window.orderBy("ts", "event_id")
    n_col = ev.agg(F.count("*").cast("long").alias("n")).scalar()
    ranked = ev.select(
        "event_id",
        "event_type",
        F.row_number().over(w).cast("long").alias("rk"),
    )
    is_train = F.col("rk") <= F.expr(f"({train_pct} * n_all) div 100")
    ranked = ranked.withColumn("n_all", n_col)
    split = ranked.select(
        "event_id",
        "event_type",
        F.when(is_train, F.lit("train")).otherwise(F.lit("test")).alias("split"),
    )
    return split.groupBy("event_type", "split").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("event_id").cast("long").alias("sum_ids"),
    )


def negative_downsample(tables: dict[str, DataFrame], ratio: int = 2) -> DataFrame:
    """Class-rebalancing negative downsampling — the classifier-training
    prep every quality/contamination model here needs when positives are
    rare: keep EVERY positive (purchase events) and thin negatives to
    ~``ratio`` per positive with a deterministic per-row Bernoulli.

    Exactness: the keep rule folds to ONE integer scalar — keep a negative
    iff u16 ≤ T where u16 is the seeded 16-bit md5 uniform (the DSIR
    hex-Bernoulli idiom) and T = (ratio·n_pos·65536 − 1) // n_neg, exact
    integer division — so u16·n_neg < ratio·n_pos·65536 without shipping
    two scalars (the nb_quality fold-to-one-constant lesson). No float
    ever crosses an engine boundary; ``sum_kept_ids`` pins the EXACT kept
    membership under the hash, not just the counts.

    Plan: one label agg (scalar subquery) + one stateless projection +
    one 2-row groupBy; at 100 TB the only corpus-shaped work is the scan."""
    ev = tables["events"].select("event_id", "event_type")
    lab = ev.select(
        "event_id",
        F.when(F.col("event_type") == "purchase", F.lit("pos"))
        .otherwise(F.lit("neg"))
        .alias("label"),
    )
    t_col = lab.agg(
        F.when(
            F.sum(F.when(F.col("label") == "neg", 1).otherwise(0)) == 0,
            F.lit(65536).cast("long"),
        )
        # n_pos = 0: keep NO negatives. Without this branch the numerator is
        # -1 and Spark's `div` truncates toward zero (T=0, keeps md5-prefix
        # 0000 rows) while DuckDB `//` floors (T=-1, keeps none) — a
        # cross-engine divergence on a corpus with zero purchase events.
        .when(
            F.sum(F.when(F.col("label") == "pos", 1).otherwise(0)) == 0,
            F.lit(-1).cast("long"),
        )
        .otherwise(
            F.expr(
                f"({ratio} * sum(CASE WHEN label = 'pos' THEN 1 ELSE 0 END) * 65536 - 1) "
                "div sum(CASE WHEN label = 'neg' THEN 1 ELSE 0 END)"
            )
        )
        .alias("t")
    ).scalar()
    u16 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("negds:"), F.col("event_id").cast("string"))), 1, 4
        ),
        16,
        10,
    ).cast("long")
    kept = lab.select(
        "event_id",
        "label",
        F.when(F.col("label") == "pos", F.lit(1))
        .when(u16 <= t_col, F.lit(1))
        .otherwise(F.lit(0))
        .alias("keep"),
    )
    return kept.groupBy("label").agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum("keep").cast("long").alias("n_kept"),
        F.sum(F.col("event_id") * F.col("keep")).cast("long").alias("sum_kept_ids"),
    )


QUERIES = {
    "sample_temporal_split": temporal_split,
    "sample_negative_downsample": negative_downsample,
    "sample_poisson_bootstrap": poisson_bootstrap,
    "sample_split_leakage_audit": split_leakage_audit,
    "sample_pps_systematic": pps_systematic,
    "sample_neyman_allocation": neyman_allocation,
    "sample_hash_split": hash_split,
    "sample_importance_resample": importance_resample,
    "sample_kfold_assign": kfold_assign,
    "sample_epoch_plan": epoch_plan,
    "sample_class_weights": class_weights,
    "sample_winsorize": winsorize_values,
    "sample_quota_per_group": quota_per_group,
    "sample_mixture_rate": mixture_downsample,
    "sample_stratified_exact": stratified_exact_split,
    "sample_temperature_weights": temperature_weights,
    "sample_temperature_apply": temperature_downsample,
    "sample_temperature_repeats": temperature_repeat_plan,
    "sample_curriculum_deciles": curriculum_deciles,
    "sample_shuffle_shards": shuffle_shards,
    "sample_reservoir_weighted": reservoir_weighted,
}

def _importance_resample_oracle() -> str:
    # Reuses the dsir oracle verbatim as a CTE so weight scoring replays
    # the exact gated pipeline; everything after it is integer arithmetic.
    from flink_210225_spark.ops.text import ORACLES as _TEXT_ORACLES

    return f"""
        WITH dsir AS MATERIALIZED ({_TEXT_ORACLES["text_dsir_weights"]}),
        b AS MATERIALIZED (
            SELECT d.doc_id, doc.lang,
                   floor(exp(d.logw) * 1000000 + 0.5)::BIGINT AS wi
            FROM dsir d JOIN documents doc ON doc.doc_id = d.doc_id
        ),
        tot AS (SELECT sum(wi)::BIGINT AS w, count(*)::BIGINT AS n FROM b)
        SELECT doc_id, lang, wi AS weight_u,
               ((wi * (SELECT n FROM tot)) // (SELECT w FROM tot)
                + CASE WHEN ('0x' || substr(md5('resamp:' || doc_id::VARCHAR),
                                            1, 4))::UBIGINT::BIGINT
                            * (SELECT w FROM tot)
                         < ((wi * (SELECT n FROM tot)) % (SELECT w FROM tot))
                            * 65536
                       THEN 1 ELSE 0 END)::BIGINT AS n_copies
        FROM b
    """


ORACLES = {
    # Exact-rank boundary at (80·n)//100 in (ts, event_id) order; id sums
    # pin exact membership.
    "sample_temporal_split": """
        WITH ranked AS (
            SELECT event_id, event_type,
                   row_number() OVER (ORDER BY ts, event_id)::BIGINT AS rk,
                   count(*) OVER ()::BIGINT AS n_all
            FROM events
        )
        SELECT event_type,
               CASE WHEN rk <= (80 * n_all) // 100 THEN 'train' ELSE 'test' END AS split,
               count(*)::BIGINT AS n_rows,
               sum(event_id)::BIGINT AS sum_ids
        FROM ranked GROUP BY 1, 2
    """,
    # One integer threshold scalar T = (2·n_pos·65536 − 1) // n_neg; the
    # same 16-bit md5 Bernoulli as DSIR; sum_kept_ids pins exact membership.
    "sample_negative_downsample": """
        WITH lab AS (
            SELECT event_id,
                   CASE WHEN event_type = 'purchase' THEN 'pos' ELSE 'neg' END AS label
            FROM events
        ),
        t AS (
            SELECT CASE
                     WHEN sum(CASE WHEN label = 'neg' THEN 1 ELSE 0 END) = 0
                       THEN 65536
                     WHEN sum(CASE WHEN label = 'pos' THEN 1 ELSE 0 END) = 0
                       THEN -1
                     ELSE (2 * sum(CASE WHEN label = 'pos' THEN 1 ELSE 0 END)
                           * 65536 - 1)
                          // sum(CASE WHEN label = 'neg' THEN 1 ELSE 0 END)
                   END::BIGINT AS t
            FROM lab
        ),
        kept AS (
            SELECT event_id, label,
                   CASE
                     WHEN label = 'pos' THEN 1
                     WHEN ('0x' || substr(md5('negds:' || event_id::VARCHAR),
                                          1, 4))::UBIGINT::BIGINT
                          <= (SELECT t FROM t) THEN 1
                     ELSE 0
                   END AS keep
            FROM lab
        )
        SELECT label, count(*)::BIGINT AS n_total,
               sum(keep)::BIGINT AS n_kept,
               sum(event_id * keep)::BIGINT AS sum_kept_ids
        FROM kept GROUP BY label
    """,
    # Same md5(key|b) 16-bit thresholds, same Poisson(1) multiplicity cap,
    # exact integer replicate sums, quantile_cont == percentile.
    "sample_poisson_bootstrap": f"""
        WITH base AS (
            SELECT o_orderkey AS k,
                   floor(o_totalprice * 100 + 0.5)::BIGINT AS v
            FROM orders
        ),
        ex AS (
            SELECT k, v, rb.b AS b FROM base, range({_BOOT_B}) rb(b)
        ),
        mm AS (
            SELECT b, v,
                   CASE WHEN h < {_BOOT_THRESH[0]} THEN 0
                        WHEN h < {_BOOT_THRESH[1]} THEN 1
                        WHEN h < {_BOOT_THRESH[2]} THEN 2
                        WHEN h < {_BOOT_THRESH[3]} THEN 3
                        WHEN h < {_BOOT_THRESH[4]} THEN 4
                        ELSE 5 END AS m
            FROM (SELECT b, v,
                         (('0x' || substr(md5(k::VARCHAR || '|'
                                              || b::VARCHAR),
                                          1, 4))::UBIGINT)::BIGINT AS h
                  FROM ex)
        ),
        reps AS (
            SELECT b, sum(m * v)::BIGINT AS sv, sum(m)::BIGINT AS sm
            FROM mm GROUP BY 1
        ),
        booted AS (
            SELECT count(*)::BIGINT AS n_replicates,
                   floor(quantile_cont(sv / (sm::DOUBLE), 0.025) * 1000000
                         + 0.5) / 1000000 AS boot_lo,
                   floor(quantile_cont(sv / (sm::DOUBLE), 0.975) * 1000000
                         + 0.5) / 1000000 AS boot_hi
            FROM reps
        )
        SELECT (SELECT count(*) FROM base)::BIGINT AS n_rows,
               (SELECT floor(sum(v) / (count(*)::DOUBLE) * 1000000 + 0.5)
                           / 1000000 FROM base) AS mean_cents,
               n_replicates, boot_lo, boot_hi
        FROM booted
    """,
    # Composes the gated exact-Jaccard pair SQL (threshold 0.8) with the
    # md5-first-hex split rule; digest-equal pairs share a split by
    # construction, so n_exact_cross recomputes to 0 on both engines.
    "sample_split_leakage_audit": """
        WITH toks AS (
            SELECT doc_id, md5(text) AS digest,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(greatest(len(t) - 3, 0) + 1),
                       i -> array_to_string(t[i + 1 : i + 3], ' ')))) AS shingle
            FROM toks
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM sh a JOIN sh b ON a.shingle = b.shingle
                               AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE floor((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 10000 + 0.5)
                      / 10000 >= 0.8
        ),
        sp AS (
            SELECT doc_id, digest,
                   CASE WHEN substr(digest, 1, 1) IN ('c', 'd') THEN 'val'
                        WHEN substr(digest, 1, 1) IN ('e', 'f') THEN 'test'
                        ELSE 'train' END AS split
            FROM toks
        ),
        j AS (
            SELECT (a.split != b.split) AS cross_split,
                   (a.digest = b.digest) AS exact_pair
            FROM pairs p JOIN sp a ON a.doc_id = p.doc_a
                         JOIN sp b ON b.doc_id = p.doc_b
        ),
        agg AS (
            SELECT count(*)::BIGINT AS n_near_pairs,
                   coalesce(sum(CASE WHEN cross_split THEN 1 ELSE 0 END),
                            0)::BIGINT AS n_cross_split,
                   coalesce(sum(CASE WHEN exact_pair THEN 1 ELSE 0 END),
                            0)::BIGINT AS n_exact_pairs,
                   coalesce(sum(CASE WHEN exact_pair AND cross_split
                                     THEN 1 ELSE 0 END), 0)::BIGINT
                       AS n_exact_cross
            FROM j
        )
        SELECT n_near_pairs, n_cross_split, n_exact_pairs, n_exact_cross,
               (n_exact_cross = 0) AS exact_leak_free,
               CASE WHEN n_near_pairs > 0
                    THEN floor(n_cross_split / (n_near_pairs::DOUBLE)
                               * 1000000 + 0.5) / 1000000
                    ELSE 0.0 END AS near_leak_rate
        FROM agg
    """,
    # Same integer threshold-count telescope g(cum) − g(cum − w) with
    # g(x) = (2n·x + W − 1) // (2W) — picks sum to n by construction.
    "sample_pps_systematic": f"""
        WITH c AS (
            SELECT p_partkey,
                   floor(p_retailprice * 100 + 0.5)::BIGINT AS w,
                   sum(floor(p_retailprice * 100 + 0.5)::BIGINT)
                       OVER (ORDER BY p_partkey
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)::BIGINT AS cum,
                   sum(floor(p_retailprice * 100 + 0.5)::BIGINT)
                       OVER ()::BIGINT AS tot
            FROM part
        )
        SELECT p_partkey, w, cum,
               ((2 * {_PPS_N} * cum + tot - 1) // (2 * tot)
                - (2 * {_PPS_N} * (cum - w) + tot - 1) // (2 * tot))::BIGINT
                   AS n_picks
        FROM c
        WHERE (2 * {_PPS_N} * cum + tot - 1) // (2 * tot)
              - (2 * {_PPS_N} * (cum - w) + tot - 1) // (2 * tot) > 0
    """,
    # Exact HUGEINT variance numerator, one IEEE sqrt → integer weight,
    # then pure integer floor-div + largest-remainder seats (Σ alloc == B).
    "sample_neyman_allocation": f"""
        WITH a AS (
            SELECT c_mktsegment AS segment, count(*)::BIGINT AS n_h,
                   sum(floor(c_acctbal * 100 + 0.5)::BIGINT::HUGEINT) AS s,
                   sum(floor(c_acctbal * 100 + 0.5)::BIGINT::HUGEINT
                       * floor(c_acctbal * 100 + 0.5)::BIGINT) AS ss
            FROM customer GROUP BY 1
        ),
        w AS (
            SELECT segment, n_h,
                   floor(sqrt((n_h::HUGEINT * ss - s * s)::DOUBLE) / n_h
                         * 1000000 + 0.5) / 1000000 AS sd,
                   floor(sqrt((n_h::HUGEINT * ss - s * s)::DOUBLE)
                         + 0.5)::BIGINT AS w_int
            FROM a
        ),
        st AS (
            SELECT segment, n_h, sd, w_int,
                   ({_NEYMAN_BUDGET} * w_int)
                       // (sum(w_int) OVER ())::BIGINT AS alloc_base,
                   ({_NEYMAN_BUDGET} * w_int)
                       % (sum(w_int) OVER ())::BIGINT AS rem
            FROM w
        ),
        lf AS (
            SELECT *, {_NEYMAN_BUDGET} - sum(alloc_base) OVER () AS leftover
            FROM st
        )
        SELECT segment, n_h, sd, w_int,
               (alloc_base + CASE WHEN row_number() OVER (
                    ORDER BY rem DESC, segment) <= leftover
                    THEN 1 ELSE 0 END)::BIGINT AS alloc
        FROM lf
    """,
    # Same interpolated thresholds (quantile_cont == percentile), same
    # integer-cents sums, 4dp means.
    "sample_winsorize": """
        WITH t AS (
            SELECT quantile_cont(value, 0.01) AS lo,
                   quantile_cont(value, 0.99) AS hi
            FROM events
        )
        SELECT event_type,
               count(*)::BIGINT AS n_events,
               sum(CASE WHEN value < (SELECT lo FROM t) THEN 1 ELSE 0 END)
                   ::BIGINT AS n_clip_lo,
               sum(CASE WHEN value > (SELECT hi FROM t) THEN 1 ELSE 0 END)
                   ::BIGINT AS n_clip_hi,
               floor(sum(floor(value * 100 + 0.5)::BIGINT)
                     / count(*) / 100 * 10000 + 0.5) / 10000 AS mean_raw,
               floor(sum(floor(least(greatest(value, (SELECT lo FROM t)),
                                     (SELECT hi FROM t)) * 100 + 0.5)
                         ::BIGINT)
                     / count(*) / 100 * 10000 + 0.5) / 10000
                   AS mean_winsorized
        FROM events GROUP BY event_type
    """,
    # Same N/(K·n_c) ratio of exact counts, 6dp; normalization divides by
    # the windowed sum of the same expression.
    "sample_class_weights": """
        WITH per AS (
            SELECT lang, count(*)::BIGINT AS n_docs FROM documents
            GROUP BY lang
        ),
        t AS (
            SELECT lang, n_docs,
                   sum(n_docs) OVER ()::BIGINT AS n_tot,
                   count(*) OVER ()::BIGINT AS k_cls
            FROM per
        ),
        w AS (
            SELECT lang, n_docs, n_tot, k_cls,
                   n_tot / (k_cls * n_docs) AS w_raw
            FROM t
        )
        SELECT lang, n_docs,
               floor(n_docs / n_tot * 1000000 + 0.5) / 1000000 AS doc_share,
               floor(w_raw * 1000000 + 0.5) / 1000000 AS weight,
               floor(w_raw / sum(w_raw) OVER () * 1000000 + 0.5) / 1000000
                   AS weight_norm
        FROM w
    """,
    # Same even-share integer arithmetic: granted = floor(4·total/K),
    # epochs clamped [1, 16], utilization on the long ratio, 4dp.
    "sample_epoch_plan": """
        WITH s AS (
            SELECT source, count(*)::BIGINT AS n_docs,
                   sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT
                       AS src_tokens
            FROM documents GROUP BY source
        ),
        g AS (
            SELECT *,
                   floor((sum(src_tokens) OVER () * 4)
                         / count(*) OVER ())::BIGINT AS granted_tokens
            FROM s
        )
        SELECT source, n_docs, src_tokens, granted_tokens,
               least(16, greatest(1,
                   floor(granted_tokens / src_tokens)))::BIGINT AS epochs,
               (least(16, greatest(1, floor(granted_tokens / src_tokens)))
                    ::BIGINT * src_tokens)::BIGINT AS realized_tokens,
               floor(least(16, greatest(1,
                         floor(granted_tokens / src_tokens)))::BIGINT
                     * src_tokens / granted_tokens * 10000 + 0.5) / 10000
                   AS utilization
        FROM g
    """,
    "sample_kfold_assign": """
        WITH f AS (
            SELECT doc_id,
                   (('0x' || substr(md5(text), 1, 8))::UBIGINT % 5)::BIGINT
                       AS fold
            FROM documents
        )
        SELECT doc_id, fold,
               count(*) OVER (PARTITION BY fold)::BIGINT AS fold_size
        FROM f
    """,
    "sample_importance_resample": _importance_resample_oracle(),
    # Exact A-ES replay: same seeded md5 uniform, same ln(u)/w key, same
    # per-language top-k and tie-break.
    "sample_reservoir_weighted": """
        WITH b AS (
            SELECT lang, doc_id,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
                   ln((('0x' || substr(md5('resv:' || doc_id::VARCHAR), 1, 13))::UBIGINT
                        + 1) / 4503599627370497.0)
                       / len(regexp_split_to_array(trim(text), '\\s+')) AS key
            FROM documents
        ),
        r AS (
            SELECT lang, doc_id, n_tokens, key,
                   row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id ASC)
                       ::BIGINT AS rank
            FROM b
        )
        SELECT lang, rank, doc_id, n_tokens::BIGINT AS n_tokens,
               floor(key * 100000000 + 0.5) / 100000000 AS key_r
        FROM r WHERE rank <= 20
    """,
    # Exact replay: same seeded md5 key, same first-32-bits shard
    # assignment (DuckDB parses the hex prefix via '0x' cast — verified
    # equal to Spark's conv(hex,16,10)), same per-shard position order.
    "sample_shuffle_shards": """
        WITH s AS (
            SELECT doc_id, md5('shuf:' || doc_id::VARCHAR) AS skey FROM documents
        ),
        h AS (
            SELECT doc_id, skey,
                   (('0x' || substr(skey, 1, 8))::UBIGINT % 64)::BIGINT AS shard
            FROM s
        )
        SELECT doc_id, skey, shard,
               row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)::BIGINT
                   AS pos
        FROM h
    """,
    "sample_hash_split": """
        SELECT doc_id,
               CASE WHEN substr(md5(text), 1, 1) IN ('c', 'd') THEN 'val'
                    WHEN substr(md5(text), 1, 1) IN ('e', 'f') THEN 'test'
                    ELSE 'train' END AS split
        FROM documents
    """,
    "sample_quota_per_group": """
        SELECT doc_id, lang, source, priority FROM (
            SELECT doc_id, lang, source,
                   row_number() OVER (PARTITION BY lang, source
                                      ORDER BY md5(text), doc_id) AS priority
            FROM documents
        ) WHERE priority <= 10
    """,
    "sample_mixture_rate": """
        SELECT doc_id, lang FROM documents
        WHERE substr(md5(text), 1, 2) <
              CASE WHEN lang = 'en' THEN '40' ELSE 'zz' END
    """,
    "sample_stratified_exact": """
        SELECT doc_id, lang,
               CASE WHEN pr < 0.1 THEN 'val'
                    WHEN pr < 0.2 THEN 'test'
                    ELSE 'train' END AS split
        FROM (
            SELECT doc_id, lang,
                   percent_rank() OVER (PARTITION BY lang
                                        ORDER BY md5(text), doc_id) AS pr
            FROM documents
        )
    """,
    "sample_temperature_weights": """
        WITH c AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY lang),
        t AS (
            SELECT lang, n_docs,
                   n_docs * 1.0 / sum(n_docs) OVER () AS share,
                   pow(n_docs * 1.0 / sum(n_docs) OVER (), 0.3) AS ts
            FROM c
        )
        SELECT lang, n_docs,
               floor(share * 1000000 + 0.5) / 1000000 AS share,
               floor(ts / sum(ts) OVER () * 1000000 + 0.5) / 1000000 AS temp_share,
               floor(ts / sum(ts) OVER () / share * 1000000 + 0.5) / 1000000 AS sample_factor
        FROM t
    """,
    "sample_temperature_apply": """
        WITH c AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY lang),
        t AS (
            SELECT lang,
                   n_docs * 1.0 / sum(n_docs) OVER () AS share,
                   pow(n_docs * 1.0 / sum(n_docs) OVER (), 0.3) AS ts
            FROM c
        ),
        w AS (
            SELECT lang,
                   floor(ts / sum(ts) OVER () / share * 1000000 + 0.5) / 1000000
                       AS sample_factor
            FROM t
        )
        SELECT d.doc_id, d.lang
        FROM documents d JOIN w ON w.lang = d.lang
        WHERE w.sample_factor >= 1
           OR substr(md5(d.text), 1, 8) <
              lower(lpad(hex(floor(w.sample_factor * 4294967296.0)::BIGINT), 8, '0'))
    """,
    "sample_curriculum_deciles": """
        WITH t AS (
            SELECT doc_id, lang,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ),
        m AS (
            SELECT doc_id, lang, len(toks) AS n,
                   len(list_distinct(toks)) AS uniq,
                   len(list_filter(toks, x -> x IN ('the', 'a'))) AS stop_ct
            FROM t
        ),
        q AS (
            SELECT doc_id, lang,
                   floor((0.4 * least(n / 100.0, 1.0)
                          + 0.3 * (uniq * 1.0 / n)
                          + 0.3 * (1.0 - abs(stop_ct * 1.0 / n - 0.1))) * 10000
                         + 0.5) / 10000 AS quality
            FROM m
        )
        SELECT doc_id, lang, quality,
               ntile(10) OVER (PARTITION BY lang ORDER BY quality ASC, doc_id ASC)
                   AS decile
        FROM q
    """,
    "sample_temperature_repeats": """
        WITH c AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY lang),
        t AS (
            SELECT lang,
                   n_docs * 1.0 / sum(n_docs) OVER () AS share,
                   pow(n_docs * 1.0 / sum(n_docs) OVER (), 0.3) AS ts
            FROM c
        ),
        w AS (
            SELECT lang,
                   floor(ts / sum(ts) OVER () / share * 1000000 + 0.5) / 1000000
                       AS sample_factor
            FROM t
        )
        SELECT d.doc_id, d.lang,
               floor(w.sample_factor)::BIGINT
               + CASE WHEN substr(md5(d.text), 1, 8) <
                      lower(lpad(hex(floor((w.sample_factor - floor(w.sample_factor))
                                           * 4294967296.0)::BIGINT), 8, '0'))
                      THEN 1 ELSE 0 END AS n_copies
        FROM documents d JOIN w ON w.lang = d.lang
    """,
}


def grouped_split(tables: dict[str, DataFrame], train_pct: int = 80) -> DataFrame:
    """GROUP-aware train/test split — the leakage guard ``hash_split``
    cannot give: that one keys on CONTENT (byte-dup docs share a side);
    this keys on the GROUP (user), so every event of a user lands on ONE
    side and per-user features can never leak across the boundary (the
    GroupKFold / grouped-split protocol every behavioral-model eval
    needs). Split = seeded 16-bit md5 of the user id mod 100 < pct — the
    DSIR hex-Bernoulli idiom, uniform and re-run-stable.

    The zero-leakage claim is MEASURED, not assumed: n_leaked_groups
    counts users observed with >1 distinct split (an actual aggregate —
    0 by construction, but the gate pins the measurement). Id sums pin
    exact membership. Plan: one user-keyed agg with map-side partials,
    then a 2-row agg; the leak scalar is a subquery over the same frame."""
    ev = tables["events"].select("event_id", "user_id")
    u16 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("gsplit:"), F.col("user_id").cast("string"))), 1, 4
        ),
        16,
        10,
    ).cast("long")
    lab = ev.select(
        "event_id",
        "user_id",
        F.when(u16 % 100 < train_pct, F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    per_user = lab.groupBy("user_id").agg(
        F.min("split").alias("split"),
        F.countDistinct("split").alias("n_splits"),
        F.count("*").cast("long").alias("n_ev"),
        F.sum("event_id").cast("long").alias("s_ids"),
    )
    leak = per_user.agg(
        F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0)).cast("long").alias("l")
    ).scalar()
    return per_user.groupBy("split").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("n_ev").cast("long").alias("n_events"),
        F.sum("s_ids").cast("long").alias("sum_event_ids"),
    ).withColumn("n_leaked_groups", leak)


QUERIES["sample_grouped_split"] = grouped_split
# Same seeded Bernoulli; the leak counter replays the same measured
# aggregate (count of users with >1 distinct split).
ORACLES["sample_grouped_split"] = """
    WITH lab AS (
        SELECT event_id, user_id,
               CASE WHEN ('0x' || substr(md5('gsplit:' || user_id::VARCHAR),
                                         1, 4))::UBIGINT::BIGINT % 100 < 80
                    THEN 'train' ELSE 'test' END AS split
        FROM events
    ),
    pu AS (
        SELECT user_id, min(split) AS split,
               count(DISTINCT split) AS n_splits,
               count(*)::BIGINT AS n_ev, sum(event_id)::BIGINT AS s_ids
        FROM lab GROUP BY user_id
    ),
    lk AS (
        SELECT sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END)::BIGINT AS l FROM pu
    )
    SELECT split, count(*)::BIGINT AS n_users,
           sum(n_ev)::BIGINT AS n_events,
           sum(s_ids)::BIGINT AS sum_event_ids,
           (SELECT l FROM lk) AS n_leaked_groups
    FROM pu GROUP BY split
"""


def chronological_cv(tables: dict[str, DataFrame], k: int = 4) -> DataFrame:
    """Expanding-window chronological cross-validation — the time-series
    eval protocol (forecasting / drift-robust model selection) that
    neither ``sample_kfold_assign`` (content folds, order-blind) nor
    ``sample_temporal_split`` (one cut) provides: k folds, fold i trains
    on everything up to boundary bᵢ and tests on (bᵢ, bᵢ₊₁] — train data
    always strictly precedes its test window, never the reverse.

    Boundaries are EXACT ranks bᵢ = (i·n) div (k+1) in (ts, event_id)
    order — integer arithmetic, ties cannot straddle engines (the
    temporal_split discipline). Emits per (fold, role) the row count and
    exact id-sum membership pin. Plan note: the exact-rank assignment
    needs one global sort (fine at fixture scale; production samples
    approximate time boundaries — same output contract, no sort)."""
    ev = tables["events"].select("event_id", "ts")
    w = Window.orderBy("ts", "event_id")
    n_col = ev.agg(F.count("*").cast("long").alias("n")).scalar()
    ranked = ev.select(
        "event_id", F.row_number().over(w).cast("long").alias("rk")
    ).withColumn("n_all", n_col)
    # ONE pass over the ranked frame: the fold fan-out explodes a k-array
    # per row (a per-fold union would re-run the global sort k times)
    folds = ranked.select(
        "event_id",
        "rk",
        "n_all",
        F.explode(F.array(*[F.lit(i) for i in range(1, k + 1)])).alias("fold"),
    ).select(
        "event_id",
        F.col("fold").cast("int").alias("fold"),
        F.when(F.col("rk") <= F.expr(f"(fold * n_all) div {k + 1}"), F.lit("train"))
        .when(
            F.col("rk") <= F.expr(f"((fold + 1) * n_all) div {k + 1}"), F.lit("test")
        )
        .alias("role"),
    ).where(F.col("role").isNotNull())
    return folds.groupBy("fold", "role").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("event_id").cast("long").alias("sum_ids"),
    )


QUERIES["sample_chronological_cv"] = chronological_cv
# Same exact-rank boundaries; the fold fan-out is a 4-row range join in
# SQL form (rank BETWEEN per-fold bounds).
ORACLES["sample_chronological_cv"] = """
    WITH ranked AS (
        SELECT event_id,
               row_number() OVER (ORDER BY ts, event_id)::BIGINT AS rk,
               count(*) OVER ()::BIGINT AS n_all
        FROM events
    ),
    fanned AS (
        SELECT r.event_id, f.i AS fold,
               CASE WHEN r.rk <= (f.i * r.n_all) // 5 THEN 'train'
                    WHEN r.rk <= ((f.i + 1) * r.n_all) // 5 THEN 'test'
                    END AS role
        FROM ranked r
        CROSS JOIN (SELECT unnest(range(1, 5)) AS i) f
    )
    SELECT fold::INT AS fold, role, count(*)::BIGINT AS n_rows,
           sum(event_id)::BIGINT AS sum_ids
    FROM fanned WHERE role IS NOT NULL
    GROUP BY 1, 2
"""


def matched_pairs(tables: dict[str, DataFrame]) -> DataFrame:
    """Case–control matching — the causal-analysis prep op (propensity-
    style 1:1 matching on coarse strata) that turns observational event
    data into a balanced comparison set: CASES are users whose purchase
    count sits ABOVE the global median, CONTROLS the rest (the uniform
    fixture gives every user every event type, so a has-event split would
    be vacuously one-sided), stratified into activity QUINTILES (ntile(5)
    over total event count) so each pair compares users of similar
    engagement. Within a (stratum) the i-th most active case matches the
    i-th most active control (rank join — deterministic, exactly
    min(cases, controls) pairs per stratum; the unmatched tail drops on
    both engines).

    Everything is integers: event counts, ntile deciles (standard SQL
    distribution rule, identical across engines under the total
    (n_events, user_id) tie-broken order), ranks, id checksums. Plan: one
    user-keyed agg, one global ntile window (|users| rows, not events),
    two stratum-keyed rank windows, one (stratum, rank) equi-join."""
    ev = tables["events"].select("event_id", "user_id", "event_type")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
    )
    # Exposure = purchase count ABOVE the global median (the fixture is
    # uniform — every user has every event type, so any has-event split
    # would be vacuously one-sided). percentile == quantile_cont, and the
    # > comparison against the (possibly .5) median is the same double on
    # both engines.
    med = per_user.agg(
        F.expr("percentile(n_purchases, 0.5)").alias("m")
    ).scalar()
    deciled = per_user.select(
        "user_id",
        "n_events",
        (F.col("n_purchases") > med).alias("is_case"),
        F.ntile(5)
        .over(Window.orderBy(F.asc("n_events"), F.asc("user_id")))
        .cast("int")
        .alias("stratum"),
    )
    wr = Window.partitionBy("stratum", "is_case").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    ranked = deciled.withColumn("rk", F.row_number().over(wr))
    cases = ranked.where(F.col("is_case")).select(
        "stratum",
        "rk",
        F.col("user_id").alias("case_user"),
        F.col("n_events").alias("case_events"),
    )
    controls = ranked.where(~F.col("is_case")).select(
        "stratum",
        "rk",
        F.col("user_id").alias("control_user"),
        F.col("n_events").alias("control_events"),
    )
    return cases.join(controls, ["stratum", "rk"]).select(
        "stratum",
        F.col("rk").cast("long").alias("rk"),
        "case_user",
        "case_events",
        "control_user",
        "control_events",
    )


QUERIES["sample_matched_pairs"] = matched_pairs
ORACLES["sample_matched_pairs"] = """
    WITH pu AS (
        SELECT user_id, count(*)::BIGINT AS n_events,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_p
        FROM events GROUP BY user_id
    ),
    med AS (SELECT quantile_cont(n_p, 0.5) AS m FROM pu),
    d AS (
        SELECT user_id, n_events, n_p > (SELECT m FROM med) AS is_case,
               ntile(5) OVER (ORDER BY n_events ASC, user_id ASC)::INT AS stratum
        FROM pu
    ),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY stratum, is_case
                                     ORDER BY n_events DESC, user_id ASC) AS rk
        FROM d
    )
    SELECT c.stratum, c.rk::BIGINT AS rk,
           c.user_id AS case_user, c.n_events AS case_events,
           k.user_id AS control_user, k.n_events AS control_events
    FROM (SELECT * FROM r WHERE is_case) c
    JOIN (SELECT * FROM r WHERE NOT is_case) k
      ON c.stratum = k.stratum AND c.rk = k.rk
"""


def stratified_kfold(tables: dict[str, DataFrame], k: int = 5) -> DataFrame:
    """Stratified k-fold assignment — the protocol sklearn's
    StratifiedKFold implements, and what ``sample_kfold_assign`` (content
    hash mod k; ±√n fold balance) deliberately is NOT: within each
    language stratum, documents ordered by stable md5 priority take folds
    round-robin, so every (stratum, fold) cell is balanced to ±1 document
    — the requirement when a small language must appear in EVERY fold's
    eval slice (hash-mod can starve a 30-doc stratum's fold entirely).
    The trade mirrors ``stratified_exact_split`` vs ``hash_split``:
    adding documents reshuffles ranks, so this is for frozen snapshots.
    Output is the per-(lang, fold) audit the protocol reviewer reads:
    exact cell count and the assignment-fingerprint doc_id sum (any rank
    or fold drift moves it).

    Plan: ONE per-stratum window sort on the digest (lang-keyed shuffle),
    one map-side-combined rollup — no global sort, no joins; stratum
    cardinality bounds the window key domain at any corpus size."""
    docs = tables["documents"]
    w = Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    base = docs.select(
        "doc_id",
        "lang",
        ((F.row_number().over(w) - 1) % F.lit(k)).cast("long").alias("fold"),
    )
    return base.groupBy("lang", "fold").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_doc_ids"),
    )


QUERIES["sample_stratified_kfold"] = stratified_kfold
ORACLES["sample_stratified_kfold"] = """
    WITH ranked AS (
        SELECT doc_id, lang,
               (row_number() OVER (PARTITION BY lang
                                   ORDER BY md5(text), doc_id) - 1) % 5
                   AS fold
        FROM documents
    )
    SELECT lang, fold::BIGINT AS fold, count(*)::BIGINT AS n_docs,
           sum(doc_id)::BIGINT AS sum_doc_ids
    FROM ranked GROUP BY 1, 2
"""


def pass_at_k(tables: dict[str, DataFrame]) -> DataFrame:
    """The unbiased pass@k estimator (Chen et al., "Evaluating Large
    Language Models Trained on Code", 2021: pass@k = E[1 − C(n−c,k)/C(n,k)])
    — the model-eval rollup every code/reasoning benchmark pipeline runs
    over (task, n samples, c correct) grids. Tasks are documents; each
    task draws n=10 deterministic samples, sample j correct iff
    (doc_id·31 + j·7) mod 17 < 3 + (doc_id + n_chars) mod 13 (c spans the
    full 1..10 range at sf0.001, so the c > n−k zero branch is live). The binomial ratio uses the falling-factorial form
    C(n−c,k)/C(n,k) = Π_{i<k}(n−c−i)/Π_{i<k}(n−i) — and because n and k
    are fixed, the denominator D_k is a CONSTANT, so the per-language
    average folds to 1 − Σ N_k / (T·D_k): every sum is exact int64 and
    ONE pinned division closes each k. Tasks with c > n−k contribute
    N_k = 0 (pass certain ≥ ... the ratio is zero: you cannot pick k
    all-wrong samples). Per lang: task count, total correct, pass@1,
    pass@5.

    Plan: the sample grid folds inside ONE scan via F.aggregate over a
    literal sequence (no explode — 10× row inflation never exists); one
    lang-keyed agg ends it."""
    docs = tables["documents"]
    n, k5 = 10, 5
    c = F.aggregate(
        F.sequence(F.lit(0), F.lit(n - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.when(
            (F.col("doc_id") * 31 + j * 7) % 17
            < 3 + (F.col("doc_id") + F.col("n_chars")) % 13,
            1,
        ).otherwise(0),
    )
    t = docs.select("lang", c.alias("c"))
    # N_k = prod_{i<k}(n - c - i), zero when c > n - k
    nc = F.col("c")
    n1 = F.when(nc > n - 1, F.lit(0)).otherwise(F.lit(n) - nc).cast("long")
    n5_terms = [F.lit(n) - nc - F.lit(i) for i in range(k5)]
    n5 = F.when(nc > n - k5, F.lit(0)).otherwise(
        n5_terms[0] * n5_terms[1] * n5_terms[2] * n5_terms[3] * n5_terms[4]
    ).cast("long")
    d1 = float(n)
    d5 = 1.0
    for i in range(k5):
        d5 *= n - i
    agg = t.select("lang", "c", n1.alias("n1"), n5.alias("n5")).groupBy(
        "lang"
    ).agg(
        F.count("*").cast("long").alias("n_tasks"),
        F.sum("c").cast("long").alias("total_correct"),
        F.sum("n1").alias("s1"),
        F.sum("n5").alias("s5"),
    )
    return agg.select(
        "lang",
        "n_tasks",
        "total_correct",
        round6(
            F.lit(1.0) - F.col("s1").cast("double") / (F.col("n_tasks") * F.lit(d1))
        ).alias("pass_at_1"),
        round6(
            F.lit(1.0) - F.col("s5").cast("double") / (F.col("n_tasks") * F.lit(d5))
        ).alias("pass_at_5"),
    )


QUERIES["sample_pass_at_k"] = pass_at_k
# Identical falling-factorial algebra; the sums are exact integers and the
# two divisions are pinned in the same order (1 - s/(T*D)).
ORACLES["sample_pass_at_k"] = """
    WITH t AS (
        SELECT lang,
               list_sum(list_transform(range(10),
                   j -> CASE WHEN (doc_id * 31 + j * 7) % 17
                                  < 3 + (doc_id + n_chars) % 13
                        THEN 1 ELSE 0 END))::BIGINT AS c
        FROM documents
    ),
    scored AS (
        SELECT lang, c,
               CASE WHEN c > 9 THEN 0 ELSE 10 - c END::BIGINT AS n1,
               CASE WHEN c > 5 THEN 0
                    ELSE (10-c)*(9-c)*(8-c)*(7-c)*(6-c) END::BIGINT AS n5
        FROM t
    )
    SELECT lang, count(*)::BIGINT AS n_tasks,
           sum(c)::BIGINT AS total_correct,
           floor((1.0 - sum(n1)::DOUBLE / (count(*) * 10.0)) * 1000000 + 0.5)
               / 1000000 AS pass_at_1,
           floor((1.0 - sum(n5)::DOUBLE / (count(*) * 30240.0)) * 1000000
                 + 0.5) / 1000000 AS pass_at_5
    FROM scored GROUP BY 1
"""


def token_waterfill(tables: dict[str, DataFrame]) -> DataFrame:
    """Water-filling token-budget allocation across corpus sources — the
    data-mixing planner's core primitive (given per-source token supplies
    n_i and a total training budget B, the max-min-fair allocation is
    alloc_i = min(n_i, L) with the water level L chosen so Σ alloc = B;
    small sources are taken whole, large sources are capped at the level —
    the allocation behind 'cap any single source's share' mixing rules).
    The level has a CLOSED FORM over the sorted supplies: with S(v) =
    Σ min(n_i, v) piecewise linear, pick the largest distinct value v with
    S(v) ≤ B, then L = v + (B − S(v)) div |{n_i > v}| and the remainder r
    gives +1 to the r largest-supply uncapped sources (ties by source key)
    — every quantity integer-exact, Σ alloc ≡ B by construction (tested).

    Plan: supplies are one (lang, source)-keyed agg; S(v) and the
    above-count come from RANGE-frame windows directly ON the supply rows
    (no |levels|×|sources| grid — a constant-key join there constant-folds
    into a BNLJ, measured), and the two 1-row scalars (budget; chosen
    level+remainder) are bounded collects embedded as literals — the
    repo's config-sized-collect pattern. At 100 TB the source-grain frame
    is config-sized — only the token count touches data."""
    docs = tables["documents"]
    supplies = docs.groupBy("lang", "source").agg(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
        .cast("long")
        .alias("n_tokens")
    )
    tot_row = supplies.agg(
        F.sum("n_tokens").cast("long").alias("tot"),
        F.count("*").cast("long").alias("k"),
    ).collect()[0]
    tot, k = int(tot_row["tot"]), int(tot_row["k"])
    b = tot * 6 // 10  # 60% training budget
    # S(v) = Σ min(n_i, v) at v = each supply value, via RANGE frames
    # (value-based, so ties fold correctly); plus the v=0 base row so a
    # budget below the smallest supply still resolves.
    wr = Window.orderBy("n_tokens").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sv = supplies.select(
        F.col("n_tokens").alias("v"),
        (
            F.sum("n_tokens").over(wr)
            + (F.lit(k) - F.count("*").over(wr)) * F.col("n_tokens")
        ).alias("s"),
        (F.lit(k) - F.count("*").over(wr)).cast("long").alias("cnt_above"),
    ).unionByName(
        supplies.sparkSession.range(1).select(
            F.lit(0).cast("long").alias("v"),
            F.lit(0).cast("long").alias("s"),
            F.lit(k).cast("long").alias("cnt_above"),
        )
    ).distinct()
    best = (
        sv.where(F.col("s") <= F.lit(b))
        .orderBy(F.col("v").desc())
        .limit(1)
        .collect()[0]
    )
    v0, s0, above = int(best["v"]), int(best["s"]), int(best["cnt_above"])
    level = v0 + (b - s0) // above if above > 0 else v0
    rem = (b - s0) % above if above > 0 else 0
    ranked = supplies.withColumn(
        "uncapped_rank",
        F.row_number().over(
            Window.orderBy(
                F.when(F.col("n_tokens") > F.lit(level), 0).otherwise(1),
                F.col("n_tokens").desc(),
                F.col("lang"),
                F.col("source"),
            )
        ),
    )
    return ranked.select(
        "lang",
        "source",
        "n_tokens",
        F.when(F.col("n_tokens") <= F.lit(level), F.col("n_tokens"))
        .otherwise(
            F.lit(level)
            + F.when(F.col("uncapped_rank") <= F.lit(rem), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
        (F.col("n_tokens") > F.lit(level)).alias("capped"),
    )


QUERIES["sample_token_waterfill"] = token_waterfill
# Same closed-form level search over distinct supply values; Σ alloc = B
# is the reconciliation the pytest also asserts.
ORACLES["sample_token_waterfill"] = """
    WITH supplies AS (
        SELECT lang, source,
               sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT
                   AS n_tokens
        FROM documents GROUP BY 1, 2
    ),
    tot AS (
        SELECT sum(n_tokens)::BIGINT AS t, count(*)::BIGINT AS k,
               (sum(n_tokens) * 6 // 10)::BIGINT AS b
        FROM supplies
    ),
    levels AS (
        SELECT DISTINCT n_tokens AS v FROM supplies
        UNION SELECT 0::BIGINT
    ),
    sv AS (
        SELECT l.v, tot.b,
               sum(least(s.n_tokens, l.v))::BIGINT AS s,
               sum(CASE WHEN s.n_tokens > l.v THEN 1 ELSE 0 END)::BIGINT
                   AS cnt_above
        FROM levels l, tot, supplies s
        GROUP BY 1, 2
    ),
    best AS (
        SELECT b,
               CASE WHEN cnt_above > 0 THEN v + (b - s) // cnt_above
                    ELSE v END AS level,
               CASE WHEN cnt_above > 0 THEN (b - s) % cnt_above
                    ELSE 0 END::BIGINT AS rem
        FROM (SELECT *, row_number() OVER (ORDER BY v DESC) AS rn
              FROM sv WHERE s <= b)
        WHERE rn = 1
    ),
    ranked AS (
        SELECT s.lang, s.source, s.n_tokens, best.level, best.rem,
               row_number() OVER (
                   ORDER BY CASE WHEN s.n_tokens > best.level THEN 0
                                 ELSE 1 END,
                            s.n_tokens DESC, s.lang, s.source
               ) AS uncapped_rank
        FROM supplies s, best
    )
    SELECT lang, source, n_tokens,
           CASE WHEN n_tokens <= level THEN n_tokens
                ELSE level + CASE WHEN uncapped_rank <= rem THEN 1
                                  ELSE 0 END END::BIGINT AS alloc,
           n_tokens > level AS capped
    FROM ranked
"""


def pps_estimator(tables: dict[str, DataFrame]) -> DataFrame:
    """Hansen–Hurwitz estimation on top of the systematic PPS design —
    the estimator that makes ``sample_pps_systematic`` useful: draw parts
    with probability proportional to retail price (the design), then
    estimate the corpus total of an INDEPENDENT attribute (p_size) from
    the 100 draws as T̂ = (1/n)·Σ picks_i · y_i/p_i, p_i = w_i/W. PPS
    earns its keep exactly when the size measure correlates with the
    target; the emitted exact error against the true total (computable
    here because the fixture is small — in production it's the quantity
    you DON'T have) is the design-effect evidence.

    Exactness: picks from the pure-integer systematic walk; y_i, w_i, W
    exact BIGINTs; the estimate is one fixed-shape double, micro-pinned.

    Scale: reuses the two-phase prefix-sum posture of the design kernel;
    the estimator itself is a single agg over the ~n sampled rows with W
    and the true total attached as scalar subqueries."""
    part = tables["part"]
    sampled = pps_systematic(tables)
    joined = sampled.join(
        part.select("p_partkey", "p_size"), "p_partkey"
    )
    w_tot = part.agg(
        F.sum(F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
    ).scalar()
    y_true = part.agg(F.sum("p_size").cast("long")).scalar()
    est = (
        F.sum(
            F.col("n_picks").cast("double")
            * F.col("p_size").cast("double")
            * w_tot.cast("double")
            / F.col("w").cast("double")
        )
        / _PPS_N
    )
    return joined.agg(
        F.count("*").cast("long").alias("n_sampled_items"),
        F.sum("n_picks").cast("long").alias("n_draws"),
        F.sum(F.when(F.col("n_picks") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_multi_picked"),
        y_true.alias("true_total"),
        F.floor(est * 1000000 + 0.5).cast("long").alias("estimate_micro"),
        F.floor(
            F.abs(est - y_true.cast("double"))
            / y_true.cast("double")
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("rel_err_micro"),
    )


QUERIES["sample_pps_estimator"] = pps_estimator
# Replays the integer systematic walk (same decimal-exact floor-div), then
# the Hansen-Hurwitz sum with W and the true total as scalar subqueries.
ORACLES["sample_pps_estimator"] = f"""
    WITH w AS (
        SELECT p_partkey, p_size,
               floor(p_retailprice * 100 + 0.5)::BIGINT AS w
        FROM part
    ),
    c AS (
        SELECT p_partkey, p_size, w,
               sum(w) OVER (ORDER BY p_partkey ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW)::BIGINT AS cum,
               sum(w) OVER ()::BIGINT AS tot
        FROM w
    ),
    picks AS (
        SELECT p_partkey, p_size, w,
               ((2 * {_PPS_N} * cum + tot - 1) // (2 * tot)
                - (2 * {_PPS_N} * (cum - w) + tot - 1) // (2 * tot))::BIGINT
                   AS n_picks,
               tot
        FROM c
    ),
    s AS (SELECT * FROM picks WHERE n_picks > 0),
    tv AS (SELECT sum(p_size)::BIGINT AS y_true FROM part)
    SELECT count(*)::BIGINT AS n_sampled_items,
           sum(n_picks)::BIGINT AS n_draws,
           sum(CASE WHEN n_picks > 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_multi_picked,
           (SELECT y_true FROM tv) AS true_total,
           floor(sum(n_picks::DOUBLE * p_size::DOUBLE * tot::DOUBLE
                     / w::DOUBLE) / {_PPS_N} * 1000000 + 0.5)::BIGINT
               AS estimate_micro,
           floor(abs(sum(n_picks::DOUBLE * p_size::DOUBLE * tot::DOUBLE
                         / w::DOUBLE) / {_PPS_N}
                     - (SELECT y_true FROM tv)::DOUBLE)
                 / (SELECT y_true FROM tv)::DOUBLE * 1000000 + 0.5)::BIGINT
               AS rel_err_micro
    FROM s
"""


def snake_shards(tables: dict[str, DataFrame], n_shards: int = 8) -> DataFrame:
    """Boustrophedon (snake-draft) balanced sharding — assign docs to B=8
    shards so per-shard TOKEN loads stay even: sort docs by token count
    descending, deal rank r to shard r%B on even rounds and B−1−(r%B) on
    odd rounds. The window-expressible cousin of LPT multiway
    partitioning (which needs a sequential min-load cursor): for sorted
    inputs the snake's worst-case imbalance is one document's tokens per
    round pair, which is what makes it the standard recipe for balanced
    training microbatches / length-bucketed shards (companions:
    ``sample_shuffle_shards`` balances COUNTS by hash;
    ``text_pack_bins`` packs to a CAPACITY; this balances LOADS to a
    fixed shard count).

    Exactness: token counts and loads are exact BIGINTs; imbalance
    ratios are single pinned divisions.

    Scale: one global sort-rank over (n_tokens, doc_id) — the same
    two-phase range-partitioned ranking posture as the quantile kernels;
    everything after is a B-row agg."""
    docs = tables["documents"]
    d = docs.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens")
    )
    w = Window.orderBy(F.desc("n_tokens"), "doc_id")
    r = F.row_number().over(w) - 1
    pos = r % n_shards
    rnd = F.floor(r / n_shards)
    shard = F.when(rnd % 2 == 0, pos).otherwise(n_shards - 1 - pos)
    assigned = d.select(
        "doc_id", "n_tokens", shard.cast("long").alias("shard")
    )
    per = assigned.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("token_load"),
        F.sum(F.col("doc_id")).cast("long").alias("doc_id_checksum"),
    )
    wall = Window.partitionBy()
    mn = F.min("token_load").over(wall)
    mx = F.max("token_load").over(wall)
    return per.select(
        "shard",
        "n_docs",
        "token_load",
        "doc_id_checksum",
        (F.col("token_load") - mn).cast("long").alias("over_min"),
        F.floor(
            mx.cast("double") / mn.cast("double") * 1000000 + 0.5
        ).cast("long").alias("skew_micro"),
    )


QUERIES["sample_snake_shards"] = snake_shards
# Same (tokens desc, doc_id) rank, same snake fold; the doc_id checksum
# pins MEMBERSHIP per shard, not just the load totals.
ORACLES["sample_snake_shards"] = """
    WITH d AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT
                   AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_tokens,
               row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS r
        FROM d
    ),
    assigned AS (
        SELECT doc_id, n_tokens,
               CASE WHEN (r // 8) % 2 = 0 THEN r % 8
                    ELSE 7 - (r % 8) END::BIGINT AS shard
        FROM ranked
    ),
    per AS (
        SELECT shard, count(*)::BIGINT AS n_docs,
               sum(n_tokens)::BIGINT AS token_load,
               sum(doc_id)::BIGINT AS doc_id_checksum
        FROM assigned GROUP BY shard
    )
    SELECT shard, n_docs, token_load, doc_id_checksum,
           (token_load - min(token_load) OVER ())::BIGINT AS over_min,
           floor(max(token_load) OVER ()::DOUBLE
                 / min(token_load) OVER ()::DOUBLE * 1000000 + 0.5)::BIGINT
               AS skew_micro
    FROM per
"""


def padding_waste(tables: dict[str, DataFrame], batch: int = 16) -> DataFrame:
    """Padding-waste audit for fixed-shape batching — the training-
    efficiency number length-bucketed batching exists to fix: batch docs
    16 at a time and every sequence pads to its batch's max length, so
    waste = Σ(batch_max·B − Σlen)/Σ(batch_max·B). Three policies
    compared on identical data: RANDOM-ish order (doc_id — the naive
    loader), SORTED by length (the bucketing ideal), and SORTED WITHIN
    LENGTH BUCKETS of 32 tokens (the practical shuffle-friendly
    compromise). One row per policy with exact token/pad volumes — the
    report that justifies a bucketing stage in the input pipeline
    (``text_pack_bins`` solves the cousin problem of packing VARIABLE
    batches; this audits FIXED-shape batches).

    Exactness: lengths, batch maxima and pad volumes are exact BIGINTs;
    the waste share is one pinned division per row.

    Scale: three rank windows over the doc-length table (two-phase
    range-partitioned ranking posture) and a batch-keyed agg each —
    lengths shuffle, text does not."""
    docs = tables["documents"]
    lens = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("len"),
    )

    def policy(order_cols, name):
        w = Window.orderBy(*order_cols)
        b = lens.select(
            "len", F.floor((F.row_number().over(w) - 1) / batch).alias("bid")
        )
        per = b.groupBy("bid").agg(
            F.max("len").alias("mx"),
            F.sum("len").alias("tok"),
            F.count("*").alias("n"),
        )
        return per.agg(
            F.lit(name).alias("policy"),
            F.sum(F.col("mx") * F.col("n")).cast("long").alias("padded_tokens"),
            F.sum("tok").cast("long").alias("real_tokens"),
            F.floor(
                (
                    F.sum(F.col("mx") * F.col("n")) - F.sum("tok")
                ).cast("double")
                / F.sum(F.col("mx") * F.col("n")).cast("double")
                * 1000000
                + 0.5
            ).cast("long").alias("waste_micro"),
        )

    a = policy([F.col("doc_id")], "1_arrival")
    b = policy([F.col("len"), F.col("doc_id")], "2_sorted")
    c = policy(
        [F.floor(F.col("len") / 32), F.col("doc_id")], "3_bucketed_32"
    )
    return a.unionByName(b).unionByName(c)


QUERIES["sample_padding_waste"] = padding_waste
ORACLES["sample_padding_waste"] = """
    WITH lens AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS l
        FROM documents
    ),
    pol AS (
        SELECT '1_arrival' AS policy, l,
               (row_number() OVER (ORDER BY doc_id) - 1) // 16 AS bid
        FROM lens
        UNION ALL
        SELECT '2_sorted', l,
               (row_number() OVER (ORDER BY l, doc_id) - 1) // 16
        FROM lens
        UNION ALL
        SELECT '3_bucketed_32', l,
               (row_number() OVER (ORDER BY l // 32, doc_id) - 1) // 16
        FROM lens
    ),
    per AS (
        SELECT policy, bid, max(l) AS mx, sum(l) AS tok, count(*) AS n
        FROM pol GROUP BY 1, 2
    )
    SELECT policy,
           sum(mx * n)::BIGINT AS padded_tokens,
           sum(tok)::BIGINT AS real_tokens,
           floor((sum(mx * n) - sum(tok))::DOUBLE / sum(mx * n)::DOUBLE
                 * 1000000 + 0.5)::BIGINT AS waste_micro
    FROM per GROUP BY policy
"""


def cluster_design(tables: dict[str, DataFrame], n_clusters: int = 40) -> DataFrame:
    """Two-stage CLUSTER sampling + design effect — the survey-sampling
    fact of life ``sample_stratified_exact`` ignores: when units arrive
    in clusters (users, sessions, crawl hosts) and you sample CLUSTERS,
    within-cluster correlation inflates variance by DEFF ≈ 1 + (m̄−1)·ρ
    (Kish). Stage 1 picks every ⌈U/n⌉-th user by md5 order
    (deterministic systematic draw); stage 2 keeps all their events.
    Emits the exact one-way-ANOVA intraclass correlation ρ of event
    value over ALL users, the sampled/total censuses, and DEFF — the
    number that says how many EXTRA clusters this design must buy to
    match simple random sampling.

    Exactness: cents and cluster moments are exact BIGINTs; ρ's
    between/within mean squares and DEFF are fixed-shape doubles over
    them, micro-pinned.

    Scale: one user-keyed rollup (moments per cluster), one global agg;
    the systematic draw is a rank window over user ids (two-phase
    range-partitioned at 100 TB, the PPS posture)."""
    ev = tables["events"]
    # localCheckpoint: the |users|-row cluster-moment table feeds FIVE
    # derivations (the n_users scalar, the two sampled-census scalars —
    # each re-deriving the rank window —, and the ANOVA aggregate), and
    # ReuseSubquery dedups none of them: un-checkpointed, every one
    # replayed the full events scan+agg (r11, the medallion_recon lesson;
    # same frame class as importance_resample's accepted checkpoint).
    per_u = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("m"),
        F.sum(F.floor(F.col("value") * 100 + 0.5)).cast("long").alias("s"),
        # per-term decimal BEFORE the sum (the periodogram discipline):
        # casting the already-long sum protects nothing against overflow
        F.sum(
            F.floor(F.col("value") * 100 + 0.5).cast("decimal(38,0)")
            * F.floor(F.col("value") * 100 + 0.5)
        ).alias("ss"),
    ).localCheckpoint()
    n_users = F.lit(int(per_u.agg(F.count("*")).collect()[0][0])).cast("long")
    w = Window.orderBy(F.md5(F.col("user_id").cast("string")), "user_id")
    ranked = per_u.withColumn("rk", F.row_number().over(w) - 1)
    sampled = ranked.where(
        F.col("rk") % F.ceil(n_users.cast("double") / n_clusters).cast("long")
        == 0
    )
    # one-way ANOVA over ALL clusters: MSB/MSW -> ICC (ANOVA estimator)
    g = per_u.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("m").cast("long").alias("n"),
        F.sum("s").cast("long").alias("t"),
        F.sum(F.col("ss")).alias("ss_all"),
        # per-cluster s²/m in ONE double shape on both engines (decimal/
        # HUGEINT division rules diverge: DuckDB truncates, Spark scales)
        F.sum(
            F.col("s").cast("double") * F.col("s").cast("double")
            / F.col("m").cast("double")
        ).alias("between_raw"),
        F.sum(F.col("m").cast("double") * F.col("m")).alias("m2"),
    )
    kd = F.col("k").cast("double")
    nd = F.col("n").cast("double")
    cf = F.col("t").cast("double") * F.col("t").cast("double") / nd
    ssb = F.col("between_raw").cast("double") - cf
    ssw = F.col("ss_all").cast("double") - F.col("between_raw").cast("double")
    msb = ssb / (kd - 1.0)
    msw = ssw / (nd - kd)
    m0 = (nd - F.col("m2") / nd) / (kd - 1.0)
    icc = (msb - msw) / (msb + (m0 - 1.0) * msw)
    stats = g.select(
        "k", "n", icc.alias("icc"), (nd / kd).alias("mbar")
    )
    # ONE pass over the sampled sliver for both censuses (two .scalar()
    # subqueries each replayed the rank window)
    srow = sampled.agg(
        F.count("*").cast("long").alias("u"),
        F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("e"),
    ).collect()[0]
    n_sampled_users = F.lit(int(srow["u"])).cast("long")
    n_sampled_events = F.lit(int(srow["e"])).cast("long")
    return stats.select(
        F.col("k").alias("n_users_total"),
        F.col("n").alias("n_events_total"),
        n_sampled_users.alias("n_users_sampled"),
        n_sampled_events.alias("n_events_sampled"),
        F.floor(F.col("icc") * 1000000 + 0.5).cast("long").alias("icc_micro"),
        F.floor(
            (1.0 + (F.col("mbar") - 1.0) * F.col("icc")) * 1000000 + 0.5
        ).cast("long").alias("deff_micro"),
    )


QUERIES["sample_cluster_design"] = cluster_design
ORACLES["sample_cluster_design"] = """
    WITH per_u AS (
        SELECT user_id, count(*)::BIGINT AS m,
               sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS s,
               sum(floor(value * 100 + 0.5)::HUGEINT
                   * floor(value * 100 + 0.5)::HUGEINT)::HUGEINT AS ss
        FROM events GROUP BY user_id
    ),
    nn AS (SELECT count(*)::BIGINT AS u FROM per_u),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY md5(user_id::VARCHAR),
                                     user_id) - 1 AS rk
        FROM per_u
    ),
    sampled AS (
        SELECT * FROM ranked
        WHERE rk % ceil((SELECT u FROM nn)::DOUBLE / 40)::BIGINT = 0
    ),
    g AS (
        SELECT count(*)::BIGINT AS k, sum(m)::BIGINT AS n,
               sum(s)::BIGINT AS t, sum(ss)::HUGEINT AS ss_all,
               sum(s::DOUBLE * s::DOUBLE / m::DOUBLE) AS between_raw,
               sum(m::DOUBLE * m::DOUBLE) AS m2
        FROM per_u
    )
    SELECT k AS n_users_total, n AS n_events_total,
           (SELECT count(*) FROM sampled)::BIGINT AS n_users_sampled,
           (SELECT coalesce(sum(m), 0) FROM sampled)::BIGINT
               AS n_events_sampled,
           floor(((between_raw::DOUBLE - t::DOUBLE * t::DOUBLE / n::DOUBLE)
                  / (k::DOUBLE - 1.0)
                  - (ss_all::DOUBLE - between_raw::DOUBLE)
                    / (n::DOUBLE - k::DOUBLE))
                 / ((between_raw::DOUBLE - t::DOUBLE * t::DOUBLE / n::DOUBLE)
                    / (k::DOUBLE - 1.0)
                    + (((n::DOUBLE - m2 / n::DOUBLE) / (k::DOUBLE - 1.0))
                       - 1.0)
                      * (ss_all::DOUBLE - between_raw::DOUBLE)
                      / (n::DOUBLE - k::DOUBLE))
                 * 1000000 + 0.5)::BIGINT AS icc_micro,
           floor((1.0 + (n::DOUBLE / k::DOUBLE - 1.0)
                  * ((between_raw::DOUBLE - t::DOUBLE * t::DOUBLE / n::DOUBLE)
                     / (k::DOUBLE - 1.0)
                     - (ss_all::DOUBLE - between_raw::DOUBLE)
                       / (n::DOUBLE - k::DOUBLE))
                  / ((between_raw::DOUBLE - t::DOUBLE * t::DOUBLE / n::DOUBLE)
                     / (k::DOUBLE - 1.0)
                     + (((n::DOUBLE - m2 / n::DOUBLE) / (k::DOUBLE - 1.0))
                        - 1.0)
                       * (ss_all::DOUBLE - between_raw::DOUBLE)
                       / (n::DOUBLE - k::DOUBLE)))
                 * 1000000 + 0.5)::BIGINT AS deff_micro
    FROM g
"""


def purged_walkforward(
    tables: dict[str, DataFrame], n_folds: int = 5, gap_days: int = 2
) -> DataFrame:
    """Purged walk-forward cross-validation splits — the time-series CV
    protocol (López de Prado's purged K-fold, walk-forward form) every
    temporal model eval needs: test fold k is a contiguous day band,
    train is everything ENDING a purge gap BEFORE the band starts, so
    label/feature windows that straddle the boundary cannot leak (the
    stricter sibling of ``sample_chronological_cv``, which has no gap).
    Emits the per-fold census plus an explicit leak_ok check (train max
    day + gap < test min day) so a boundary regression flips a hash-gated
    boolean, not a silent metric.

    Exactness: day bands are pure integer arithmetic on day offsets from
    the corpus minimum (the heaps_law VALUE-band discipline — no global
    row_number); counts exact.

    Scale: one scan tags rows with (day offset, fold band); the per-fold
    test starts are an n_folds-row aggregate (collected — config-sized,
    like a bucket list) that unrolls into ONE conditional-aggregation
    pass computing every fold's train/test census and train-max
    simultaneously — no per-fold rescan, no row fan-out, no BNLJ."""
    ev = tables["events"]
    # ONE collected pass for both bounds (r11): lo/hi rode as scalar
    # subqueries inside tagged, and the 5-fold union re-derived the whole
    # tagged→wide pipeline per branch — the plan scanned events 25x with
    # 40 subqueries. Bounds and span are exact date/int arithmetic.
    b = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    ).collect()[0]
    lo, hi = b["lo"], b["hi"]
    schema = (
        "fold long, n_train long, n_test long, train_max_off long,"
        " test_min_off long, leak_ok boolean"
    )
    if lo is None:  # no events: every fold is empty, as in the oracle
        return ev.sparkSession.createDataFrame(
            [(f, 0, 0, None, None, None) for f in range(1, n_folds + 1)], schema
        )
    span = F.lit((hi - lo).days + 1)
    off = F.datediff(F.to_date("ts"), F.lit(lo)).cast("long")
    # fold band of a day offset: ceil((off+1) * n / span) in 1..n
    band = F.ceil((off + F.lit(1)) * F.lit(n_folds) / span).cast("long")
    tagged = ev.select(off.alias("off"), band.alias("band"))
    t_lo_by_fold = {
        int(r["band"]): r["t_lo"]
        for r in tagged.groupBy("band").agg(F.min("off").alias("t_lo")).collect()
    }
    aggs = []
    for f in range(1, n_folds + 1):
        tl = t_lo_by_fold.get(f)
        cutoff = (tl - gap_days - 1) if tl is not None else -1
        aggs.append(
            F.sum(F.when(F.col("off") <= F.lit(cutoff), 1).otherwise(0))
            .cast("long")
            .alias(f"train_{f}")
        )
        aggs.append(
            F.max(F.when(F.col("off") <= F.lit(cutoff), F.col("off"))).alias(
                f"trmax_{f}"
            )
        )
        aggs.append(
            F.sum(F.when(F.col("band") == f, 1).otherwise(0))
            .cast("long")
            .alias(f"test_{f}")
        )
    # collect the 1-row census ONCE and unroll driver-side — the previous
    # 5-branch union replayed the whole conditional-aggregation pass (and
    # its embedded bound subqueries) per fold. Pure integer arithmetic,
    # None semantics mirrored (NULL comparison -> NULL leak_ok).
    wrow = tagged.agg(*aggs).collect()[0]
    rows = []
    for f in range(1, n_folds + 1):
        tl = t_lo_by_fold.get(f)
        trmax = wrow[f"trmax_{f}"]
        leak_ok = (
            None
            if tl is None
            else ((trmax if trmax is not None else -(10**9)) + gap_days < tl)
        )
        rows.append(
            (f, wrow[f"train_{f}"], wrow[f"test_{f}"], trmax, tl, leak_ok)
        )
    return ev.sparkSession.createDataFrame(rows, schema)


QUERIES["sample_purged_walkforward"] = purged_walkforward
ORACLES["sample_purged_walkforward"] = """
    WITH b AS (
        SELECT min(ts::DATE) AS lo,
               date_diff('day', min(ts::DATE), max(ts::DATE)) + 1 AS span
        FROM events
    ),
    tagged AS (
        SELECT date_diff('day', (SELECT lo FROM b), ts::DATE)::BIGINT AS off,
               ceil((date_diff('day', (SELECT lo FROM b), ts::DATE) + 1) * 5.0
                    / (SELECT span FROM b))::BIGINT AS band
        FROM events
    ),
    bounds AS (
        SELECT band AS fold, min(off) AS t_lo FROM tagged GROUP BY band
    ),
    folds AS (SELECT unnest(range(1, 6))::BIGINT AS fold),
    census AS (
        SELECT f.fold,
               (SELECT count(*) FROM tagged t
                WHERE t.off <= coalesce(bo.t_lo, 0) - 3)::BIGINT AS n_train,
               (SELECT count(*) FROM tagged t
                WHERE t.band = f.fold)::BIGINT AS n_test,
               (SELECT max(t.off) FROM tagged t
                WHERE t.off <= coalesce(bo.t_lo, 0) - 3)::BIGINT
                   AS train_max_off,
               bo.t_lo::BIGINT AS test_min_off
        FROM folds f LEFT JOIN bounds bo ON f.fold = bo.fold
    )
    SELECT fold, n_train, n_test, train_max_off, test_min_off,
           coalesce(train_max_off, -1000000000) + 2 < test_min_off AS leak_ok
    FROM census
"""


def conformal_interval(tables: dict[str, DataFrame], alpha_pct: int = 90) -> DataFrame:
    """Split-conformal prediction intervals (Vovk et al.; Papadopoulos
    2002 inductive form, public) — the distribution-free uncertainty
    wrapper an ML-eval pipeline puts around ANY point predictor: fit on a
    train split, take the ceil((n+1)·α)-th smallest absolute residual on
    a held-out CALIBRATION split as the interval half-width q̂, and the
    marginal coverage guarantee P(|y − ŷ| ≤ q̂) ≥ α holds on exchangeable
    test data with no model assumptions. Completes the eval family:
    the CV ops (``sample_kfold_assign``/``sample_purged_walkforward``)
    estimate ACCURACY; conformal calibrates UNCERTAINTY.

    Concrete instance: predictor = per-event_type mean value (train
    split), conformity score = absolute residual, α from ``alpha_pct``.
    Splits are stable md5(event_id) sixteenths (the ``hash_split``
    protocol: 10/3/3 train/cal/test) so membership replays on both
    engines.

    Exactness: values quantize to cents FIRST, so the train mean is an
    integer ``div`` (no float-summation-order hazard), residuals and q̂
    are exact integers, the calibration rank is the exact-order
    statistic ceil((n_cal+1)·α/100) = (n_cal+1)·α_pct div-ceil via
    integer arithmetic ((n+1)·a + 99) div 100, ties broken (residual,
    event_id) for a total order, and coverage is an integer ppm ratio.
    Types with an empty calibration split coalesce q̂ to +∞ (cover-all),
    matching the conformal convention when k > n_cal.

    Scale: one scan computes (type, split, cents); the train mean is a
    type-keyed partial agg; the rank selection sorts only the
    calibration sliver per type; coverage is a second type-keyed agg —
    nothing corpus² and nothing driver-side."""
    ev = tables["events"]
    h1 = F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
    split = (
        F.when(h1.isin("a", "b", "c"), F.lit("cal"))
        .when(h1.isin("d", "e", "f"), F.lit("test"))
        .otherwise(F.lit("train"))
    )
    base = ev.select(
        "event_id",
        "event_type",
        split.alias("split"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    train = base.where(F.col("split") == "train").groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_train"),
        F.expr("sum(cents) div count(*)").alias("pred_cents"),
    )
    scored = base.where(F.col("split") != "train").join(train, "event_type").select(
        "event_id",
        "event_type",
        "split",
        "n_train",
        "pred_cents",
        F.abs(F.col("cents") - F.col("pred_cents")).alias("resid"),
    )
    cal = scored.where(F.col("split") == "cal")
    w = Window.partitionBy("event_type").orderBy(F.asc("resid"), F.asc("event_id"))
    ncal = cal.groupBy("event_type").agg(F.count("*").cast("long").alias("n_cal"))
    k = F.expr(f"((n_cal + 1) * {alpha_pct} + 99) div 100")
    qhat = (
        cal.withColumn("rn", F.row_number().over(w))
        .join(ncal, "event_type")
        .where(F.col("rn") == F.least(k, F.col("n_cal")))
        .select(
            "event_type",
            "n_cal",
            # k > n_cal ⇒ the guarantee needs an infinite interval; the
            # largest residual stands in ONLY when k == n_cal (least()
            # above), so flag the cover-all case explicitly
            F.when(k > F.col("n_cal"), F.lit(None))
            .otherwise(F.col("resid"))
            .alias("qhat_cents"),
        )
    )
    test = scored.where(F.col("split") == "test")
    return (
        test.join(qhat, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_train").alias("n_train"),
            F.max("n_cal").alias("n_cal"),
            F.max("qhat_cents").cast("long").alias("qhat_cents"),
            F.count("*").cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.col("qhat_cents").isNull()
                    | (F.col("resid") <= F.col("qhat_cents")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
        .select(
            "event_type",
            "n_train",
            "n_cal",
            "qhat_cents",
            "n_test",
            "n_covered",
            F.expr("n_covered * 1000000 div n_test").alias("cov_ppm"),
        )
    )


QUERIES["sample_conformal_interval"] = conformal_interval
ORACLES["sample_conformal_interval"] = """
    WITH base AS (
        SELECT event_id, event_type,
               CASE WHEN substring(md5(event_id::VARCHAR), 1, 1) IN ('a','b','c')
                    THEN 'cal'
                    WHEN substring(md5(event_id::VARCHAR), 1, 1) IN ('d','e','f')
                    THEN 'test'
                    ELSE 'train' END AS split,
               floor(value * 100 + 0.5)::BIGINT AS cents
        FROM events
    ),
    train AS (
        SELECT event_type, count(*)::BIGINT AS n_train,
               sum(cents)::BIGINT // count(*)::BIGINT AS pred_cents
        FROM base WHERE split = 'train' GROUP BY event_type
    ),
    scored AS (
        SELECT b.event_id, b.event_type, b.split, t.n_train, t.pred_cents,
               abs(b.cents - t.pred_cents)::BIGINT AS resid
        FROM base b JOIN train t USING (event_type)
        WHERE b.split != 'train'
    ),
    cal AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY resid ASC, event_id ASC) AS rn,
               count(*) OVER (PARTITION BY event_type)::BIGINT AS n_cal
        FROM scored WHERE split = 'cal'
    ),
    qhat AS (
        SELECT event_type, n_cal,
               CASE WHEN ((n_cal + 1) * 90 + 99) // 100 > n_cal THEN NULL
                    ELSE resid END AS qhat_cents
        FROM cal
        WHERE rn = least(((n_cal + 1) * 90 + 99) // 100, n_cal)
    )
    SELECT t.event_type, max(t.n_train)::BIGINT AS n_train,
           max(q.n_cal)::BIGINT AS n_cal,
           max(q.qhat_cents)::BIGINT AS qhat_cents,
           count(*)::BIGINT AS n_test,
           sum(CASE WHEN q.qhat_cents IS NULL OR t.resid <= q.qhat_cents
                    THEN 1 ELSE 0 END)::BIGINT AS n_covered,
           (sum(CASE WHEN q.qhat_cents IS NULL OR t.resid <= q.qhat_cents
                     THEN 1 ELSE 0 END)::BIGINT * 1000000) // count(*)::BIGINT
               AS cov_ppm
    FROM scored t JOIN qhat q USING (event_type)
    WHERE t.split = 'test'
    GROUP BY t.event_type
"""
