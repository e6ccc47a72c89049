"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point of these ops at 100 TB):
- **exact**: hash-groupBy on md5(text) — one shuffle keyed by digest, never
  by the document bytes themselves.
- **ngram_jaccard**: exact pairwise Jaccard via a shingle self-join. This is
  the quadratic-worst-case *verifier*; at scale it runs only on candidate
  pairs produced by MinHash-LSH, never on the full corpus. Hot shingles are
  the skew risk — AQE skew-join handles moderate skew; a document-frequency
  cap (drop shingles appearing in > N docs, standard prefix filtering)
  bounds the worst case.
- **minhash_lsh**: k minhashes from xxhash64 (JVM-side, no UDF), banded into
  b bands of r rows; docs agreeing on a band's sub-signature share a bucket
  and pair up in place (groupBy band+bucket, collect, ordered pairs — no
  self-join, one scan). Shuffle cost O(docs × b) — the linear-ish scale path.
  Candidates and their exact verification both read one per-doc sketch
  (signature + shingle-hash set, ``minhash_sketch``), and their Column
  expressions are built once per JVM (``scalars.per_jvm``).
- **simhash**: 64-bit signature via per-bit majority vote over token hashes,
  computed as 64 conditional sums in ONE aggregation pass (no UDF, no
  explode-per-bit). Near-dups = small hamming distance, blocked on 16-bit
  sub-bands for candidate generation.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_210225_spark.functions.scalars import per_jvm, round6
from flink_210225_spark.ops.text import tokens_col

# --- exact dedup ---


def exact_dedup(tables: dict[str, DataFrame]) -> DataFrame:
    """Groups of byte-identical texts: digest, surviving doc (min id), and
    duplicate count. Downstream "keep one" = semi-join on keep_id. THE
    byte-exact keep rule lives here — ``exact_keep_ids`` (and through it
    cascade_funnel/tf_shift) projects this grouping, so a tie-break or
    digest change lands once (ADVICE r7 #1)."""
    docs = tables["documents"]
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_ct"))
    )


def exact_keep_ids(docs: DataFrame) -> DataFrame:
    """The canonical byte-exact survivor set (min doc_id per md5(text)
    group) — a projection of ``exact_dedup``'s grouping, NOT a re-derived
    digest, so the keep rule is single-sourced (ADVICE r7 #1)."""
    return exact_dedup({"documents": docs}).select(
        F.col("keep_id").alias("doc_id")
    )


def normalized_dedup(tables: dict[str, DataFrame]) -> DataFrame:
    """Exact dedup after CCNet-style normalization (lowercase, collapse
    whitespace, trim): catches near-identical docs that differ only in case
    or spacing, which byte-exact dedup misses. Same scale shape as
    ``exact_dedup`` — one shuffle keyed by the 16-byte digest of the
    normalized text, never by document bytes."""
    docs = tables["documents"]
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.groupBy(F.md5(norm).alias("norm_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_ct")
    )


def token_sort_dedup(tables: dict[str, DataFrame]) -> DataFrame:
    """Exact dedup under TOKEN-SORT canonicalization — the bag-of-words
    member of the normalization ladder (``dedup_exact`` is byte-level,
    ``dedup_normalized`` is case/whitespace-level; sorting the tokens
    makes reorderings collide, the fuzzywuzzy token_sort_ratio idea at
    exact-match cost). Catches shuffled boilerplate, reordered CSV-ish
    listings, and template permutations that every weaker canonicalizer
    misses, at the same one-digest-shuffle scale shape. Normalization
    composes with the CCNet step (lowercase first), then sorts the token
    multiset and digests it."""
    docs = tables["documents"]
    toks = tokens_col(F.lower(F.trim(F.col("text"))))
    canon = F.concat_ws(" ", F.array_sort(toks))
    return docs.groupBy(F.md5(canon).alias("ts_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_ct")
    )


# --- n-gram (shingle) machinery shared by jaccard + minhash ---


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the document.

    The split is let-bound via a single-element transform: referencing the
    raw split expression inside the inner lambda would re-tokenize the
    document per shingle INDEX (expressions don't CSE across lambda
    boundaries) — O(tokens²) per doc; binding makes it O(tokens·n)."""

    def mk(toks: Column) -> Column:
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        )

    return F.get(F.transform(F.array(tokens_col(text)), mk), 0)


def doc_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    # Repartition BEFORE the explode: the fixture scan is one parquet split
    # locally, so the shingle explode + downstream hashing otherwise runs
    # single-threaded (r9 bench root-cause — same fix as multimodal._spread).
    # One exchange of (doc_id, text) rows buys every shingle consumer full
    # parallelism. Scale-conditional (VERDICT r10 #2): on a real cluster
    # the scan already arrives in thousands of splits and the repartition
    # would be a full corpus network pass — skipped via few_input_splits.
    from flink_210225_spark.io import few_input_splits

    if few_input_splits(docs):
        docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    return docs.select("doc_id", F.explode(shingles_col(F.col("text"), n)).alias("shingle"))


def _spread_by_doc(docs: DataFrame) -> DataFrame:
    """Hash-repartition the docs scan BY doc_id before a token explode that
    feeds a ``groupBy(doc_id)`` aggregation (r11; the fix for the
    single-task signature aggregations that round-robin ``_spread`` could
    not touch). Round-robin is WRONG for those paths — the r10 NOTE at
    ``simhash_signatures`` measured it: splitting a doc's tokens across N
    partitions multiplies the 63-column partial-agg output ~N×. Hashing by
    doc_id keeps every doc in ONE partition, so the partial output stays
    |docs| rows, AND the downstream groupBy(doc_id) REUSES the partitioning
    (hash(doc_id) satisfies the aggregation's clustered distribution) — the
    explode and the wide vote aggregation run defaultParallelism-way with
    NO second exchange. Scale-conditional like every spread: skipped when
    the scan already arrives in many splits (io.few_input_splits) — at
    100 TB the groupBy's own shuffle of |docs| narrow partial rows is far
    cheaper than re-shuffling corpus text bytes."""
    from flink_210225_spark.io import few_input_splits

    if not few_input_splits(docs):
        return docs
    sess = docs.sparkSession
    return docs.repartition(sess.sparkContext.defaultParallelism, "doc_id")


def keep_best_dedup(tables: dict[str, DataFrame]) -> DataFrame:
    """Survivor selection for duplicate groups: within each normalized-text
    group keep the HIGHEST-QUALITY document (tie → lowest doc_id), not the
    arbitrary min-id that ``exact_dedup``/``normalized_dedup`` pick. This is
    the curation-grade dedup shape (e.g. keep the best-formatted mirror of a
    page, drop the scraped-twice copies).

    Scale: quality is computed in the same scan that digests the text (no
    second pass, no join against the quality query), then ONE shuffle keyed
    by the 16-byte digest feeds both window functions (rank + group size
    share the partition key, Spark plans a single Exchange + sort)."""
    from .text import _quality_expr, tokens_col

    docs = tables["documents"]
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    base = docs.select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        _quality_expr(tokens_col(F.col("text"))).alias("quality"),
    )
    from pyspark.sql import Window

    part = Window.partitionBy("norm_hash")
    ranked = base.select(
        "norm_hash",
        "doc_id",
        "quality",
        F.row_number()
        .over(part.orderBy(F.desc("quality"), F.asc("doc_id")))
        .alias("rn"),
        F.count("*").over(part).alias("dup_ct"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "norm_hash",
        F.col("doc_id").alias("keep_id"),
        F.col("quality").alias("keep_quality"),
        "dup_ct",
    )


def shingle_hotspots(
    tables: dict[str, DataFrame], n: int = 5, min_docs: int = 2, k: int = 20
) -> DataFrame:
    """Corpus-wide boilerplate detection: word ``n``-grams that appear in
    ≥ ``min_docs`` distinct documents (headers, footers, license blurbs —
    the C4/RefinedWeb "remove repeated lines across pages" family), top-k
    by document frequency.

    Scale: shingles are distinct-per-doc at the source (``shingles_col``
    dedups inside the row — no corpus-level distinct needed), the count is
    a map-side-combined groupBy on the shingle, and the top-k is
    orderBy+limit which Spark executes as TakeOrderedAndProject (per
    -partition heaps + driver merge of k rows, never a full sort)."""
    docs = tables["documents"]
    sh = docs.select(F.explode(shingles_col(F.col("text"), n)).alias("shingle"))
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("doc_ct"))
        .filter(F.col("doc_ct") >= min_docs)
        .orderBy(F.desc("doc_ct"), F.asc("shingle"))
        .limit(k)
    )


def span_dedup(
    tables: dict[str, DataFrame], n: int = 13, min_ct: int = 2
) -> DataFrame:
    """Duplicated-span statistics per document — the bounded, shuffle-friendly
    approximation of suffix-array ExactSubstr dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): instead of
    arbitrary-length duplicated substrings via a corpus suffix array (a
    global sort no engine does cheaply at 100 TB), find every word
    ``n``-gram span that occurs ≥ ``min_ct`` times ANYWHERE in the corpus
    (cross-doc or within-doc) and report, per affected document, how many
    span occurrences are duplicated and what fraction of its tokens a
    duplicated span covers. Any duplicated substring of length ≥ n contains
    a duplicated n-span, so coverage is a superset-marker of the exact
    method's removable ranges; downstream policy drops docs above a
    dup_fraction threshold (or excises the marked ranges).

    Scale: one scan emits (pos, xxhash64(span)) per span — 8-byte keys, the
    document bytes never shuffle. Occurrence counting is a window count over
    span_hash (streams per key; no collect_list, so a corpus-wide
    boilerplate span cannot build a giant in-memory bucket). Coverage is an
    interval-union in one lag window: spans all have length n, so the union
    of [pos, pos+n) intervals is n for the first occurrence plus
    min(n, pos - prev_pos) for each next — the doc_id window and the final
    groupBy share one Exchange. Total: two shuffles, both on 8-byte keys.
    Docs with < n tokens cannot contain an n-span and are filtered at the
    scan (matching ExactSubstr, where the 50-token threshold plays n's
    role)."""
    docs = tables["documents"]
    base = docs.select("doc_id", tokens_col(F.col("text")).alias("toks")).filter(
        F.size("toks") >= n
    )
    spans = base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - n),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("toks", i + 1, n))),
            )
        ).alias("pos", "span_hash"),
    )
    dup_occ = spans.withColumn(
        "ct", F.count("*").over(Window.partitionBy("span_hash"))
    ).filter(F.col("ct") >= min_ct)
    w = Window.partitionBy("doc_id").orderBy("pos")
    cov = dup_occ.select(
        "doc_id",
        "n_tokens",
        F.least(
            F.lit(n), F.coalesce(F.col("pos") - F.lag("pos").over(w), F.lit(n))
        ).alias("cov"),
    )
    res = cov.groupBy("doc_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.count("*").alias("dup_span_ct"),
        F.sum("cov").alias("covered_tokens"),
    )
    return res.select(
        "doc_id",
        "n_tokens",
        "dup_span_ct",
        "covered_tokens",
        (
            F.floor(F.col("covered_tokens") * 10000.0 / F.col("n_tokens") + 0.5) / 10000
        ).alias("dup_fraction"),
    )


def crossdoc_spans(tables: dict[str, DataFrame], n: int = 12) -> DataFrame:
    """Maximal CROSS-DOCUMENT duplicated runs — the islands form of
    ``span_dedup`` and the closest shuffle-friendly analog of ExactSubstr's
    removable ranges (Lee et al. 2021): positions whose ``n``-gram span also
    occurs in at least one OTHER document are merged into maximal islands
    (gap ≤ n ⇒ the [pos, pos+n) intervals overlap or touch ⇒ one
    contiguous duplicated substring), and each affected document reports
    its island count, longest run, and covered-token fraction. A maximal
    duplicated substring of length L ≥ n appears here as one island of
    exactly L tokens — this is what an excision policy cuts, where
    ``span_dedup``'s per-occurrence counts only say how much.

    Cross-doc is decided with min(doc_id) ≠ max(doc_id) over the span-hash
    window — two aggregates sharing ONE partition pass, because
    count(DISTINCT) over a window is unsupported and a groupBy+join-back
    would add a shuffle. Islands are lag + running-sum windows keyed by
    doc_id; the final per-(doc, island) and per-doc aggregations reuse the
    doc_id hash partitioning (no further Exchange — partitioning on doc_id
    satisfies the (doc_id, island) clustering). Total: two data-sized
    shuffles, both on 8-byte keys, document bytes never move."""
    docs = tables["documents"]
    base = docs.select("doc_id", tokens_col(F.col("text")).alias("toks")).filter(
        F.size("toks") >= n
    )
    spans = base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - n),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("toks", i + 1, n))),
            )
        ).alias("pos", "span_hash"),
    )
    wh = Window.partitionBy("span_hash")
    flagged = spans.select(
        "doc_id",
        "n_tokens",
        "pos",
        F.min("doc_id").over(wh).alias("dmin"),
        F.max("doc_id").over(wh).alias("dmax"),
    ).filter(F.col("dmin") != F.col("dmax"))
    wd = Window.partitionBy("doc_id").orderBy("pos")
    brk = flagged.select(
        "doc_id",
        "n_tokens",
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(wd) > n, 1).otherwise(0).alias("brk"),
    )
    isl = brk.select(
        "doc_id", "n_tokens", "pos", F.sum("brk").over(wd).alias("island")
    )
    runs = isl.groupBy("doc_id", "island").agg(
        F.max("n_tokens").alias("n_tokens"),
        (F.max("pos") - F.min("pos") + n).alias("run_len"),
    )
    out = runs.groupBy("doc_id").agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_islands"),
        F.max("run_len").cast("long").alias("max_run"),
        F.sum("run_len").cast("long").alias("covered_tokens"),
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "n_islands",
        "max_run",
        "covered_tokens",
        (
            F.floor(F.col("covered_tokens") * 10000.0 / F.col("n_tokens") + 0.5) / 10000
        ).alias("crossdup_frac"),
    )


def contamination_spans(
    tables: dict[str, DataFrame], bench_source: str = "src1", n: int = 12
) -> DataFrame:
    """Span-precise benchmark decontamination — ``crossdoc_spans``'s
    islands machinery pointed at the BENCHMARK: positions whose ``n``-gram
    also occurs anywhere in the held-out benchmark split merge into
    maximal contaminated runs per corpus document. Where
    ``text_contamination`` counts overlapping 5-grams (flag-level) this
    yields the exact excisable ranges (offset + length), the Lee et al.
    form of decontamination — cut the span, keep the document.

    Scale: the benchmark's distinct span hashes are a SMALL set (eval
    suites vs a 100 TB corpus) — Catalyst broadcasts that side, so the
    corpus streams through one scan + a broadcast semi-join probe; islands
    are the same doc_id-keyed lag/running-sum windows as crossdoc_spans
    (their groupBys reuse the partitioning). No corpus-sized shuffle on
    the benchmark axis."""
    docs = tables["documents"]
    corpus = docs.filter(F.col("source") != bench_source)
    bench = docs.filter(F.col("source") == bench_source)

    def spans_of(df: DataFrame) -> DataFrame:
        base = df.select("doc_id", tokens_col(F.col("text")).alias("toks")).filter(
            F.size("toks") >= n
        )
        return base.select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - n),
                    lambda i: F.xxhash64(F.concat_ws(" ", F.slice("toks", i + 1, n))),
                )
            ).alias("pos", "span_hash"),
        )

    b_spans = spans_of(bench).select("span_hash").distinct()
    flagged = spans_of(corpus).join(F.broadcast(b_spans), "span_hash")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    brk = flagged.select(
        "doc_id",
        "n_tokens",
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(wd) > n, 1).otherwise(0).alias("brk"),
    )
    isl = brk.select(
        "doc_id", "n_tokens", "pos", F.sum("brk").over(wd).alias("island")
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + n).alias("span_len"),
        )
        .select(
            "doc_id",
            F.col("island").cast("long").alias("span_idx"),
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_len").cast("long").alias("span_len"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
        )
    )


def excise_contaminated(
    tables: dict[str, DataFrame], bench_source: str = "src1", n: int = 12
) -> DataFrame:
    """The EXCISION step ``contamination_spans`` plans for: cut the
    contaminated ranges out of each affected document and emit the cleaned
    text's digest + token accounting — "cut the span, keep the document",
    completing detect → excise. Only contaminated docs appear (clean docs
    pass through a real pipeline untouched).

    Plan: span ranges explode to (doc, pos) rows (Σ span_len — sliver
    sized), the doc's tokens explode with positions, one LEFT ANTI join on
    (doc, pos) drops the contaminated tokens, and the cleaned text
    reassembles order-correctly via sort_array(collect_list(struct(pos,
    tok))) per doc — the shuffle is contaminated-docs sized, not corpus
    sized, because the token explode is semi-joined to affected docs
    first."""
    # localCheckpoint (r11): spans feeds THREE consumers (affected, bad,
    # totals) and each replayed the whole detect pipeline — two shingle
    # explodes + the island windows (plan scanned documents 7x). The span
    # table is contaminated-sliver sized (Σ islands rows, 5 columns).
    spans = contamination_spans(tables, bench_source, n).localCheckpoint()
    docs = tables["documents"]
    affected = spans.select("doc_id").distinct()
    toks = (
        docs.join(affected, "doc_id")
        .select(
            "doc_id",
            F.posexplode(tokens_col(F.col("text"))).alias("pos", "tok"),
        )
    )
    bad = spans.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.col("span_start"), F.col("span_start") + F.col("span_len") - 1
            )
        ).alias("pos"),
    )
    kept = toks.join(bad, ["doc_id", "pos"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.getField("tok"),
                ),
            )
        ).alias("cleaned_digest"),
    )
    totals = spans.groupBy("doc_id").agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.sum("span_len").cast("long").alias("removed_tokens"),
    )
    return totals.join(cleaned, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "removed_tokens",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(
            F.col("cleaned_digest"), F.md5(F.lit(""))
        ).alias("cleaned_digest"),
    )


def _pair_intersections(docs: DataFrame, n: int = 3) -> DataFrame:
    """Shared kernel of the exact set-overlap family (Jaccard, containment):
    for every ordered doc pair sharing ≥1 word-n-gram shingle, the pair's
    intersection size plus both docs' distinct-shingle counts
    (doc_a, doc_b, na, nb, inter).

    Shuffles xxhash64(shingle), not the string: ~8-byte keys instead of
    ~20-byte text. A 64-bit collision would overcount one intersection
    pair — probability ~n²/2⁶⁵ over n distinct shingles (≪1e-9 at any
    realistic corpus); the sf0.01 oracle gate runs collision-free.

    Carries each doc's shingle count through the shuffles (window by doc_id)
    so the final metric needs NO size join-back. Then groups by shingle and
    generates ordered doc pairs in place: the whole computation scans
    documents ONCE with three key-partitioned shuffles (doc_id → sh → pair).
    The previous self-join formulation scanned documents 4× (two join
    branches + two size branches). The size-1 bucket filter is lossless
    (a shingle in one document forms no pair). Hot shingles make k² pairs
    in one task either way (equi-join co-locates a bucket identically);
    past moderate skew, cap document frequency (standard prefix filtering)
    — at threshold 0.5 a shingle shared by >2/J·|corpus| docs can be
    dropped only with recall loss, so the cap is a tuning knob, not free."""
    # NOTE (r10): tried deriving n_sh from size(shingles_arr) at the source
    # instead of this count(*) window (one fewer Exchange+sort). Both
    # implementations REGRESSED at sf0.1: a named-select array gets
    # CollapseProject-inlined into size() AND the generator (2×
    # array_distinct in the plan, +18% here, 3-4× on the loop queries),
    # and the let-binding transform(array(arr), a -> transform(a, x ->
    # struct(size(a), x))) pays per-element struct allocation on the whole
    # shingle table — more than the saved window Exchange (prefix_filter,
    # which evaluates this subtree 3×, went 4.3→6.2 s). Window stays.
    sh = doc_shingles(docs, n).select("doc_id", F.xxhash64("shingle").alias("sh"))
    sh = sh.withColumn("n_sh", F.count("*").over(Window.partitionBy("doc_id")))
    buckets = (
        sh.groupBy("sh")
        .agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        "ds",
                        lambda x: F.transform(
                            "ds", lambda y: F.struct(x.alias("a"), y.alias("b"))
                        ),
                    )
                ),
                lambda p: p["a"]["doc_id"] < p["b"]["doc_id"],
            )
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.a.n_sh").alias("na"),
        F.col("p.b.n_sh").alias("nb"),
    ).agg(F.count("*").alias("inter"))


def ngram_jaccard_pairs(
    tables: dict[str, DataFrame], n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact pairwise Jaccard over word-3-gram shingle sets for pairs sharing
    at least one shingle; emit pairs ≥ threshold with doc_a < doc_b.
    Plan notes in ``_pair_intersections`` (shared with containment)."""
    inter = _pair_intersections(tables["documents"], n)
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.withColumn("jaccard", F.floor(jac * 10000 + 0.5) / 10000)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def threshold_curve(tables: dict[str, DataFrame], n: int = 3) -> DataFrame:
    """Near-dup threshold sensitivity curve — the calibration artifact a
    dedup operator reads BEFORE picking the production Jaccard cutoff:
    pair counts per similarity decile plus the cumulative count at each
    candidate threshold (how many pairs a 0.7 cutoff keeps vs 0.8). Runs
    on the exact verifier's pair frame at a low floor (0.3) so the curve
    covers the whole decision range.

    Exactness: the 4dp-pinned jaccard is recovered to its exact integer
    ten-thousandths (floor(j·10⁴+0.5)) before bucketing — bucketing the
    DOUBLE directly (floor(j·10)) mis-buckets exact boundaries like 0.6,
    whose nearest double is below 0.6. Decile id and cumulative counts
    are pure integers. Plan: the verifier's candidate-bounded kernel + a
    10-row rollup."""
    pairs = ngram_jaccard_pairs(tables, n=n, threshold=0.3)
    j4 = F.floor(F.col("jaccard") * 10000 + F.lit(0.5)).cast("long")
    b = (j4 - j4 % 1000) / 1000
    counts = pairs.groupBy(b.cast("int").alias("decile")).agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    w = Window.orderBy(F.col("decile").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return counts.select(
        "decile",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("pairs_at_or_above"),
    )


def containment_pairs(
    tables: dict[str, DataFrame], n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Directed near-SUBSET detection: containment C(A→B) = |A∩B|/|A| over
    word-n-gram shingle sets. Jaccard misses a short document embedded in a
    much longer one (the union term swamps it); containment is the standard
    asymmetric complement — quote extraction, article-inside-page, prompt
    leakage into longer corpora. Emits ordered pairs whose LARGER directional
    containment ≥ threshold, with the direction: ``a_in_b`` when doc_a's set
    is the (weakly) smaller one, else ``b_in_a``.

    Same single-scan bucket-pair kernel as exact Jaccard
    (``_pair_intersections``) — the only change is the final projection, so
    the scale posture (one scan, three key-partitioned shuffles, no
    size join-back) is identical. At 100 TB this runs on LSH candidates
    instead of raw co-occurrence buckets, same as the Jaccard family."""
    inter = _pair_intersections(tables["documents"], n)
    cont = F.col("inter") / F.least("na", "nb")
    return (
        inter.withColumn("containment", F.floor(cont * 10000 + 0.5) / 10000)
        .filter(F.col("containment") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            "containment",
            F.when(F.col("na") <= F.col("nb"), F.lit("a_in_b"))
            .otherwise(F.lit("b_in_a"))
            .alias("direction"),
        )
    )


def prefix_filter_pairs(
    tables: dict[str, DataFrame], n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin family,
    Bayardo et al. 2007): same output as ``ngram_jaccard_pairs`` — every pair
    with word-n-gram Jaccard ≥ threshold — but candidates are generated only
    from each document's *prefix* shingles instead of all of them.

    Under any global total order on shingles, if J(A,B) ≥ t then the prefixes
    of length |S| − ceil(t·|S|) + 1 must intersect (if they didn't, even the
    best case — everything after both prefixes shared — leaves the overlap
    below t·max(|A|,|B|)). Ordering by ascending document frequency makes
    prefixes the RAREST shingles, so candidate buckets are the smallest the
    theorem allows; the corpus-hottest shingles (the skew bombs of the full
    self-bucket approach) fall outside every large doc's prefix. A length
    filter (min size ≥ ceil(t·max size)) prunes candidates before the
    verification joins.

    Scale: two extra window passes over the shingle table (document frequency
    by shingle, rarity rank by doc) versus ``ngram_jaccard_pairs``, in
    exchange for pair generation on ~(1−t)·|S| shingles per doc and immunity
    to boilerplate-shingle bucket blowups. Verification joins touch only the
    candidate set. Shuffles stay keyed on 8-byte hashes / doc ids. This is the
    exact-similarity scale path at 100 TB; the quadratic sibling remains the
    oracle-checked baseline."""
    docs = tables["documents"]
    # NOTE (r10): tried localCheckpoint-ing this 3-consumer frame — it
    # REGRESSED 5.4→6.5 s at sf0.1: the three shingle-explode branches run
    # concurrently inside the one action and hide each other's latency,
    # while the checkpoint serializes materialize→consume. Left lazy.
    base = doc_shingles(docs, n).select("doc_id", F.xxhash64("shingle").alias("sh"))
    sh = base.withColumn("n_sh", F.count("*").over(Window.partitionBy("doc_id")))
    sh = sh.withColumn("df", F.count("*").over(Window.partitionBy("sh")))
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("sh"))
    )
    plen = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ranked = sh.withColumn("rk", rk)
    prefix = ranked.filter(F.col("rk") <= plen).select("doc_id", "n_sh", "sh")
    # In-bucket ordered pair generation on prefix shingles only (same shape
    # as the full-bucket version in ngram_jaccard_pairs).
    buckets = (
        prefix.groupBy("sh")
        .agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    cand = (
        buckets.select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            "ds",
                            lambda x: F.transform(
                                "ds", lambda y: F.struct(x.alias("a"), y.alias("b"))
                            ),
                        )
                    ),
                    lambda p: p["a"]["doc_id"] < p["b"]["doc_id"],
                )
            ).alias("p")
        )
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col("p.a.n_sh").alias("na"),
            F.col("p.b.n_sh").alias("nb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        # Length filter: J(A,B) ≤ min/max of the set sizes.
        .filter(
            F.least("na", "nb") >= F.ceil(F.lit(threshold) * F.greatest("na", "nb"))
        )
    )
    # Verification needs only raw (doc_id, shingle-hash) pairs — built from
    # the PRE-window base so the two join branches don't each recompute the
    # doc-size and document-frequency window chains.
    full = base
    inter = (
        cand.join(full.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(full.withColumnRenamed("doc_id", "doc_b"), ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.withColumn("jaccard", F.floor(jac * 10000 + 0.5) / 10000)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def edit_distance_pairs(
    tables: dict[str, DataFrame],
    candidate_jaccard: float = 0.3,
    min_ratio: float = 0.6,
) -> DataFrame:
    """Fuzzy dedup verification by true edit distance: Levenshtein similarity
    ratio (1 − dist/max_len) over CANDIDATE pairs only — the
    character-level verifier for near-dup pairs whose token shingles
    under-report similarity (small in-word edits shift every containing
    shingle, so Jaccard punishes them ~n× while edit distance counts them
    once).

    Scale: Levenshtein is O(len²) per pair — the one cost rule is NEVER run
    it corpus×corpus. Candidates come from the shingle-bucket generator at
    a low Jaccard floor (swap in MinHash-LSH candidates at scale, same
    contract); the distance runs JVM-side (built-in ``levenshtein``) on
    candidate-count rows after two id-keyed joins pull the texts back."""
    docs = tables["documents"]
    cand = ngram_jaccard_pairs(tables, threshold=candidate_jaccard).select(
        "doc_a", "doc_b", "jaccard"
    )
    ta = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    scored = cand.join(ta, "doc_a").join(tb, "doc_b")
    dist = F.levenshtein("text_a", "text_b")
    ratio = F.lit(1.0) - dist / F.greatest(F.length("text_a"), F.length("text_b"))
    return (
        scored.select(
            "doc_a",
            "doc_b",
            "jaccard",
            dist.alias("edit_dist"),
            (F.floor(ratio * 10000 + 0.5) / 10000).alias("sim_ratio"),
        )
        .filter(F.col("sim_ratio") >= min_ratio)
    )


def dedup_savings(tables: dict[str, DataFrame]) -> DataFrame:
    """Dedup impact estimate per language: document/token totals before vs
    after exact and normalized dedup (survivor = min doc_id per digest, the
    ``exact_dedup``/``normalized_dedup`` contract) — the planning number a
    curation run needs BEFORE committing to the rewrite ("what does dedup
    buy us, per language?").

    Plan: one scan computes both digests + the token count; two
    digest-keyed windows rank survivors (one Exchange each — different
    keys), then a lang groupBy folds conditional sums. Token math is exact
    integers end to end."""
    docs = tables["documents"]
    toks = tokens_col(F.col("text"))
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    base = docs.select(
        "doc_id",
        "lang",
        F.md5("text").alias("d_exact"),
        F.md5(norm).alias("d_norm"),
        F.size(toks).alias("n_tokens"),
    )
    rn_e = F.row_number().over(Window.partitionBy("d_exact").orderBy("doc_id"))
    rn_n = F.row_number().over(Window.partitionBy("d_norm").orderBy("doc_id"))
    flagged = base.withColumn("keep_e", rn_e == 1).withColumn("keep_n", rn_n == 1)
    kept = lambda flag, col: F.sum(F.when(F.col(flag), F.col(col)).otherwise(0))  # noqa: E731
    agg = flagged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        kept("keep_e", "n_tokens").cast("long").alias("exact_kept_tokens"),
        F.sum(F.when(F.col("keep_e"), 1).otherwise(0)).cast("long").alias("exact_kept_docs"),
        kept("keep_n", "n_tokens").cast("long").alias("norm_kept_tokens"),
        F.sum(F.when(F.col("keep_n"), 1).otherwise(0)).cast("long").alias("norm_kept_docs"),
    )
    frac = lambda kept_c: F.floor(  # noqa: E731
        (F.col("total_tokens") - F.col(kept_c)) * 1000000.0 / F.col("total_tokens") + 0.5
    ) / 1000000
    return agg.select(
        "lang",
        "n_docs",
        "total_tokens",
        "exact_kept_docs",
        "exact_kept_tokens",
        frac("exact_kept_tokens").alias("exact_savings_frac"),
        "norm_kept_docs",
        "norm_kept_tokens",
        frac("norm_kept_tokens").alias("norm_savings_frac"),
    )


def incremental_dedup(tables: dict[str, DataFrame]) -> DataFrame:
    """Incremental-ingest dedup: classify an INCOMING batch of documents
    against an already-curated corpus without re-deduplicating the corpus —
    the shape every rolling crawl/refresh pipeline runs daily. Statuses:
    ``dup_corpus`` (normalized digest already in the corpus), ``dup_batch``
    (first occurrence of the digest is earlier IN THIS BATCH), ``new``.
    The fixture splits documents deterministically (doc_id % 5 == 0 is the
    incoming batch, the rest is the standing corpus) so the classification
    is replayable.

    Scale: the corpus side is reduced to DISTINCT 16-byte digests before
    the join (aggregate pushed below the join — corpus bytes never move),
    and the join is a digest-keyed left join AQE can turn into broadcast
    when the incoming batch's digest set is small. In production the
    standing-corpus digest scan is further skipped by a bloom-filter
    pre-probe (false positives re-checked by this exact join); the
    semantics here are the exact reference for that accelerated path."""
    docs = tables["documents"]
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    digests = docs.select("doc_id", F.md5(norm).alias("norm_hash"))
    incoming = digests.filter(F.col("doc_id") % 5 == 0)
    corpus_digests = (
        digests.filter(F.col("doc_id") % 5 != 0)
        .select("norm_hash")
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    first_in_batch = F.min("doc_id").over(Window.partitionBy("norm_hash"))
    return (
        incoming.withColumn("first_id", first_in_batch)
        .join(corpus_digests, "norm_hash", "left")
        .select(
            "doc_id",
            "norm_hash",
            F.when(F.col("in_corpus"), F.lit("dup_corpus"))
            .when(F.col("doc_id") != F.col("first_id"), F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def ngram_novelty(tables: dict[str, DataFrame], n: int = 3) -> DataFrame:
    """Per-document n-gram NOVELTY against everything earlier in the corpus
    (doc_id order = ingest order): the fraction of a doc's distinct word
    n-grams whose first corpus occurrence is this document. Low novelty =
    boilerplate/recombination; the curation signal behind "fuzzy dup but
    not pairwise-duplicate" filtering and memorization studies.

    Plan: one documents scan → shingle explode → ONE window keyed by the
    8-byte shingle hash computes each shingle's first-occurrence doc (the
    min over a key — map-side combinable) → one doc_id-keyed aggregation.
    Two key-partitioned shuffles total, no joins, no pair explosion — this
    is the linear-cost sibling of the quadratic pair family, so it runs on
    the FULL corpus even at 100 TB (the window key is the same shingle hash
    the LSH family shuffles)."""
    docs = tables["documents"]
    sh = doc_shingles(docs, n).select("doc_id", F.xxhash64("shingle").alias("sh"))
    first = sh.withColumn("first_id", F.min("doc_id").over(Window.partitionBy("sh")))
    return (
        first.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.sum(F.when(F.col("first_id") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_sh",
            "n_novel",
            (F.floor(F.col("n_novel") * 10000.0 / F.col("n_sh") + 0.5) / 10000).alias(
                "novelty"
            ),
        )
    )


# --- MinHash + LSH ---


@per_jvm
def _sketch_exprs(num_hashes: int, n: int) -> tuple[Column, tuple[Column, ...]]:
    """The shingle explode and the two per-doc aggregates of
    ``minhash_sketch``: k xxhash64 minhashes (family index baked into the
    hash input) and the set of xxhash64 shingle hashes."""
    shingle = F.col("shingle")
    return F.explode(shingles_col(F.col("text"), n)).alias("shingle"), (
        F.array(
            *[F.min(F.xxhash64(shingle, F.lit(i))) for i in range(num_hashes)]
        ).alias("minhash"),
        F.collect_set(F.xxhash64(shingle)).alias("s"),
    )


def minhash_sketch(docs: DataFrame, num_hashes: int = 16, n: int = 3) -> DataFrame:
    """(doc_id, minhash, s): each doc's k minhash values and its set of
    distinct shingle hashes, from ONE shingle explode and ONE
    ``groupBy(doc_id)``, all JVM-side. The docs are spread by doc_id
    (``_spread_by_doc``), so the aggregation reuses that partitioning and
    needs no second exchange. A consumer that selects only ``minhash``
    gets a plan without the hash-set aggregate (column pruning drops it)."""
    explode, aggs = _sketch_exprs(num_hashes, n)
    return _spread_by_doc(docs).select("doc_id", explode).groupBy("doc_id").agg(*aggs)


def minhash_signatures(docs: DataFrame, num_hashes: int = 16, n: int = 3) -> DataFrame:
    """doc_id + array of k minhash values: ``minhash_sketch`` without the
    hash set. The streaming near-dedup store indexes these signatures, so
    batch and stream share one minhash definition."""
    return minhash_sketch(docs, num_hashes, n).select("doc_id", "minhash")


@per_jvm
def _band_expr(num_hashes: int, bands: int) -> Column:
    """One (band, bucket) struct per band, exploded: bucket = xxhash64 of
    the band's sub-signature."""
    r = num_hashes // bands
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.xxhash64(
                        F.concat_ws(",", *[F.slice("minhash", bi * r + 1, r)])
                    ).alias("bucket"),
                )
                for bi in range(bands)
            ]
        )
    ).alias("bb")


def _banded(sig: DataFrame, num_hashes: int, bands: int, *carry: str) -> DataFrame:
    """(``carry``..., band, bucket) rows of a frame with a ``minhash``
    column, one per band."""
    return sig.select(*carry, _band_expr(num_hashes, bands)).select(
        *carry, "bb.band", "bb.bucket"
    )


def banded_buckets(sig: DataFrame, num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """(doc_id, minhash, band, bucket): bucket = xxhash64 of the band's
    sub-signature. Shared by the batch candidate generator and the
    streaming signature store so both index signatures identically."""
    return _banded(sig, num_hashes, bands, "doc_id", "minhash")


def est_jaccard_col(a, b, num_hashes: int = 16):
    """Signature agreement rate — the MinHash Jaccard estimator."""
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda e: e)) / F.lit(
        num_hashes
    )


@per_jvm
def _pair_exprs(payload: str) -> tuple[Column, Column, Column]:
    """Bucket aggregate, its "has a pair" filter, and the exploded ordered
    pairs ``p`` = struct(a, b) with a.doc_id < b.doc_id, each side a
    struct of doc_id and ``payload``."""
    ms = F.collect_list(F.struct("doc_id", payload)).alias("ms")
    pairs = F.explode(
        F.filter(
            F.flatten(
                F.transform(
                    "ms",
                    lambda x: F.transform("ms", lambda y: F.struct(x.alias("a"), y.alias("b"))),
                )
            ),
            lambda p: p["a"]["doc_id"] < p["b"]["doc_id"],
        )
    ).alias("p")
    return ms, F.size("ms") > 1, pairs


def _bucket_pairs(
    sketch: DataFrame, num_hashes: int, bands: int, payload: str
) -> DataFrame:
    """One ``p`` row per (band, bucket) a doc pair shares — in-bucket pair
    generation instead of a bucket self-join: group by (band, bucket),
    collect the (doc_id, payload) structs, emit ordered pairs with array
    lambdas. The sketch is planned once (a self-join plans it twice —
    lambda subtrees defeat ReuseExchange) and there is exactly one
    shuffle, keyed by (band, bucket). A bucket's rows land in one task
    either way (equi-join does the same), so the skew profile is
    unchanged; bucket size stays small by LSH construction (bits ≈ log2
    corpus), which is also what bounds collect_list memory. A pair that
    shares several bands appears once per band."""
    ms, has_pair, pairs = _pair_exprs(payload)
    banded = _banded(sketch, num_hashes, bands, "doc_id", payload)
    return banded.groupBy("band", "bucket").agg(ms).filter(has_pair).select(pairs)


@per_jvm
def _candidate_cols(num_hashes: int) -> tuple[Column, ...]:
    est = est_jaccard_col(F.col("p.a.minhash"), F.col("p.b.minhash"), num_hashes)
    return (
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        (F.floor(est * 10000 + 0.5) / 10000).alias("est_jaccard"),
    )


def minhash_lsh_candidates(
    tables: dict[str, DataFrame],
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """LSH-banded candidate pairs with the estimated Jaccard (signature
    agreement rate). rows_per_band = num_hashes/bands; pairs collide when any
    band's sub-signature matches exactly. Bands ``minhash_signatures`` and
    pairs up in place (``_bucket_pairs``); a pair found in several bands is
    kept once. Expressions are built once per JVM (``per_jvm``)."""
    sig = minhash_signatures(tables["documents"], num_hashes, n)
    return _bucket_pairs(sig, num_hashes, bands, "minhash").select(
        *_candidate_cols(num_hashes)
    ).distinct()


# Universal-hash minhash families over the Mersenne prime 2^31-1:
# h_i(x) = (a_i·x + b_i) mod P with x = md5-prefix mod P. a_i·x < 2^62, so
# every intermediate fits signed-64 on BOTH engines (no 128-bit anywhere).
# Constants are fixed seeded-PRNG draws, shared verbatim by the Spark
# expression and the DuckDB oracle. NB: the multipliers must be UNRELATED
# random values. Two tempting shortcuts both break min-wise independence
# and were caught by the recall/false-positive gates: (1) plain
# Kirsch-Mitzenmacher h1 + i·h2 per shingle — consecutive families share
# argmin shingles and LSH bands are consecutive rows, so band collisions
# explode (measured 142 candidate pairs vs 25 at sf0.01); (2)
# arithmetic-progression multipliers a_i = 1 + i·δ — algebraically the SAME
# correlation ((1+iδ)x + b = h1(x) + i·h2(x)), which instead MISSES
# true pairs (3 pairs at Jaccard ≥ 0.91 dropped on the sf0.001 fixture).
_MH_P = 2147483647  # 2^31 - 1
_MH_AB = [
    (2058367755, 1250378731),
    (1328920189, 372282286),
    (35052690, 260070992),
    (1425365892, 920539464),
    (409468654, 638079615),
    (1652464807, 2033713062),
    (1010120343, 873091422),
    (910172515, 1362467471),
    (1577225783, 708511551),
    (1389507383, 1784693824),
    (2003597556, 347112816),
    (2133395955, 1638263921),
    (1962772767, 908613595),
    (1364526543, 932472842),
    (1976978008, 656157898),
    (1457334632, 212322978),
]


def _md5_banded(
    docs: DataFrame, num_hashes: int = 16, bands: int = 4, n: int = 3
) -> DataFrame:
    """Shared md5-universal-hash signature + banding pipeline: ONE md5 per
    shingle reduced to x ∈ [0, 2³¹−1), k affine families (aᵢ·x + bᵢ) mod
    (2³¹−1), per-family minimum, band keys as literal '|'-joined hash
    strings (SQL-replayable byte-for-byte). Returns (doc_id, mh, band,
    bkey) rows — the candidate generator of ``minhash_banded_md5`` and the
    measured surface of ``lsh_bucket_stats``; one shared derivation so the
    pair generator and its skew audit can never disagree."""
    r = num_hashes // bands
    sh = doc_shingles(docs, n)
    x = F.pmod(F.conv(F.substring("m", 1, 15), 16, 10).cast("long"), F.lit(_MH_P))
    hashed = sh.select("doc_id", F.md5("shingle").alias("m")).select(
        "doc_id", x.alias("x")
    )
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("x") + F.lit(b), F.lit(_MH_P))).alias(f"h{i}")
        for i, (a, b) in enumerate(_MH_AB[:num_hashes])
    ]
    sig = hashed.groupBy("doc_id").agg(*aggs).select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("mh")
    )
    return sig.select(
        "doc_id",
        "mh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.array_join(
                            F.transform(
                                F.slice("mh", bi * r + 1, r),
                                lambda x: x.cast("string"),
                            ),
                            "|",
                        ).alias("bkey"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "mh", "bb.band", "bb.bkey")


def lsh_bucket_stats(
    tables: dict[str, DataFrame],
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """LSH bucket-SKEW audit over the md5-banded construction — the
    diagnostic that decides whether an LSH dedup run is safe to launch at
    scale: candidate volume is Σ s(s−1)/2 over bucket sizes, so ONE
    boilerplate mega-bucket (every page sharing a template shingle
    signature) turns a linear pass into a quadratic bomb. Per band:
    bucket count, docs, singleton share, largest bucket, and the exact
    candidate-pair count the in-bucket generator would emit. All integers
    off the grouped bucket table — the audit costs one extra rollup over
    the shuffle the pair generator already pays.

    Shares ``_md5_banded`` with ``dedup_minhash_banded``, so the audit
    measures exactly the construction the pair generator runs."""
    banded = _md5_banded(tables["documents"], num_hashes, bands, n)
    sizes = banded.groupBy("band", "bkey").agg(F.count("*").alias("s"))
    s = F.col("s")
    # s(s−1)/2 through decimal(38,0): the mega-bucket this audit exists to
    # catch is exactly where s(s−1) clears 2^53 and a double half would
    # truncate; the product is even, so the decimal halving is exact
    sdec = s.cast("decimal(38,0)")
    return sizes.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.sum(s).alias("n_docs"),
        F.sum((s == 1).cast("long")).alias("n_singletons"),
        F.max(s).alias("max_bucket"),
        F.sum(sdec * (sdec - 1) / 2).cast("long").alias("cand_pairs"),
    )


def minhash_banded_md5(
    tables: dict[str, DataFrame],
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """MinHash+LSH candidate pairs with a FULLY SQL-replayable hash family:
    one md5 per shingle reduced to x ∈ [0, 2^31-1), expanded into k
    universal-hash families (a_i·x + b_i) mod (2^31-1); the per-family
    minimum is the permutation minimum. Every step — shingling, digest
    reduction, affine families, k-way min, banding, in-bucket pairing,
    agreement estimate — is exactly expressible in DuckDB, so unlike the
    xxhash64 fast path (``minhash_lsh_candidates``, rows-only for the
    driver) this variant hash-gates end-to-end.

    Same scale shape as the fast path (reference parity:
    gmall-realtime has no dedup layer; this is the LLM-pipeline extension
    family): ONE scan computes shingles→signature (groupBy doc_id, k min
    aggregates, map-side combined), banding explodes to docs×bands rows,
    and the ONLY data-sized shuffle is keyed by (band, bucket_key). Pairs
    are generated in-bucket (collect_list + ordered array lambdas), never
    via a self-join, so the shingle pipeline is not planned twice. At 100 TB
    the band key should be hashed to shorten shuffle keys (the fast path's
    xxhash64 bucket does exactly that); here the key stays the literal
    4×32-hex concat so the oracle can reproduce it byte-for-byte — the
    shuffle carries ~130 extra bytes/row, a constant factor, not a
    different asymptotic."""
    banded = _md5_banded(tables["documents"], num_hashes, bands, n)
    buckets = (
        banded.groupBy("band", "bkey")
        .agg(F.collect_list(F.struct("doc_id", "mh")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        "ms",
                        lambda x: F.transform(
                            "ms", lambda y: F.struct(x.alias("a"), y.alias("b"))
                        ),
                    )
                ),
                lambda p: p["a"]["doc_id"] < p["b"]["doc_id"],
            )
        ).alias("p")
    )
    cand = pairs.select(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.a.mh").alias("mh_a"),
        F.col("p.b.mh").alias("mh_b"),
    ).dropDuplicates(["doc_a", "doc_b"])
    est = F.size(
        F.filter(F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda eq: eq)
    ) / F.lit(num_hashes)
    return cand.select(
        "doc_a", "doc_b", (F.floor(est * 10000 + 0.5) / 10000).alias("est_jaccard")
    )


# --- SimHash ---


def simhash_signatures(tables: dict[str, DataFrame]) -> DataFrame:
    """**63-bit** simhash per document: bit b of the signature is the
    majority vote of bit b across xxhash64(token) for all tokens
    (duplicates counted — standard simhash term weighting by frequency).
    Bit 63 (xxhash64's sign bit) is deliberately NOT voted so the signature
    stays a positive BIGINT; ``simhash_near_dups``'s hamming contract is
    therefore over 63 effective bits, and its band 3 covers bits 48-62 (15
    effective bits) — the ≥1-exact-band guarantee for hamming ≤ 3 still
    holds (4 disjoint bands, 3 flipped bits can dirty at most 3)."""
    # NOTE (r10, measured): round-robin _spread REGRESSED here (3.2->4.4 s):
    # the 63-vote groupBy(doc_id) has group cardinality == |docs|, so
    # splitting a doc across N partitions grows the 63-wide partial-agg
    # output ~N×. r11: _spread_by_doc instead — hash(doc_id) keeps each doc
    # whole (partials stay |docs|) and the groupBy reuses the partitioning,
    # so the explode + vote aggregation run fully parallel, one exchange.
    docs = _spread_by_doc(tables["documents"])
    tok = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    h = tok.withColumn("th", F.xxhash64("tok"))
    votes = [
        F.sum(
            F.when(F.col("th").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(63)  # bit 63 = sign bit; skip to keep values positive
    ]
    agg = h.groupBy("doc_id").agg(*votes)
    sim = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0)),
        range(63),
        F.lit(0).cast("long"),
    )
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_near_dups(
    tables: dict[str, DataFrame], max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance over the 63 voted bits
    (see ``simhash_signatures``), blocked on 16-bit sub-bands (band 3 holds
    15 effective bits): a pair within hamming ≤ 3 must agree exactly on ≥1
    of the 4 disjoint bands."""
    sig = simhash_signatures(tables)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftrightunsigned("simhash", bi * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for bi in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.key")
    # Same in-bucket pair generation as minhash_lsh_candidates: the
    # 63-bit-vote signature aggregation runs once, one shuffle total.
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.collect_list(F.struct("doc_id", "simhash")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pairs = (
        buckets.select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            "ms",
                            lambda x: F.transform(
                                "ms", lambda y: F.struct(x.alias("a"), y.alias("b"))
                            ),
                        )
                    ),
                    lambda p: p["a"]["doc_id"] < p["b"]["doc_id"],
                )
            ).alias("p")
        )
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col("p.a.simhash").alias("sh_a"),
            F.col("p.b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# --- LSH-propose + exact-verify (the composed 100 TB dedup pipeline) ---


def simhash_banded_md5(
    tables: dict[str, DataFrame], max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs with a FULLY SQL-replayable hash — the gated
    sibling of the xxhash64 fast path (``simhash_near_dups``, rows-only
    for the driver), at the SAME signature geometry: 63 voted bits, 4
    disjoint 16-bit sub-bands (band 3 = 15 effective bits), hamming ≤ 3 ⇒
    ≥ 1 exact band. The 63 token-hash bits come from two 32-bit words of
    ONE md5 per token (bits 0-31 from hex[1:8], bits 32-62 from hex[9:16])
    — md5's 128 bits cover the width, so precision matches the fast path
    (a 32-bit variant measured 38× more candidate pairs on templated
    fixtures AND its 8-bit bands cap at 256 buckets — wrong at scale).

    Same scale shape as the fast path: one scan, 63 conditional sums in
    ONE aggregation pass (no explode-per-bit), in-bucket pair generation
    — the only data-sized shuffle is the (band, key) groupBy over 2^16
    buckets per band."""
    # _spread_by_doc: same single-task-explode fix as simhash_signatures —
    # hash(doc_id) parallelizes the md5+63-vote pass without widening
    # partials, and the groupBy(doc_id) reuses the partitioning.
    docs = _spread_by_doc(tables["documents"])
    tok = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    m = F.md5("tok")
    h = tok.select(
        "doc_id",
        F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("x1"),
        F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("x2"),
    )

    def bit(b):
        src, off = ("x1", b) if b < 32 else ("x2", b - 32)
        return F.shiftrightunsigned(src, off).bitwiseAND(F.lit(1))

    votes = [
        F.sum(F.when(bit(b) == 1, 1).otherwise(-1)).alias(f"v{b}") for b in range(63)
    ]
    agg = h.groupBy("doc_id").agg(*votes)
    sim = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0)),
        range(63),
        F.lit(0).cast("long"),
    )
    sig = agg.select("doc_id", sim.alias("simhash"))
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftrightunsigned("simhash", bi * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for bi in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.key")
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.collect_list(F.struct("doc_id", "simhash")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        "ms",
                        lambda a: F.transform(
                            "ms", lambda b: F.struct(a.alias("a"), b.alias("b"))
                        ),
                    )
                ),
                lambda p: p["a"]["doc_id"] < p["b"]["doc_id"],
            )
        ).alias("p")
    )
    cand = pairs.select(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.a.simhash").alias("sa"),
        F.col("p.b.simhash").alias("sb"),
    ).dropDuplicates(["doc_a", "doc_b"])
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long")
    return (
        cand.select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


@per_jvm
def _verified_exprs(threshold: float) -> tuple[tuple[Column, ...], Column]:
    sa, sb = F.col("p.a.s"), F.col("p.b.s")
    inter = F.size(F.array_intersect(sa, sb))
    jac = inter / (F.size(sa) + F.size(sb) - inter)
    jaccard = F.floor(jac * 10000 + 0.5) / 10000
    cols = (
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        jaccard.alias("jaccard"),
    )
    return cols, F.col("jaccard") >= threshold


def minhash_verified_pairs(
    tables: dict[str, DataFrame],
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The scale-path composition the docstrings above describe: MinHash-LSH
    proposes candidate pairs (linear-ish), exact Jaccard verifies ONLY those
    pairs — cost O(candidates × avg shingles), never O(corpus²). Emits the
    same (doc_a, doc_b, jaccard) shape as ``ngram_jaccard_pairs`` restricted
    to the pairs ``minhash_lsh_candidates`` surfaces; recall vs the full
    exact verifier is the LSH band/row tradeoff, gated in tests.

    One plan, one scan: ``minhash_sketch`` yields each doc's signature AND
    its distinct-shingle-hash set from a single explode and aggregation,
    the bucket structs carry the set, and ``array_intersect`` runs on the
    in-bucket pairs — no second explode and no joins. The trade-off at
    scale: the (band, bucket) shuffle carries each doc's hash set once per
    band (``bands`` × avg shingles × 8 bytes a doc), in exchange for no
    second shingle explode and no two doc_id joins of the sets to the
    candidates. Pairs sharing several bands are intersected once per shared
    band before ``distinct``."""
    sketch = minhash_sketch(tables["documents"], num_hashes, n)
    cols, keep = _verified_exprs(threshold)
    return _bucket_pairs(sketch, num_hashes, bands, "s").select(*cols).filter(keep).distinct()


def lsh_family_audit(tables: dict[str, DataFrame]) -> DataFrame:
    """Hash-gate for the two xxhash64 fast-path LSH families
    (``minhash_lsh_candidates`` and ``simhash_near_dups`` — the rows-only
    registry entries ``dedup_minhash_lsh`` and ``dedup_simhash``), which
    are rows-only for the driver because xxhash64 is not expressible in
    DuckDB.
    The uv_sketch/ann_recall_audit oracle pattern: one row per family with
    independently-recomputable exact counts plus must-be-TRUE quality
    booleans — the oracle re-derives the counts and emits literal TRUE, so
    a silent recall or precision regression in either fast path flips a
    boolean and breaks the driver hash.

    Row 'minhash': ``n_true`` = exact word-3-gram Jaccard ≥ 0.8 pair count
    (the LSH design point: 16 hashes / 4 bands ⇒ collision prob ≥ 0.97 at
    J = 0.8). ``recall_ok`` = the fast path surfaces ≥ 90% of those pairs
    (pytest keeps the tighter truth ⊆ candidates gate; the hash gate takes
    0.9 so a single reseeded borderline pair cannot flip the driver row);
    ``count_regime_ok`` bounds candidate volume (≤ 20·n_true + 50 —
    measured ratio is ~1.0 at every SF, the slack absorbs band-collision
    noise, and a Kirsch-Mitzenmacher-style correlation bug that inflates
    candidates 6× on a real corpus blows straight through it);
    ``dup_cover_ok`` = every identical-digest doc pair is a candidate with
    estimator exactly 1.0 (signature determinism).

    Row 'simhash': there is no SQL truth for hamming over xxhash64 bits, so
    the exact anchor is the SQL-replayable md5-banded sibling at identical
    geometry (63 voted bits, 4 bands): ``n_true`` = its pair count;
    ``recall_ok``/``count_regime_ok`` = the two families' pair counts stay
    within 3× + 10 of each other (same-geometry regime bound — the 32-bit
    variant this family's tests rejected measured 38×); ``dup_cover_ok`` =
    identical-digest pairs collide at hamming 0.

    Scale: every input is one of the already-bounded LSH/banded plans; the
    audit adds only count/semi-join reductions over their outputs plus a
    digest self-join on exact-dup groups (group sizes, not corpus²). The
    two fast-path frames are persisted across their three uses and released
    before return (Pandas-free here, but lambda subtrees still defeat
    ReuseExchange — same reasoning as ann_recall_audit)."""
    docs = tables["documents"]
    # The exact-Jaccard truth is the audit's dominant cost (candidate-bounded
    # but quadratic in bucket size); it feeds TWO consumers (the count and
    # the recall semi-join) — persist it once like the fast-path frames.
    true_pairs = (
        ngram_jaccard_pairs(tables, threshold=0.8).select("doc_a", "doc_b").persist()
    )
    mh = minhash_lsh_candidates(tables).persist()
    sh = simhash_near_dups(tables).persist()
    dig = docs.select(F.md5("text").alias("d"), "doc_id")
    dup_pairs = (
        dig.alias("a")
        .join(dig.alias("b"), "d")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .persist()
    )
    # The audit's 8 counts ran as a sequential chain of driver actions,
    # each underfilling the cluster (many 1-task stages) — the wall time
    # was Σ(pipelines), not max. Spark sessions are thread-safe for
    # concurrent actions, and the two phases have clean data dependencies:
    # phase 1 materializes the four persisted frames (one action each,
    # all independent), phase 2's semi-joins then read only cached
    # frames. Same counts, same rows, ~2× less wall.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=5) as pool:
        f1 = {
            "n_true": pool.submit(true_pairs.count),
            "n_mh": pool.submit(mh.count),
            "n_sh": pool.submit(sh.count),
            "n_md5": pool.submit(simhash_banded_md5(tables).count),
            "n_dup": pool.submit(dup_pairs.count),
        }
        got = {k: f.result() for k, f in f1.items()}
        n_true, n_mh, n_sh, n_md5, n_dup = (
            got["n_true"], got["n_mh"], got["n_sh"], got["n_md5"], got["n_dup"]
        )
        f_caught = pool.submit(
            true_pairs.join(mh, ["doc_a", "doc_b"], "left_semi").count
        )
        f_mh_hit = pool.submit(
            dup_pairs.join(
                mh.filter(F.col("est_jaccard") == 1.0), ["doc_a", "doc_b"], "left_semi"
            ).count
        )
        f_sh_hit = pool.submit(
            dup_pairs.join(
                sh.filter(F.col("hamming") == 0), ["doc_a", "doc_b"], "left_semi"
            ).count
        )
        caught, mh_dup_hit, sh_dup_hit = (
            f_caught.result(), f_mh_hit.result(), f_sh_hit.result()
        )
    true_pairs.unpersist()
    mh.unpersist()
    sh.unpersist()
    dup_pairs.unpersist()
    rows = [
        (
            "minhash",
            n_true,
            n_dup,
            n_true == 0 or caught >= 0.9 * n_true,
            n_mh <= 20 * n_true + 50,
            mh_dup_hit == n_dup,
        ),
        (
            "simhash",
            n_md5,
            n_dup,
            n_md5 <= 3 * n_sh + 10,
            n_sh <= 3 * n_md5 + 10,
            sh_dup_hit == n_dup,
        ),
    ]
    return docs.sparkSession.createDataFrame(
        rows,
        "family string, n_true long, n_dup_pairs long, "
        "recall_ok boolean, count_regime_ok boolean, dup_cover_ok boolean",
    )


# --- connected components over near-dup edges (dedup group assignment) ---


def dedup_components(
    tables: dict[str, DataFrame], threshold: float = 0.5, max_iters: int = 20
) -> DataFrame:
    """Assign every document a component id = min doc_id reachable through
    near-dup edges (byte-identical OR shingle-Jaccard ≥ threshold); the
    component id is the canonical survivor, everything else is a duplicate.

    Edges: exact groups contribute star edges (doc → group-min, equivalent
    connectivity to the full clique, linear not quadratic); Jaccard pairs
    come from the exact verifier. Iterative min-label propagation with
    ``localCheckpoint`` truncating lineage per round and an early-stop on a
    changed-row count — the standard bounded-round DataFrame shape for
    iterative graph algorithms (rounds = graph diameter here; an
    alternating large-star/small-star contraction brings that to O(log n)
    at extreme scale, same per-round plan)."""
    docs = tables["documents"]
    md5_star = docs.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("m"),
    )
    e1 = md5_star.filter(F.col("doc_id") != F.col("m")).select(
        F.col("doc_id").alias("a"), F.col("m").alias("b")
    )
    e2 = ngram_jaccard_pairs(tables, threshold=threshold).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    comp = components_from_edges(
        e1.unionByName(e2), docs.select(F.col("doc_id").alias("id")), max_iters
    )
    return comp.select(F.col("id").alias("doc_id"), "component")


def head_boilerplate_groups(
    tables: dict[str, DataFrame], head_tokens: int = 8
) -> DataFrame:
    """Shared-prefix boilerplate detection — the dedup family member that
    catches templated HEADERS (licence banners, scraper preambles, forum
    signatures) that full-document dedup misses because the bodies
    differ: docs are keyed by the digest of their first ``head_tokens``
    tokens, and any key with ≥ 2 docs is a boilerplate-prefix group whose
    head is a cut candidate for the excision pipeline
    (``dedup_contamination_spans``' surgery applies directly).

    Plan: one digest projection (JVM split/slice, no Python), one
    digest-keyed partial agg — the exact_dedup economics; the shuffle
    carries digests, never text. Emits per group: size, keeper (min
    doc_id), exact member-id sum, and the head's token count."""
    docs = tables["documents"]
    toks = tokens_col(F.col("text"))
    head = F.array_join(F.slice(toks, 1, head_tokens), " ")
    keyed = docs.select(
        "doc_id",
        F.md5(head).alias("head_digest"),
        F.least(F.size(toks), F.lit(head_tokens)).alias("head_len"),
    )
    return (
        keyed.groupBy("head_digest")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keeper_doc"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
            F.max("head_len").cast("long").alias("head_len"),
        )
        .where(F.col("n_docs") >= 2)
    )


def graph_modularity(tables: dict[str, DataFrame], threshold: float = 0.5) -> DataFrame:
    """Newman modularity of the near-dup graph w.r.t. the LANGUAGE
    partition — the curation diagnostic for whether near-duplication stays
    inside languages (machine-translated boilerplate and shared templates
    show up as cross-language edges, which drive a language's modularity
    term down). Uses the same undirected edge set as ``dedup_components``
    (exact-dup star edges + Jaccard-verified pairs).

    Per language c: Q_c = m_c/m − (d_c/2m)², emitted as the exact-integer
    ratio (4·m·m_c − d_c²) / (4m²) in ONE division, pinned 1e-6 (Σ Q_c is
    the graph's modularity; hashing the per-language terms gates the total
    and the distribution). All counts are exact integers; cross-language
    edges raise d_c without raising m_c by construction.

    Plan: the edge set is the near-dup sliver (candidate-bounded, never
    corpus²); degrees via one explode + lang-keyed agg; m attaches as a
    scalar subquery. Everything after edge generation is |langs|-sized."""
    docs = tables["documents"]
    md5_star = docs.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("m"),
    )
    e1 = md5_star.filter(F.col("doc_id") != F.col("m")).select(
        F.col("m").alias("lo"), F.col("doc_id").alias("hi")
    )
    e2 = ngram_jaccard_pairs(tables, threshold=threshold).select(
        F.col("doc_a").alias("lo"), F.col("doc_b").alias("hi")
    )
    # Checkpoint: edges feeds THREE consumers (ed→intra, ed→deg, the m
    # scalar) and each otherwise replays the whole shingle-pair pipeline
    # (the pagerank sym lesson — the edge sliver is tiny, the lineage isn't).
    edges = e1.unionByName(e2).distinct().localCheckpoint()
    lang = docs.select("doc_id", "lang")
    ed = (
        edges.join(lang.withColumnRenamed("doc_id", "lo").withColumnRenamed("lang", "lang_lo"), "lo")
        .join(lang.withColumnRenamed("doc_id", "hi").withColumnRenamed("lang", "lang_hi"), "hi")
    )
    m_col = edges.agg(F.count("*").cast("long").alias("m")).scalar()
    intra = (
        ed.where(F.col("lang_lo") == F.col("lang_hi"))
        .groupBy(F.col("lang_lo").alias("lang"))
        .agg(F.count("*").cast("long").alias("m_c"))
    )
    deg = (
        ed.select(F.explode(F.array("lang_lo", "lang_hi")).alias("lang"))
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("d_c"))
    )
    r6 = round6
    joined = deg.join(intra, "lang", "left").select(
        "lang",
        F.coalesce("m_c", F.lit(0)).cast("long").alias("intra_edges"),
        F.col("d_c").alias("degree_sum"),
    )
    # decimal(38,0) widening BEFORE the double cast: 4·m·m_c and d_c² wrap
    # int64 past m≈1.5e9 edges (the unit_value_index/abc_xyz overflow rule;
    # oracle side mirrors with ::HUGEINT).
    m_dec = m_col.cast("decimal(38,0)")
    return joined.select(
        "lang",
        "intra_edges",
        "degree_sum",
        r6(
            (
                4 * m_dec * F.col("intra_edges").cast("decimal(38,0)")
                - F.col("degree_sum").cast("decimal(38,0)")
                * F.col("degree_sum").cast("decimal(38,0)")
            ).cast("double")
            / (4 * m_dec * m_dec).cast("double")
        ).alias("q_term"),
    )


def cluster_summary(
    tables: dict[str, DataFrame], threshold: float = 0.5
) -> DataFrame:
    """Per-duplicate-cluster curation report — the table a dedup run hands
    back to its operator: for every connected component of the near-dup
    graph with ≥ 2 members, the cluster size, the kept representative
    (highest quality, ``keep_best``'s tie-break), and the token mass the
    dedup saves (cluster total minus the survivor). Composes three
    oracle-verified pieces — components (min-label propagation), the
    quality expression, token counts — into the decision artifact, the
    same single-source-of-truth discipline as ``corpus_manifest``.

    Scale: components runs on the edge-touching sliver; the stats join is
    doc-keyed; the summary is one component-keyed agg + a window rank over
    cluster-sized groups."""
    from .text import _quality_expr, tokens_col

    comp = dedup_components(tables, threshold)
    docs = tables["documents"]
    toks = tokens_col(F.col("text"))
    stats = docs.select(
        "doc_id",
        _quality_expr(toks).alias("quality"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    joined = comp.join(stats, "doc_id")
    w = Window.partitionBy("component").orderBy(F.desc("quality"), F.asc("doc_id"))
    ranked = joined.select(
        "component",
        "doc_id",
        "quality",
        "n_tokens",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("component")).alias("size"),
    ).filter(F.col("size") >= 2)
    per = ranked.groupBy("component").agg(
        F.max("size").cast("long").alias("size"),
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("rep_id"),
        F.max(F.when(F.col("rn") == 1, F.col("quality"))).alias("rep_quality"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
        F.max(F.when(F.col("rn") == 1, F.col("n_tokens"))).alias("rep_tokens"),
    )
    return per.select(
        "component",
        "size",
        "rep_id",
        "rep_quality",
        "tokens_total",
        (F.col("tokens_total") - F.col("rep_tokens")).cast("long").alias("tokens_saved"),
    )


def components_from_edges(
    edges: DataFrame, universe: DataFrame, max_iters: int = 20
) -> DataFrame:
    """Generic min-label connected components: ``edges`` is any (a, b) pair
    DataFrame (undirected closure taken here), ``universe`` the full id set
    (one ``id`` column). Shared by every dedup family that produces pairs
    (shingle-Jaccard, SemDeDup cosine, simhash) — pairs in, transitive
    duplicate GROUPS out, component id = min reachable id = the canonical
    survivor.

    Propagation runs only over the edge-touching subgraph: isolated ids can
    never change label, so each round's join is |edge nodes| sized (≪
    corpus — at 100 TB the duplicate subgraph is a sliver of the table) and
    the full universe gets its label in ONE final left join.
    ``localCheckpoint`` truncates per-round lineage; early-stop on a
    changed-row count. Rounds = graph diameter; an alternating
    large-star/small-star contraction brings that to O(log n) at extreme
    scale, same per-round plan."""
    und = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    und = und.localCheckpoint(eager=True)

    labels = (
        und.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )

    # Convergence via one scalar aggregate instead of a join: min-label
    # propagation only ever DECREASES a node's component and the id set is
    # fixed, so Σcomponent unchanged ⟺ no label changed — an EXACT check
    # (every per-id delta is ≤ 0). Decimal sum so 64-bit ids can't overflow
    # ANSI long addition. Saves one shuffle join + count per round
    # (r10 wave 2; the star engine's fingerprint precedent, but exact).
    def _lab_sum(df: DataFrame):
        return df.agg(F.sum(F.col("component").cast("decimal(38,0)"))).first()[0]

    prev_sum = _lab_sum(labels)
    for _ in range(max_iters):
        msgs = und.join(labels, und["a"] == labels["id"]).select(
            F.col("b").alias("id"), "component"
        )
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        cur_sum = _lab_sum(new_labels)
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # ADVICE r1: exhausting the round budget mid-propagation means a
        # long-diameter chain got NON-minimal labels — surface it instead of
        # returning silently wrong components.
        raise RuntimeError(
            f"components_from_edges: no convergence in {max_iters} rounds "
            "(graph diameter exceeds the budget) — raise max_iters or use "
            "components_from_edges_star (O(log n) rounds)"
        )
    return universe.join(labels, "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )


def components_from_edges_star(
    edges: DataFrame, universe: DataFrame, max_iters: int = 15
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond") — the O(log n)-round scale path promised in
    ``components_from_edges``'s docstring. Min-label propagation needs
    diameter rounds, which is fine for shallow near-dup graphs but
    pathological on chain-shaped components (re-crawl chains where each
    revision near-matches only its neighbors); star contraction halves
    component height every other round regardless of shape.

    Per round: large-star hangs every strictly-larger neighbor of u onto
    min(Γ(u) ∪ {u}); small-star re-hangs the smaller neighborhood of each
    node onto its min. Both are one Exchange on the grouping node + one
    distinct — same per-round plan shape as a propagation round, just
    O(log n) of them. Convergence = (count, xxhash64-xor) fingerprint
    unchanged, a cheap single agg instead of a subtract. At convergence the
    edge set IS the answer: one star per component centered at its min.
    Output contract identical to ``components_from_edges``."""
    e = (
        edges.select(F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_fp = None
    for _ in range(max_iters):
        # large-star: neighborhoods from both directions
        nbrs = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        w = Window.partitionBy("a")
        m = F.least(F.col("a"), F.min("b").over(w))
        e = (
            nbrs.select("a", "b", m.alias("m"))
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: orient toward the larger endpoint, re-hang Γ(u) ∪ {u}
        o = e.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        wu = Window.partitionBy("u")
        o = o.select("u", "v", F.min("v").over(wu).alias("m"))
        e = (
            o.select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(o.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # bit_xor, not sum: ANSI mode makes a 64-bit-hash sum overflow; xor
        # of distinct-edge hashes is an equally strong set fingerprint.
        fp = e.agg(
            F.count("*").alias("ct"),
            F.bit_xor(F.xxhash64("a", "b")).alias("hs"),
        ).collect()[0]
        if prev_fp == (fp["ct"], fp["hs"]):
            break
        prev_fp = (fp["ct"], fp["hs"])
    else:
        # ADVICE r1: same contract as components_from_edges — a non-converged
        # edge set is not one-star-per-component yet, so labels would be
        # silently wrong. O(log n) rounds means hitting this cap is a bug or
        # an astronomically deep graph; either way, fail loudly.
        raise RuntimeError(
            f"components_from_edges_star: fingerprint not stable after "
            f"{max_iters} alternating star rounds — raise max_iters"
        )
    labels = e.select(F.col("a").alias("id"), F.col("b").alias("component"))
    return universe.join(labels, "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )


def dedup_components_star(
    tables: dict[str, DataFrame], threshold: float = 0.5
) -> DataFrame:
    """``dedup_components`` on the star-contraction engine — identical
    semantics (same edges, same min-id component labels, same oracle),
    different iteration structure for extreme-diameter duplicate graphs."""
    docs = tables["documents"]
    md5_star = docs.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("m"),
    )
    e1 = md5_star.filter(F.col("doc_id") != F.col("m")).select(
        F.col("doc_id").alias("a"), F.col("m").alias("b")
    )
    e2 = ngram_jaccard_pairs(tables, threshold=threshold).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    comp = components_from_edges_star(
        e1.unionByName(e2), docs.select(F.col("doc_id").alias("id"))
    )
    return comp.select(F.col("id").alias("doc_id"), "component")


# --- embedding-cosine near-dup ---


def embedding_near_dups(
    tables: dict[str, DataFrame],
    threshold: float = 0.40,
    broadcast_row_bound: int = 200_000,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold — the semantic member
    of the dedup family (byte/shingle methods miss paraphrases).

    Shape: one side of the pair matrix is broadcast (like a dim table), the
    other streams through ``mapInPandas`` doing a float64 GEMM per Arrow
    batch — vectorized exact scoring, no per-pair row explosion. This is the
    right physical plan while one side fits in executor memory (seconds for
    ~10^4×10^4 pairs). Scale guard (VERDICT r7 #5): past
    ``broadcast_row_bound`` rows (one cheap count — 200k × 64 float64 ≈
    100 MB broadcast, the sensible ceiling) this AUTO-SWITCHES to
    ``embedding_near_dups_blocked``, which emits the identical
    (vec_a, vec_b, cosine) rows with no driver materialization — so the
    100 TB-safe plan is the default behavior of this entry point, not a
    docstring footnote. (The registered ``dedup_embedding_cosine`` query
    has been the blocked form outright since round 2.)"""
    import numpy as np
    import pandas as pd

    emb = tables["embeddings"]
    if emb.count() > broadcast_row_bound:
        return embedding_near_dups_blocked(tables, threshold)
    spark = emb.sparkSession
    corpus = emb.select("vec_id", "embedding").toPandas()
    c_ids = corpus["vec_id"].to_numpy()
    c_mat = np.array(corpus["embedding"].tolist(), dtype=np.float64)
    c_nrm = np.sqrt((c_mat * c_mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((c_ids, c_mat, c_nrm))

    out_schema = "vec_a long, vec_b long, cosine double"

    def score(batches):
        ids, mat, nrm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            b_ids = pdf["vec_id"].to_numpy()
            b_mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            b_nrm = np.sqrt((b_mat * b_mat).sum(axis=1))
            cos = (b_mat @ mat.T) / np.outer(b_nrm, nrm)
            cos = np.floor(cos * 1_000_000 + 0.5) / 1_000_000
            keep = (b_ids[:, None] < ids[None, :]) & (cos >= threshold)
            ai, ci = np.nonzero(keep)
            yield pd.DataFrame(
                {"vec_a": b_ids[ai], "vec_b": ids[ci], "cosine": cos[ai, ci]}
            )

    return emb.select("vec_id", "embedding").mapInPandas(score, out_schema)


def embedding_near_dups_blocked(
    tables: dict[str, DataFrame], threshold: float = 0.40, n_blocks: int = 8
) -> DataFrame:
    """Block-pair chunked GEMM — the scale path past the point where one
    side of ``embedding_near_dups`` fits in executor memory. Vectors hash
    into ``n_blocks`` buckets; each bucket packs into one row
    (collect_list); the (i ≤ j) block-pair grid — n_blocks² tiny rows, NOT
    corpus² — fans out across executors, and each pair scores with one
    float64 GEMM per Arrow batch. No driver-side collect, no broadcast of
    the corpus: pick n_blocks so two blocks fit an executor
    (≈ corpus_bytes / (executor_mem/4)), and the same kernel scales to any
    corpus. Emits the identical (vec_a, vec_b, cosine) rows as the
    broadcast variant — the driver oracle is shared."""
    import numpy as np
    import pandas as pd

    emb = tables["embeddings"]
    packed = (
        emb.select(
            F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("blk"),
            F.struct("vec_id", "embedding").alias("ve"),
        )
        .groupBy("blk")
        .agg(F.collect_list("ve").alias("vs"))
    )
    a, b = packed.alias("a"), packed.alias("b")
    grid = a.join(b, F.col("a.blk") <= F.col("b.blk")).select(
        F.col("a.blk").alias("blk_a"),
        F.col("a.vs").alias("vs_a"),
        F.col("b.blk").alias("blk_b"),
        F.col("b.vs").alias("vs_b"),
    )

    def unpack(cell) -> tuple["np.ndarray", "np.ndarray"]:
        ids = np.array([r["vec_id"] for r in cell], dtype=np.int64)
        mat = np.array([r["embedding"] for r in cell], dtype=np.float64)
        return ids, mat

    def score(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                a_ids, a_mat = unpack(row["vs_a"])
                b_ids, b_mat = unpack(row["vs_b"])
                a_nrm = np.sqrt((a_mat * a_mat).sum(axis=1))
                b_nrm = np.sqrt((b_mat * b_mat).sum(axis=1))
                cos = (a_mat @ b_mat.T) / np.outer(a_nrm, b_nrm)
                cos = np.floor(cos * 1_000_000 + 0.5) / 1_000_000
                keep = cos >= threshold
                if row["blk_a"] == row["blk_b"]:
                    # diagonal: same set on both sides — upper triangle only
                    keep &= a_ids[:, None] < b_ids[None, :]
                # off-diagonal blocks are disjoint, so every cross pair
                # appears in exactly one grid row; id order does NOT follow
                # block order, so normalize to vec_a < vec_b on output.
                ai, bi = np.nonzero(keep)
                if len(ai):
                    left, right = a_ids[ai], b_ids[bi]
                    yield pd.DataFrame(
                        {
                            "vec_a": np.minimum(left, right),
                            "vec_b": np.maximum(left, right),
                            "cosine": cos[ai, bi],
                        }
                    )

    return grid.mapInPandas(score, "vec_a long, vec_b long, cosine double")


def paraphrase_mining(
    tables: dict[str, DataFrame],
    sem_threshold: float = 0.40,
    lex_threshold: float = 0.30,
    n: int = 3,
) -> DataFrame:
    """Cross-modal paraphrase mining: pairs that are SEMANTICALLY near
    (embedding cosine ≥ ``sem_threshold``, via the blocked block-pair GEMM —
    no driver collect) but LEXICALLY far (exact ``n``-gram Jaccard <
    ``lex_threshold``) — same meaning, different words. The complement of
    near-dup removal: these pairs are what you KEEP (hard-positive pairs
    for embedding training, paraphrase augmentation) and exactly what
    MinHash-only dedup can never surface. Joins ``embeddings`` to
    ``documents`` on vec_id == doc_id (the fixture contract).

    Scale: candidate pairs come from the GEMM (output-sized, not corpus²);
    Jaccard is computed ONLY on those pairs — the shingle join fans out
    |pairs|·shingles_per_doc rows, then one groupBy. Both sides reuse the
    semantic candidates the way ``minhash_verified`` reuses LSH buckets:
    the expensive exact verify never touches non-candidates."""
    pairs = embedding_near_dups_blocked(tables, threshold=sem_threshold)
    docs = tables["documents"]
    sh = doc_shingles(docs, n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a_sh = sh.select(F.col("doc_id").alias("vec_a"), "shingle")
    b_sh = sh.select(F.col("doc_id").alias("vec_b"), "shingle")
    inter = (
        pairs.join(a_sh, "vec_a")
        .join(b_sh, ["vec_b", "shingle"])
        .groupBy("vec_a", "vec_b")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("vec_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("vec_b"), F.col("n_sh").alias("nb"))
    scored = (
        pairs.join(inter, ["vec_a", "vec_b"], "left")
        .join(sa, "vec_a")
        .join(sb, "vec_b")
    )
    i0 = F.coalesce(F.col("i"), F.lit(0))
    jac = F.floor(i0 * 1000000.0 / (F.col("na") + F.col("nb") - i0) + 0.5) / 1000000
    return (
        scored.select("vec_a", "vec_b", "cosine", jac.alias("jaccard"))
        .filter(F.col("jaccard") < lex_threshold)
    )


def pagerank_dup_graph(
    tables: dict[str, DataFrame],
    n: int = 3,
    threshold: float = 0.5,
    iters: int = 8,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over the near-duplicate graph — the graph-centrality member
    of the iterative family (``components_from_edges`` finds WHO is
    connected; this ranks how CENTRAL each doc is inside its duplicate
    cluster — the canonical-representative signal: hub pages that many
    variants orbit score high, one-off mirrors score low). Edges are the
    exact-Jaccard ≥ threshold pairs (same oracle-verified edge set as
    ``dedup_ngram_jaccard``), undirected → both directions contribute.

    FIXED-iteration synchronous power method (``iters`` rounds), so the
    result is deterministic and the DuckDB oracle replays it as ``iters``
    UNROLLED CTEs — an iterative graph algorithm under the exact hash gate,
    no convergence heuristics in the contract. Spark shape: the canonical
    Pregel loop — one shuffle per round (contributions grouped by dst);
    the edge+degree table is localCheckpoint-ed ONCE so the shingle-pair
    pipeline is not replayed per round (same discipline as the components
    loop); rank lineage stays ``iters`` joins deep, all on 8-byte keys.
    N (node count) is the only driver round-trip — one tiny aggregate,
    the components-loop precedent."""
    edges = ngram_jaccard_pairs(tables, n, threshold).select("doc_a", "doc_b")
    # Checkpoint the SYMMETRIZED edge list — the one expensive input — so
    # deg / ewd / the initial rank vector / the final degree join-back all
    # derive from materialized edges instead of each replaying the whole
    # shingle-pair pipeline (measured: 3 full replays ≈ 28 s at sf0.1
    # pre-fix; post-fix the pipeline runs once).
    sym = (
        edges.union(
            edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .localCheckpoint()
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("d"))
    ewd = sym.join(deg, "src").localCheckpoint()
    n_nodes = deg.count()
    if n_nodes == 0:
        spark = tables["documents"].sparkSession
        # range(0) keeps the empty frame JVM-side (a python-list
        # createDataFrame is RDD-backed and fans out Python workers)
        return spark.range(0).select(
            F.col("id").alias("doc_id"),
            F.col("id").alias("degree"),
            F.col("id").cast("double").alias("rank"),
        )
    # NB: 0.15 literal, NOT (1.0 - damping) — IEEE 1.0-0.85 is
    # 0.15000000000000002, a different constant than the oracle's 0.15
    base = F.lit(0.15 / n_nodes)
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0 / n_nodes).alias("rank"))
    for _ in range(iters):
        contrib = ewd.join(ranks, ewd.src == ranks.node).select(
            "dst", (F.col("rank") / F.col("d")).alias("c")
        )
        # localCheckpoint PER ROUND (not just the edge table): leaving the
        # rank lineage iters-joins deep made the final action one
        # 17-shuffle-stage plan whose Catalyst re-analysis + empty-task
        # overhead dominated end-to-end (measured 40 s cold / 9.5 s warm on
        # a 256-edge sf0.1 graph vs ~2 s checkpointed). Each round
        # materializes only node-count rows; same discipline as the
        # components/label-prop loops.
        ranks = (
            contrib.groupBy("dst")
            .agg((base + damping * F.sum("c")).alias("rank"))
            .select(F.col("dst").alias("node"), "rank")
            .localCheckpoint()
        )
    return ranks.join(deg, ranks.node == deg.src).select(
        F.col("node").alias("doc_id"),
        F.col("d").cast("long").alias("degree"),
        (F.floor(F.col("rank") * 1000000 + 0.5) / 1000000).alias("rank"),
    )


def label_prop_communities(
    tables: dict[str, DataFrame], n: int = 3, threshold: float = 0.5, rounds: int = 4
) -> DataFrame:
    """Label-propagation community detection (Raghavan et al. 2007) over
    the near-dup graph — the third member of the iterative-graph family
    (``dedup_components`` answers reachability, ``dedup_pagerank``
    centrality; LPA finds DENSE communities, splitting a chain of weak
    bridges that connected-components would collapse into one blob).
    Deterministic synchronous variant: every node simultaneously adopts
    the most frequent label among its neighbors, ties broken by SMALLEST
    label — no randomized visit order, so a FIXED ``rounds`` count
    replays exactly on both engines (the pagerank/kcore protocol; async
    LPA's convergence heuristics are the part that doesn't belong in a
    determinism contract). Same exact-Jaccard edge set as pagerank.

    Plan: per round one dst-keyed join + one (node, label) agg + one
    WindowGroupLimit-shaped rank — all on 8-byte keys; labels
    localCheckpoint-ed per round so lineage stays flat. At 100 TB this
    is the canonical Pregel envelope, one shuffle per round."""
    edges = ngram_jaccard_pairs(tables, n, threshold).select("doc_a", "doc_b")
    sym = (
        edges.union(
            edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .localCheckpoint(eager=True)
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("d"))
    labels = deg.select("src", F.col("src").alias("lab")).select(
        F.col("src").alias("node"), "lab"
    )
    w = Window.partitionBy("src").orderBy(F.desc("c"), F.asc("lab"))
    for _ in range(rounds):
        votes = sym.join(labels, sym.dst == labels.node).select("src", "lab")
        cnt = votes.groupBy("src", "lab").agg(F.count("*").alias("c"))
        labels = (
            cnt.select("src", "lab", F.row_number().over(w).alias("rn"))
            .where(F.col("rn") == 1)
            .select(F.col("src").alias("node"), "lab")
            .localCheckpoint(eager=True)
        )
    return (
        labels.join(deg, labels.node == deg.src)
        .select(
            F.col("node").alias("doc_id"),
            F.col("d").cast("long").alias("degree"),
            F.col("lab").cast("long").alias("community"),
        )
        .withColumn("comm_sz", F.count("*").over(Window.partitionBy("community")))
    )


def _label_prop_oracle(rounds: int = 4) -> str:
    """Unrolled synchronous LPA: same edge set as the pagerank oracle, same
    (count DESC, label ASC) adoption rule, MATERIALIZED per round."""
    head = """
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
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
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        edges AS MATERIALIZED (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE floor((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 10000 + 0.5) / 10000
                  >= 0.5
        ),
        sym AS MATERIALIZED (
            SELECT doc_a AS src, doc_b AS dst FROM edges
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM edges
        ),
        deg AS (SELECT src, count(*) AS d FROM sym GROUP BY src),
        l0 AS (SELECT src AS node, src AS lab FROM deg)"""
    steps = []
    for k in range(1, rounds + 1):
        steps.append(f"""
        l{k} AS MATERIALIZED (
            SELECT src AS node, lab FROM (
                SELECT s.src, l.lab,
                       row_number() OVER (PARTITION BY s.src
                                          ORDER BY count(*) DESC, l.lab ASC)
                           AS rn
                FROM sym s JOIN l{k - 1} l ON l.node = s.dst
                GROUP BY s.src, l.lab
            ) WHERE rn = 1
        )""")
    tail = f"""
        SELECT l.node AS doc_id, d.d::BIGINT AS degree, l.lab::BIGINT AS community,
               count(*) OVER (PARTITION BY l.lab)::BIGINT AS comm_sz
        FROM l{rounds} l JOIN deg d ON d.src = l.node"""
    return head + "," + ",".join(steps) + tail


def _pagerank_oracle(iters: int = 8) -> str:
    head = """
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
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
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        edges AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE floor((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 10000 + 0.5) / 10000
                  >= 0.5
        ),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM edges
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM edges
        ),
        deg AS (SELECT src, count(*) AS d FROM sym GROUP BY src),
        nn AS (SELECT count(*) AS n FROM deg),
        r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS rank FROM deg)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
        r{k} AS (
            SELECT s.dst AS node,
                   0.15 / (SELECT n FROM nn) + 0.85 * sum(r.rank / d.d) AS rank
            FROM sym s
            JOIN r{k - 1} r ON r.node = s.src
            JOIN deg d ON d.src = s.src
            GROUP BY s.dst
        )""")
    tail = f"""
        SELECT r.node AS doc_id, d.d::BIGINT AS degree,
               floor(r.rank * 1000000 + 0.5) / 1000000 AS rank
        FROM r{iters} r JOIN deg d ON d.src = r.node"""
    return head + "," + ",".join(steps) + tail


QUERIES = {
    "dedup_head_boilerplate": head_boilerplate_groups,
    "dedup_threshold_curve": threshold_curve,
    "dedup_graph_modularity": graph_modularity,
    "dedup_exact": exact_dedup,
    "dedup_normalized": normalized_dedup,
    "dedup_token_sort": token_sort_dedup,
    "dedup_keep_best": keep_best_dedup,
    "dedup_shingle_hotspots": shingle_hotspots,
    "dedup_span_stats": span_dedup,
    "dedup_crossdoc_spans": crossdoc_spans,
    # registered path is the blocked GEMM: no driver collect / corpus
    # broadcast anywhere in a driver query's plan (VERDICT r1 #3). The
    # broadcast variant stays as a small-corpus helper, parity-gated in
    # tests/test_ops_dedup.py.
    "dedup_embedding_cosine": embedding_near_dups_blocked,
    "dedup_paraphrase_mining": paraphrase_mining,
    "dedup_pagerank": pagerank_dup_graph,
    "dedup_label_prop": label_prop_communities,
    "dedup_contamination_spans": contamination_spans,
    "dedup_spans_excise": excise_contaminated,
    "dedup_ngram_jaccard": ngram_jaccard_pairs,
    "dedup_containment": containment_pairs,
    "dedup_incremental": incremental_dedup,
    "text_ngram_novelty": ngram_novelty,
    "dedup_prefix_filter": prefix_filter_pairs,
    "dedup_edit_distance": edit_distance_pairs,
    "dedup_savings": dedup_savings,
    "dedup_components": dedup_components,
    "dedup_cluster_summary": cluster_summary,
    "dedup_components_star": dedup_components_star,
    # LSH/simhash results depend on xxhash64 — not SQL-expressible in DuckDB,
    # so these are rows-only checks for the driver (weaker gate, noted).
    "dedup_minhash_lsh": minhash_lsh_candidates,
    "dedup_simhash": simhash_near_dups,
    "dedup_minhash_verified": minhash_verified_pairs,
    # md5-family siblings: same banded plans, DuckDB-replayable hashes —
    # the minhash/simhash pipelines' end-to-end hash gates.
    "dedup_minhash_banded": minhash_banded_md5,
    "dedup_lsh_bucket_stats": lsh_bucket_stats,
    "dedup_simhash_banded": simhash_banded_md5,
    # ...and the audit row that hash-gates the xxhash64 fast paths
    # themselves (recall/count-regime/dup-cover booleans must be TRUE).
    "dedup_lsh_audit": lsh_family_audit,
}

ORACLES = {
    # blocked variant emits identical rows — shares the exact oracle below
    "dedup_embedding_cosine": """
        WITH normed AS (
            SELECT vec_id,
                   list_transform(embedding, x -> x::DOUBLE) AS v,
                   sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
            FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               floor((list_sum(list_transform(range(64), i -> a.v[i + 1] * b.v[i + 1]))
                      / (a.nrm * b.nrm)) * 1000000 + 0.5) / 1000000 AS cosine
        FROM normed a JOIN normed b ON a.vec_id < b.vec_id
        WHERE floor((list_sum(list_transform(range(64), i -> a.v[i + 1] * b.v[i + 1]))
                     / (a.nrm * b.nrm)) * 1000000 + 0.5) / 1000000 >= 0.40
    """,
    "dedup_exact": """
        SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_ct
        FROM documents GROUP BY md5(text)
    """,
    "dedup_normalized": """
        SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS norm_hash,
               min(doc_id) AS keep_id, count(*) AS dup_ct
        FROM documents
        GROUP BY 1
    """,
    # Binary-collation list_sort == Spark array_sort on UTF8 tokens.
    "dedup_token_sort": """
        SELECT md5(array_to_string(
                   list_sort(regexp_split_to_array(trim(lower(text)), '\\s+')),
                   ' ')) AS ts_hash,
               min(doc_id) AS keep_id, count(*) AS dup_ct
        FROM documents
        GROUP BY 1
    """,
    # Same quality expression as text_quality_score's oracle; survivor =
    # row_number over (quality DESC, doc_id ASC) per normalized digest.
    "dedup_keep_best": """
        WITH t AS (
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS norm_hash,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ),
        m AS (
            SELECT doc_id, norm_hash,
                   len(toks) AS n,
                   len(list_distinct(toks)) AS uniq,
                   len(list_filter(toks, t -> t IN ('the','a'))) AS stop_ct
            FROM t
        ),
        q AS (
            SELECT doc_id, norm_hash,
                   floor((0.4 * least(n / 100.0, 1.0)
                          + 0.3 * (uniq * 1.0 / n)
                          + 0.3 * (1.0 - abs(stop_ct * 1.0 / n - 0.1))) * 10000 + 0.5)
                       / 10000 AS quality
            FROM m
        ),
        r AS (
            SELECT norm_hash, doc_id, quality,
                   row_number() OVER (PARTITION BY norm_hash
                                      ORDER BY quality DESC, doc_id) AS rn,
                   count(*) OVER (PARTITION BY norm_hash) AS dup_ct
            FROM q
        )
        SELECT norm_hash, doc_id AS keep_id, quality AS keep_quality,
               dup_ct::BIGINT AS dup_ct
        FROM r WHERE rn = 1
    """,
    "dedup_shingle_hotspots": """
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(greatest(len(t) - 5, 0) + 1),
                       i -> array_to_string(t[i + 1 : i + 5], ' ')))) AS shingle
            FROM toks
        )
        SELECT shingle, count(*)::BIGINT AS doc_ct
        FROM sh
        GROUP BY shingle
        HAVING count(*) >= 2
        ORDER BY doc_ct DESC, shingle ASC
        LIMIT 20
    """,
    # Span equality is tested on xxhash64(span) in Spark and on the span
    # string here — identical results absent a 64-bit collision (the same
    # argument as dedup_ngram_jaccard's hashed shingle shuffle).
    "dedup_span_stats": """
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
        ),
        spans AS (
            SELECT doc_id, len(t) AS n_tokens,
                   unnest(list_transform(
                       range(len(t) - 13 + 1),
                       i -> struct_pack(pos := i,
                                        span := array_to_string(t[i + 1 : i + 13], ' ')))) AS s
            FROM toks WHERE len(t) >= 13
        ),
        occ AS (SELECT doc_id, n_tokens, s.pos AS pos, s.span AS span FROM spans),
        dup AS (
            SELECT doc_id, n_tokens, pos,
                   count(*) OVER (PARTITION BY span) AS ct
            FROM occ
        ),
        cov AS (
            SELECT doc_id, n_tokens,
                   least(13, coalesce(pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 13)) AS c
            FROM dup WHERE ct >= 2
        )
        SELECT doc_id,
               max(n_tokens)::BIGINT AS n_tokens,
               count(*)::BIGINT AS dup_span_ct,
               sum(c)::BIGINT AS covered_tokens,
               floor(sum(c) * 10000.0 / max(n_tokens) + 0.5) / 10000 AS dup_fraction
        FROM cov GROUP BY doc_id
    """,
    # Semantic pairs replayed exactly as dedup_embedding_cosine's oracle;
    # Jaccard on candidates only, integer-ratio rounding, filter on the
    # ROUNDED value so both engines cut on the same grid.
    "dedup_paraphrase_mining": """
        WITH normed AS (
            SELECT vec_id,
                   list_transform(embedding, x -> x::DOUBLE) AS v,
                   sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
            FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   floor((list_sum(list_transform(range(64), i -> a.v[i + 1] * b.v[i + 1]))
                          / (a.nrm * b.nrm)) * 1000000 + 0.5) / 1000000 AS cosine
            FROM normed a JOIN normed b ON a.vec_id < b.vec_id
            WHERE floor((list_sum(list_transform(range(64), i -> a.v[i + 1] * b.v[i + 1]))
                         / (a.nrm * b.nrm)) * 1000000 + 0.5) / 1000000 >= 0.40
        ),
        toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
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
            SELECT p.vec_a, p.vec_b, count(*) AS i
            FROM pairs p
            JOIN sh a ON a.doc_id = p.vec_a
            JOIN sh b ON b.doc_id = p.vec_b AND b.shingle = a.shingle
            GROUP BY 1, 2
        ),
        scored AS (
            SELECT p.vec_a, p.vec_b, p.cosine,
                   floor(coalesce(i.i, 0) * 1000000.0
                         / (sa.n_sh + sb.n_sh - coalesce(i.i, 0)) + 0.5) / 1000000
                       AS jaccard
            FROM pairs p
            JOIN sizes sa ON sa.doc_id = p.vec_a
            JOIN sizes sb ON sb.doc_id = p.vec_b
            LEFT JOIN inter i ON i.vec_a = p.vec_a AND i.vec_b = p.vec_b
        )
        SELECT * FROM scored WHERE jaccard < 0.30
    """,
    # Excision replay: contaminated ranges from the spans oracle, tokens
    # minus bad positions, cleaned text via ORDER BY string_agg.
    "dedup_spans_excise": """
        WITH toks0 AS (
            SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        spans0 AS (
            SELECT doc_id, source, len(t) AS n_tokens,
                   unnest(list_transform(
                       range(len(t) - 12 + 1),
                       i -> struct_pack(pos := i,
                                        span := array_to_string(t[i + 1 : i + 12], ' ')))) AS s
            FROM toks0 WHERE len(t) >= 12
        ),
        occ AS (
            SELECT doc_id, source, n_tokens, s.pos AS pos, s.span AS span FROM spans0
        ),
        bset AS (SELECT DISTINCT span FROM occ WHERE source = 'src1'),
        flagged AS (
            SELECT o.doc_id, o.n_tokens, o.pos
            FROM occ o JOIN bset b USING (span)
            WHERE o.source != 'src1'
        ),
        brk AS (
            SELECT doc_id, n_tokens, pos,
                   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 12
                        THEN 1 ELSE 0 END AS b
            FROM flagged
        ),
        isl AS (
            SELECT doc_id, n_tokens, pos,
                   sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM brk
        ),
        spans AS (
            SELECT doc_id, min(pos) AS span_start,
                   (max(pos) - min(pos) + 12) AS span_len,
                   max(n_tokens) AS n_tokens
            FROM isl GROUP BY doc_id, island
        ),
        bad AS (
            SELECT doc_id,
                   unnest(range(span_start, span_start + span_len)) AS pos
            FROM spans
        ),
        tokpos AS (
            SELECT t.doc_id, unnest(range(len(t.t))) AS pos, t.t AS t
            FROM toks0 t
            JOIN (SELECT DISTINCT doc_id FROM spans) a USING (doc_id)
        ),
        kept AS (
            SELECT tp.doc_id, tp.pos, tp.t[tp.pos + 1] AS tok
            FROM tokpos tp LEFT JOIN bad b
              ON b.doc_id = tp.doc_id AND b.pos = tp.pos
            WHERE b.pos IS NULL
        ),
        cleaned AS (
            SELECT doc_id, count(*)::BIGINT AS n_kept,
                   md5(coalesce(string_agg(tok, ' ' ORDER BY pos), '')) AS cleaned_digest
            FROM kept GROUP BY doc_id
        ),
        totals AS (
            SELECT doc_id, max(n_tokens)::BIGINT AS n_tokens,
                   sum(span_len)::BIGINT AS removed_tokens
            FROM spans GROUP BY doc_id
        )
        SELECT t.doc_id, t.n_tokens, t.removed_tokens,
               coalesce(c.n_kept, 0)::BIGINT AS n_kept,
               coalesce(c.cleaned_digest, md5('')) AS cleaned_digest
        FROM totals t LEFT JOIN cleaned c USING (doc_id)
    """,
    # Same xxhash64-vs-string equality argument as dedup_span_stats.
    "dedup_contamination_spans": """
        WITH toks AS (
            SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        spans AS (
            SELECT doc_id, source, len(t) AS n_tokens,
                   unnest(list_transform(
                       range(len(t) - 12 + 1),
                       i -> struct_pack(pos := i,
                                        span := array_to_string(t[i + 1 : i + 12], ' ')))) AS s
            FROM toks WHERE len(t) >= 12
        ),
        occ AS (
            SELECT doc_id, source, n_tokens, s.pos AS pos, s.span AS span FROM spans
        ),
        bset AS (SELECT DISTINCT span FROM occ WHERE source = 'src1'),
        flagged AS (
            SELECT o.doc_id, o.n_tokens, o.pos
            FROM occ o JOIN bset b USING (span)
            WHERE o.source != 'src1'
        ),
        brk AS (
            SELECT doc_id, n_tokens, pos,
                   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 12
                        THEN 1 ELSE 0 END AS b
            FROM flagged
        ),
        isl AS (
            SELECT doc_id, n_tokens, pos,
                   sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM brk
        )
        SELECT doc_id,
               island::BIGINT AS span_idx,
               min(pos)::BIGINT AS span_start,
               (max(pos) - min(pos) + 12)::BIGINT AS span_len,
               max(n_tokens)::BIGINT AS n_tokens
        FROM isl GROUP BY doc_id, island
    """,
    # Same xxhash64-vs-string equality argument as dedup_span_stats above.
    "dedup_crossdoc_spans": """
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
        ),
        spans AS (
            SELECT doc_id, len(t) AS n_tokens,
                   unnest(list_transform(
                       range(len(t) - 12 + 1),
                       i -> struct_pack(pos := i,
                                        span := array_to_string(t[i + 1 : i + 12], ' ')))) AS s
            FROM toks WHERE len(t) >= 12
        ),
        occ AS (SELECT doc_id, n_tokens, s.pos AS pos, s.span AS span FROM spans),
        flagged AS (
            SELECT doc_id, n_tokens, pos
            FROM (
                SELECT doc_id, n_tokens, pos,
                       min(doc_id) OVER (PARTITION BY span) AS dmin,
                       max(doc_id) OVER (PARTITION BY span) AS dmax
                FROM occ
            ) WHERE dmin <> dmax
        ),
        brk AS (
            SELECT doc_id, n_tokens, pos,
                   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 12
                        THEN 1 ELSE 0 END AS b
            FROM flagged
        ),
        isl AS (
            SELECT doc_id, n_tokens, pos,
                   sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM brk
        ),
        runs AS (
            SELECT doc_id, island, max(n_tokens) AS n_tokens,
                   max(pos) - min(pos) + 12 AS run_len
            FROM isl GROUP BY doc_id, island
        )
        SELECT doc_id,
               max(n_tokens)::BIGINT AS n_tokens,
               count(*)::BIGINT AS n_islands,
               max(run_len)::BIGINT AS max_run,
               sum(run_len)::BIGINT AS covered_tokens,
               floor(sum(run_len) * 10000.0 / max(n_tokens) + 0.5) / 10000 AS crossdup_frac
        FROM runs GROUP BY doc_id
    """,
    "dedup_containment": """
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
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
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               floor((i * 1.0 / least(sa.n_sh, sb.n_sh)) * 10000 + 0.5) / 10000
                   AS containment,
               CASE WHEN sa.n_sh <= sb.n_sh THEN 'a_in_b' ELSE 'b_in_a' END
                   AS direction
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE floor((i * 1.0 / least(sa.n_sh, sb.n_sh)) * 10000 + 0.5) / 10000 >= 0.8
    """,
    "text_ngram_novelty": """
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(greatest(len(t) - 3, 0) + 1),
                       i -> array_to_string(t[i + 1 : i + 3], ' ')))) AS shingle
            FROM toks
        ),
        firsts AS (
            SELECT doc_id, shingle,
                   min(doc_id) OVER (PARTITION BY shingle) AS first_id
            FROM sh
        )
        SELECT doc_id, count(*)::BIGINT AS n_sh,
               count(*) FILTER (WHERE first_id = doc_id)::BIGINT AS n_novel,
               floor(count(*) FILTER (WHERE first_id = doc_id) * 10000.0
                     / count(*) + 0.5) / 10000 AS novelty
        FROM firsts GROUP BY doc_id
    """,
    "dedup_incremental": """
        WITH d AS (
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS norm_hash
            FROM documents
        ),
        corpus AS (SELECT DISTINCT norm_hash FROM d WHERE doc_id % 5 != 0),
        incoming AS (
            SELECT doc_id, norm_hash,
                   min(doc_id) OVER (PARTITION BY norm_hash) AS first_id
            FROM d WHERE doc_id % 5 = 0
        )
        SELECT i.doc_id, i.norm_hash,
               CASE WHEN c.norm_hash IS NOT NULL THEN 'dup_corpus'
                    WHEN i.doc_id != i.first_id THEN 'dup_batch'
                    ELSE 'new' END AS status
        FROM incoming i LEFT JOIN corpus c ON i.norm_hash = c.norm_hash
    """,
    "dedup_ngram_jaccard": """
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
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
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               floor((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 10000 + 0.5) / 10000 AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE floor((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 10000 + 0.5) / 10000 >= 0.5
    """,
    # Same edge definition as the Spark op (md5 star edges ∪ Jaccard ≥ 0.5
    # pairs, undirected), closed with a recursive CTE; component = min
    # reachable doc_id.
    "dedup_components": """
        WITH RECURSIVE toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
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
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        jac_edges AS (
            SELECT doc_a AS a, doc_b AS b FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE floor((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 10000 + 0.5) / 10000 >= 0.5
        ),
        md5_star AS (
            SELECT doc_id AS a, min(doc_id) OVER (PARTITION BY md5(text)) AS b
            FROM documents
        ),
        edges AS (
            SELECT a, b FROM md5_star WHERE a != b
            UNION SELECT b, a FROM md5_star WHERE a != b
            UNION SELECT a, b FROM jac_edges
            UNION SELECT b, a FROM jac_edges
        ),
        reach(doc_id, comp) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.doc_id
        )
        SELECT doc_id, min(comp)::BIGINT AS component FROM reach GROUP BY doc_id
    """,
}

# Star contraction computes the same (doc_id, component) labels as min-label
# propagation — the propagation oracle gates both iteration engines.
ORACLES["dedup_components_star"] = ORACLES["dedup_components"]

# Threshold-sensitivity curve: same shingle/intersection CTEs as the
# components oracle at a 0.3 floor; exact 4dp recovery before bucketing
# (floor(j·10) on the raw double mis-buckets 0.6 boundaries).
ORACLES["dedup_threshold_curve"] = """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
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
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT floor((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 10000 + 0.5)::BIGINT AS j4
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE floor((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 10000 + 0.5) / 10000 >= 0.3
    ),
    counts AS (
        SELECT (j4 // 1000)::INT AS decile, count(*)::BIGINT AS n_pairs
        FROM jac GROUP BY 1
    )
    SELECT decile, n_pairs,
           sum(n_pairs) OVER (ORDER BY decile DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
             AS pairs_at_or_above
    FROM counts
"""

# Head-prefix digest replay: md5 of the space-joined first 8 tokens;
# groups with >= 2 docs; member-id sums pin exact membership.
ORACLES["dedup_head_boilerplate"] = """
    WITH keyed AS (
        SELECT doc_id,
               md5(array_to_string(
                   (regexp_split_to_array(trim(text), '\\s+'))[1:8], ' '))
                 AS head_digest,
               least(len(regexp_split_to_array(trim(text), '\\s+')), 8)::BIGINT
                 AS head_len
        FROM documents
    )
    SELECT head_digest, count(*)::BIGINT AS n_docs,
           min(doc_id)::BIGINT AS keeper_doc, sum(doc_id)::BIGINT AS sum_ids,
           max(head_len)::BIGINT AS head_len
    FROM keyed GROUP BY head_digest HAVING count(*) >= 2
"""

# Modularity over the same undirected edge set as the components oracle
# (md5 star edges + Jaccard-verified pairs, lo<hi deduped); per-language
# Q_c = (4·m·m_c − d_c²)/(4m²) — exact integers, ONE division, 1e-6 pin.
ORACLES["dedup_graph_modularity"] = """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
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
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac_edges AS (
        SELECT doc_a AS lo, doc_b AS hi FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE floor((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 10000 + 0.5) / 10000 >= 0.5
    ),
    md5_star AS (
        SELECT doc_id AS hi, min(doc_id) OVER (PARTITION BY md5(text)) AS lo
        FROM documents
    ),
    edges AS (
        SELECT lo, hi FROM md5_star WHERE lo != hi
        UNION
        SELECT lo, hi FROM jac_edges
    ),
    m AS (SELECT count(*)::BIGINT AS m FROM edges),
    ed AS (
        SELECT e.lo, e.hi, dl.lang AS lang_lo, dh.lang AS lang_hi
        FROM edges e
        JOIN documents dl ON dl.doc_id = e.lo
        JOIN documents dh ON dh.doc_id = e.hi
    ),
    intra AS (
        SELECT lang_lo AS lang, count(*)::BIGINT AS m_c
        FROM ed WHERE lang_lo = lang_hi GROUP BY 1
    ),
    deg AS (
        SELECT lang, count(*)::BIGINT AS d_c FROM (
            SELECT lang_lo AS lang FROM ed
            UNION ALL SELECT lang_hi FROM ed
        ) GROUP BY lang
    )
    SELECT d.lang,
           coalesce(i.m_c, 0)::BIGINT AS intra_edges,
           d.d_c AS degree_sum,
           floor((4 * (SELECT m FROM m)::HUGEINT * coalesce(i.m_c, 0)
                  - d.d_c::HUGEINT * d.d_c)::DOUBLE
                 / (4 * (SELECT m FROM m)::HUGEINT * (SELECT m FROM m))::DOUBLE
                 * 1000000 + 0.5) / 1000000 AS q_term
    FROM deg d LEFT JOIN intra i USING (lang)
"""
# Cluster summary = the components oracle wrapped with the quality/token
# stats and a per-component representative rank (same tie-break as
# keep_best: quality DESC, doc_id ASC).
ORACLES["dedup_cluster_summary"] = (
    "WITH comp AS ("
    + ORACLES["dedup_components"]
    + """
    ),
    t2 AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ),
    st AS (
        SELECT doc_id,
               floor((0.4 * least(len(toks) / 100.0, 1.0)
                      + 0.3 * (len(list_distinct(toks)) * 1.0 / len(toks))
                      + 0.3 * (1.0 - abs(len(list_filter(toks, tk -> tk IN ('the','a')))
                                         * 1.0 / len(toks) - 0.1))) * 10000 + 0.5)
                   / 10000 AS quality,
               len(toks)::BIGINT AS n_tokens
        FROM t2
    ),
    j AS (
        SELECT c.component, c.doc_id, s.quality, s.n_tokens,
               row_number() OVER (PARTITION BY c.component
                                  ORDER BY s.quality DESC, c.doc_id ASC) AS rn,
               count(*) OVER (PARTITION BY c.component) AS size
        FROM comp c JOIN st s USING (doc_id)
    )
    SELECT component,
           max(size)::BIGINT AS size,
           max(CASE WHEN rn = 1 THEN doc_id END)::BIGINT AS rep_id,
           max(CASE WHEN rn = 1 THEN quality END) AS rep_quality,
           sum(n_tokens)::BIGINT AS tokens_total,
           (sum(n_tokens) - max(CASE WHEN rn = 1 THEN n_tokens END))::BIGINT
               AS tokens_saved
    FROM j WHERE size >= 2 GROUP BY component
    """
)
# Fixed-iteration PageRank: 8 power-method rounds UNROLLED as CTEs over the
# same oracle-verified edge set as dedup_ngram_jaccard.
ORACLES["dedup_pagerank"] = _pagerank_oracle()
# Synchronous LPA, 4 unrolled rounds, (count DESC, label ASC) adoption.
ORACLES["dedup_label_prop"] = _label_prop_oracle()

# Prefix filtering is candidate pruning, not approximation: the emitted
# (doc_a, doc_b, jaccard) rows are identical to the quadratic baseline's, so
# the same oracle gates both physical strategies.
ORACLES["dedup_prefix_filter"] = ORACLES["dedup_ngram_jaccard"]

# LSH-propose + exact-verify emits EXACT jaccard on surfaced pairs, and on
# the fixtures (sf0.01 AND sf0.1, re-checked round 2) the 16-hash/4-band
# scheme surfaces every ≥0.5 pair — so the quadratic verifier's oracle gates
# it outright. This deliberately also pins fixture recall at 1.0: an LSH
# regression that starts missing true pairs drops rows and breaks the hash
# (tests additionally gate verified == exact∩candidates structurally).
ORACLES["dedup_minhash_verified"] = ORACLES["dedup_ngram_jaccard"]

# Exact replay of minhash_banded_md5: same md5-prefix reduction (hex-prefix
# UBIGINT parse verified equal to Spark's conv(hex,16,10)), same universal
# affine families from the SAME _MH_AB constants (interpolated below), same
# 4-band/4-row banding, same agreement-rate estimator. Any drift in
# shingling, the hash family, banding, or the estimator breaks the hash.
_MH_AB_SQL = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(_MH_AB))
ORACLES["dedup_minhash_banded"] = f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(greatest(len(t) - 3, 0) + 1),
                   i -> array_to_string(t[i + 1 : i + 3], ' ')))) AS shingle
        FROM toks
    ),
    hv AS (
        SELECT doc_id,
               (('0x' || substr(md5(shingle), 1, 15))::UBIGINT
                   % {_MH_P})::BIGINT AS x
        FROM sh
    ),
    ab(i, a, b) AS (VALUES {_MH_AB_SQL}),
    hashes AS (
        SELECT doc_id, ab.i AS i, min((ab.a * x + ab.b) % {_MH_P}) AS h
        FROM hv, ab
        GROUP BY doc_id, ab.i
    ),
    sig AS (
        SELECT doc_id, list(h ORDER BY i) AS mh FROM hashes GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, mh, rb.b AS band,
               array_to_string(mh[rb.b * 4 + 1 : rb.b * 4 + 4], '|') AS bkey
        FROM sig, range(4) rb(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.mh AS mh_a, b.mh AS mh_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           floor(len(list_filter(range(16), i -> mh_a[i + 1] = mh_b[i + 1]))
                 * 10000.0 / 16 + 0.5) / 10000 AS est_jaccard
    FROM cand
"""

# Exact replay of simhash_banded_md5: same two 32-bit md5 words per token,
# same ±1 votes over 63 bits (token frequency weighted — no distinct),
# same 4×16-bit banding, same xor-popcount hamming cut.
ORACLES["dedup_simhash_banded"] = """
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
    ),
    hx AS (
        SELECT doc_id,
               (('0x' || substr(md5(tok), 1, 8))::UBIGINT)::BIGINT AS x1,
               (('0x' || substr(md5(tok), 9, 8))::UBIGINT)::BIGINT AS x2
        FROM toks
    ),
    votes AS (
        SELECT doc_id, b.b AS b,
               sum(CASE WHEN ((CASE WHEN b.b < 32 THEN x1 >> b.b
                                    ELSE x2 >> (b.b - 32) END) & 1) = 1
                        THEN 1 ELSE -1 END) AS v
        FROM hx, range(63) b(b)
        GROUP BY doc_id, b.b
    ),
    sig AS (
        SELECT doc_id,
               sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
                   AS simhash
        FROM votes GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, simhash, rb.b AS band,
               (simhash >> (rb.b * 16)) & 65535 AS key
        FROM sig, range(4) rb(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sa, b.simhash AS sb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(sa, sb))::BIGINT AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""

# The audit's exact anchors recomputed from scratch: exact-Jaccard ≥ 0.8
# pair count (minhash row), the md5-banded simhash pair count (simhash
# row — same CTE chain as dedup_simhash_banded, reduced to a count) and
# the identical-digest pair count; every quality boolean is literal TRUE.
ORACLES["dedup_lsh_audit"] = """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ),
    shn AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(greatest(len(t) - 3, 0) + 1),
                   i -> array_to_string(t[i + 1 : i + 3], ' ')))) AS shingle
        FROM toks
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shn GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM shn a JOIN shn b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jt AS (
        SELECT count(*) AS c FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE floor((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 10000 + 0.5) / 10000 >= 0.8
    ),
    dupd AS (SELECT md5(text) AS d, doc_id FROM documents),
    dp AS (
        SELECT count(*) AS c
        FROM dupd a JOIN dupd b ON a.d = b.d AND a.doc_id < b.doc_id
    ),
    stoks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
    ),
    hx AS (
        SELECT doc_id,
               (('0x' || substr(md5(tok), 1, 8))::UBIGINT)::BIGINT AS x1,
               (('0x' || substr(md5(tok), 9, 8))::UBIGINT)::BIGINT AS x2
        FROM stoks
    ),
    votes AS (
        SELECT doc_id, b.b AS b,
               sum(CASE WHEN ((CASE WHEN b.b < 32 THEN x1 >> b.b
                                    ELSE x2 >> (b.b - 32) END) & 1) = 1
                        THEN 1 ELSE -1 END) AS v
        FROM hx, range(63) b(b)
        GROUP BY doc_id, b.b
    ),
    sig AS (
        SELECT doc_id,
               sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
                   AS simhash
        FROM votes GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, simhash, rb.b AS band,
               (simhash >> (rb.b * 16)) & 65535 AS key
        FROM sig, range(4) rb(b)
    ),
    scand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sa, b.simhash AS sb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    smc AS (
        SELECT count(*) AS c FROM scand WHERE bit_count(xor(sa, sb)) <= 3
    )
    SELECT 'minhash' AS family, (SELECT c FROM jt)::BIGINT AS n_true,
           (SELECT c FROM dp)::BIGINT AS n_dup_pairs,
           TRUE AS recall_ok, TRUE AS count_regime_ok, TRUE AS dup_cover_ok
    UNION ALL
    SELECT 'simhash', (SELECT c FROM smc)::BIGINT, (SELECT c FROM dp)::BIGINT,
           TRUE, TRUE, TRUE
"""

ORACLES["dedup_savings"] = """
    WITH base AS (
        SELECT doc_id, lang,
               md5(text) AS d_exact,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS d_norm,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
        FROM documents
    ),
    flagged AS (
        SELECT *,
               row_number() OVER (PARTITION BY d_exact ORDER BY doc_id) = 1 AS keep_e,
               row_number() OVER (PARTITION BY d_norm ORDER BY doc_id) = 1 AS keep_n
        FROM base
    ),
    agg AS (
        SELECT lang,
               count(*)::BIGINT AS n_docs,
               sum(n_tokens)::BIGINT AS total_tokens,
               sum(CASE WHEN keep_e THEN n_tokens ELSE 0 END)::BIGINT AS exact_kept_tokens,
               sum(CASE WHEN keep_e THEN 1 ELSE 0 END)::BIGINT AS exact_kept_docs,
               sum(CASE WHEN keep_n THEN n_tokens ELSE 0 END)::BIGINT AS norm_kept_tokens,
               sum(CASE WHEN keep_n THEN 1 ELSE 0 END)::BIGINT AS norm_kept_docs
        FROM flagged GROUP BY lang
    )
    SELECT lang, n_docs, total_tokens,
           exact_kept_docs, exact_kept_tokens,
           floor((total_tokens - exact_kept_tokens) * 1000000.0 / total_tokens + 0.5)
               / 1000000 AS exact_savings_frac,
           norm_kept_docs, norm_kept_tokens,
           floor((total_tokens - norm_kept_tokens) * 1000000.0 / total_tokens + 0.5)
               / 1000000 AS norm_savings_frac
    FROM agg
"""

ORACLES["dedup_edit_distance"] = """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
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
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT doc_a, doc_b,
               floor((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 10000 + 0.5) / 10000 AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE floor((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 10000 + 0.5) / 10000 >= 0.3
    )
    SELECT c.doc_a, c.doc_b, c.jaccard,
           levenshtein(da.text, db.text)::BIGINT AS edit_dist,
           floor((1.0 - levenshtein(da.text, db.text) * 1.0
                  / greatest(length(da.text), length(db.text))) * 10000 + 0.5)
               / 10000 AS sim_ratio
    FROM cand c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    WHERE floor((1.0 - levenshtein(da.text, db.text) * 1.0
                 / greatest(length(da.text), length(db.text))) * 10000 + 0.5)
              / 10000 >= 0.6
"""

# Bucket-skew audit over the SAME banded construction (CTE prefix repeated
# from the minhash_banded oracle); candidate volume is Σ s(s−1)/2 — all
# integers off the grouped bucket table.
ORACLES["dedup_lsh_bucket_stats"] = f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(greatest(len(t) - 3, 0) + 1),
                   i -> array_to_string(t[i + 1 : i + 3], ' ')))) AS shingle
        FROM toks
    ),
    hv AS (
        SELECT doc_id,
               (('0x' || substr(md5(shingle), 1, 15))::UBIGINT
                   % {_MH_P})::BIGINT AS x
        FROM sh
    ),
    ab(i, a, b) AS (VALUES {_MH_AB_SQL}),
    hashes AS (
        SELECT doc_id, ab.i AS i, min((ab.a * x + ab.b) % {_MH_P}) AS h
        FROM hv, ab
        GROUP BY doc_id, ab.i
    ),
    sig AS (
        SELECT doc_id, list(h ORDER BY i) AS mh FROM hashes GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, rb.b AS band,
               array_to_string(mh[rb.b * 4 + 1 : rb.b * 4 + 4], '|') AS bkey
        FROM sig, range(4) rb(b)
    ),
    sizes AS (
        SELECT band, bkey, count(*)::BIGINT AS s FROM banded GROUP BY 1, 2
    )
    SELECT band, count(*)::BIGINT AS n_buckets, sum(s)::BIGINT AS n_docs,
           sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)::BIGINT AS n_singletons,
           max(s)::BIGINT AS max_bucket,
           sum(s * (s - 1) // 2)::BIGINT AS cand_pairs
    FROM sizes GROUP BY 1
"""


def tail_head_stitch(tables: dict[str, DataFrame], w: int = 8) -> DataFrame:
    """Crawl-stitch (tail↔head overlap) detection — the contiguous-page
    failure mode none of the other dedup lenses catch: when a crawler
    splits one source document across two records, doc A's LAST tokens
    equal doc B's FIRST tokens, yet whole-doc hashes, shingle Jaccard on
    short overlaps, and prefix grouping (``dedup_head_boilerplate``) all
    stay quiet. Detector: md5 of the last-``w``-token window equi-joined
    against md5 of the first-``w``-token window across distinct docs.

    The fixture has no natural stitches, so (the injection discipline)
    every doc_id % 10 == 0 doc gets its SUCCESSOR's first ``w`` tokens
    appended on BOTH engines — the detector must then recover exactly
    those (i, i+1) pairs, plus any genuine hash-equal windows, identically
    on both sides. Docs shorter than ``w`` tokens sit out (stated guard).

    Plan: one successor self-join on doc_id+1 to build the modified
    corpus (key-shifted equi-join, no skew), one md5-keyed equi-join for
    detection — window hashes are the shuffle key, never text."""
    docs = tables["documents"]
    toks = tokens_col(F.col("text"))
    head_str = F.array_join(F.slice(toks, 1, w), " ")
    base = docs.select("doc_id", "text", head_str.alias("head_w"))
    nxt = base.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("head_w").alias("next_head")
    )
    mod = (
        base.join(nxt, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 10 == 0) & F.col("next_head").isNotNull(),
                F.concat(F.col("text"), F.lit(" "), F.col("next_head")),
            )
            .otherwise(F.col("text"))
            .alias("t2"),
        )
    )
    tk2 = tokens_col(F.col("t2"))
    sized = mod.select("doc_id", tk2.alias("tk"), F.size(tk2).alias("n")).where(
        F.col("n") >= w
    )
    hh = F.md5(F.array_join(F.slice(F.col("tk"), 1, w), " "))
    th = F.md5(F.array_join(F.slice(F.col("tk"), -w, w), " "))
    hashes = sized.select("doc_id", hh.alias("head_h"), th.alias("tail_h"))
    a = hashes.select(F.col("doc_id").alias("doc_a"), F.col("tail_h"))
    b = hashes.select(F.col("doc_id").alias("doc_b"), F.col("head_h"))
    return (
        a.join(b, a["tail_h"] == b["head_h"])
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", F.col("tail_h").alias("overlap_hash"))
    )


QUERIES["dedup_tail_head_stitch"] = tail_head_stitch
# Same successor injection + window-hash equi-join; DuckDB list slices are
# 1-based inclusive (tk[n-7 : n] == Spark slice(tk, -8, 8)).
ORACLES["dedup_tail_head_stitch"] = """
    WITH t AS (
        SELECT doc_id, text,
               array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:8], ' ')
                   AS head_w
        FROM documents
    ),
    mod AS (
        SELECT a.doc_id,
               CASE WHEN a.doc_id % 10 = 0 AND b.head_w IS NOT NULL
                    THEN a.text || ' ' || b.head_w
                    ELSE a.text END AS t2
        FROM t a LEFT JOIN t b ON b.doc_id = a.doc_id + 1
    ),
    tk AS (
        SELECT doc_id, regexp_split_to_array(trim(t2), '\\s+') AS tk
        FROM mod
    ),
    h AS (
        SELECT doc_id,
               md5(array_to_string(tk[1:8], ' ')) AS head_h,
               md5(array_to_string(tk[len(tk) - 7 : len(tk)], ' ')) AS tail_h
        FROM tk WHERE len(tk) >= 8
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.tail_h AS overlap_hash
    FROM h a JOIN h b ON a.tail_h = b.head_h AND a.doc_id != b.doc_id
"""


def stop_shingles(tables: dict[str, DataFrame], max_df_pct: int = 10) -> DataFrame:
    """Stop-shingle pruning audit — the LSH-scale technique that keeps the
    quadratic bomb defused: shingles appearing in more than
    ``max_df_pct``% of documents (boilerplate, headers, license blurbs)
    generate candidate-pair mass O(df²) while carrying no dedup signal,
    so production MinHash pipelines DROP them before banding (the
    stop-word idea lifted to shingles; ``dedup_lsh_audit`` detects the
    hotspots, THIS measures what pruning them buys). One summary row:
    shingle/stop counts and the exact candidate-pair mass Σ C(df,2)
    before and after pruning, plus the pinned reduction ratio — the
    number that justifies the cutoff in an index-tuning review.

    Exactness: everything is integer counts; C(df,2) cross-multiplies
    widen to decimal(38,0)/HUGEINT (df² wraps int64 near df≈4.3e9). Plan:
    one shingle-keyed count with map-side partials (distinct-per-doc at
    the source), then a 1-row agg — no pair is ever materialized."""
    docs = tables["documents"]
    n_docs = docs.count()
    cutoff = (n_docs * max_df_pct) // 100
    sh = docs.select(F.explode(shingles_col(F.col("text"), 3)).alias("shingle"))
    df_counts = sh.groupBy("shingle").agg(F.count("*").cast("long").alias("df"))
    pair_mass = (
        F.col("df").cast("decimal(38,0)") * (F.col("df") - 1).cast("decimal(38,0)")
    ) / 2
    kept_mass = F.when(F.col("df") <= cutoff, pair_mass).otherwise(
        F.lit(0).cast("decimal(38,0)")
    )
    return df_counts.agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum(F.when(F.col("df") > cutoff, 1).otherwise(0))
        .cast("long")
        .alias("n_stop"),
        F.sum(pair_mass).cast("long").alias("pairs_before"),
        F.sum(kept_mass).cast("long").alias("pairs_after"),
        # guarded: an all-df=1 corpus has zero pair mass — NULL, not NaN
        # (DuckDB 0.0/0.0 behavior is settings-dependent; NULL matches)
        F.when(
            F.sum(pair_mass) > F.lit(0).cast("decimal(38,0)"),
            F.floor(
                F.sum(kept_mass).cast("double")
                / F.sum(pair_mass).cast("double")
                * 1000000
                + 0.5
            ),
        ).cast("double").alias("kept_ratio_micro"),
    )


QUERIES["dedup_stop_shingles"] = stop_shingles
# Same distinct-per-doc shingle stream as the other dedup oracles; HUGEINT
# widening on the C(df,2) mass; the cutoff is integer floor of n_docs·pct/100.
ORACLES["dedup_stop_shingles"] = """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(greatest(len(t) - 3, 0) + 1),
                   i -> array_to_string(t[i + 1 : i + 3], ' ')))) AS shingle
        FROM toks
    ),
    dfs AS (SELECT shingle, count(*)::BIGINT AS df FROM sh GROUP BY shingle),
    cut AS (SELECT (count(*) * 10) // 100 AS c FROM documents)
    SELECT count(*)::BIGINT AS n_shingles,
           sum(CASE WHEN df > (SELECT c FROM cut) THEN 1 ELSE 0 END)::BIGINT
               AS n_stop,
           (sum(df::HUGEINT * (df - 1)) // 2)::BIGINT AS pairs_before,
           (sum(CASE WHEN df <= (SELECT c FROM cut)
                     THEN df::HUGEINT * (df - 1) ELSE 0 END) // 2)::BIGINT
               AS pairs_after,
           CASE WHEN sum(df::HUGEINT * (df - 1)) > 0 THEN
               floor(sum(CASE WHEN df <= (SELECT c FROM cut)
                              THEN df::HUGEINT * (df - 1) ELSE 0 END)::DOUBLE
                     / sum(df::HUGEINT * (df - 1))::DOUBLE * 1000000 + 0.5)
           END AS kept_ratio_micro
    FROM dfs
"""


# Homoglyph fold map: visually-confusable non-ASCII characters → their
# ASCII look-alikes (Cyrillic а/е/о/р/с/х, fullwidth ＡＢＣ digits/letters
# would extend the same two strings). One explicit, auditable pair of
# translate() arguments shared by both engines — NOT a library call, so
# the fold is identical everywhere.
_HOMOGLYPH_FROM = "аеорсху"
_HOMOGLYPH_TO = "aeopcxy"


def homoglyph_dedup(tables: dict[str, DataFrame]) -> DataFrame:
    """Confusable-character (homoglyph) dedup — the spam/SEO evasion
    ``dedup_normalized`` cannot catch: swapping Latin letters for
    identical-looking Cyrillic ones ('а' U+0430 for 'a' U+0061) defeats
    byte, lowercase, AND token dedup while looking identical to a human
    and to a model's detokenized output. Folding runs the CCNet
    normalization FIRST, then the explicit homoglyph translate map; docs
    grouping to the same folded digest are one cluster. The fixture is
    pure ASCII, so (the injection discipline) every doc_id % 9 == 0 doc
    is replaced by its own homoglyph-substituted twin of doc_id+1's text
    ON BOTH ENGINES — real confusable clusters exist, and the detector
    must group each twin with its source.

    Plan: stateless fold in codegen, ONE digest-keyed shuffle (never
    document bytes) — the exact_dedup scale shape."""
    docs = tables["documents"]
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("next_text")
    )
    mod = docs.join(nxt, "doc_id", "left").select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 9 == 0) & F.col("next_text").isNotNull(),
            F.translate(F.col("next_text"), _HOMOGLYPH_TO, _HOMOGLYPH_FROM),
        )
        .otherwise(F.col("text"))
        .alias("t2"),
    )
    norm = F.regexp_replace(F.lower(F.trim(F.col("t2"))), r"\s+", " ")
    folded = F.translate(norm, _HOMOGLYPH_FROM, _HOMOGLYPH_TO)
    return (
        mod.groupBy(F.md5(folded).alias("fold_hash"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keep_id"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
        )
        .where(F.col("n_docs") >= 2)
    )


QUERIES["dedup_homoglyph"] = homoglyph_dedup
# Same injection (homoglyph-substituted twin of the successor's text) and
# the same fold (normalize → translate) replayed in DuckDB; only clusters
# of ≥ 2 emit, so every row PROVES a fold-grouping.
ORACLES["dedup_homoglyph"] = """
    WITH nxt AS (
        SELECT doc_id - 1 AS doc_id, text AS next_text FROM documents
    ),
    mod AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 9 = 0 AND n.next_text IS NOT NULL
                    THEN translate(n.next_text, 'aeopcxy', 'аеорсху')
                    ELSE d.text END AS t2
        FROM documents d LEFT JOIN nxt n USING (doc_id)
    ),
    folded AS (
        SELECT doc_id,
               md5(translate(regexp_replace(lower(trim(t2)), '\\s+', ' ', 'g'),
                             'аеорсху', 'aeopcxy')) AS fold_hash
        FROM mod
    )
    SELECT fold_hash, count(*)::BIGINT AS n_docs,
           min(doc_id)::BIGINT AS keep_id, sum(doc_id)::BIGINT AS sum_ids
    FROM folded GROUP BY fold_hash HAVING count(*) >= 2
"""


def winnowing_fingerprints(tables: dict[str, DataFrame]) -> DataFrame:
    """Robust winnowing (Schleimer/Wilkerson/Aiken, the MOSS fingerprint
    selector): per document, hash every token 3-gram, slide a window of
    w=4 consecutive hashes, and select the MINIMUM hash per window with the
    RIGHTMOST occurrence breaking ties — the selection rule that guarantees
    at least one shared fingerprint for any match of length ≥ w+k−1 while
    keeping the stored set ~2/(w+1) of all grams. Documents shorter than
    one full window still get one fingerprint (single window over all
    grams), matching the paper's every-document-covered contract.

    Emits per doc: gram/window/selection counts, the selection density
    (micro-pinned), and how many of its distinct fingerprints also appear
    in ANOTHER doc — the cross-doc sharing signal MOSS ranks on.

    Scale: the whole selection is per-doc array math inside one scan
    (O(n·w) per doc, w=4, no data shuffle of text); only FINGERPRINT HASH
    rows shuffle (8-byte keys, ~2/(w+1) of gram count) — once for the
    fp-partitioned sharing window, once for the doc_id re-group.

    Plan note (the 100×-slowdown lesson of this kernel): hs/wl/pos are
    let-bound as LAMBDA VARIABLES (``transform(array(e), x -> ...)[0]``)
    and the per-doc struct crosses an ``explode_outer`` Generate barrier.
    Plain column aliases get INLINED by ProjectCollapsing/filter pushdown
    — the hs transform lands inside every per-window lambda (O(n²) md5
    per doc) and ``explode``'s implicit size>0 filter re-evaluates the
    whole pipeline at the scan. Lambda vars are opaque to alias
    substitution and outer-explode inserts no filter, so the heavy
    expression runs exactly once per document."""
    docs = tables["documents"]
    d = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("t")
    ).where(F.size("t") >= 3)
    # gram hashes: conv(md5-prefix) — the exact UBIGINT-parity basis the
    # minhash_banded oracle already pins (dedup.py oracle, r2). The whole
    # per-doc computation is ONE expression with hs/wl/pos let-bound:
    # rightmost-min per window = position of first match on the REVERSED
    # window slice.
    sel_struct = F.expr(
        """
        transform(array(
            transform(sequence(1, size(t) - 2), i ->
                CAST(conv(substring(md5(concat_ws(' ', slice(t, i, 3))), 1, 15),
                          16, 10) AS BIGINT))
        ), hs ->
          transform(array(least(4, size(hs))), wl ->
            transform(array(
                array_distinct(transform(sequence(1, size(hs) - wl + 1), i ->
                    i + wl - array_position(reverse(slice(hs, i, wl)),
                                            array_min(slice(hs, i, wl)))))
            ), pos ->
              named_struct(
                'ng', size(hs),
                'n_windows', size(hs) - wl + 1,
                'n_selected', size(pos),
                'fps', array_distinct(transform(pos, p ->
                           element_at(hs, CAST(p AS INT))))
              )
            )[0]
          )[0]
        )[0]
        """
    )
    per_doc = d.select("doc_id", F.explode_outer(F.array(sel_struct)).alias("s"))
    rows = per_doc.select(
        "doc_id",
        F.col("s.ng").alias("ng"),
        F.col("s.n_windows").alias("n_windows"),
        F.col("s.n_selected").alias("n_selected"),
        F.explode_outer("s.fps").alias("fp"),
    )
    # fps are distinct per doc, so count(*) per fp == docs sharing it
    n_docs_fp = F.count("*").over(Window.partitionBy("fp"))
    ann = rows.withColumn("n_docs_fp", n_docs_fp)
    return ann.groupBy("doc_id").agg(
        F.first("ng").cast("long").alias("n_grams"),
        F.first("n_windows").cast("long").alias("n_windows"),
        F.first("n_selected").cast("long").alias("n_selected"),
        F.count("*").cast("long").alias("n_fps"),
        F.sum(F.when(F.col("n_docs_fp") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_shared_fps"),
        F.floor(
            F.first("n_selected").cast("double")
            / F.first("n_windows").cast("double")
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("density_micro"),
    )


QUERIES["dedup_winnowing"] = winnowing_fingerprints
# Same k=3/w=4 selection with DuckDB's 1-based inclusive list slices;
# list_position-on-reverse is the identical rightmost-tie-break spelling.
ORACLES["dedup_winnowing"] = """
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                   i -> (('0x' || substr(md5(array_to_string(t[i : i + 2], ' ')),
                          1, 15))::UBIGINT)::BIGINT) AS hs
        FROM t WHERE len(t) >= 3
    ),
    w AS (
        SELECT doc_id, hs, len(hs)::BIGINT AS ng,
               least(4, len(hs))::BIGINT AS wl
        FROM g
    ),
    sel AS (
        SELECT doc_id, hs, ng, (ng - wl + 1)::BIGINT AS n_windows,
               list_distinct(list_transform(range(1, (ng - wl + 1)::INT + 1),
                   i -> i + wl - list_position(
                            list_reverse(hs[i : i + wl::INT - 1]),
                            list_min(hs[i : i + wl::INT - 1])))) AS pos
        FROM w
    ),
    per_doc AS (
        SELECT doc_id, ng, n_windows, len(pos)::BIGINT AS n_selected,
               list_distinct(list_transform(pos, p -> hs[p])) AS fps
        FROM sel
    ),
    fp_long AS (SELECT doc_id, unnest(fps) AS fp FROM per_doc),
    shared AS (
        SELECT fp FROM fp_long GROUP BY fp HAVING count(*) >= 2
    ),
    n_shared AS (
        SELECT doc_id, count(*)::BIGINT AS n_shared_fps
        FROM fp_long JOIN shared USING (fp) GROUP BY doc_id
    )
    SELECT p.doc_id, p.ng AS n_grams, p.n_windows, p.n_selected,
           len(p.fps)::BIGINT AS n_fps,
           coalesce(s.n_shared_fps, 0)::BIGINT AS n_shared_fps,
           floor(p.n_selected::DOUBLE / p.n_windows::DOUBLE * 1000000 + 0.5)::BIGINT
               AS density_micro
    FROM per_doc p LEFT JOIN n_shared s USING (doc_id)
"""


def cascade_funnel(tables: dict[str, DataFrame]) -> DataFrame:
    """Staged dedup FUNNEL — the production pipeline shape: cheap exact
    passes first, expensive fuzzy passes only on survivors. Stage 1
    byte-exact digest (keep min doc_id per group), stage 2 normalized +
    token-sort digest on stage-1 survivors, stage 3 n-gram Jaccard ≥ 0.5
    near-dup pairs among stage-2 survivors under the KEEP-FIRST rule
    (every pair (a < b) removes b — the standard greedy without
    transitive closure, documented; ``dedup_components`` is the
    closure-correct sibling). Emits one row per stage: docs in, removed,
    docs out — the marginal-savings report that justifies (or kills)
    each stage's cost in a real curation run.

    Exactness: pure set algebra on exact digests/pairs; counts exact.

    Scale: each stage is the proven kernel's shape (digest shuffles,
    bucketed pair generation); survivors pass stage-to-stage as doc_id
    semi-joins — the funnel never re-touches text after its stage."""
    docs = tables["documents"]
    # stage 1: byte-exact (the canonical keep rule). Both keep frames are
    # localCheckpoint-ed: each feeds its own count AND the next stage's
    # semi-join, and left lazy the stage chain re-executed cumulatively
    # (stage 3's count replayed stages 1+2 again — measured ~6.5 s vs
    # ~3.5 s checkpointed at sf0.1); the frames are doc_id-only slivers.
    keep1 = exact_keep_ids(docs).localCheckpoint()
    n0 = docs.count()
    n1 = keep1.count()
    # stage 2: normalized token-sort digest on survivors
    s1 = docs.join(keep1, "doc_id", "left_semi")
    toks = tokens_col(F.lower(F.trim(F.col("text"))))
    canon = F.concat_ws(" ", F.array_sort(toks))
    keep2 = (
        s1.groupBy(F.md5(canon).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .localCheckpoint()
    )
    n2 = keep2.count()
    # stage 3: jaccard >= 0.5 pairs among survivors, keep-first
    s2 = docs.join(keep2, "doc_id", "left_semi")
    pairs = ngram_jaccard_pairs({"documents": s2}, 3, 0.5)
    removed3 = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    n3 = n2 - removed3.count()
    spark = docs.sparkSession
    rows = [
        ("1_exact", n0, n0 - n1, n1),
        ("2_token_sort", n1, n1 - n2, n2),
        ("3_jaccard_keep_first", n2, n2 - n3, n3),
    ]
    return spark.createDataFrame(
        rows, "stage string, docs_in long, removed long, docs_out long"
    )


QUERIES["dedup_cascade_funnel"] = cascade_funnel
# Sequential replay: each stage's CTE filters on the previous stage's
# keep set; stage 3 replays the bucketed kernel's EXACT jaccard contract
# (distinct shingles, 1e-4 pinned ratio) quadratically on survivors.
ORACLES["dedup_cascade_funnel"] = """
    WITH keep1 AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    s1 AS (SELECT d.* FROM documents d JOIN keep1 USING (doc_id)),
    keep2 AS (
        SELECT min(doc_id) AS doc_id FROM (
            SELECT doc_id,
                   md5(array_to_string(list_sort(regexp_split_to_array(
                       lower(trim(text)), '\\s+')), ' ')) AS h
            FROM s1
        ) GROUP BY h
    ),
    s2 AS (SELECT d.* FROM documents d JOIN keep2 USING (doc_id)),
    toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM s2
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
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE floor((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 10000 + 0.5) / 10000
              >= 0.5
    ),
    counts AS (
        SELECT (SELECT count(*) FROM documents)::BIGINT AS n0,
               (SELECT count(*) FROM keep1)::BIGINT AS n1,
               (SELECT count(*) FROM keep2)::BIGINT AS n2,
               (SELECT count(*) FROM keep2)::BIGINT
               - (SELECT count(DISTINCT doc_b) FROM pairs)::BIGINT AS n3
    )
    SELECT '1_exact' AS stage, n0 AS docs_in, n0 - n1 AS removed,
           n1 AS docs_out FROM counts
    UNION ALL
    SELECT '2_token_sort', n1, n1 - n2, n2 FROM counts
    UNION ALL
    SELECT '3_jaccard_keep_first', n2, n2 - n3, n3 FROM counts
"""


def tf_shift(tables: dict[str, DataFrame], top_k: int = 20) -> DataFrame:
    """What dedup does to the LM statistics — term frequencies measured
    on the RAW corpus vs the exact-deduped corpus (min-doc_id survivor
    per byte-identical group), for the raw corpus's top-20 tokens: raw
    and deduped counts, per-million rates, and the rate shift. Tokens
    whose rate COLLAPSES after dedup were riding duplicated boilerplate
    — the evidence row behind "dedup changed my token distribution"
    (Lee et al. 2022's observation, as an operator); a near-zero shift
    column certifies the corpus clean.

    Exactness: counts exact; per-million rates and the shift are pinned
    divisions.

    Scale: one digest-keyed survivor semi-join (the dedup_exact shape),
    two token-keyed counts over raw/survivor scans, a broadcast top-K
    probe — vocab-bounded shuffles."""
    docs = tables["documents"]
    keep = exact_keep_ids(docs)
    toks_raw = docs.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    ).where(F.col("tok") != "")
    survivors = docs.join(keep, "doc_id", "left_semi")
    toks_dd = survivors.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    ).where(F.col("tok") != "")
    n_raw = toks_raw.agg(F.count("*").cast("long")).scalar()
    n_dd = toks_dd.agg(F.count("*").cast("long")).scalar()
    top = (
        toks_raw.groupBy("tok")
        .agg(F.count("*").cast("long").alias("raw_ct"))
        .orderBy(F.desc("raw_ct"), "tok")
        .limit(top_k)
    )
    dd = toks_dd.groupBy("tok").agg(F.count("*").cast("long").alias("dd_ct"))
    j = top.join(dd, "tok", "left").select(
        "tok",
        "raw_ct",
        F.coalesce("dd_ct", F.lit(0)).alias("dd_ct"),
    )
    raw_ppm = F.col("raw_ct").cast("double") / n_raw.cast("double") * 1000000
    dd_ppm = F.col("dd_ct").cast("double") / n_dd.cast("double") * 1000000
    return j.select(
        "tok",
        "raw_ct",
        "dd_ct",
        F.floor(raw_ppm + 0.5).cast("long").alias("raw_ppm"),
        F.floor(dd_ppm + 0.5).cast("long").alias("dd_ppm"),
        F.floor(dd_ppm - raw_ppm + 0.5).cast("long").alias("shift_ppm"),
    )


QUERIES["dedup_tf_shift"] = tf_shift
ORACLES["dedup_tf_shift"] = """
    WITH keep AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    raw_t AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
    ),
    raw_nz AS (SELECT tok FROM raw_t WHERE tok <> ''),
    dd_t AS (
        SELECT unnest(regexp_split_to_array(trim(d.text), '\\s+')) AS tok
        FROM documents d JOIN keep USING (doc_id)
    ),
    dd_nz AS (SELECT tok FROM dd_t WHERE tok <> ''),
    nr AS (SELECT count(*)::BIGINT AS n FROM raw_nz),
    nd AS (SELECT count(*)::BIGINT AS n FROM dd_nz),
    top AS (
        SELECT tok, count(*)::BIGINT AS raw_ct FROM raw_nz
        GROUP BY tok ORDER BY raw_ct DESC, tok LIMIT 20
    ),
    dd AS (SELECT tok, count(*)::BIGINT AS dd_ct FROM dd_nz GROUP BY tok)
    SELECT t.tok, t.raw_ct, coalesce(dd.dd_ct, 0)::BIGINT AS dd_ct,
           floor(t.raw_ct::DOUBLE / (SELECT n FROM nr)::DOUBLE * 1000000
                 + 0.5)::BIGINT AS raw_ppm,
           floor(coalesce(dd.dd_ct, 0)::DOUBLE / (SELECT n FROM nd)::DOUBLE
                 * 1000000 + 0.5)::BIGINT AS dd_ppm,
           floor(coalesce(dd.dd_ct, 0)::DOUBLE / (SELECT n FROM nd)::DOUBLE
                 * 1000000
                 - t.raw_ct::DOUBLE / (SELECT n FROM nr)::DOUBLE * 1000000
                 + 0.5)::BIGINT AS shift_ppm
    FROM top t LEFT JOIN dd USING (tok)
"""


def triangle_clustering(
    tables: dict[str, DataFrame], n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Triangle counting + local clustering coefficient over the near-dup
    graph — the TRANSITIVITY member of the iterative-graph family
    (``dedup_components`` answers reachability, ``dedup_pagerank``
    centrality, ``dedup_label_prop`` communities, ``dedup_graph_modularity``
    partition quality; this measures how CLIQUE-LIKE each doc's dup
    neighborhood is). High lcc = tight mirror cluster (every variant
    resembles every other — safe to collapse to one keeper); low lcc at
    high degree = hub-and-spoke template reuse (a boilerplate shell
    stitched to unrelated bodies — collapsing it would merge distinct
    content), exactly the distinction a curation pass needs before acting
    on connected components. Same undirected edge set as the siblings
    (exact-dup star edges + Jaccard-verified pairs, lo < hi).

    Exactness: each triangle is enumerated ONCE as an ordered triple
    a < b < c (the lo<hi edge orientation makes the two equi-joins
    produce exactly the ordered triples); degree / triangle counts are
    exact integers and lcc = 2t / (d(d-1)) is pinned 1e-6 with the
    shared round6 protocol. Only docs with degree ≥ 2 are emitted (lcc
    undefined below).

    Plan: edges localCheckpoint-ed once (the modularity/pagerank
    discipline), then triangle enumeration is TWO hash equi-joins on
    8-byte keys over the edge sliver (wedge b-key join + closing-edge
    (a,c) join) — the standard distributed triangle count; never corpus².
    Hot hubs make d² wedges in one task; past real skew the standard
    mitigation is degree-ordered orientation (point each edge at the
    HIGHER-degree endpoint), which this lo<hi variant approximates for
    free on id-assigned-by-crawl-order corpora."""
    docs = tables["documents"]
    md5_star = docs.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("m"),
    )
    e1 = md5_star.filter(F.col("doc_id") != F.col("m")).select(
        F.col("m").alias("lo"), F.col("doc_id").alias("hi")
    )
    e2 = ngram_jaccard_pairs(tables, n, threshold).select(
        F.col("doc_a").alias("lo"), F.col("doc_b").alias("hi")
    )
    edges = e1.unionByName(e2).distinct().localCheckpoint()
    ab = edges.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = edges.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = edges.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    tcount = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    deg = (
        edges.select(F.explode(F.array("lo", "hi")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    return (
        deg.where(F.col("degree") >= 2)
        .join(tcount, "doc_id", "left")
        .select(
            "doc_id",
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            round6(
                2.0
                * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1))
            ).alias("lcc"),
        )
    )


QUERIES["dedup_triangles"] = triangle_clustering
ORACLES["dedup_triangles"] = """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
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
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac_edges AS (
        SELECT doc_a AS lo, doc_b AS hi FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE floor((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 10000 + 0.5) / 10000 >= 0.5
    ),
    md5_star AS (
        SELECT doc_id AS hi, min(doc_id) OVER (PARTITION BY md5(text)) AS lo
        FROM documents
    ),
    edges AS (
        SELECT lo, hi FROM md5_star WHERE lo != hi
        UNION
        SELECT lo, hi FROM jac_edges
    ),
    tri AS (
        SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
        FROM edges ab
        JOIN edges bc ON bc.lo = ab.hi
        JOIN edges ac ON ac.lo = ab.lo AND ac.hi = bc.hi
    ),
    tcount AS (
        SELECT doc_id, count(*)::BIGINT AS triangles FROM (
            SELECT a AS doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY doc_id
    ),
    deg AS (
        SELECT doc_id, count(*)::BIGINT AS degree FROM (
            SELECT lo AS doc_id FROM edges
            UNION ALL SELECT hi FROM edges
        ) GROUP BY doc_id
    )
    SELECT d.doc_id, d.degree,
           coalesce(t.triangles, 0)::BIGINT AS triangles,
           floor(2.0 * coalesce(t.triangles, 0)
                 / (d.degree * (d.degree - 1)) * 1000000 + 0.5) / 1000000 AS lcc
    FROM deg d LEFT JOIN tcount t USING (doc_id)
    WHERE d.degree >= 2
"""
