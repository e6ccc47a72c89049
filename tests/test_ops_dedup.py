import pytest
from pyspark.sql import functions as F

from flink_210225_spark.ops import dedup

from .conftest import SF_DIR
from .oracle import assert_matches_oracle


@pytest.mark.parametrize(
    "name",
    [
        "dedup_exact",
        "dedup_normalized",
        "dedup_ngram_jaccard",
        "dedup_prefix_filter",
        "dedup_keep_best",
        "dedup_shingle_hotspots",
        "dedup_span_stats",
        "dedup_minhash_banded",
        "dedup_simhash_banded",
        "dedup_containment",
        "dedup_incremental",
        "text_ngram_novelty",
    ],
)
def test_dedup_matches_oracle(name, tables):
    assert_matches_oracle(dedup.QUERIES[name](tables), dedup.ORACLES[name], SF_DIR)


def test_containment_catches_subset_jaccard_misses(spark):
    # doc 2 is doc 1's first 6 tokens verbatim inside a 30-token doc:
    # containment(2→1 side) is 1.0 while Jaccard is far below 0.5 —
    # the asymmetric case the Jaccard family is blind to.
    long_toks = " ".join(f"w{i}" for i in range(30))
    short_toks = " ".join(f"w{i}" for i in range(6))
    docs = spark.createDataFrame(
        [(1, long_toks), (2, short_toks), (3, "совсем другой текст без общего")],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b): (r.containment, r.direction)
        for r in dedup.containment_pairs({"documents": docs}).collect()
    }
    assert pairs == {(1, 2): (1.0, "b_in_a")}
    jac = dedup.ngram_jaccard_pairs({"documents": docs}).collect()
    assert jac == []  # Jaccard at 0.5 misses the embedded quote


def test_incremental_dedup_statuses(spark):
    # corpus = ids 1,2 (digest A, B); batch = ids 5,10,15 where 5 dups the
    # corpus (A), 15 dups 10 inside the batch (C), 10 is genuinely new.
    docs = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (5, "Alpha   text"),
         (10, "gamma text"), (15, "GAMMA TEXT")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in dedup.incremental_dedup({"documents": docs}).collect()}
    assert got == {5: "dup_corpus", 10: "new", 15: "dup_batch"}


def test_ngram_novelty_ordering_semantics(spark):
    # doc 1 introduces everything (novelty 1.0); doc 2 is a verbatim copy
    # (novelty 0.0); doc 3 shares half its shingles with doc 1.
    a = " ".join(f"w{i}" for i in range(6))  # shingles w0..w3 starts -> 4
    mixed = "w0 w1 w2 x0 x1 x2"
    docs = spark.createDataFrame(
        [(1, a), (2, a), (3, mixed)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in dedup.ngram_novelty({"documents": docs}).collect()}
    assert rows[1].novelty == 1.0
    assert rows[2].novelty == 0.0
    assert rows[3].n_sh == 4 and rows[3].n_novel == 3  # only 'w0 w1 w2' seen before


def test_span_stats_coverage_semantics(spark):
    # doc 1 & 2 share a 13-token block (one duplicated span each at pos 0);
    # doc 3 repeats its own 13 tokens back-to-back (within-doc duplication:
    # spans at 0..13 all duplicated via cross-matching, overlapping
    # intervals must union, not sum); doc 4 is unique; doc 5 is < 13 tokens.
    block = " ".join(f"w{i}" for i in range(13))
    uniq1 = " ".join(f"a{i}" for i in range(10))
    uniq2 = " ".join(f"b{i}" for i in range(10))
    rows = [
        (1, block + " " + uniq1),
        (2, block + " " + uniq2),
        (3, block + " " + block),
        (4, " ".join(f"c{i}" for i in range(30))),
        (5, "too short for any span"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in dedup.span_dedup({"documents": docs}).collect()
    }
    assert set(got) == {1, 2, 3}  # 4 unique, 5 too short
    # docs 1/2: exactly the pos-0 span is duplicated -> 13 tokens covered
    for d in (1, 2):
        assert got[d]["dup_span_ct"] == 1
        assert got[d]["covered_tokens"] == 13
    # doc 3: "block block" = 26 tokens; spans at pos 0 and 13 are both the
    # block itself (duplicated within-doc AND vs docs 1/2); the boundary-
    # straddling spans at pos 1..12 are unique. [0,13) ∪ [13,26) = 26 — the
    # two disjoint intervals must each contribute the full 13.
    assert got[3]["n_tokens"] == 26
    assert got[3]["dup_span_ct"] == 2
    assert got[3]["covered_tokens"] == 26
    assert abs(got[3]["dup_fraction"] - 1.0) < 1e-9


@pytest.fixture(scope="module")
def dup_docs(spark):
    words = [f"tok{i}" for i in range(60)]
    base = " ".join(words)  # 58 shingles
    near_words = list(words)
    near_words[30] = "changed"  # 3 shingles differ -> jaccard ~ 55/61 ≈ 0.90
    near = " ".join(near_words)
    other = "completely different words describing nothing of relevance to foxes"
    rows = [(1, base), (2, base), (3, near), (4, other)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_finds_dups(dup_docs):
    cand = dedup.minhash_lsh_candidates({"documents": dup_docs}).collect()
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in cand}
    assert pairs[(1, 2)] == 1.0  # exact dup always collides with estimate 1
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup caught by some band
    assert all(o not in p for p in pairs for o in [4]) or pairs  # 4 may appear only by chance


def test_minhash_candidates_cover_true_pairs(tables):
    """LSH recall on fixture data: every exact-Jaccard pair ≥ 0.8 must appear
    among LSH candidates (16 hashes / 4 bands → collision prob ≥ 0.97 @ 0.8)."""
    truth = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(tables, threshold=0.8).collect()
    }
    cand = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_candidates(tables).collect()
    }
    assert truth <= cand, f"missed: {truth - cand}"


def test_minhash_verified_equals_exact_on_candidates(tables):
    """The propose+verify pipeline returns exactly the exact-verifier pairs
    restricted to LSH candidates — same jaccard values, no extras."""
    cand = {
        (r.doc_a, r.doc_b) for r in dedup.minhash_lsh_candidates(tables).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(tables).collect()
    }
    verified = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_verified_pairs(tables).collect()
    }
    want = {p: j for p, j in exact.items() if p in cand}
    assert verified == want
    # recall of the composed pipeline vs the full quadratic verifier
    assert len(verified) >= 0.9 * len(exact)


def test_minhash_verified_pairs_one_scan_no_join(tables):
    """Signatures and shingle-hash sets come from one sketch of the docs,
    and the sets ride the bucket structs: one scan of documents, no join."""
    plan = (
        dedup.minhash_verified_pairs(tables)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def _degenerate_documents():
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{SF_DIR}/documents.parquet")
    const = docs.slice(0, 6)
    text = const.column("text")[0].as_py()
    const = const.set_column(
        const.schema.get_field_index("text"), "text", pa.array([text] * 6)
    )
    return {"empty": docs.slice(0, 0), "one_row": docs.slice(0, 1), "constant_text": const}


@pytest.mark.parametrize("case", ["empty", "one_row", "constant_text"])
def test_curation_steps_on_degenerate_documents(spark, tmp_path, case):
    """curation_pipeline, minhash_lsh_candidates and minhash_verified_pairs
    return results, not exceptions, on empty, one-row and constant-text
    documents, and agree with their DuckDB oracles: every byte-identical
    pair is a candidate with estimate 1, and verification keeps exactly the
    candidates the exact shingle Jaccard keeps, with that Jaccard."""
    from flink_210225_spark.io import load_tables
    from flink_210225_spark.ops import text

    from .oracle import degenerate_fixture, duck_connect

    docs = _degenerate_documents()[case]
    d = degenerate_fixture(tmp_path / case, SF_DIR, documents=docs)
    tables = load_tables(spark, d)
    assert_matches_oracle(
        text.curation_pipeline(tables), text.ORACLES["text_curation_pipeline"], d
    )
    cand = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup.minhash_lsh_candidates(tables).collect()
    }
    verified = {
        (r.doc_a, r.doc_b): r.jaccard for r in dedup.minhash_verified_pairs(tables).collect()
    }
    con = duck_connect(d)
    try:
        exact = {(a, b): j for a, b, j in con.execute(dedup.ORACLES["dedup_ngram_jaccard"]).fetchall()}
    finally:
        con.close()
    ids = sorted(docs.column("doc_id").to_pylist())
    if case == "constant_text":
        assert cand == {(a, b): 1.0 for a in ids for b in ids if a < b}
    else:
        assert cand == {}
    assert verified == {p: j for p, j in exact.items() if p in cand}


def test_prefix_filter_equals_quadratic(tables, dup_docs):
    """Prefix filtering is lossless pruning: identical (pair, jaccard) output
    to the quadratic baseline on fixture data and on the near-dup micro set."""
    for t in (tables, {"documents": dup_docs}):
        exact = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(t).collect()
        }
        pref = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.prefix_filter_pairs(t).collect()
        }
        assert pref == exact


def test_prefix_filter_prunes_boilerplate_buckets(spark):
    """A corpus-hot shingle shared by every doc must not put all docs in one
    candidate bucket: with unique content dominating each doc, the hot
    shingle's document frequency is maximal so it sorts LAST and falls outside
    every prefix. The near-dup pair must still be found (theorem: prefixes of
    J≥t pairs intersect)."""
    boiler = "all rights reserved copyright notice footer"
    rows = []
    for d in range(20):
        uniq = " ".join(f"d{d}w{i}" for i in range(40))
        rows.append((d, uniq + " " + boiler))
    # one near-dup pair: doc 100/101 share most content
    words = [f"s{i}" for i in range(40)]
    rows.append((100, " ".join(words) + " " + boiler))
    w2 = list(words)
    w2[35] = "x"
    rows.append((101, " ".join(w2) + " " + boiler))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.prefix_filter_pairs({"documents": docs}).collect()
    }
    want = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs({"documents": docs}).collect()
    }
    assert got == want
    assert (100, 101) in got


def test_dedup_components_consistent(tables):
    comp = {
        r.doc_id: r.component for r in dedup.dedup_components(tables).collect()
    }
    # every document labeled, component id is a member and is minimal
    assert set(comp.values()) <= set(comp)
    assert all(comp[c] == c for c in set(comp.values()))
    assert all(c <= d for d, c in comp.items())
    # both edge kinds connect their endpoints
    for r in dedup.ngram_jaccard_pairs(tables).collect():
        assert comp[r.doc_a] == comp[r.doc_b]
    for r in dedup.exact_dedup(tables).collect():
        assert comp[r.keep_id] == comp[r.keep_id]  # keep_id labeled
    assert_matches_oracle(
        dedup.QUERIES["dedup_components"](tables),
        dedup.ORACLES["dedup_components"],
        SF_DIR,
    )


def test_star_contraction_matches_propagation(tables):
    """Both component engines must produce identical labels on the fixture
    corpus; the star engine is additionally gated on the recursive-CTE
    oracle through the shared ORACLES entry (parametrized test above covers
    only the propagation engine's key)."""
    prop = {
        r.doc_id: r.component for r in dedup.dedup_components(tables).collect()
    }
    star = {
        r.doc_id: r.component
        for r in dedup.dedup_components_star(tables).collect()
    }
    assert prop == star
    assert_matches_oracle(
        dedup.QUERIES["dedup_components_star"](tables),
        dedup.ORACLES["dedup_components_star"],
        SF_DIR,
    )


def test_star_contraction_deep_path(spark):
    """A 300-node path graph has diameter 299 — min-label propagation would
    need 299 rounds (far past its max_iters); star contraction halves
    component height per alternation and must fully converge well inside 15
    rounds, labeling every node 0."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(299)], "a long, b long"
    )
    universe = spark.range(300).select(F.col("id"))
    got = {
        r.id: r.component
        for r in dedup.components_from_edges_star(edges, universe).collect()
    }
    assert got == {i: 0 for i in range(300)}


def test_star_contraction_isolated_and_multi(spark):
    # two components + isolated nodes; labels = component min, isolated self
    edges = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 21)], "a long, b long"
    )
    universe = spark.createDataFrame(
        [(i,) for i in [3, 5, 9, 20, 21, 40]], "id long"
    )
    got = {
        r.id: r.component
        for r in dedup.components_from_edges_star(edges, universe).collect()
    }
    assert got == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 40: 40}


def test_components_raise_on_iteration_cap(spark):
    """ADVICE r1: exhausting the round budget without convergence must fail
    loudly — a 40-node path can't finish min-label propagation in 2 rounds,
    and labels at that point would be silently non-minimal."""
    import pytest

    edges = spark.createDataFrame([(i, i + 1) for i in range(39)], "a long, b long")
    universe = spark.range(40).select(F.col("id"))
    with pytest.raises(RuntimeError, match="no convergence"):
        dedup.components_from_edges(edges, universe, max_iters=2)


def test_simhash_exact_dups_zero_distance(dup_docs):
    sigs = {r.doc_id: r.simhash for r in dedup.simhash_signatures({"documents": dup_docs}).collect()}
    assert sigs[1] == sigs[2]
    near = dedup.simhash_near_dups({"documents": dup_docs}, max_hamming=10).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in near}
    assert got[(1, 2)] == 0


def test_normalized_dedup_merges_case_and_spacing(spark):
    docs = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "HELLO WORLD  "), (4, "other")],
        "doc_id long, text string",
    )
    rows = dedup.normalized_dedup({"documents": docs}).collect()
    by_keep = {r.keep_id: r.dup_ct for r in rows}
    assert by_keep == {1: 3, 4: 1}


def test_keep_best_prefers_quality_over_min_id(spark):
    """Within a normalized group the survivor is the highest-quality doc,
    not the lowest id. 'The ...' and 'the ...' normalize to one group, but
    quality is computed on the RAW tokens, where only lowercase 'the' counts
    as a stopword — stop_balance 0.925 vs 0.900 — so doc 5 must win despite
    the larger id; exact quality ties fall back to min doc_id."""
    body = " ".join(f"w{i}" for i in range(39))
    docs = spark.createDataFrame(
        [(2, "The " + body), (5, "the " + body)],
        "doc_id long, text string",
    )
    rows = dedup.keep_best_dedup({"documents": docs}).collect()
    assert len(rows) == 1 and rows[0].keep_id == 5 and rows[0].dup_ct == 2

    tied = spark.createDataFrame(
        [(4, "w0 w1  w2"), (9, "w0 w1 w2  ")],  # identical tokens -> tie
        "doc_id long, text string",
    )
    rows = dedup.keep_best_dedup({"documents": tied}).collect()
    assert len(rows) == 1 and rows[0].keep_id == 4 and rows[0].dup_ct == 2


def test_shingle_hotspots_flags_shared_boilerplate(spark):
    footer = "copyright acme corp all rights reserved"  # 6 tokens -> 2 5-grams
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + footer),
            (2, "delta epsilon zeta " + footer),
            (3, "unique page body with no shared phrasing at all"),
        ],
        "doc_id long, text string",
    )
    rows = dedup.shingle_hotspots({"documents": docs}).collect()
    shingles = {r.shingle: r.doc_ct for r in rows}
    assert shingles.get("copyright acme corp all rights") == 2
    assert shingles.get("acme corp all rights reserved") == 2
    assert all(ct >= 2 for ct in shingles.values())


def test_blocked_embedding_dedup_equals_broadcast(tables):
    """The chunked block-pair GEMM must emit exactly the broadcast variant's
    pairs — different physical plan, identical result, including pairs whose
    lower id hashes into the higher block."""
    a = sorted(map(tuple, dedup.embedding_near_dups(tables).collect()))
    b = sorted(map(tuple, dedup.embedding_near_dups_blocked(tables).collect()))
    assert a == b


def test_embedding_near_dups_autoswitches_past_broadcast_bound(tables):
    """Above broadcast_row_bound the broadcast entry point must hand off to
    the blocked (no-driver-materialization) plan and still emit identical
    pairs — the 100 TB-safe path is the default behavior, not opt-in
    (VERDICT r7 #5)."""
    switched = dedup.embedding_near_dups(tables, broadcast_row_bound=1)
    baseline = dedup.embedding_near_dups_blocked(tables)
    assert sorted(map(tuple, switched.collect())) == sorted(
        map(tuple, baseline.collect())
    )


def test_edit_distance_matches_oracle(tables):
    assert_matches_oracle(
        dedup.QUERIES["dedup_edit_distance"](tables),
        dedup.ORACLES["dedup_edit_distance"],
        SF_DIR,
    )


def test_edit_distance_catches_shingle_blind_edits(spark):
    """In-word edits shift every containing shingle (Jaccard craters) but
    cost one edit each: the pair must clear the ratio gate while staying
    below the exact-Jaccard 0.5 threshold."""
    words = [f"tok{i}" for i in range(30)]
    w2 = list(words)
    for i in (3, 9, 15, 21):  # four in-word edits, spread out: 12 of 28
        w2[i] = words[i] + "x"  # shingles shift -> J = 16/40 = 0.4 < 0.5
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(w2))], "doc_id long, text string"
    )
    t = {"documents": docs}
    fuzzy = {(r.doc_a, r.doc_b): r for r in dedup.edit_distance_pairs(t).collect()}
    strict = {(r.doc_a, r.doc_b) for r in dedup.ngram_jaccard_pairs(t).collect()}
    assert (1, 2) in fuzzy and fuzzy[(1, 2)].edit_dist == 4
    assert fuzzy[(1, 2)].sim_ratio >= 0.95
    assert (1, 2) not in strict  # token-shingle Jaccard missed it


def test_dedup_savings_matches_oracle(tables):
    assert_matches_oracle(
        dedup.QUERIES["dedup_savings"](tables),
        dedup.ORACLES["dedup_savings"],
        SF_DIR,
    )


def test_dedup_savings_accounting(tables):
    """Normalized dedup can only merge MORE than exact (norm digests are a
    coarsening), kept tokens never exceed totals, and exact kept-doc counts
    re-derive from exact_dedup's group table."""
    rows = {r.lang: r for r in dedup.dedup_savings(tables).collect()}
    n_exact_groups = dedup.exact_dedup(tables).count()
    assert sum(r.exact_kept_docs for r in rows.values()) == n_exact_groups
    for r in rows.values():
        assert r.exact_kept_tokens <= r.total_tokens
        assert r.norm_kept_docs <= r.exact_kept_docs
        assert r.norm_savings_frac >= r.exact_savings_frac


def test_minhash_banded_recall_and_estimator(tables):
    """The md5-banded LSH surfaces every true pair with Jaccard ≥ 0.8 (16
    hashes / 4 bands → collision prob ≥ 0.97 there — the same recall
    contract the xxhash64 path is tested to; pairs near the 0.5 threshold
    only collide ~23% of the time by design), and the agreement estimator
    tracks exact Jaccard on strong candidates."""
    cands = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup.minhash_banded_md5(tables).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(tables, threshold=0.8).collect()
    }
    missed = [p for p in exact if p not in cands]
    assert not missed, f"banded LSH missed true pairs: {missed}"
    for p, j in exact.items():
        if j >= 0.9:
            assert cands[p] >= 0.5, (p, j, cands[p])


def test_simhash_banded_semantics(spark, tables):
    """Identical docs pair at hamming 0; a 1-token-in-60 edit stays within
    the hamming cut; unrelated docs don't pair. And on the fixture corpus
    the md5 sibling's pair count stays in the same regime as the xxhash
    fast path (same 63-bit/4-band geometry — a 32-bit variant measured 38x
    the candidates)."""
    words = [f"tok{i}" for i in range(60)]
    near = list(words)
    near[30] = "changed"
    rows = [
        (1, " ".join(words)),
        (2, " ".join(words)),
        (3, " ".join(near)),
        (4, "completely different content about foxes and hedgehogs entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_banded_md5({"documents": docs}).collect()
    }
    assert got.get((1, 2)) == 0
    assert (1, 3) in got and got[(1, 3)] <= 3
    assert all(4 not in p for p in got)
    n_md5 = dedup.simhash_banded_md5(tables).count()
    n_fast = dedup.simhash_near_dups(tables).count()
    assert n_md5 <= 3 * n_fast + 10


def test_crossdoc_spans_maximal_island(spark):
    """A 20-token substring shared by two docs (all other tokens unique per
    doc) must surface as exactly ONE island of exactly 20 tokens in each —
    the maximal-run merge, not per-window counts."""
    shared = " ".join(f"s{i}" for i in range(20))
    a = " ".join(f"a{i}" for i in range(15)) + " " + shared + " " + " ".join(
        f"z{i}" for i in range(15)
    )
    b = " ".join(f"b{i}" for i in range(18)) + " " + shared
    docs = spark.createDataFrame(
        [(1, a, "en", "s", len(a)), (2, b, "en", "s", len(b))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r.doc_id: r for r in dedup.crossdoc_spans({"documents": docs}).collect()}
    assert set(got) == {1, 2}
    for r in got.values():
        assert r.n_islands == 1, r
        assert r.max_run == 20, r
        assert r.covered_tokens == 20, r


def test_paraphrase_mining_excludes_lexical_dups(spark):
    """Same embedding + same words = near-dup → excluded; same embedding +
    different words = paraphrase → surfaced with jaccard 0."""
    vec = [1.0] + [0.0] * 63
    vec2 = [0.0, 1.0] + [0.0] * 62
    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat today", "en", "s", 0),
            (1, "the cat sat on the mat today", "en", "s", 0),   # dup of 0
            (2, "a feline rested upon a rug", "en", "s", 0),     # paraphrase of 0
            (3, "unrelated text about spark plans", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    emb = spark.createDataFrame(
        [(0, vec, 0), (1, vec, 0), (2, vec, 0), (3, vec2, 1)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        (r.vec_a, r.vec_b): r
        for r in dedup.paraphrase_mining(
            {"documents": docs, "embeddings": emb}
        ).collect()
    }
    assert (0, 2) in got and (1, 2) in got       # semantically near, lexically far
    assert (0, 1) not in got                     # exact dup: jaccard 1.0 filtered
    assert all(b != 3 and a != 3 for (a, b) in got)  # cosine 0 to vec2
    assert got[(0, 2)].jaccard == 0.0 and got[(0, 2)].cosine == 1.0


def test_pagerank_mass_and_hub_dominance(spark, tables):
    """Rank mass is conserved (undirected graph has no dangling loss: ranks
    sum to ~1), and in a star micro-graph the hub (degree 3) outranks every
    leaf (degree 1)."""
    rows = dedup.pagerank_dup_graph(tables).collect()
    if rows:
        assert abs(sum(r.rank for r in rows) - 1.0) < 1e-3
    hub = [f"w{i}" for i in range(40)]
    leaves = []
    for li, lo in enumerate((0, 15, 30)):
        toks = list(hub)
        for j in range(10):
            toks[lo + j] = f"u{li}_{j}"
        leaves.append(" ".join(toks))
    docs = spark.createDataFrame(
        [(0, " ".join(hub), "en", "s", 0)]
        + [(i + 1, t, "en", "s", 0) for i, t in enumerate(leaves)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r.doc_id: r for r in dedup.pagerank_dup_graph({"documents": docs}).collect()}
    assert got[0].degree == 3 and all(got[i].degree == 1 for i in (1, 2, 3))
    assert all(got[0].rank > got[i].rank for i in (1, 2, 3))


def test_contamination_spans_exact_range(spark):
    """A doc embedding a 20-token benchmark quote must report exactly one
    span with the quote's offset and length; a clean doc reports none."""
    quote = " ".join(f"q{i}" for i in range(20))
    a = " ".join(f"a{i}" for i in range(15)) + " " + quote + " " + " ".join(
        f"z{i}" for i in range(15)
    )
    docs = spark.createDataFrame(
        [
            (1, a, "en", "src0", 0),
            (2, " ".join(f"c{i}" for i in range(40)), "en", "src0", 0),
            (3, "bench prefix " + quote, "en", "src1", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = dedup.contamination_spans({"documents": docs}).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.doc_id, r.span_start, r.span_len) == (1, 15, 20)


def test_cluster_summary_consistency(tables):
    """Summary must agree with its components: sizes match the component
    census over size>=2 clusters, the representative is the keep_best
    (quality desc, doc_id asc) member, and tokens_saved < tokens_total."""
    comp = {r.doc_id: r.component for r in dedup.dedup_components(tables).collect()}
    from collections import Counter

    census = Counter(comp.values())
    rows = {r.component: r for r in dedup.cluster_summary(tables).collect()}
    assert set(rows) == {c for c, n in census.items() if n >= 2}
    from flink_210225_spark.ops.text import quality_score

    q = {r.doc_id: r.quality for r in quality_score(tables).collect()}
    for c, r in rows.items():
        assert r.size == census[c]
        members = [d for d, cc in comp.items() if cc == c]
        best = min(members, key=lambda d: (-q[d], d))
        assert r.rep_id == best, (c, r.rep_id, best)
        assert 0 <= r.tokens_saved < r.tokens_total


def test_spans_excise_cuts_exact_quote(spark):
    """The embedded 20-token benchmark quote must be cut precisely: kept
    text = prefix + suffix with the quote gone, digest verified by hand."""
    import hashlib

    quote = " ".join(f"q{i}" for i in range(20))
    prefix = " ".join(f"a{i}" for i in range(15))
    suffix = " ".join(f"z{i}" for i in range(15))
    a = prefix + " " + quote + " " + suffix
    docs = spark.createDataFrame(
        [
            (1, a, "en", "src0", 0),
            (2, " ".join(f"c{i}" for i in range(40)), "en", "src0", 0),
            (3, "bench prefix " + quote, "en", "src1", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = dedup.excise_contaminated({"documents": docs}).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.doc_id, r.n_tokens, r.removed_tokens, r.n_kept) == (1, 50, 20, 30)
    expect = prefix + " " + suffix
    assert r.cleaned_digest == hashlib.md5(expect.encode()).hexdigest()


def test_lsh_family_audit_all_green(tables_med):
    """The fast-path LSH hash gate: both family rows must report every
    quality boolean TRUE at the driver's gated SF, and the exact anchors
    must be internally consistent (n_true > 0 so the recall gate is not
    vacuous on the minhash row)."""
    rows = {r.family: r for r in dedup.lsh_family_audit(tables_med).collect()}
    assert set(rows) == {"minhash", "simhash"}
    assert rows["minhash"].n_true > 0
    for r in rows.values():
        assert r.recall_ok and r.count_regime_ok and r.dup_cover_ok, r
