from flink_210225_spark.ops import dedup, sampling

from .conftest import SF_DIR
from .oracle import assert_matches_oracle


def test_sampling_matches_oracle(tables):
    for name in sampling.QUERIES:
        assert_matches_oracle(
            sampling.QUERIES[name](tables), sampling.ORACLES[name], SF_DIR
        )


def test_hash_split_proportions_and_leakage(tables):
    rows = sampling.hash_split(tables).collect()
    n = len(rows)
    frac = {s: sum(r.split == s for r in rows) / n for s in ("train", "val", "test")}
    # 12/2/2 sixteenths with fixture-size tolerance
    assert 0.60 <= frac["train"] <= 0.90
    assert 0.05 <= frac["val"] <= 0.22
    assert 0.05 <= frac["test"] <= 0.22
    # content-keyed: byte-identical docs always share a split (no leakage)
    split_by_id = {r.doc_id: r.split for r in rows}
    comp = {r.doc_id: r.component for r in dedup.dedup_components(tables).collect()}
    docs = {r.doc_id: r.text for r in tables["documents"].collect()}
    for d, c in comp.items():
        if d != c and docs[d] == docs[c]:
            assert split_by_id[d] == split_by_id[c]


def test_stratified_exact_proportions_per_stratum(tables):
    """Every language gets val/test shares exact to ±1 document — the
    property hash_split's bucketing can't give small strata."""
    from collections import Counter

    rows = sampling.stratified_exact_split(tables).collect()
    per_lang: dict = {}
    for r in rows:
        per_lang.setdefault(r.lang, Counter())[r.split] += 1
    for lang, c in per_lang.items():
        n = sum(c.values())
        for s, frac in (("val", 0.1), ("test", 0.1)):
            assert abs(c[s] - frac * n) <= 1, (lang, s, c[s], n)


def test_mixture_rate_downsamples_target_group(tables):
    from pyspark.sql import functions as F

    docs = tables["documents"]
    kept = sampling.mixture_downsample(tables).collect()
    total = {
        r.lang: r.cnt
        for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    kept_by_lang: dict = {}
    for r in kept:
        kept_by_lang[r.lang] = kept_by_lang.get(r.lang, 0) + 1
    # en downsampled to ~25% (±15pp at fixture size); other langs untouched
    assert 0.10 <= kept_by_lang.get("en", 0) / total["en"] <= 0.40
    for lang, n in total.items():
        if lang != "en":
            assert kept_by_lang.get(lang, 0) == n


def test_sampling_is_stream_composable(spark, tables):
    """hash_split and mixture_downsample are stateless projections — the
    same code path runs on a readStream and agrees with batch."""
    from .test_sessions_streamjoin import _file_stream
    from flink_210225_spark.streaming import pipelines as sp

    stream_tables = {"documents": _file_stream(spark, SF_DIR, "documents")}
    for fn in (sampling.hash_split, sampling.mixture_downsample):
        got = sp.run_stream_to_memory(fn(stream_tables), f"s_{fn.__name__}")
        want = fn(tables)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_quota_stream_admission_cap(spark, tables):
    """Streaming quota: one availableNow batch ⇒ admitted set must equal the
    first-quota-by-doc_id docs per (lang, source), with dense ranks."""
    from .test_sessions_streamjoin import _file_stream
    from flink_210225_spark.streaming import pipelines as sp

    stream = _file_stream(spark, SF_DIR, "documents")
    got = sp.run_stream_to_memory(sp.quota_stream(stream, quota=7), "s_quota").collect()
    by_group: dict = {}
    for r in got:
        by_group.setdefault((r.lang, r.source), []).append(r)
    docs = tables["documents"].select("doc_id", "lang", "source").collect()
    want: dict = {}
    for r in sorted(docs, key=lambda r: r.doc_id):
        want.setdefault((r.lang, r.source), []).append(r.doc_id)
    assert set(by_group) == set(want)
    for grp, rows in by_group.items():
        rows.sort(key=lambda r: r.priority)
        assert [r.priority for r in rows] == list(range(1, len(rows) + 1))
        assert [r.doc_id for r in rows] == want[grp][:7]


def test_quota_stream_kernel_carries_state_across_batches():
    """Direct kernel check: a second micro-batch only admits the remainder
    of the cap, and a full group admits nothing more."""
    import pandas as pd

    from flink_210225_spark.streaming.pipelines import make_quota_func

    class FakeState:
        def __init__(self):
            self.exists, self._v = False, None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists, self._v = True, v

    f, st = make_quota_func(quota=3), FakeState()
    b1 = list(f(("en", "s"), iter([pd.DataFrame({"doc_id": [2, 1]})]), st))
    assert list(b1[0]["doc_id"]) == [1, 2] and list(b1[0]["priority"]) == [1, 2]
    b2 = list(f(("en", "s"), iter([pd.DataFrame({"doc_id": [3, 4]})]), st))
    assert list(b2[0]["doc_id"]) == [3] and list(b2[0]["priority"]) == [3]
    b3 = list(f(("en", "s"), iter([pd.DataFrame({"doc_id": [5]})]), st))
    assert b3 == []


def test_quota_caps_every_group(tables):
    rows = sampling.quota_per_group(tables, quota=5).collect()
    by_group: dict = {}
    for r in rows:
        by_group.setdefault((r.lang, r.source), []).append(r.priority)
    for ranks in by_group.values():
        assert len(ranks) <= 5
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_temperature_weights_flatten_mixture(spark):
    """alpha=0.3 must upsample the minority language (factor > 1) and
    downsample the majority (factor < 1); temp shares sum to 1 and sit
    strictly between the natural mixture and uniform."""
    docs = spark.createDataFrame(
        [(i, f"t{i}", "en" if i < 80 else "fr") for i in range(100)],
        "doc_id long, text string, lang string",
    )
    got = {
        r.lang: r
        for r in sampling.temperature_weights({"documents": docs}).collect()
    }
    assert got["en"].n_docs == 80 and got["fr"].n_docs == 20
    assert abs(got["en"].share - 0.8) < 1e-6 and abs(got["fr"].share - 0.2) < 1e-6
    assert abs(got["en"].temp_share + got["fr"].temp_share - 1.0) < 1e-5
    # flattened: en pulled below 0.8 toward 0.5, fr pulled above 0.2
    assert 0.5 < got["en"].temp_share < 0.8
    assert 0.2 < got["fr"].temp_share < 0.5
    assert got["en"].sample_factor < 1.0 < got["fr"].sample_factor


def test_temperature_apply_matches_oracle(tables):
    assert_matches_oracle(
        sampling.QUERIES["sample_temperature_apply"](tables),
        sampling.ORACLES["sample_temperature_apply"],
        SF_DIR,
    )


def test_temperature_apply_realizes_rates(tables):
    """Downsampled languages land within Bernoulli noise of sample_factor;
    factor ≥ 1 languages pass through completely."""
    wts = {r.lang: r for r in sampling.temperature_weights(tables).collect()}
    kept = (
        sampling.temperature_downsample(tables)
        .groupBy("lang")
        .count()
        .collect()
    )
    kept = {r.lang: r["count"] for r in kept}
    for lang, w in wts.items():
        if w.sample_factor >= 1:
            assert kept.get(lang, 0) == w.n_docs, lang
        else:
            exp = w.sample_factor * w.n_docs
            sd = (w.n_docs * w.sample_factor * (1 - w.sample_factor)) ** 0.5
            assert abs(kept.get(lang, 0) - exp) <= 4 * sd + 1, (lang, kept.get(lang), exp)


def test_temperature_repeats_matches_oracle(tables):
    assert_matches_oracle(
        sampling.QUERIES["sample_temperature_repeats"](tables),
        sampling.ORACLES["sample_temperature_repeats"],
        SF_DIR,
    )


def test_temperature_repeats_expectation_and_consistency(tables):
    """Mean copies per language tracks sample_factor (±4σ of the Bernoulli
    fractional part), and for downsampled languages n_copies∈{0,1} agrees
    exactly with temperature_downsample's keep set."""
    wts = {r.lang: r for r in sampling.temperature_weights(tables).collect()}
    plan = sampling.temperature_repeat_plan(tables).collect()
    by_lang = {}
    for r in plan:
        by_lang.setdefault(r.lang, []).append(r)
    kept = {
        r.doc_id for r in sampling.temperature_downsample(tables).collect()
    }
    for lang, rows in by_lang.items():
        f = wts[lang].sample_factor
        total = sum(r.n_copies for r in rows)
        frac = f - int(f)
        sd = (len(rows) * frac * (1 - frac)) ** 0.5
        assert abs(total - f * len(rows)) <= 4 * sd + 1, (lang, total, f * len(rows))
        if f < 1:
            assert all(r.n_copies in (0, 1) for r in rows)
            assert {r.doc_id for r in rows if r.n_copies == 1} == {
                r.doc_id for r in rows if r.doc_id in kept
            }


def test_curriculum_deciles_matches_oracle(tables):
    assert_matches_oracle(
        sampling.QUERIES["sample_curriculum_deciles"](tables),
        sampling.ORACLES["sample_curriculum_deciles"],
        SF_DIR,
    )


def test_curriculum_deciles_invariants(tables):
    """Within each language: bucket sizes differ by ≤1, and quality is
    monotone across deciles (max of decile d ≤ min of decile d+2 fails only
    on ties — check non-strict monotonicity of decile means)."""
    rows = sampling.curriculum_deciles(tables).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        sizes = {}
        for r in rs:
            sizes[r.decile] = sizes.get(r.decile, 0) + 1
        assert max(sizes.values()) - min(sizes.values()) <= 1, (lang, sizes)
        means = []
        for d in sorted(sizes):
            qs = [r.quality for r in rs if r.decile == d]
            means.append(sum(qs) / len(qs))
        assert all(a <= b + 1e-12 for a, b in zip(means, means[1:])), (lang, means)


def test_shuffle_shards_layout_invariants(tables):
    """Positions are dense 1..|shard| per shard, assignment is deterministic
    across runs, and no shard hogs the corpus (64 shards over 500 docs:
    binomial tail makes >3× mean implausible)."""
    rows = sampling.shuffle_shards(tables).collect()
    again = sampling.shuffle_shards(tables).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    mean = len(rows) / 64
    assert max(len(p) for p in by_shard.values()) <= 3 * mean + 5


def test_reservoir_weighted_matches_python_model(tables):
    """Exact parity with an independent Python A-ES model: same seeded md5
    uniform, key = ln(u)/w, per-language top-20 with doc_id tie-break. Also
    checks the weighted-inclusion direction: the sampled docs' mean token
    count should exceed the corpus mean (inclusion ∝ weight)."""
    import hashlib
    import math
    import re
    from collections import defaultdict

    rows = tables["documents"].select("doc_id", "lang", "text").collect()
    per_lang = defaultdict(list)
    weights = {}
    for r in rows:
        w = len(re.split(r"\s+", r.text.strip()))
        u = (int(hashlib.md5(f"resv:{r.doc_id}".encode()).hexdigest()[:13], 16) + 1) / 4503599627370497.0
        per_lang[r.lang].append((math.log(u) / w, r.doc_id))
        weights[r.doc_id] = w
    want = set()
    for lang, ks in per_lang.items():
        ks.sort(key=lambda t: (-t[0], t[1]))
        for rank, (_key, doc_id) in enumerate(ks[:20], start=1):
            want.add((lang, rank, doc_id))
    from flink_210225_spark.ops import sampling

    got_rows = sampling.reservoir_weighted(tables).collect()
    got = {(r.lang, r.rank, r.doc_id) for r in got_rows}
    assert got == want
    sampled_mean = sum(weights[r.doc_id] for r in got_rows) / len(got_rows)
    corpus_mean = sum(weights.values()) / len(weights)
    assert sampled_mean > corpus_mean


def test_purged_walkforward_empty_events(spark, tmp_path):
    """No events: every fold is empty with NULL bounds, as in the oracle,
    not a date subtraction of None bounds."""
    import pyarrow.parquet as pq

    from flink_210225_spark.io import load_tables

    from .oracle import degenerate_fixture

    empty = pq.read_table(f"{SF_DIR}/events.parquet").slice(0, 0)
    d = degenerate_fixture(tmp_path / "empty", SF_DIR, events=empty)
    assert_matches_oracle(
        sampling.purged_walkforward(load_tables(spark, d)),
        sampling.ORACLES["sample_purged_walkforward"],
        d,
    )
