"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine is built here from ``--seed``:
the star-schema tables the dashboard endpoints read, the document corpus and
its subsets, the dashboard request schedule, and the realtime-ingest slices.
The same seed always yields the same inputs (checked by the self-tests);
the engine only ever sees the generated files.

The *shape* of each workload (endpoint popularity order, slice rate, the
out-of-order and late shares, subset size) is fixed; the seed only draws the
concrete rows and sequences. That keeps run-to-run spread across seeds small
enough for the regression bounds in ``BENCHMARK.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Static calendar shared by every fact table, so one date window (the
# dashboard's date picker) applies to orders, lineitem and events alike.
# serving.gmv hard-codes 1996, which lies inside it.
EPOCH = np.datetime64("1995-01-01T00:00:00", "us")
SPAN_DAYS = 4 * 365

ENDPOINTS = (
    "gmv",
    "trademark_topn",
    "category_topn",
    "spu_topn",
    "province_stats",
    "visitor_stats",
    "hourly_stats",
    "keyword_topn",
)
HEAVY_TAIL = "rfm_segments"
HEAVY_TAIL_SHARE = 0.04  # one request in every BLOCK
BLOCK = 25
ZIPF_S = 1.1
LIMITED = {"trademark_topn", "category_topn", "spu_topn", "keyword_topn"}
LIMITS = (5, 10, 20)
WINDOW_POOL = 12
WINDOW_DAYS = (30, 90, 180, 365, 730)

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
ADJ = ("cold", "small", "large", "fast", "red", "blue", "green", "heavy")
NOUN = ("widget", "bolt", "gear", "valve", "spring", "panel", "cable", "frame")

# Language shares and text length follow the sf0.1 ``documents`` fixture
# (5,000 docs: 41 % en, 14-15 % each of es/de/fr/zh; 54 words on average).
LANGS = ("en", "es", "de", "fr", "zh")
LANG_P = (0.412, 0.149, 0.140, 0.148, 0.151)
DOC_WORDS = (8, 101)  # uniform, mean 54
EXACT_DUP_SHARE = 0.06
NEAR_DUP_SHARE = 0.10
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "de": ("der", "die", "das", "und", "zu"),
    "fr": ("le", "la", "les", "et", "de"),
    "zh": (),
}
CONTENT = (
    "spark stream batch window join merge sort scan hash filter group agg "
    "order line part table query data row column key value vector customer "
    "fast slow big small"
).split()


# Row counts: the star schema at the sf0.01 fixture's counts (at sf0.1 one
# dashboard request takes seconds, and a run would hold too few requests
# for a p90), the corpus at the sf0.1 fixture's 5,000 documents.
@dataclass(frozen=True)
class Scale:
    customers: int
    suppliers: int
    parts: int
    orders: int
    events: int
    documents: int
    subsets: int
    # realtime_ingest: one slice lands every slice_ms, each with slice_rows
    # log events (plus cdc_rows order changes).
    slice_ms: int
    slice_rows: int
    cdc_rows: int


SCALES = {
    "bench": Scale(
        customers=1_500,
        suppliers=100,
        parts=2_000,
        orders=15_000,
        events=10_000,
        documents=5_000,
        subsets=8,
        slice_ms=500,
        slice_rows=100,
        cdc_rows=10,
    ),
    # The self-tests' size (the repo's sf0.001 fixture row counts).
    "tiny": Scale(
        customers=150,
        suppliers=10,
        parts=200,
        orders=1_500,
        events=1_000,
        documents=500,
        subsets=2,
        slice_ms=1_000,
        slice_rows=50,
        cdc_rows=10,
    ),
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input family, so adding rows to one table
    never shifts the draws of another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _zipf_index(rng: np.random.Generator, n: int, size: int, s: float = 1.05) -> np.ndarray:
    """Bounded Zipf draw over 0..n-1 (rank 0 most frequent)."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=w / w.sum())


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


# Amounts that the endpoints SUM and then round to cents are drawn at full
# float precision: with cent-exact inputs a sum lands on a half-cent often
# enough (~1 in 100 groups) that Spark's and DuckDB's different summation
# orders round it to different cents, and the oracle check would flag a
# correct engine.

def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


# --- static tables -------------------------------------------------------


def write_tables(out_dir: str, seed: int, scale: Scale) -> None:
    """The dashboard's star schema plus documents/embeddings, with the column
    names and types ``flink_210225_spark.io.load_tables`` expects."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "tables")
    _write(
        out_dir,
        "region",
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
    )
    _write(
        out_dir,
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    nc, ns, npart, no = scale.customers, scale.suppliers, scale.parts, scale.orders
    _write(
        out_dir,
        "customer",
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _round2(r.uniform(-999.99, 9999.99, nc)),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, nc)],
        },
    )
    _write(
        out_dir,
        "supplier",
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _round2(r.uniform(-999.99, 9999.99, ns)),
        },
    )
    price = _round2(900.0 + (np.arange(npart) % 1000) * 0.1 + r.uniform(0, 100, npart))
    _write(
        out_dir,
        "part",
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{ADJ[a]} {NOUN[b]}"
                for a, b in zip(r.integers(0, len(ADJ), npart), r.integers(0, len(NOUN), npart))
            ],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, npart)],
            "p_type": np.array(PART_TYPES)[r.integers(0, len(PART_TYPES), npart)],
            "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
            "p_retailprice": price,
        },
    )
    odate = EPOCH + (r.integers(0, SPAN_DAYS, no) * 86_400_000_000).astype("timedelta64[us]")
    _write(
        out_dir,
        "orders",
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(_zipf_index(r, nc, no, 0.6), pa.int64()),
            "o_orderstatus": np.array(("F", "O", "P"))[r.integers(0, 3, no)],
            "o_totalprice": r.uniform(1_000, 400_000, no),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, no)],
        },
    )
    lines = r.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    pkey = _zipf_index(r, npart, nl, 0.8)
    qty = r.integers(1, 51, nl).astype(float)
    ship = np.repeat(odate, lines) + (r.integers(1, 122, nl) * 86_400_000_000).astype(
        "timedelta64[us]"
    )
    _write(
        out_dir,
        "lineitem",
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(pkey, pa.int64()),
            "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": qty * price[pkey] * r.uniform(0.97, 1.03, nl),
            "l_discount": _round2(r.integers(0, 11, nl) / 100.0),
            "l_tax": _round2(r.integers(0, 9, nl) / 100.0),
            "l_returnflag": np.array(("A", "N", "R"))[r.integers(0, 3, nl)],
            "l_linestatus": np.array(("F", "O"))[r.integers(0, 2, nl)],
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        },
    )
    ne = scale.events
    ets = EPOCH + r.integers(0, SPAN_DAYS * 86_400_000_000, ne).astype("timedelta64[us]")
    _write(
        out_dir,
        "events",
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(np.sort(ets), pa.timestamp("us")),
            "user_id": pa.array(_zipf_index(r, max(ne // 20, 10), ne, 0.7), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, ne)],
            "value": r.uniform(0, 200, ne),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)],
        },
    )
    write_documents(out_dir, _documents(_rng(seed, "documents"), scale.documents))
    _write(
        out_dir,
        "embeddings",
        {
            "vec_id": pa.array(np.arange(64), pa.int64()),
            "embedding": pa.array(
                list(r.normal(0, 0.1, (64, 64)).astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(r.integers(0, 4, 64), pa.int32()),
        },
    )


def _doc_text(r: np.random.Generator, lang: str) -> str:
    n = int(r.integers(*DOC_WORDS))
    stops = STOPWORDS[lang]
    vocab = CONTENT + list(stops) * 3 if stops else CONTENT
    words = [vocab[i] for i in r.integers(0, len(vocab), n)]
    return " ".join(words)


def _documents(r: np.random.Generator, n: int, first_id: int = 0) -> dict:
    """``n`` documents, exactly ``EXACT_DUP_SHARE`` of them byte-exact
    copies of an earlier one and ``NEAR_DUP_SHARE`` near-duplicates (a few
    words edited). The fixture has 0.16 % exact duplicates and no planted
    near-duplicates; these shares are raised so that exact dedup, LSH and
    verification all have pairs whose output the check compares, and fixed
    so that every subset gives the dedup steps the same amount of work."""
    langs = [LANGS[i] for i in r.choice(len(LANGS), size=n, p=LANG_P)]
    role = np.zeros(n, dtype=int)
    n_exact, n_near = round(EXACT_DUP_SHARE * n), round(NEAR_DUP_SHARE * n)
    copies = 10 + r.permutation(n - 10)[: n_exact + n_near]  # the first 10 are originals
    role[copies[:n_exact]], role[copies[n_exact:]] = 1, 2
    texts: list[str] = []
    originals: list[int] = []  # copies are made of originals only, so
    for i in range(n):  # duplicate clusters stay small
        if role[i] == 1:
            texts.append(texts[originals[int(r.integers(0, len(originals)))]])
        elif role[i] == 2:
            words = texts[originals[int(r.integers(0, len(originals)))]].split(" ")
            for j in r.integers(0, len(words), max(1, len(words) // 15)):
                words[j] = CONTENT[int(r.integers(0, len(CONTENT)))]
            texts.append(" ".join(words))
        else:
            originals.append(i)
            texts.append(_doc_text(r, langs[i]))
    return {
        "doc_id": np.arange(first_id, first_id + n),
        "text": texts,
        "lang": langs,
        "source": [f"src{k}" for k in r.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts]),
    }


def write_documents(out_dir: str, docs: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    _write(
        out_dir,
        "documents",
        {
            "doc_id": pa.array(docs["doc_id"], pa.int64()),
            "text": pa.array(docs["text"], pa.string()),
            "lang": pa.array(docs["lang"], pa.string()),
            "source": pa.array(docs["source"], pa.string()),
            "n_chars": pa.array(docs["n_chars"], pa.int64()),
        },
    )


def write_corpus(root: str, seed: int, scale: Scale) -> list[str]:
    """corpus_curation inputs: ``scale.documents`` documents as
    ``scale.subsets`` seeded subsets of ``documents // subsets`` each, every
    one its own table dir (``<dir>/documents.parquet``) with its duplicates
    planted inside it. Returns the subset dirs."""
    size = scale.documents // scale.subsets
    dirs = []
    for k in range(scale.subsets):
        d = os.path.join(root, f"subset{k}")
        write_documents(d, _documents(_rng(seed, f"documents{k}"), size, first_id=k * size))
        dirs.append(d)
    return dirs


def subset_order(seed: int, n_subsets: int, n: int) -> list[int]:
    """The order in which curation passes visit the subsets."""
    return [int(k) for k in _rng(seed, "subset_order").integers(0, n_subsets, n)]


# --- dashboard schedule --------------------------------------------------


@dataclass(frozen=True)
class Request:
    endpoint: str
    start: str  # inclusive, 'YYYY-MM-DD'
    end: str  # exclusive
    limit: int | None

    @property
    def key(self) -> tuple:
        return (self.endpoint, self.start, self.end, self.limit)


def _stratified(r: np.random.Generator, weights: np.ndarray, n: int) -> list[int]:
    """``n`` draws over ``range(len(weights))`` in which every block of
    ``BLOCK`` consecutive draws holds each index its share of times (largest
    remainder), in seeded order. A run then sees the same mix whatever the
    seed, and only the order and the concrete rows change."""
    want = weights / weights.sum() * BLOCK
    counts = np.floor(want).astype(int)
    for i in np.argsort(counts - want)[: BLOCK - counts.sum()]:
        counts[i] += 1
    block = np.repeat(np.arange(len(weights)), counts)
    out: list[int] = []
    while len(out) < n:
        out.extend(int(i) for i in r.permutation(block))
    return out[:n]


def dashboard_schedule(seed: int, n: int) -> list[Request]:
    """``n`` requests: endpoint by Zipf rank over ``ENDPOINTS`` (fixed
    popularity order) with ``HEAVY_TAIL`` at a fixed small share, a date
    window Zipf-drawn from a pool of ``WINDOW_POOL``, and a limit for top-N
    endpoints. The small pool makes identical requests recur, as they do
    when many users watch the same dashboard. Window lengths cycle through
    ``WINDOW_DAYS`` down the pool; the seed draws their start dates."""
    r = _rng(seed, "dashboard")
    pool = []
    for i in range(WINDOW_POOL):
        days = WINDOW_DAYS[i % len(WINDOW_DAYS)]
        start = EPOCH + np.timedelta64(int(r.integers(0, SPAN_DAYS - days + 1)), "D")
        pool.append((str(start)[:10], str(start + np.timedelta64(days, "D"))[:10]))
    w = 1.0 / np.arange(1, len(ENDPOINTS) + 1) ** ZIPF_S
    w = w / w.sum() * (1 - HEAVY_TAIL_SHARE)
    names = list(ENDPOINTS) + [HEAVY_TAIL]
    ep = _stratified(r, np.append(w, HEAVY_TAIL_SHARE), n)
    win = _stratified(r, 1.0 / np.arange(1, WINDOW_POOL + 1), n)
    lim = r.integers(0, len(LIMITS), n)
    return [
        Request(names[e], *pool[wi], LIMITS[li] if names[e] in LIMITED else None)
        for e, wi, li in zip(ep, win, lim)
    ]


# --- realtime_ingest slices ---------------------------------------------

# Event time starts here and advances SLICE_EVENT_MS per slice, faster than
# wall time, so 10 s tumbling windows and the 30 s jump timeout close
# within a run.
INGEST_EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
SLICE_EVENT_MS = 2_500
OUT_OF_ORDER_SHARE = 0.10  # shifted back 1-8 s: inside the 10 s watermark
LATE_SHARE = 0.01  # shifted back 60-120 s: beyond it
DIRTY_SHARE = 0.01  # malformed JSON lines (dead-letter path)
START_SHARE = 0.05  # app start logs (routed off the page stream)
PAGES = ("home", "good_list", "good_detail", "cart", "trade", "payment")
INGEST_USERS = 1_500  # distinct users in the events fixture
ORDER_IDS = 5_000


@dataclass
class Slice:
    index: int
    log_lines: list[str]
    cdc_lines: list[str]
    # expectations for the correctness check
    page_rows: list[tuple[str, str, float]] = field(default_factory=list)  # (day, type, value)
    order_rows: list[dict] = field(default_factory=list)  # routed upserts

    @property
    def rows(self) -> int:
        return len(self.log_lines)


def ingest_slices(seed: int, scale: Scale, n: int) -> list[Slice]:
    """``n`` time-ordered slices of app-log events and order CDC changes.
    Per user, event ms are kept distinct, so (uid, ts) identifies an event."""
    r = _rng(seed, "ingest")
    used: set[tuple[int, int]] = set()
    order_ver: dict[int, int] = {}
    out = []
    for s in range(n):
        base = INGEST_EPOCH_MS + s * SLICE_EVENT_MS
        logs, pages = [], []
        for _ in range(scale.slice_rows):
            roll = r.random()
            if roll < DIRTY_SHARE:
                logs.append('{"common": {"mid": "broken"')
                continue
            ts = base + int(r.integers(0, SLICE_EVENT_MS))
            u = int(_zipf_index(r, INGEST_USERS, 1, 0.8)[0])
            late = r.random()
            if late < LATE_SHARE and s >= 4:
                ts -= int(r.integers(60_000, 120_000))
            elif late < LATE_SHARE + OUT_OF_ORDER_SHARE and s >= 1:
                ts -= int(r.integers(1_000, 8_000))
            while (u, ts) in used:
                ts += 1
            used.add((u, ts))
            common = {
                "mid": f"mid_{u}",
                "uid": str(u),
                "vc": f"v2.{u % 4}",
                "ch": ("web", "ios", "android")[u % 3],
                "ar": str(u % 34),
                "is_new": "1" if u % 7 == 0 else "0",
            }
            if roll < DIRTY_SHARE + START_SHARE:
                ev = {
                    "common": common,
                    "start": {"entry": "icon", "open_ad_id": int(r.integers(1, 20)),
                              "loading_time": int(r.integers(100, 3000))},
                    "ts": ts,
                }
            else:
                page = PAGES[int(r.integers(0, len(PAGES)))]
                during = int(r.integers(100, 30_000))
                ev = {
                    "common": common,
                    "page": {"page_id": page, "last_page_id": None if r.random() < 0.3 else "home",
                             "during_time": during},
                    "ts": ts,
                }
                if r.random() < 0.3:
                    ev["displays"] = [
                        {"item": str(int(r.integers(0, 500))), "item_type": "sku_id",
                         "display_type": "promotion", "order": k + 1}
                        for k in range(int(r.integers(1, 4)))
                    ]
                day = str(np.datetime64(ts, "ms"))[:10]
                pages.append((day, page, during / 1000.0))
            logs.append(json.dumps(ev, separators=(",", ":")))
        cdc, orders = [], []
        for _ in range(scale.cdc_rows):
            oid = int(r.integers(0, ORDER_IDS))
            ver = order_ver.get(oid, -1) + 1
            kind = "insert" if ver == 0 else ("delete" if r.random() < 0.05 else "update")
            order_ver[oid] = ver
            data = {
                "id": str(oid),
                "user_id": str(int(r.integers(0, INGEST_USERS))),
                "province_id": str(int(r.integers(0, 34))),
                "total_amount": f"{r.uniform(10, 5000):.2f}",
                "order_status": str(1001 + min(ver, 5)),
                "operate_time": f"{s:06d}.{ver:06d}",
                "coupon_reduce_amount": "0.00",
            }
            table = "order_info" if r.random() >= 0.1 else "payment_info"
            cdc.append(json.dumps({"databaseName": "gmall", "tableName": table,
                                   "type": kind, "data": data, "before": None},
                                  separators=(",", ":")))
            if table == "order_info" and kind != "delete":
                orders.append({k: data[k] for k in ORDER_SINK_COLUMNS})
        out.append(Slice(s, logs, cdc, pages, orders))
    return out


# table_process routing config (FIXTURES.md §5 shape): order_info changes go
# to the bucketed dim store with a pruned column list; payment_info has no
# config row and is dropped by the router.
ORDER_SINK_COLUMNS = ("id", "user_id", "province_id", "total_amount", "order_status", "operate_time")
TABLE_PROCESS = [
    ("order_info", op, "hbase", "dim_order_info", ",".join(ORDER_SINK_COLUMNS), "id", None)
    for op in ("insert", "update")
]
