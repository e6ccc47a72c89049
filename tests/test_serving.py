import pytest

from flink_210225_spark.operators import serving

from .conftest import SF_DIR
from .oracle import assert_matches_oracle


@pytest.mark.parametrize("name", sorted(serving.QUERIES))
def test_serving_matches_oracle(name, tables):
    df = serving.QUERIES[name](tables)
    assert_matches_oracle(df, serving.ORACLES[name], SF_DIR)


def test_ship_latency_matches_oracle(tables):
    assert_matches_oracle(
        serving.QUERIES["serving_ship_latency"](tables),
        serving.ORACLES["serving_ship_latency"],
        SF_DIR,
    )


def test_rfm_scores_rank_correctly(spark):
    """Quintile scores must ascend with the metric: the biggest spender
    gets m_score 5, the most-recent buyer gets r_score 1 (low days)."""
    import datetime as dt

    rows = []
    # 10 customers: customer k orders (k+1) times, each order 100*(k+1),
    # last order k days before the global max date
    for k in range(10):
        for j in range(k + 1):
            rows.append((len(rows), k, dt.date(2024, 6, 30 - k), 100.0 * (k + 1), "O"))
    o = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate date, o_totalprice double, o_orderstatus string"
    )
    wide = serving.rfm_segments({"orders": o}).collect()
    # customer 9: most orders (10) and biggest spend -> f=5, m=5; but
    # oldest recency (9 days) -> r=5. customer 0: r=1, f=1, m=1.
    cells = {(r.r_score, r.f_score, r.m_score): r.n_customers for r in wide}
    assert cells.get((5, 5, 5)) == 2   # customers 8,9
    assert cells.get((1, 1, 1)) == 2   # customers 0,1
    assert sum(cells.values()) == 10


def test_basket_pairs_lift_discriminates(spark):
    """Two brands that always co-occur must show lift > 1; brands that
    never share an order must not appear as a pair."""
    li_rows, part_rows = [], []
    for b, brand in enumerate(["A", "B", "C"]):
        part_rows.append((b, brand))
    # orders 0..9: A+B together; orders 10..19: C alone
    lk = 0
    for ok in range(10):
        li_rows += [(ok, 0), (ok, 1)]
    for ok in range(10, 20):
        li_rows.append((ok, 2))
    li = spark.createDataFrame(li_rows, "l_orderkey long, l_partkey long")
    part = spark.createDataFrame(part_rows, "p_partkey long, p_brand string")
    got = serving.basket_brand_pairs({"lineitem": li, "part": part}).collect()
    assert len(got) == 1
    row = got[0]
    assert (row.brand_a, row.brand_b) == ("A", "B")
    assert row.pair_ct == 10 and row.lift == pytest.approx(2.0)  # 10*20/(10*10)


def test_compaction_plan_invariants(tables):
    """Planning arithmetic: savings only when compaction is flagged, the
    rewrite never plans more files than exist, and avg·n bounds total."""
    from flink_210225_spark.operators.warehouse import compaction_plan

    rows = compaction_plan(tables).collect()
    assert rows
    for r in rows:
        assert r.needs_compaction == (r.n_files > r.target_files)
        assert (r.files_saved > 0) == r.needs_compaction
        if r.needs_compaction:
            assert r.target_files + r.files_saved == r.n_files
        assert r.avg_file_bytes * r.n_files <= r.total_bytes


def test_theil_index_empty_orders_is_null(spark, tmp_path):
    """No orders: one row with zero counts and NULL indexes, as in the
    oracle, not int(None)."""
    import pyarrow.parquet as pq

    from flink_210225_spark.io import load_tables

    from .oracle import degenerate_fixture

    empty = pq.read_table(f"{SF_DIR}/orders.parquet").slice(0, 0)
    d = degenerate_fixture(tmp_path / "empty", SF_DIR, orders=empty)
    assert_matches_oracle(
        serving.theil_index(load_tables(spark, d)), serving.ORACLES["serving_theil_index"], d
    )
