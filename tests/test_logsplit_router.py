import json

import pytest

from flink_210225_spark.operators import logsplit, router
from flink_210225_spark.schemas import CDC_ENVELOPE_SCHEMA, TABLE_PROCESS_SCHEMA

from .conftest import SF_DIR
from .oracle import assert_matches_oracle


@pytest.mark.parametrize("name", sorted(logsplit.QUERIES))
def test_logsplit_matches_oracle(name, tables):
    assert_matches_oracle(logsplit.QUERIES[name](tables), logsplit.ORACLES[name], SF_DIR)


GOOD_LOG = json.dumps(
    {
        "common": {"mid": "m1", "is_new": "1", "ch": "web", "ar": "110000", "vc": "v1"},
        "page": {"page_id": "good_detail", "item": "42", "item_type": "sku_id"},
        "displays": [
            {"item": "1", "item_type": "sku_id", "display_type": "promo", "order": 1},
            {"item": "2", "item_type": "sku_id", "display_type": "query", "order": 2},
        ],
        "ts": 1700000000000,
    }
)
START_LOG = json.dumps(
    {
        "common": {"mid": "m2", "is_new": "0"},
        "start": {"entry": "icon", "open_ad_id": 7, "loading_time": 100},
        "ts": 1700000001000,
    }
)
DIRTY_LOG = "{not valid json"


def test_parse_and_split(spark):
    raw = spark.createDataFrame([(GOOD_LOG,), (START_LOG,), (DIRTY_LOG,)], "value string")
    parsed, dirty = logsplit.parse_logs(raw)
    assert parsed.count() == 2
    assert dirty.count() == 1
    assert dirty.columns == ["value"]  # original string preserved for dead-letter

    branches = logsplit.split_log_stream(parsed)
    assert sorted(branches) == ["display", "page", "start"]
    assert branches["page"] is branches["page"]  # built once, on first access
    assert branches["start"].count() == 1
    page_rows = branches["page"].collect()
    assert len(page_rows) == 1 and page_rows[0]["page_id"] == "good_detail"
    disp = branches["display"].collect()
    assert len(disp) == 2
    # parent page_id injected into each display row (BaseLogApp.java:117-127)
    assert {d["page_id"] for d in disp} == {"good_detail"}
    assert {d["item"] for d in disp} == {"1", "2"}


@pytest.fixture()
def cdc_fixture(spark):
    envelopes = [
        ("gmall", "order_info", "insert", {"id": "1", "total_amount": "10.5", "secret": "x"}, None),
        ("gmall", "order_info", "update", {"id": "1", "total_amount": "11.0", "secret": "y"}, {"id": "1"}),
        ("gmall", "order_info", "delete", {"id": "1"}, {"id": "1"}),
        ("gmall", "user_info", "insert", {"id": "7", "name": "u7", "birthday": "2000-01-01"}, None),
        ("gmall", "unconfigured", "insert", {"id": "9"}, None),
    ]
    return spark.createDataFrame(envelopes, CDC_ENVELOPE_SCHEMA)


@pytest.fixture()
def config_fixture(spark):
    rows = [
        ("order_info", "insert", "kafka", "dwd_order_info", "id,total_amount", None, None),
        ("order_info", "update", "kafka", "dwd_order_info_update", "id,total_amount", None, None),
        ("user_info", "insert", "hbase", "dim_user_info", "id,name,birthday", "id", None),
    ]
    return spark.createDataFrame(rows, TABLE_PROCESS_SCHEMA)


def test_router(cdc_fixture, config_fixture):
    routed = router.route(cdc_fixture, config_fixture)
    rows = {(r["tableName"], r["type"]): r for r in routed.collect()}
    # deletes filtered (P2), unconfigured dropped (T3 unknown-key branch)
    assert set(rows) == {
        ("order_info", "insert"),
        ("order_info", "update"),
        ("user_info", "insert"),
    }
    # column pruning to sink_columns (P4): 'secret' removed
    assert set(rows[("order_info", "insert")]["data"].keys()) == {"id", "total_amount"}
    assert rows[("order_info", "insert")]["sink_table"] == "dwd_order_info"
    sinks = router.split_sinks(routed)
    assert sinks["kafka"].count() == 2
    assert sinks["hbase"].count() == 1


def test_dim_upsert(spark, tmp_path):
    path = str(tmp_path / "dim_user")
    b1 = spark.createDataFrame([("1", "alice"), ("2", "bob")], "id string, name string")
    router.upsert_dim(b1, path)
    b2 = spark.createDataFrame([("2", "bobby"), ("3", "carol")], "id string, name string")
    router.upsert_dim(b2, path)
    got = {r["id"]: r["name"] for r in spark.read.parquet(path).collect()}
    assert got == {"1": "alice", "2": "bobby", "3": "carol"}


def test_dim_upsert_crash_leaves_old_dim_readable(spark, tmp_path, monkeypatch):
    """VERDICT r1 #6: a failure during the merge write must not lose the dim
    table — the new data goes to a temp dir first, so the live path is only
    touched by the rename swap after a complete write."""
    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / "dim_user")
    b1 = spark.createDataFrame([("1", "alice")], "id string, name string")
    router.upsert_dim(b1, path)

    real_parquet = DataFrameWriter.parquet

    def boom(self, p, **kw):
        raise RuntimeError("simulated executor loss mid-write")

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    b2 = spark.createDataFrame([("2", "bob")], "id string, name string")
    try:
        router.upsert_dim(b2, path)
    except RuntimeError:
        pass
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)

    got = {r["id"]: r["name"] for r in spark.read.parquet(path).collect()}
    assert got == {"1": "alice"}, "old dim lost after simulated crash"
    leftovers = [p for p in (tmp_path).iterdir() if "__tmp_" in p.name or "__old_" in p.name]
    assert not leftovers, f"temp dirs not cleaned: {leftovers}"


def test_scd2_history_semantics(spark):
    """Micro SCD2 semantics: k1 insert→update→update = 3 versions chained by
    valid_to, last one current; k2 insert→delete = 1 closed version, nothing
    current; k3 lone insert = 1 open version."""
    changes = spark.createDataFrame(
        [
            (1, "insert", 10, "a"),
            (1, "update", 20, "b"),
            (1, "update", 30, "c"),
            (2, "insert", 10, "x"),
            (2, "delete", 50, None),
            (3, "insert", 10, "z"),
        ],
        "key long, type string, ts long, val string",
    )
    rows = router.scd2_history(changes, ["key"], "ts").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.key, []).append(r)
    k1 = sorted(by_key[1], key=lambda r: r.version)
    assert [(r.val, r.valid_from, r.valid_to, r.is_current) for r in k1] == [
        ("a", 10, 20, False),
        ("b", 20, 30, False),
        ("c", 30, None, True),
    ]
    (k2,) = by_key[2]
    assert (k2.val, k2.valid_from, k2.valid_to, k2.is_current) == ("x", 10, 50, False)
    (k3,) = by_key[3]
    assert k3.is_current and k3.valid_to is None


def test_scd2_demo_matches_oracle(tables):
    assert_matches_oracle(
        router.QUERIES["cdc_scd2_history"](tables),
        router.ORACLES["cdc_scd2_history"],
        SF_DIR,
    )


def test_scd2_single_exchange(tables):
    """Both windows (lead + row_number) share the custkey partitioning: the
    plan must contain exactly one hash-partitioning Exchange."""
    df = router.QUERIES["cdc_scd2_history"](tables)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_scd2_lookup_matches_oracle(tables):
    assert_matches_oracle(
        router.QUERIES["cdc_scd2_lookup"](tables),
        router.ORACLES["cdc_scd2_lookup"],
        SF_DIR,
    )


def test_scd2_lookup_temporal_semantics(tables):
    """Every order's looked-up version must be valid at at_ts (interval
    containment) and the FIRST order per customer must see the insert-time
    'NEW' status."""
    from pyspark.sql import functions as F

    hist = {
        (r.custkey, r.version): r for r in router.scd2_demo(tables).collect()
    }
    rows = router.scd2_point_in_time(tables).collect()
    orders = tables["orders"].select(
        "o_orderkey", "o_custkey", "o_orderdate"
    ).collect()
    first_order = {}
    for o in sorted(orders, key=lambda r: (r.o_orderdate, r.o_orderkey)):
        first_order.setdefault(o.o_custkey, o.o_orderkey)
    for r in rows:
        assert r.prev_status is not None  # insert at ts 0 covers every order
        h = hist[(r.custkey, r.version_at)]
        if first_order[r.custkey] == r.o_orderkey:
            assert r.prev_status == "NEW", r
        assert h.status == r.prev_status


def test_dim_upsert_swap_failure_restores_backup(spark, tmp_path, monkeypatch):
    """A failure BETWEEN the two swap renames must restore the backup — the
    old dim stays readable at the live path and nothing of the dim's data
    is deleted (the unconditional finally-cleanup bug deleted both)."""
    import pathlib

    path = str(tmp_path / "dim_user")
    b1 = spark.createDataFrame([("1", "alice")], "id string, name string")
    router.upsert_dim(b1, path)

    orig = pathlib.Path.rename
    state = {"failed": False}

    def failing(self, target):
        # fail only the rename INTO the live path (the second swap rename)
        if str(target).endswith("dim_user") and not state["failed"]:
            state["failed"] = True
            raise OSError("simulated swap interruption")
        return orig(self, target)

    monkeypatch.setattr(pathlib.Path, "rename", failing)
    b2 = spark.createDataFrame([("2", "bob")], "id string, name string")
    import pytest as _pytest

    with _pytest.raises(OSError):
        router.upsert_dim(b2, path)
    monkeypatch.undo()

    got = {r["id"]: r["name"] for r in spark.read.parquet(path).collect()}
    assert got == {"1": "alice"}, "backup not restored after failed swap"


def test_dim_upsert_bucketed_parity_and_incrementality(spark, tmp_path):
    """The bucketed upsert must produce the same logical table as the
    whole-table swap AND touch only the bucket partitions a batch's keys
    hash into — untouched bucket dirs keep their exact file sets."""
    import os

    path = str(tmp_path / "dim_big")
    b1 = spark.createDataFrame(
        [(str(i), f"v{i}") for i in range(40)], "id string, name string"
    )
    router.upsert_dim_bucketed(b1, path, n_buckets=8)
    got = {
        r["id"]: r["name"]
        for r in spark.read.parquet(path).select("id", "name").collect()
    }
    assert got == {str(i): f"v{i}" for i in range(40)}

    def bucket_files():
        out = {}
        for d in os.listdir(path):
            if d.startswith("bucket="):
                full = os.path.join(path, d)
                out[d] = {
                    (f, os.path.getmtime(os.path.join(full, f)))
                    for f in os.listdir(full)
                }
        return out

    before = bucket_files()
    b2 = spark.createDataFrame([("7", "SEVEN"), ("99", "new")], "id string, name string")
    router.upsert_dim_bucketed(b2, path, n_buckets=8)
    after = bucket_files()

    from pyspark.sql import functions as F

    touched = {
        f"bucket={r.b}"
        for r in b2.select(
            F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(8))
            .cast("int")
            .alias("b")
        )
        .distinct()
        .collect()
    }
    for d in before:
        if d not in touched:
            assert before[d] == after[d], f"untouched {d} was rewritten"
    for d in touched:
        assert before.get(d) != after[d], f"touched {d} unchanged"

    got = {
        r["id"]: r["name"]
        for r in spark.read.parquet(path).select("id", "name").collect()
    }
    want = {str(i): f"v{i}" for i in range(40)}
    want.update({"7": "SEVEN", "99": "new"})
    assert got == want


def test_dim_upsert_bucketed_crash_leaves_table_readable(spark, tmp_path, monkeypatch):
    """A write failure mid-merge must leave every live bucket intact and
    clean up the staging dir."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / "dim_big2")
    b1 = spark.createDataFrame([("1", "alice"), ("2", "bob")], "id string, name string")
    router.upsert_dim_bucketed(b1, path, n_buckets=4)

    real_parquet = DataFrameWriter.parquet

    def boom(self, p, **kw):
        raise RuntimeError("simulated executor loss mid-write")

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    b2 = spark.createDataFrame([("2", "bobby")], "id string, name string")
    try:
        router.upsert_dim_bucketed(b2, path, n_buckets=4)
    except RuntimeError:
        pass
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)

    got = {
        r["id"]: r["name"]
        for r in spark.read.parquet(path).select("id", "name").collect()
    }
    assert got == {"1": "alice", "2": "bob"}
    leftovers = [p for p in tmp_path.iterdir() if "__tmp_" in p.name]
    assert not leftovers, f"staging dirs not cleaned: {leftovers}"


def test_dim_upsert_bucketed_replay_idempotent(spark, tmp_path):
    """Re-applying the identical batch (journal-loss replay after a crash
    mid-bucket-loop) must be a no-op on the logical table."""
    path = str(tmp_path / "dim_big3")
    b1 = spark.createDataFrame(
        [(str(i), f"v{i}") for i in range(20)], "id string, name string"
    )
    router.upsert_dim_bucketed(b1, path, n_buckets=4)
    b2 = spark.createDataFrame([("3", "x"), ("21", "y")], "id string, name string")
    router.upsert_dim_bucketed(b2, path, n_buckets=4)
    once = {
        (r["id"], r["name"])
        for r in spark.read.parquet(path).select("id", "name").collect()
    }
    router.upsert_dim_bucketed(b2, path, n_buckets=4)  # replay
    twice = {
        (r["id"], r["name"])
        for r in spark.read.parquet(path).select("id", "name").collect()
    }
    assert once == twice
