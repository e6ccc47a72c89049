import pytest

from flink_210225_spark.operators import windows

from .conftest import SF_DIR
from .oracle import assert_matches_oracle


@pytest.mark.parametrize("name", sorted(set(windows.QUERIES) & set(windows.ORACLES)))
def test_windows_match_oracle(name, tables):
    df = windows.QUERIES[name](tables)
    assert_matches_oracle(df, windows.ORACLES[name], SF_DIR)


def test_product_stats_approx_mode(tables):
    df = windows.product_stats_window(tables, exact=False)
    assert df.count() > 0
    assert set(df.columns) == {"stt", "edt", "sku_id", "order_ct", "order_sku_num", "order_amount"}


def test_moving_avg_frame_semantics(spark):
    """Trailing frame excludes the current row; the first row per key has an
    empty frame -> NULL avg and ratio."""
    import pandas as pd

    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": pd.to_datetime(
                    ["2021-01-01 00:10", "2021-01-01 01:10", "2021-01-01 02:10", "2021-01-01 03:10"]
                ),
                "event_type": ["a"] * 4,
                "value": [0.0] * 4,
            }
        )
    )
    # hourly counts are all 1 -> trail_avg 1.0 from the second row on
    rows = {r.hr: r for r in windows.hourly_moving_stats({"events": ev}).collect()}
    assert rows["2021-01-01 00:00:00"].trail_avg is None
    assert rows["2021-01-01 00:00:00"].dev_ratio is None
    assert rows["2021-01-01 01:00:00"].trail_avg == 1.0
    assert rows["2021-01-01 03:00:00"].dev_ratio == 1.0


def test_uv_sketch_error_bound(tables):
    """The oracle-gated output must flag uv_ok=TRUE on every group, and the
    underlying HLL++ estimate (recomputed here, tighter 3·rsd+2 band than the
    query's 5·rsd gate) must track exact on every (day, event_type) group."""
    from pyspark.sql import functions as F

    from flink_210225_spark.operators.windows import uv_approx_sketch

    rows = uv_approx_sketch(tables).collect()
    assert rows
    assert all(r.uv_ok for r in rows), [r for r in rows if not r.uv_ok]

    raw = (
        tables["events"]
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("dt"), "event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("uv_approx"),
            F.countDistinct("user_id").alias("uv_exact"),
        )
        .collect()
    )
    for r in raw:
        assert abs(r.uv_approx - r.uv_exact) <= max(0.06 * r.uv_exact, 2.0), (
            r.dt, r.event_type, r.uv_approx, r.uv_exact)


def test_daily_anomaly_flags_outlier_day(spark):
    """9 calm days at ~100 events + one 10x day: only the spike day is
    flagged; a type with a single day (sigma = 0) gets null z, unflagged."""
    import pandas as pd

    rows = []
    for d in range(1, 10):
        rows += [(f"2021-02-{d:02d} 10:00", "click")] * 100
    rows += [("2021-02-10 10:00", "click")] * 1000
    rows += [("2021-02-01 09:00", "rare")] * 7
    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": pd.to_datetime([t for t, _ in rows]),
                "event_type": [e for _, e in rows],
            }
        )
    )
    got = {
        (r.day, r.event_type): r
        for r in windows.daily_anomaly({"events": ev}).collect()
    }
    flagged = {k for k, r in got.items() if r.is_anomaly}
    assert flagged == {("2021-02-10", "click")}
    assert got[("2021-02-10", "click")].zscore > 2
    rare = got[("2021-02-01", "rare")]
    assert rare.zscore is None and rare.is_anomaly is False


def test_cube_matches_oracle(tables):
    assert_matches_oracle(
        windows.QUERIES["window_cube_stats"](tables),
        windows.ORACLES["window_cube_stats"],
        SF_DIR,
    )


def test_cube_contains_all_granularities(tables):
    rows = windows.cube_stats(tables).collect()
    gids = {r.gid for r in rows}
    assert gids == {0, 1, 2, 3}
    # exactly one grand-total row, equal to the table count
    totals = [r for r in rows if r.gid == 3]
    assert len(totals) == 1
    assert totals[0].pv_ct == tables["events"].count()


def test_rolling_active_matches_oracle(tables):
    assert_matches_oracle(
        windows.QUERIES["window_rolling_active"](tables),
        windows.ORACLES["window_rolling_active"],
        SF_DIR,
    )


def test_rolling_active_semantics(spark):
    """u1 active day 1 and day 5, u2 active day 1: WAU(d) counts users with
    any activity in (d-6, d]; windows clip at the last observed day."""
    import datetime as dt

    rows = []
    for i, (u, d) in enumerate([(1, 1), (1, 5), (2, 1)]):
        rows.append((i, dt.datetime(2021, 1, d, 12), u, "view", 0.0, "{}"))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    got = {r.as_of: r.active_users for r in windows.rolling_active_users({"events": ev}).collect()}
    assert got["2021-01-01"] == 2      # both active that day
    assert got["2021-01-05"] == 2      # u1 re-active; u2 within trailing 7d
    assert max(got) == "2021-01-05"    # clipped at last observed day
    assert all(v == 2 for v in got.values())


def test_ema_recurrence_micro(spark):
    """Hand-checked recurrence: seed = first value, then
    0.25·x + 0.75·prev in (ts, event_id) order."""
    from datetime import datetime

    from flink_210225_spark.operators.windows import ema_per_user

    t = lambda m: datetime(2024, 1, 1, 12, m, 0)  # noqa: E731
    ev = spark.createDataFrame(
        [
            (1, t(0), 5, "view", 8.0, "{}"),
            (2, t(1), 5, "view", 4.0, "{}"),
            (3, t(2), 5, "view", 0.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {r.event_id: r.ema for r in ema_per_user({"events": ev}).collect()}
    assert got[1] == 8.0
    assert got[2] == 0.25 * 4.0 + 0.75 * 8.0   # 7.0
    assert got[3] == 0.75 * 7.0                # 5.25


def test_anomaly_mad_resists_masking(spark):
    """The robust score must flag an outlier day the z-score masks: with
    counts [10×7 days, 100], sigma is inflated by the outlier itself
    (z ≈ 2.6 < threshold shapes exist) while MAD = 0-safe median logic
    flags it; here MAD of the 8 days is 0 → construct [8,9,10,10,10,11,12,100]:
    med=10, MAD=1, rscore(100)=90 → flagged; all others |rscore| ≤ 2."""
    from datetime import datetime

    from flink_210225_spark.operators.windows import daily_anomaly_mad

    counts = [8, 9, 10, 10, 10, 11, 12, 100]
    rows = []
    eid = 0
    for d, c in enumerate(counts, start=1):
        for _ in range(c):
            rows.append((eid, datetime(2024, 1, d, 12, 0, 0), 1, "view", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {r.day: r for r in daily_anomaly_mad({"events": ev}).collect()}
    assert got["2024-01-08"].is_anomaly
    assert sum(r.is_anomaly for r in got.values()) == 1
    assert got["2024-01-08"].med_ct == 10.0 and got["2024-01-08"].mad_ct == 1.0


def test_cusum_flags_level_shift(spark):
    """A clean level shift (10/day → 40/day halfway) must raise shift_up
    in the shifted regime while the plain z-score stays quiet on most of
    those days (σ is inflated by the shift itself) — the drift-vs-outlier
    contrast CUSUM exists for. Also pins the closed form against the
    recurrence run in plain Python."""
    import datetime

    rows = []
    eid = 0
    for d in range(10):
        per = 10 if d < 5 else 40
        for k in range(per):
            rows.append(
                (eid, datetime.datetime(2021, 1, 1 + d, 12, 0, k), 1, "a", 0.0, "")
            )
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = sorted(
        windows.cusum_changepoint({"events": ev}).collect(), key=lambda r: r.day
    )
    # python recurrence replay: dev scaled by n_days = 10, total = 250
    s = 0
    for r in out:
        s = max(0, s + r.pv_ct * 10 - 250)
        assert r.cusum_pos == s, (r.day, r.cusum_pos, s)
    assert not any(r.shift_up for r in out[:5])
    assert all(r.shift_up for r in out[6:])


def test_ljung_box_constant_series_is_null(spark, tmp_path):
    """Equal daily sums make c0 == 0: every ρ̂ and Q are NULL, as in the
    oracle, not a ZeroDivisionError."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_210225_spark.io import load_tables

    from .oracle import degenerate_fixture

    ev = pq.read_table(f"{SF_DIR}/events.parquet").slice(0, 3)
    days = pa.array([datetime(2021, 2, d, 12) for d in (1, 2, 3)], ev.schema.field("ts").type)
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts", days)
    ev = ev.set_column(ev.schema.get_field_index("value"), "value", pa.array([5.0] * 3))
    d = degenerate_fixture(tmp_path / "constant", SF_DIR, events=ev)
    assert_matches_oracle(
        windows.ljung_box(load_tables(spark, d)), windows.ORACLES["window_ljung_box"], d
    )
