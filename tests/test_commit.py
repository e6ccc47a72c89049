"""Crash-point test of the file sinks' one commit protocol (``io.commit``).

Each sink applies batch 0, then batch 1 with a failure injected at one
file-system step — a parquet write, the batch marker, or a rename — and
then batch 1 is replayed. The stored result must equal one clean
application of both batches. Failing step k is a crash right after step
k-1, so the sweep covers a crash after the data write, after the marker,
between the two renames of a swap and between a multi-output sink's swaps.
The last case fails nothing: the replay meets an already committed batch.
"""

from __future__ import annotations

import pathlib
from datetime import datetime

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from flink_210225_spark.operators import router
from flink_210225_spark.streaming import pipelines as sp


class Crash(Exception):
    pass


def _inject(monkeypatch, fail_at: int | None) -> dict:
    """Count parquet writes, file touches and renames; raise ``Crash``
    instead of performing the ``fail_at``-th one."""
    n = {"steps": 0}

    def wrap(cls, name):
        real = getattr(cls, name)

        def step(self, *args, **kwargs):
            n["steps"] += 1
            if n["steps"] == fail_at:
                raise Crash(f"{name} at step {fail_at}")
            return real(self, *args, **kwargs)

        monkeypatch.setattr(cls, name, step)

    wrap(DataFrameWriter, "parquet")
    wrap(pathlib.Path, "touch")
    wrap(pathlib.Path, "rename")
    return n


def _rows(spark, path):
    df = spark.read.parquet(str(path))
    return sorted((tuple(r) for r in df.select(*sorted(df.columns)).collect()), key=repr)


def _stats(spark, root, k):
    rows = [
        [(datetime(2021, 2, 25, 10), "page", 1.0), (datetime(2021, 2, 26, 9), "page", 2.0)],
        [(datetime(2021, 2, 25, 11), "page", 4.0), (datetime(2021, 2, 25, 12), "display", 8.0)],
    ][k]
    batch = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    return sp.merge_stats_batch(batch, k, str(root))


def _cell_counts(spark, root, k):
    batch = spark.createDataFrame([[(0,), (1,), (1,)], [(1,), (2,), (2,)]][k], "cell int")
    return sp.merge_cell_counts_batch(batch, k, str(root), {0: 4, 1: 4, 2: 4})


def _near_dedup(spark, root, k):
    rows = [
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "rivers and maps of the northern volcano plateau")],
        [(3, "alpha beta gamma delta epsilon zeta eta theta"),
         (4, "a recipe for bread with seeds and honey glaze")],
    ][k]
    return sp.near_dedup_batch(spark.createDataFrame(rows, "doc_id long, text string"), k, str(root))


def _scd2(spark, root, k):
    rows = [
        [(1, "insert", 10, "a"), (2, "insert", 10, "x")],
        [(1, "update", 20, "b"), (2, "delete", 30, None), (3, "insert", 10, "z")],
    ][k]
    batch = spark.createDataFrame(rows, "key long, type string, ts long, val string")
    return sp.merge_scd2_batch(batch, k, str(root))


_DIM_ROWS = [
    [(str(i), f"v{i}") for i in range(12)],
    [("1", "one"), ("5", "five"), ("9", "nine"), ("20", "twenty")],
]


def _upsert_dim(spark, root, k):
    batch = spark.createDataFrame(_DIM_ROWS[k], "id string, name string")
    router.upsert_dim(batch, str(root / "dim"))


def _upsert_dim_bucketed(spark, root, k):
    batch = spark.createDataFrame(_DIM_ROWS[k], "id string, name string")
    router.upsert_dim_bucketed(batch, str(root / "dim"), n_buckets=4)


# sink -> (apply batch k under root, what a reader sees under root,
#          whether the sink reports a replayed batch)
SINKS = {
    "merge_stats_batch": (_stats, lambda s, r: _rows(s, r / "table"), True),
    "merge_cell_counts_batch": (
        _cell_counts,
        lambda s, r: (_rows(s, r / "counts"), _rows(s, r / "drift")),
        True,
    ),
    "near_dedup_batch": (_near_dedup, lambda s, r: _rows(s, r / "sigs"), True),
    "merge_scd2_batch": (
        _scd2,
        lambda s, r: (_rows(s, r / "table"), _rows(s, r / "changes")),
        True,
    ),
    "upsert_dim": (_upsert_dim, lambda s, r: _rows(s, r / "dim"), False),
    "upsert_dim_bucketed": (_upsert_dim_bucketed, lambda s, r: _rows(s, r / "dim"), False),
}


@pytest.mark.parametrize("sink", sorted(SINKS))
def test_crash_at_every_step_then_replay_equals_one_application(
    spark, tmp_path, monkeypatch, sink
):
    apply, read, reports_replay = SINKS[sink]
    ref = tmp_path / "ref"
    apply(spark, ref, 0)
    with monkeypatch.context() as m:
        counted = _inject(m, None)
        apply(spark, ref, 1)
    steps = counted["steps"]
    assert steps >= 2, f"{sink} committed in {steps} steps"
    want = read(spark, ref)

    for k in range(1, steps + 2):
        root = tmp_path / f"crash_{k}"
        apply(spark, root, 0)
        with monkeypatch.context() as m:
            _inject(m, k)
            if k <= steps:
                with pytest.raises(Crash):
                    apply(spark, root, 1)
            else:
                apply(spark, root, 1)
        left = [p for p in root.rglob("*") if "__tmp_" in p.name or "__old_" in p.name]
        assert not left, f"step {k}: staging dirs left: {left}"
        replayed = apply(spark, root, 1)
        if reports_replay:
            assert replayed is (k <= steps), f"step {k}: replay returned {replayed}"
        assert read(spark, root) == want, f"{sink}: crash at step {k} of {steps}"
