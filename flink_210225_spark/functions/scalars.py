"""Scalar expression helpers mirroring the reference's function surface.

Reference surface (SURVEY.md §2.8): TO_TIMESTAMP (F1/F2), DATE_FORMAT (F3),
UNIX_TIMESTAMP (F4), toYYYYMMDD/toHour (F5/F6), if()/multiIf (F7/F8), map
subscript (F9), split/substring (F10), date math (F11), age derivation (F12),
guarded ratios (F13). All are thin compositions of built-in functions so they
stay inside whole-stage codegen — no Python UDFs here.

``per_jvm`` memoises the Column expressions an operator builds, so an
operator called again and again in one JVM builds them once.
"""

from __future__ import annotations

import functools
import weakref

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

# yyyy-MM-dd HH:mm:ss — the reference's canonical datetime string format
# (utils/DateTimeUtil.java:15-25).
YMD_HMS = "yyyy-MM-dd HH:mm:ss"

# live py4j gateway -> {(builder, args, arg types): built expressions}
_PER_JVM: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def per_jvm(build):
    """Memoise ``build(*args)`` — a function of hashable arguments (names,
    ints, floats, tuples) that returns Column expressions — per live JVM.

    Every ``F.*`` call and Column operator is a py4j round trip (~70 µs),
    and an operator with array lambdas makes thousands of them per call
    before Spark runs anything. The memo key holds the py4j gateway
    (``SparkContext._gateway``) weakly, so a restarted JVM builds afresh
    and never meets another JVM's JavaObjects. Only expressions are
    cached: a Column is an unresolved expression tree, so every call still
    builds, analyses and runs a fresh plan over its own input. Argument
    types are part of the key, so ``1`` and ``1.0`` (equal and equally
    hashed, but different literals) do not share an entry. Two threads
    making a first call may both build; either result is valid, so there
    is no lock."""

    @functools.wraps(build)
    def cached(*args):
        gateway = SparkContext._gateway
        if gateway is None:
            return build(*args)
        memo = _PER_JVM.setdefault(gateway, {})
        key = (build, args, tuple(type(a) for a in args))
        if key not in memo:
            memo[key] = build(*args)
        return memo[key]

    return cached


def round2(col: Column) -> Column:
    """Money-style scale-2 rounding, as a pure double expression.

    Mirrors BigDecimal scale-2 HALF_UP (gmall-publisher
    bean/VisitorStats.java:39) — but deliberately NOT F.round: Spark's round
    rounds the shortest decimal rendering (HALF_UP on "x.425"), DuckDB rounds
    the binary value (x.4249999... → down). floor(x*100+0.5)/100 is the same
    double arithmetic in both engines, so oracle hashes match exactly.
    The matching oracle-side spelling is ``ORACLE_ROUND2``.
    """
    return F.floor(col * 100 + F.lit(0.5)) / 100


def oracle_round2(expr: str) -> str:
    """DuckDB spelling of round2 for oracle SQL strings."""
    return f"floor(({expr}) * 100 + 0.5) / 100"


def round6(col: Column) -> Column:
    """Scale-6 HALF_UP pin — the cross-engine float-determinism rule every
    ratio/statistic query applies before hashing (same rationale as
    ``round2``: floor(x·10⁶+0.5)/10⁶ is the identical pure double
    expression on both engines, where F.round/ROUND diverge on shortest-
    decimal vs binary-value rounding). Oracle spelling:
    ``floor((expr) * 1000000 + 0.5) / 1000000``. The rule is load-bearing
    for every hash gate — change it HERE, nowhere else."""
    return F.floor(col * 1000000 + F.lit(0.5)) / 1000000


def to_yyyymmdd(ts: Column) -> Column:
    """ClickHouse toYYYYMMDD analog (ProductStatsMapper.java:17)."""
    return F.date_format(ts, "yyyyMMdd").cast("int")


def fmt_ymd_hms(ts: Column) -> Column:
    """DATE_FORMAT(x,'yyyy-MM-dd HH:mm:ss') (ProvinceStatsSqlApp.java:48-49)."""
    return F.date_format(ts, YMD_HMS)


def cond_sum(cond: Column, value: Column | int = 1) -> Column:
    """ClickHouse sum(if(cond,x,0)) analog (VisitorStatsMapper.java:22)."""
    v = F.lit(value) if isinstance(value, int) else value
    return F.sum(F.when(cond, v).otherwise(F.lit(0)))


def multi_if(*branches: tuple[Column, Column | int], default: int = 0) -> Column:
    """ClickHouse multiIf analog (KeywordStatsMapper.java:15-19)."""
    expr = F.lit(default)
    for cond, val in reversed(branches):
        v = F.lit(val) if isinstance(val, int) else val
        expr = F.when(cond, v).otherwise(expr)
    return expr


def guarded_ratio(num: Column, den: Column, scale: int = 100) -> Column:
    """num*scale/den rounded to 2dp, NULL-safe when den==0
    (gmall-publisher bean/VisitorStats.java:35-64 guards uv_ct != 0)."""
    return F.when(den != 0, F.round(num * scale / den, 2)).otherwise(F.lit(None))


def age_years(birthday: Column, as_of: Column | None = None) -> Column:
    """floor((as_of - birthday)/365) in years (OrderWideApp.java:77-84).
    Defaults to now; tests/oracles pass a fixed as_of for determinism."""
    anchor = F.current_date() if as_of is None else as_of
    return F.floor(F.datediff(anchor, birthday) / 365)


def revenue(extendedprice: Column, discount: Column) -> Column:
    """Canonical line revenue used across the serving queries."""
    return extendedprice * (F.lit(1) - discount)
