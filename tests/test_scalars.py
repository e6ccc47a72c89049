from pyspark import SparkContext
from pyspark.sql import functions as F

from flink_210225_spark.functions.scalars import per_jvm


def test_per_jvm_builds_once_per_gateway(spark, monkeypatch):
    builds = []

    @per_jvm
    def exprs(name, k):
        builds.append((name, k))
        return F.col(name) + F.lit(k)

    first = exprs("x", 1)
    assert exprs("x", 1) is first
    assert builds == [("x", 1)]
    # other arguments, or equal arguments of another type, build their own
    assert exprs("x", 2) is not first
    assert exprs("x", 1.0) is not first
    assert len(builds) == 3

    class Gateway:  # stands in for the gateway of a restarted JVM
        pass

    monkeypatch.setattr(SparkContext, "_gateway", Gateway())
    assert exprs("x", 1) is not first
    assert len(builds) == 4
