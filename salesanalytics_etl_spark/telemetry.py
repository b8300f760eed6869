"""Process-local operator-use counters, and the JVM's codegen count.

The round-10 rank bug (AQE materializing one ``repartitionByRange``
twice with different sampled boundaries) was invisible at sf0.01 —
the closing gate therefore re-verifies every query that RIDES a range
exchange at sf0.1. Hardcoding that list goes stale the moment a new
query adopts the rank machinery, so the operators bump a counter here
at call time and ``tools/exchange_gate.py`` derives the list by
building each registered query and diffing the counter. Plain ints,
no locks: the builders run queries sequentially in one process.
"""

from __future__ import annotations

counters: dict[str, int] = {"range_exchange": 0}


def bump(name: str) -> None:
    counters[name] = counters.get(name, 0) + 1


def codegen_compiles(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far: the
    count of Spark's ``CodegenMetrics`` compilation-time histogram. A
    class served from the codegen cache is not counted, so the delta
    over a repeated workload is its recompiles."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
