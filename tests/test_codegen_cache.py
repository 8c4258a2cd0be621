"""Whole-stage codegen must not thrash: a repeated multi-query pass
reuses the generated classes of the first pass.

The engine's plan working set (214 classes for the 12 headline queries,
~250 for a curation forced+resumed pair) is larger than Spark's default
codegen cache of 100 entries, under which every pass recompiled ~180
classes and the JVM JIT-compiled each one again
(session.CODEGEN_CACHE_ENTRIES).  A
per-query warm loop hides this, since one query's classes fit the
cache; only a pass over many queries shows it.

The count comes from ``CodegenMetrics``, a private Spark object reached
through py4j; if a Spark upgrade moves it, this test fails loudly.
"""

from __future__ import annotations

import bench

# Generated classes a second headline pass may compile.  Measured 0 in
# five repeated passes at sf0.01 on local[8], where a thrashing cache
# recompiled ~176.  The slack is for a plan whose adaptive stages are
# planned in a run-dependent order: the codegen stage id is part of the
# generated class name, so a renumbered stage compiles again.
SECOND_PASS_TOLERANCE = 10


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_codegen_cache_holds_the_headline_pass(spark, sf_dir):
    import __spark_entry__ as entry

    queries = entry.queries()

    def headline_pass() -> int:
        before = _compilations(spark)
        for name in bench.HEADLINE:
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return _compilations(spark) - before

    first = headline_pass()
    second = headline_pass()
    # a session that ran the pass has compiled something: a constant 0
    # would mean the metric no longer counts
    assert _compilations(spark) > 0
    assert second <= SECOND_PASS_TOLERANCE, (
        f"the second headline pass compiled {second} classes "
        f"(first pass {first}): the codegen cache is evicting the working set"
    )
