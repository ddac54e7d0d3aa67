"""Session defaults that change how repeated queries run
(quokka_spark/session.py)."""

from quokka_spark.session import CODEGEN_CACHE_ENTRIES

# Spark's own spark.sql.codegen.cache.maxEntries default
SPARK_CODEGEN_CACHE_DEFAULT = 100


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def test_codegen_cache_holds_working_set(spark):
    """The session's generated-code cache holds more classes than
    Spark's default cap: after more than 100 distinct queries, re-running
    the first one compiles nothing. Each query inlines its own primitive
    literal, so each one is a new class."""
    assert (spark.conf.get("spark.sql.codegen.cache.maxEntries")
            == str(CODEGEN_CACHE_ENTRIES))
    compiled = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    queries = [spark.range(8).selectExpr(f"id * {7919 + i} AS x")
               for i in range(SPARK_CODEGEN_CACHE_DEFAULT + 20)]
    before = compiled.getCount()
    for q in queries:
        _noop(q)
    assert compiled.getCount() - before >= len(queries)
    before = compiled.getCount()
    _noop(spark.range(8).selectExpr("id * 7919 AS x"))
    assert compiled.getCount() == before
