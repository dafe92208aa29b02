"""The session keeps the generated classes of a warm pass.

Spark caches compiled codegen classes in one JVM-global LRU keyed by the
class source. `get_spark` sizes it to the engine's working set and names
whole-stage classes without their AQE stage id, so running the same plans
again compiles nothing.
"""

from __future__ import annotations

from clj_nlp_parse_spark import queries as Q
from clj_nlp_parse_spark.session import CODEGEN_CACHE_ENTRIES
from perfbench import workloads as W

# every registered query the benchmark times, plus the two whose class
# names used to change between runs
OPS = [op.name for op in W.ANNOTATE_OPS + W.PIT_OPS + W.CURATE_OPS
       if op.registered] + ["tfidf_top_terms", "token_budget_mix"]


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pass(spark, sf_dir) -> dict[str, int]:
    """Run every op once into the noop sink; classes compiled per op."""
    out = {}
    for name in OPS:
        before = _compiles(spark)
        Q.QUERIES[name](spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()
        out[name] = _compiles(spark) - before
    return out


def test_session_codegen_cache_conf(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == \
        str(CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_warm_rerun_compiles_nothing(spark, sf_dir):
    _pass(spark, sf_dir)
    again = _pass(spark, sf_dir)
    assert {k: v for k, v in again.items() if v} == {}
