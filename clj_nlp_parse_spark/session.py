"""SparkSession factory tuned for the engine.

Mirrors the reference's context creation/caching (`create-context`,
reference config.clj:302-340) — but the "context" here is a SparkSession
with the engine's scale-oriented defaults: AQE on, Arrow on, sane shuffle
partition count for local testing (overridable for cluster runs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 2048


def get_spark(
    app_name: str = "clj-nlp-parse-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    parallelism: local core count; default $SPARK_GRAFT_CPUS or 32.
    On a real cluster pass master via spark-submit and these local[]
    settings are ignored.

    Python workers fork from the engine's daemon (`pyworker`): each task
    otherwise re-reads the directory of every zip archive on the worker's
    path (pyspark.zip, py4j, the spark-core jar), over 100 ms a task. The
    daemon needs the package importable by the workers, as the kernels do.
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuf = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalesce + skew-join splitting — required at scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuf))
        # Arrow for every pandas UDF / applyInPandas crossing.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "clj_nlp_parse_spark.pyworker")
        # Arrow batch size bounds JVM-side bytes in flight per task. Image
        # rows are ~27 KB (bytes column): 10k-row batches × 32 tasks would
        # hold >8 GB in flight and turn the job into a GC benchmark; 2048
        # keeps ~55 MB/task while still amortizing the Python call.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "2048"))
        # Nested-schema pruning: the engine's panon struct columns benefit.
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # UTC session tz: parquet timestamps compare stably with the oracle.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Compiled-class cache (a Spark-internal static conf, default 100).
        # A warm perfbench pass cycles through more classes than that
        # (curate ~355, annotate ~120), so the LRU never hit and every pass
        # recompiled them at ~6 ms each. All 85 registered queries compile
        # 870 classes (sf0.01, local[8]); 2048 leaves twice that. The cache
        # is JVM-global and sized at the first codegen: a JVM that already
        # generated code keeps its old size. Executor JVMs on a cluster
        # were not measured.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # The cache key is the class source, and a whole-stage class is named
        # after its stage id. AQE numbers stages in the order concurrent
        # stages finish, so a re-run could get the same code under another
        # name and compile it again (tfidf_top_terms, token_budget_mix,
        # asof_incremental). Unnamed classes share one cache entry; the id
        # stays in the plan string and in the class's comment.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
