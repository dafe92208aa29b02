"""Scaling evidence for the r4 annotator queries (VERDICT_r04 #3):
coref_chains / natlog_tokens / srl_tokens at an sf1-equivalent corpus
(a replicated sf0.1 documents table), measured EXECUTOR-SHAPED: the
north_rule's two cluster sizes are N vs 4N *executors* — separate JVMs,
each with its own heap, GC, and share of the memory bus — so the probe
compares 1 JVM x 4 cores on a 1/4 doc_id shard against 4 CONCURRENT
JVMs x 4 cores covering all four shards of the same input.
Efficiency = aggregate_throughput_4N / (4 * throughput_N).

Why not local[4] vs local[16] in one JVM (the first r5 attempt,
recorded in BENCH.md, when these annotators were allocation-heavy
Catalyst array expressions): inside ONE shared-heap JVM, 16 concurrent
tasks contend for the single allocator/GC and memory bus, and the
measured 0.34-0.55 "efficiency" is that contention, not the engine — the same host's
CONTROL workload (md5+hashagg) thread-scales at 0.72 and the
separate-process image harness reaches 0.87. A real 4N-executor
cluster adds a memory bus per executor, which the multi-process shape
reproduces and the multi-thread shape cannot.

The input is the sf0.1 documents table replicated with re-keyed
doc_ids (deterministic — no new text distribution is invented), written
once to tmpfs with a fixed file count so every leg scans identical
splits (the bench_scaling.py hygiene). Shards are doc_id % 4 — a
pushed-down scan filter, identical plan per executor.

Usage: python tools/bench_annotator_scaling.py [replication]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _env() -> dict:
    """Child env with REPO on PYTHONPATH so Spark Python workers (not just
    the child driver) can import the package from any cwd."""
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + (
        os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    return env

SYNTH = r"""
import sys
sys.path.insert(0, sys.argv[4])
rep = int(sys.argv[1]); src = sys.argv[2]; path = sys.argv[3]
from pyspark.sql import functions as F
from clj_nlp_parse_spark.session import get_spark
spark = get_spark(app_name="annot-scale-synth", parallelism=16,
                  shuffle_partitions=16)
docs = spark.read.parquet(f"{src}/documents.parquet")
big = (docs.crossJoin(spark.range(rep).select(F.col("id").alias("__r")))
       .withColumn("doc_id",
                   F.col("doc_id") + F.col("__r") * F.lit(10_000_000))
       .drop("__r"))
# 64 fixed files -> both legs scan identical splits
big.repartition(64, "doc_id").write.mode("overwrite") \
   .parquet(f"{path}/documents.parquet")
spark.stop()
"""

WORKER = r"""
import json, statistics, sys, time
sys.path.insert(0, sys.argv[5])
cpus = int(sys.argv[1]); sf_dir = sys.argv[2]
shard = int(sys.argv[3]); n_shards = int(sys.argv[4])
from pyspark.sql import functions as F
from clj_nlp_parse_spark.operators import coref as CRF
from clj_nlp_parse_spark.operators import natlog as NLG
from clj_nlp_parse_spark.operators import srl as SRL
from clj_nlp_parse_spark.session import get_spark
spark = get_spark(app_name=f"annot-scale-{cpus}-s{shard}",
                  parallelism=cpus, shuffle_partitions=cpus)
docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") % n_shards == shard)
        .select("doc_id", "text"))

# The OPERATOR kernels the registered queries run, not the queries
# themselves: the registry appends a presentation sort for oracle
# determinism, which is not part of the annotator's scale posture (a
# 100 TB pipeline consumes the rows, it does not globally sort the
# corpus for display).
PLANS = {
    "coref_chains": CRF.coref_rows(docs),
    "natlog_tokens": NLG.natlog_rows(docs),
    "srl_tokens": SRL.srl_token_rows(docs),
}
out = {}
for name, df in PLANS.items():
    df.write.format("noop").mode("overwrite").save()   # warm: JIT, codegen
    n_rows = df.count()
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    dt = statistics.median(times)
    out[name] = {"rows_out": n_rows, "sec": round(dt, 3),
                 "all_sec": [round(x, 3) for x in times],
                 "rows_per_sec": round(n_rows / dt, 1)}
print(json.dumps({"cpus": cpus, "queries": out}))
spark.stop()
"""


def main() -> None:
    rep = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    base = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/dev/shm")
    path = f"{base}/spark_graft_annot_scale_{rep}x"
    if not os.path.exists(
            os.path.join(path, "documents.parquet", "_SUCCESS")):
        r = subprocess.run(
            [sys.executable, "-c", SYNTH, str(rep), src, path, REPO],
            capture_output=True, text=True, timeout=1800, env=_env())
        if r.returncode != 0:
            sys.stderr.write(r.stderr)
            raise SystemExit(1)

    n_shards, cpus = 4, 4

    def spawn(shard: int) -> subprocess.Popen:
        return subprocess.Popen(
            [sys.executable, "-c", WORKER, str(cpus), path, str(shard),
             str(n_shards), REPO],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            env=_env())

    def harvest(p: subprocess.Popen) -> dict:
        out, err = p.communicate(timeout=3600)
        if p.returncode != 0:
            sys.stderr.write(err)
            raise SystemExit(1)
        line = [l for l in out.splitlines() if l.startswith("{")][-1]
        return json.loads(line)

    # N leg: ONE executor-shaped JVM (4 cores) on shard 0
    lo = harvest(spawn(0))
    # 4N leg: FOUR concurrent executor-shaped JVMs covering all shards
    procs = [spawn(s) for s in range(n_shards)]
    hi = [harvest(p) for p in procs]

    report = {"replication": rep, "source_sf": src,
              "shape": f"1 JVM x {cpus} cores (shard 1/{n_shards}) vs "
                       f"{n_shards} concurrent JVMs x {cpus} cores "
                       f"(all shards)",
              "N_executors": lo, "4N_executors": hi, "per_query": {}}
    for name in lo["queries"]:
        rows_n = lo["queries"][name]["rows_out"]
        sec_n = lo["queries"][name]["sec"]
        rows_4n = sum(h["queries"][name]["rows_out"] for h in hi)
        sec_4n = max(h["queries"][name]["sec"] for h in hi)
        tp_n = rows_n / sec_n
        tp_4n = rows_4n / sec_4n
        eff = tp_4n / (4.0 * tp_n)
        report["per_query"][name] = {
            "rows_out_total": rows_4n,
            "sec_N": sec_n, "sec_4N_max_of_shards": sec_4n,
            "rows_per_sec_N": round(tp_n, 1),
            "rows_per_sec_4N": round(tp_4n, 1),
            "scaling_efficiency": round(eff, 3),
            "pass_ge_0.8": eff >= 0.8,
        }
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
