"""As-of strategy crossover re-validation (VERDICT_r04 #6): the
union_window vs union_window_split decision threshold
(choose_asof_strategy's hot_rows_threshold = 4M rows in one window
partition) was measured in r2; this committed harness reproduces the
measurement on the current session configuration so the number can be
re-validated in one run each round.

Shape: Zipf-hot entity key — `hot_share` of all left rows land on ONE
entity (the phash-hot-bucket analog from the north_rule), the rest
spread over `n_keys` uniform keys; right side is 1 feature row per
entity per time bucket. union_window sorts the hot key in one task;
union_window_split bounds every task by the time-bucket width.

Before timing, each size asserts that the split returns exactly
union_window's rows and that neither output leaks (audit_leakage == 0).

Usage: python tools/probe_asof_skew.py [rows_m ...]   (default 2 16)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from clj_nlp_parse_spark.operators import asof
from clj_nlp_parse_spark.session import get_spark


def build(spark, n_rows: int, hot_share: float, n_keys: int = 1000,
          wide: bool = False):
    payload = ([F.md5(F.col("id").cast("string")).alias(f"pl{i}")
                for i in range(4)] if wide else [])
    left = spark.range(n_rows).select(
        F.when(F.col("id") % 100 < int(hot_share * 100), F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % n_keys)
                            .cast("string"))).alias("entity_id"),
        F.timestamp_millis(F.lit(1_700_000_000_000)
                           + (F.col("id") * 37) % 86_400_000)
        .alias("event_ts"), *payload)
    right = (spark.range(n_keys + 1).select(
        F.when(F.col("id") == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), F.col("id").cast("string")))
        .alias("entity_id"))
        .crossJoin(spark.range(24).select(
            F.timestamp_millis(F.lit(1_700_000_000_000)
                               + F.col("id") * 3_600_000)
            .alias("feature_ts")))
        .withColumn("fv", F.rand(7)))
    return left, right


def main() -> None:
    wide = "--wide" in sys.argv
    sizes = [int(a) for a in sys.argv[1:]
             if not a.startswith("--")] or [2, 16]
    spark = get_spark(app_name="probe_asof_skew", parallelism=32,
                      shuffle_partitions=32)
    out = []
    for m in sizes:
        hot_share = 0.5 if m <= 2 else 0.75
        left, right = build(spark, m * 1_000_000, hot_share, wide=wide)
        left = left.localCheckpoint()       # freeze input outside timing
        right = right.localCheckpoint()
        rec = {"rows_m": m, "hot_share": hot_share}
        joins = {s: asof.asof_join(left, right, on=["entity_id"],
                                   strategy=s)
                 for s in ("union_window", "union_window_split")}
        # a time means nothing for a wrong answer: the split must return
        # union_window's rows exactly, and neither may leak
        a, b = joins["union_window"], joins["union_window_split"]
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, \
            "union_window_split rows differ from union_window"
        for strategy, df in joins.items():
            assert asof.audit_leakage(df) == 0, f"{strategy} leaks"
        for strategy, df in joins.items():
            df.write.format("noop").mode("overwrite").save()   # warm
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            rec[strategy] = round(time.perf_counter() - t0, 2)
        rec["split_speedup"] = round(
            rec["union_window"] / rec["union_window_split"], 2)
        out.append(rec)
        print(json.dumps(rec))
    print(json.dumps({"crossover_note": (
        "split wins where union_window's hot task sorts > ~4M rows; "
        "re-validate hot_rows_threshold against these numbers"),
        "runs": out}))
    spark.stop()


if __name__ == "__main__":
    main()
