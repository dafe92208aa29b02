"""Global plan-hygiene audit: the 100 TB questions asked of EVERY
registered query's physical plan at once.

Rules:
  - no CartesianProduct anywhere (an unkeyed join dies at scale)
  - no row-at-a-time Python (BatchEvalPython); Arrow stages are allowed
    only for queries on the known UDF whitelist (image/parser paths)
  - broadcast joins present where a query declares a tiny side

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# queries whose PLANNED Arrow stages are by design (binary decode / fused
# Python parser / cogrouped merge_asof escape hatch / r6 vectorized
# cosine pair verification, similarity._cosine_arrow_fn / the per-doc
# annotator kernels of functions.text.map_text_rows)
ARROW_OK = {"image_feature_materialization", "asof_join_merge",
            "cosine_dedup_pairs", "cosine_dedup_banded",
            "cosine_dedup_banded_derived", "embedding_dedup_groups",
            "ivf_topk", "minhash_signatures", "lsh_pairs", "simhash",
            "natlog_tokens", "coref_chains", "srl_tokens",
            "dep_tree_edges", "parse_tree_edges", "np_vp_chunks",
            "coref_features", "natlog_features", "tree_features"}


def main() -> None:
    from clj_nlp_parse_spark import queries as Q
    from clj_nlp_parse_spark.session import get_spark
    spark = get_spark(app_name="plan-audit", parallelism=8,
                      shuffle_partitions=8)
    failures = []
    for name, fn in Q.QUERIES.items():
        plan = fn(spark, SF_DIR)._jdf.queryExecution() \
            .executedPlan().toString()
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in plan:
            failures.append(f"{name}: row-at-a-time Python UDF")
        if ("ArrowEvalPython" in plan or "MapInPandas" in plan
                or "MapInArrow" in plan
                or "FlatMapCoGroups" in plan) and name not in ARROW_OK:
            failures.append(f"{name}: unexpected Python stage")
        print(f"== {name}  "
              f"{'OK' if not any(f.startswith(name) for f in failures) else 'FAIL'}")
    print(f"\nqueries: {len(Q.QUERIES)}  FAILURES: {failures or 'none'}")
    spark.stop()
    if failures:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
