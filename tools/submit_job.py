"""spark-submit entry point (north_rule submission path).

Runs the flagship image+caption as-of feature materialization with
checkpointed, resumable output. The engine code arrives via --py-files,
so build the zip first (dist/ is not committed):

  python tools/make_pyfiles.py        # writes dist/clj_nlp_parse_spark.zip
  spark-submit --master local[8] \
      --py-files dist/clj_nlp_parse_spark.zip \
      tools/submit_job.py --n-images 500 --out /tmp/feat_out

On a cluster, swap --master (and executor confs); nothing in the job is
local-mode-specific. Re-running with the same --out resumes: partitions
whose manifests exist are skipped (see clj_nlp_parse_spark/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-images", type=int, default=500)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    # imports resolve from --py-files on the executors AND the driver
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from clj_nlp_parse_spark import synth
    from clj_nlp_parse_spark.checkpoint import CheckpointedWriter, plan_id_of
    from clj_nlp_parse_spark.operators import asof, images

    spark = SparkSession.builder.appName("feature-materialization").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    imgs = synth.synth_images(spark, args.n_images)
    feats = images.extract_image_features(imgs)
    events = imgs.select("entity_id", "event_ts")
    out = asof.asof_join(
        events,
        feats.select("entity_id", "feature_ts", "px_mean_r", "px_std",
                     "sharpness"),
        on=["entity_id"])
    out = out.withColumn(
        "part", F.pmod(F.xxhash64("entity_id"), F.lit(8)).cast("int"))

    leaks = asof.audit_leakage(out)
    writer = CheckpointedWriter(args.out, args.out + "_manifests", "part")
    metrics = writer.run(out, plan_id_of(out, input_snapshot="synth-v1"))
    print(json.dumps({"leaked_rows": leaks, **metrics}))
    assert leaks == 0
    spark.stop()


if __name__ == "__main__":
    main()
