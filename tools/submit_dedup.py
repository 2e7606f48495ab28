"""spark-submit entry point for the dedup pipeline (north_rule: "runs via
spark-submit --py-files").

Usage:
    zip -r /tmp/bigtrees_spark.zip bigtrees_spark
    spark-submit --master local[8] --py-files /tmp/bigtrees_spark.zip \
        tools/submit_dedup.py <input_parquet_dir_or_file> <output_dir> [n_buckets]

Reads web_pages-or-documents-shaped parquet, runs the full near-dedup
pipeline inside a RunScope, writes clusters + dupes report + partition
digests to <output_dir> and the run report (per-stage walls, tasks, shuffle
bytes, skew of every capped pairing stage) to <output_dir>/run_report.json.  On a cluster, --master yarn/k8s and real executors replace
local[8]; nothing in the job is local-mode-specific.
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    src, out = sys.argv[1], sys.argv[2]
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 64

    spark = SparkSession.builder.appName("bigtrees_spark_dedup").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from bigtrees_spark.operators.digest import bucket_of, partition_digests, rollup_digest_tree
    from bigtrees_spark.config import DEFAULT_CONFIG
    from bigtrees_spark.plans.pipeline import near_dedup_pipeline
    from bigtrees_spark.plans.runmeta import RunScope

    df = spark.read.parquet(src)
    if "url" not in df.columns:  # documents-shaped input
        df = df.select(F.format_string("d%012d", "doc_id").alias("url"), "text")
    use_html = "html" in df.columns and "text" not in df.columns

    with RunScope(spark, "submit_dedup", DEFAULT_CONFIG.config_hash()) as rs:
        res = near_dedup_pipeline(df, extract_from_html=use_html, persist=True, rs=rs)
        with rs.stage("write"):
            res.clusters.write.mode("overwrite").parquet(f"{out}/clusters")
            res.report.write.mode("overwrite").parquet(f"{out}/dupes_report")
            digests = rollup_digest_tree(
                partition_digests(
                    res.docs_fp.withColumn("bucket", bucket_of("url", n_buckets)),
                    bucket_col="bucket",
                )
            )
            digests.write.mode("overwrite").parquet(f"{out}/partition_digests")
        report = rs.report()  # inside the scope: skew aggregates read its caches
    with open(os.path.join(out, "run_report.json"), "w") as f:
        json.dump(report, f, indent=1)

    n = spark.read.parquet(f"{out}/clusters").count()
    print(f"DEDUP_DONE clusters={n}")
    spark.stop()


if __name__ == "__main__":
    main()
