"""Run provenance and skew metrics.

Reference analog: .bigtree files carry a JSON Header (scan provenance) and
Footer (scanEnd) — the reference's lib/System/Directory/BigTrees/
HeadFoot.hs:66-75,115-119.  Here that is `RunContext.header_json` / `parse_header`: which
program version and config produced a table, started when, on what system.
RunContext also records, per run, the bucket-size distribution of every
capped pairing stage (skew metrics, an append-only parquet table beside
`metrics_path`).

Change detection and resume are NOT kept here: plans/incremental.py owns
them, with its digests table as the commit point (state layout, chunking and
compaction are described there).  A killed incremental_run resumes from the
last digests commit; no per-bucket completion rows are recorded.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Skew measured, not assumed (SURVEY §7; north_rule "skew handled
# explicitly"): every capped pairing stage records its bucket-size
# distribution and how often the cap fired, so the recall trade-off of
# rank-adjacent fallback pairing is visible per run instead of silent.
SKEW_METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("stage", StringType(), False),
        StructField("cap", LongType(), False),
        StructField("n_buckets", LongType(), True),
        StructField("n_overcap", LongType(), True),
        StructField("max_bucket", LongType(), True),
        StructField("p95_bucket", LongType(), True),
        StructField("finished", TimestampType(), True),
    ]
)


# HeadFoot.hs:66-75 analog: the JSON provenance header.  scan_start is POSIX
# seconds (`round . utcTimeToPOSIXSeconds`, HeadFoot.hs:51-52).
HEADER_SCHEMA = (
    "run_id string, config_hash string, app_version string, "
    "scan_start long, system string"
)


def parse_header(spark: SparkSession, header: str) -> DataFrame:
    """Round-trip a header_json() string back to columns (from_json,
    SURVEY §2.9 'JSON encode/decode of Header' row)."""
    return (
        spark.createDataFrame([(header,)], "j string")
        .select(F.from_json("j", HEADER_SCHEMA).alias("h"))
        .select("h.*")
    )


@dataclass
class RunContext:
    spark: SparkSession
    metrics_path: str
    run_id: str
    config_hash: str | None = None

    def header_json(self) -> str:
        """Scan-provenance header as one JSON string (to_json of a struct),
        the .bigtree JSON-header-comment analog: which program version and
        config produced this table, started when, on what system."""
        import platform

        from bigtrees_spark import __version__

        return (
            self.spark.range(1)
            .select(
                F.to_json(
                    F.struct(
                        F.lit(self.run_id).alias("run_id"),
                        F.lit(self.config_hash).alias("config_hash"),
                        F.lit(__version__).alias("app_version"),
                        F.unix_timestamp().alias("scan_start"),
                        F.lit(platform.platform()).alias("system"),
                    )
                ).alias("j")
            )
            .first()
            .j
        )

    @classmethod
    def new(
        cls,
        spark: SparkSession,
        metrics_path: str,
        run_id: str | None = None,
        config_hash: str | None = None,
    ) -> "RunContext":
        return cls(spark, metrics_path, run_id or uuid.uuid4().hex[:12], config_hash)

    @property
    def skew_path(self) -> str:
        return self.metrics_path + ".skew"

    def record_skew(self, stage: str, cap: int, stats: dict) -> None:
        """Append one bucket-skew row for a capped pairing stage."""
        row = {
            "run_id": self.run_id,
            "stage": stage,
            "cap": int(cap),
            "n_buckets": int(stats.get("n_buckets") or 0),
            "n_overcap": int(stats.get("n_overcap") or 0),
            "max_bucket": int(stats.get("max_bucket") or 0),
            "p95_bucket": int(stats.get("p95_bucket") or 0),
            "finished": None,
        }
        df = self.spark.createDataFrame([row], SKEW_METRICS_SCHEMA).withColumn(
            "finished", F.lit(time.time()).cast("timestamp")
        )
        df.write.mode("append").parquet(self.skew_path)

    def record_partition_balance(self, stage: str, df: DataFrame) -> None:
        """Per-partition row distribution for a stage input — SURVEY §7's
        'per-partition task times' in its measurable form on a UI-less local
        session: inside a whole-stage-codegen stage task time is proportional
        to rows, so rows-per-partition max/p95 vs median is the skew signal.
        Reuses the skew-metrics schema: stage='<name>:partitions',
        n_buckets=#partitions, max/p95_bucket=rows, n_overcap=#partitions
        holding more than 2x the median (the straggler count), cap=2x median.

        The per-partition count table is at most #partitions rows — tiny —
        so the stats fold happens driver-side in one cheap job."""
        pdf = (
            df.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count("*").alias("n"))
            .toPandas()
        )
        if len(pdf) == 0:
            return
        med = float(pdf["n"].median())
        threshold = int(2 * max(med, 1.0))
        self.record_skew(
            f"{stage}:partitions",
            threshold,
            {
                "n_buckets": int(len(pdf)),
                "n_overcap": int((pdf["n"] > threshold).sum()),
                "max_bucket": int(pdf["n"].max()),
                "p95_bucket": int(pdf["n"].quantile(0.95)),
            },
        )

    def read_skew(self) -> DataFrame:
        if os.path.exists(self.skew_path):
            return self.spark.read.parquet(self.skew_path)
        return self.spark.createDataFrame([], SKEW_METRICS_SCHEMA)
