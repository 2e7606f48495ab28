"""Streaming near-duplicate DETECTION: verified edges against bounded
per-bucket state, online, across micro-batches and restarts.

The batch pipeline (plans/pipeline.py) answers "cluster the corpus"; this
operator answers the ingest-time question a training-data pipeline actually
asks continuously: "does THIS arriving page near-duplicate anything we
already kept?" — without re-scanning the corpus per trigger.  Global
clustering (LSH + CC over everything) deliberately stays a periodic batch
job (streaming/ingest.py docstring: re-shuffling the world every micro-batch
is the wrong architecture); the stream emits verified pair EDGES the moment
the second copy arrives, which is exactly what keep-first filtering and
freshness monitoring need.

Shape (all stages Spark-native):

  readStream pages
    -> fingerprint UDF (same kernels as batch: signatures can never diverge)
    -> explode LSH bands (skinny: url, shingles, band keys)
    -> groupBy(band_idx, band_hash).applyInPandasWithState
         state  = up to `cap` retained (url, shingle-blob) entries per bucket
         output = (url_l, url_r, jaccard) exact-verified edges
    -> sink (foreachBatch parquet here; Kafka/Iceberg-upsert in production)

Design for 10^12-doc scale:
  * state is sharded by the band key — a 1000-executor cluster partitions
    BUCKETS, and each bucket retains at most `cap` entries (keep-first:
    the bounded analog of the batch path's rank-chain fallback — late
    arrivals in a boilerplate mega-bucket still verify against the retained
    representatives, so every emitted component stays CONNECTED to the
    bucket even though post-cap arrivals don't pair among themselves);
  * per-arrival work is <= n_bands x cap exact-Jaccard comparisons on int32
    shingle arrays (numpy merge-intersect, Arrow-batched — no per-row
    Python round trips, no JVM<->Python text traffic);
  * the same pair surfacing from several bands dedups in the sink reader
    (distinct_edges), mirroring candidate_pairs' distinct();
  * idle buckets expire via an optional processing-time timeout so state
    doesn't grow with the all-time distinct-bucket count;
  * when retained state outgrows executor heap, switch the state store to
    RocksDB (spark.sql.streaming.stateStore.providerClass =
    ...state.RocksDBStateStoreProvider) — on-disk state, same operator
    (tests pin the schema round-trips through it).

Reference tie-in: the closest reference behavior is the in-memory DupeMap
accumulated during a scan (/root/reference/lib/System/Directory/BigTrees/
DupeMap.hs:72-114) — this is that map as managed, restart-surviving,
executor-sharded state, generalized from exact to near duplicates.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from bigtrees_spark.config import DEFAULT_CONFIG, FingerprintConfig
from bigtrees_spark.functions.spark_udfs import make_fingerprint_udf
from bigtrees_spark.streaming.ingest import WEB_PAGES_DDL

EDGES_SCHEMA = "url_l string, url_r string, jaccard double, url_new string"
_STATE_SCHEMA = "urls array<string>, blobs array<binary>"

STREAM_BUCKET_CAP = 50  # retained entries per band bucket (keep-first)


def _jaccard(a: np.ndarray, b: np.ndarray) -> float:
    """Exact Jaccard of two sorted-unique int32 shingle arrays; two empty
    arrays score 1.0.  Compared against cfg.jaccard_threshold it is the one
    edge predicate, the same as the batch verify (lsh.verify_pairs) and the
    oracle, so batch and stream keep the same pairs among their
    candidates."""
    if a.size == 0 and b.size == 0:
        return 1.0
    inter = np.intersect1d(a, b, assume_unique=True).size
    union = a.size + b.size - inter
    return inter / union if union else 0.0


def make_bucket_matcher(
    cfg: FingerprintConfig, cap: int, idle_timeout_ms: int | None = None
):
    """State function for one LSH bucket: verify arrivals against retained
    entries (and earlier arrivals in the same batch), emit edges >= the
    config threshold, retain keep-first up to `cap`.  With idle_timeout_ms,
    the timeout timer is re-armed on every update so a bucket that stops
    receiving arrivals is expired and removed."""
    thr = cfg.jaccard_threshold

    def match_bucket(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:  # idle bucket: free its state, emit nothing
            state.remove()
            return
        if state.exists:
            urls, blobs = state.get
            urls = list(urls)
            shingles = [np.frombuffer(b, dtype=np.int32) for b in blobs]
        else:
            urls, shingles = [], []
        known = set(urls)
        ls, rs, js, news = [], [], [], []
        # one group can arrive as SEVERAL Arrow chunks — concatenate before
        # sorting, or keep-first retention would depend on chunk boundaries
        # instead of url order (non-deterministic across reruns/partitioning)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            # deterministic within-batch order (input row order is not)
            pdf = pdf.sort_values("url", kind="mergesort")
            for url, sh in zip(pdf["url"], pdf["shingles"]):
                if url in known:
                    # duplicate url among the RETAINED set: a recrawl of a
                    # kept page, or a source replay.  (Uncommitted-batch
                    # replays roll the state back with the batch, so they
                    # re-verify and re-emit; the sink view dedups those.)
                    continue
                arr = np.asarray(sh, dtype=np.int32)
                for seen_url, seen_sh in zip(urls, shingles):
                    j = _jaccard(arr, seen_sh)
                    if j >= thr:
                        lo, hi = sorted((seen_url, url))
                        ls.append(lo)
                        rs.append(hi)
                        js.append(j)
                        news.append(url)  # the ARRIVAL side, for keep-first
                if len(urls) < cap:  # keep-first retention
                    urls.append(url)
                    shingles.append(arr)
                    known.add(url)
        state.update((urls, [s.tobytes() for s in shingles]))
        if idle_timeout_ms is not None:  # re-arm the idle-expiry timer
            state.setTimeoutDuration(idle_timeout_ms)
        if ls:
            yield pd.DataFrame(
                {"url_l": ls, "url_r": rs, "jaccard": js, "url_new": news}
            )

    return match_bucket


def neardup_edges_stream(
    pages: DataFrame,
    cfg: FingerprintConfig = DEFAULT_CONFIG,
    cap: int = STREAM_BUCKET_CAP,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming pages(url, text, ...) -> update-mode stream of verified
    near-dup edges (url_l < url_r, jaccard >= cfg.jaccard_threshold).

    idle_timeout_ms: expire a bucket's state after that long without
    arrivals (processing-time) — the state-size knob for long-running
    queries; None keeps state for the life of the checkpoint."""
    fp = make_fingerprint_udf(cfg, compute_simhash=False)
    banded = (
        pages.select("url", fp(F.col("text")).alias("f"))
        # error rows never enter pairing — the batch pipeline's Err-node rule
        # (plans/pipeline.py): failed docs share the sentinel signature, so
        # without this filter every failed doc after the first would pair at
        # "jaccard 1.0" and be dropped by keep-first as a bogus near-dup
        .where(F.col("f.error").isNull())
        .select(
            "url",
            F.col("f.shingles").alias("shingles"),
            F.posexplode(F.col("f.bands")).alias("band_idx", "band_hash"),
        )
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return banded.groupBy("band_idx", "band_hash").applyInPandasWithState(
        make_bucket_matcher(cfg, cap, idle_timeout_ms),
        EDGES_SCHEMA,
        _STATE_SCHEMA,
        "update",
        timeout,
    )


def start_neardup_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    sink_dir: str,
    cfg: FingerprintConfig = DEFAULT_CONFIG,
    cap: int = STREAM_BUCKET_CAP,
    idle_timeout_ms: int | None = None,
    shuffle_partitions: int | None = None,
):
    """Run-once (availableNow) streaming near-dup pass over new files in
    source_dir; edges append to sink_dir parquet.  Restarting with the same
    checkpoint resumes bucket state, so a twin arriving in a LATER batch
    still pairs with its original — the property a batch job only gets by
    re-scanning everything.

    shuffle_partitions: state-store task count for the stateful operator.
    The stateful op runs one task per shuffle partition and each task
    opens/commits one state store EVERY trigger — empty partitions still
    pay provider round-trips — and the count is pinned by the FIRST run's
    checkpoint (later conf changes are ignored on resume).  Size it to
    available executor cores x a small factor, not the batch default:
    tools/streaming_profile.py measured 32 -> 8 partitions on an 8-core
    session as 20% faster per trigger with 4.7x faster state commits
    (BASELINE.md, round 5).  None leaves the session conf untouched.
    NOTE: sets the session-wide spark.sql.shuffle.partitions before
    start(); use a dedicated session for the stream if other queries
    share it."""
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    src = spark.readStream.schema(WEB_PAGES_DDL).parquet(source_dir)

    def write_batch(df: DataFrame, batch_id: int) -> None:
        df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink_dir)

    return (
        neardup_edges_stream(src, cfg, cap, idle_timeout_ms)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def _read_sink(spark: SparkSession, sink_dir: str) -> DataFrame:
    """The edge sink, or an empty edges frame when no batch ever wrote it
    (a stream over an empty source fires zero foreachBatch calls, so the
    directory may not exist)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(sink_dir)
    except AnalysisException:
        return spark.createDataFrame([], EDGES_SCHEMA)


def distinct_edges(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Edge view over the sink: one row per (url_l, url_r), max jaccard.
    Collapses multi-band emissions AND foreachBatch at-least-once replays
    (replayed batches re-append identical rows)."""
    return (
        _read_sink(spark, sink_dir)
        .groupBy("url_l", "url_r")
        .agg(F.max("jaccard").alias("jaccard"))
    )


def neardup_arrivals(spark: SparkSession, sink_dir: str) -> DataFrame:
    """url_new values that near-duplicated something already seen — the
    DROP set for keep-first ingest filtering (anti-join kept pages against
    this; the retained originals never appear as url_new)."""
    return _read_sink(spark, sink_dir).select("url_new").distinct()


def keep_first_pages(pages: DataFrame, spark: SparkSession, sink_dir: str) -> DataFrame:
    """Keep-first view of a pages table given the edge sink: drops every
    page whose url arrived AFTER a near-identical page.  Plain left-anti
    join — the drop set scales with the corpus's near-dup arrival count
    (on a dup-heavy crawl that is a large fraction of the corpus), so the
    join strategy is left to AQE rather than forced to broadcast."""
    drops = neardup_arrivals(spark, sink_dir).withColumnRenamed("url_new", "url")
    return pages.join(drops, "url", "left_anti")
