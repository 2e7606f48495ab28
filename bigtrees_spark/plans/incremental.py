"""Digest-driven incremental runs: re-fingerprint ONLY buckets whose content
changed between snapshots, resumably.

This is the reference's Merkle speedup (equal dir hashes => skip the whole
subtree, lib/System/Directory/BigTrees/Delta.hs:74-76) turned
into the incremental-ingest loop its README plans ("intelligent re-hashing of
only the files whose mod times have changed", README.md:49):

  1. CHEAP pass over the new snapshot: JVM-side sha2 per row, one hash-agg
     per bucket over sorted (url, sha256) pairs, with the bucket's row count
     beside it — no Python, no wide columns.
  2. The change set is ONE driver read: the new digests full-outer-joined
     with the stored ones (<= n_buckets rows each) and collected.  A bucket
     is changed when its digest differs or its stored config_hash is not the
     current config's; unchanged buckets keep their stored docs_fp rows.
  3. The EXPENSIVE Arrow-UDF fingerprint stage runs only over changed
     buckets' rows.  When nothing changed and nothing disappeared, the stored
     snapshot is returned as-is: no write, no Python stage.

State layout (two tables behind the SnapshotSink):
  docs_fp  one flat table, `bucket` and `run` are plain columns; `run` is a
           fresh id per incremental_run call, stamped on the rows it made.
  digests  (bucket, state_digest, config_hash, run) — one row per bucket.

The digests table is the COMMIT POINT: a docs_fp row is live only when its
(bucket, run) matches a committed digests row (matched null-safely, so a
state written before rows carried a run stays readable and reusable).  The
live filter is built on the driver from the collected digests rows, one
InSet over a bucket:run key — no join, no shuffle.  docs_fp may therefore
hold dead rows: a crashed run's appends, and the superseded rows of the last
run's changed buckets; every read filters them out.

Chunking: the changed buckets are split into chunks of about one wave of
Arrow batches (defaultParallelism x spark.sql.execution.arrow.
maxRecordsPerBatch rows, sized from the per-bucket counts of step 1).  For
every chunk but the last, its fresh rows are APPENDED to docs_fp, then the
digests are committed with those buckets pointing at this run.  A run killed
anywhere thus resumes by construction: a rerun sees the committed buckets as
unchanged and recomputes only the rest; rows appended after the last digests
commit are dead, so they never duplicate.

Compaction: the last chunk folds into one rewrite of docs_fp — the rows live
under the CURRENTLY committed digests plus the last chunk's fresh rows — and
then the final digests commit (which also drops removed buckets).  A crash
between the two leaves the old digests pointing at rows the rewrite kept, so
nothing is lost; rows are dropped only once no committed digests row can
point at them (the superseded rows of the last chunk and of removed buckets
go at the next compacting run).  A single-chunk run, the common shape, is one
rewrite plus one digests commit.  A state in an older layout (bucket=*
directories, or rows without `run`) is never appended to: its run is one
chunk, and the rewrite leaves it flat.

The state digest includes the url (unlike the reference's name-free dir
hash / digest.partition_digests): fingerprint reuse is keyed on row
identity, not just content multiset.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from bigtrees_spark.config import DEFAULT_CONFIG, FingerprintConfig
from bigtrees_spark.operators.digest import bucket_of
from bigtrees_spark.operators.fingerprint import fingerprint_docs
from bigtrees_spark.sinks import SnapshotSink

DIGESTS_SCHEMA = "bucket int, state_digest string, config_hash string, run string"


def bucket_state_digests(pages_b: DataFrame) -> DataFrame:
    """(bucket, state_digest, n_rows): state_digest is the sha256 of the
    sorted url<US>sha256 pairs — changes iff any row's identity OR content
    changes."""
    return (
        pages_b.select(
            "bucket",
            F.concat_ws(
                "\x1f", F.col("url"), F.sha2(F.coalesce(F.col("text"), F.lit("")), 256)
            ).alias("row_key"),
        )
        .groupBy("bucket")
        .agg(
            F.sha2(F.concat_ws("\n", F.sort_array(F.collect_list("row_key"))), 256).alias(
                "state_digest"
            ),
            F.count("*").alias("n_rows"),
        )
    )


@dataclass
class IncrementalResult:
    docs_fp: DataFrame
    n_buckets_changed: int
    n_buckets_total: int


def _change_set(
    spark: SparkSession, new_digests: DataFrame, sink: SnapshotSink, have_state: bool
) -> tuple[list, bool]:
    """Collected (bucket, new, n_rows, old, config_hash, run) rows — one per
    bucket of either snapshot; new/old is None where that snapshot lacks the
    bucket — and whether the stored digests carry `run` (states written
    before rows carried a run do not, and their docs_fp has no `run`)."""
    old = sink.read("digests") if have_state else spark.createDataFrame([], DIGESTS_SCHEMA)
    has_run = "run" in old.columns
    for c in ("config_hash", "run"):  # states written before they were stored
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast("string"))
    rows = (
        new_digests.withColumnRenamed("state_digest", "new")
        .join(old.withColumnRenamed("state_digest", "old"), "bucket", "full_outer")
        .select("bucket", "new", "n_rows", "old", "config_hash", "run")
        .collect()
    )
    return rows, has_run


def _live(docs_fp: DataFrame, committed: dict) -> DataFrame:
    """The docs_fp rows a committed digests row points at: (bucket, run)
    matched null-safely, as one InSet over a bucket:run string key."""
    if "run" not in docs_fp.columns:
        docs_fp = docs_fp.withColumn("run", F.lit(None).cast("string"))
    key = F.concat_ws(":", F.col("bucket").cast("string"), F.coalesce("run", F.lit("")))
    return docs_fp.where(key.isin([f"{b}:{run or ''}" for b, (_, _, run) in committed.items()]))


def _chunks(changed: list, limit: int) -> list:
    """Changed (bucket, digest, n_rows) entries in bucket order, cut before
    the bucket that would take a chunk past `limit` rows."""
    out, cur, n = [], [], 0
    for entry in sorted(changed):
        if cur and n + entry[2] > limit:
            out.append(cur)
            cur, n = [], 0
        cur.append(entry)
        n += entry[2]
    return out + [cur]


def _commit_digests(spark: SparkSession, sink: SnapshotSink, committed: dict) -> None:
    # from pandas the rows reach the JVM as one Arrow batch; a list of tuples
    # would be unpickled by a Python RDD, one Python task per slot
    digests_pd = pd.DataFrame(
        [(b, *v) for b, v in committed.items()],
        columns=["bucket", "state_digest", "config_hash", "run"],
    )
    sink.commit_snapshot(spark.createDataFrame(digests_pd, DIGESTS_SCHEMA).coalesce(1), "digests")


def incremental_run(
    spark: SparkSession,
    pages: DataFrame,
    state_dir: str,
    n_buckets: int = 64,
    cfg: FingerprintConfig = DEFAULT_CONFIG,
    sink: SnapshotSink | None = None,
) -> IncrementalResult:
    """Fingerprint the new snapshot, reusing stored rows for every bucket
    whose state digest is unchanged.  Persists docs_fp + digests through the
    SnapshotSink (Iceberg snapshot commit when a catalog is configured,
    staged parquet swap otherwise) for the next run; a killed run resumes
    from its last digests commit (module docstring)."""
    sink = sink or SnapshotSink(spark, state_dir)
    cfg_hash = cfg.config_hash()
    run = uuid.uuid4().hex

    pages_b = pages.withColumn("bucket", bucket_of("url", n_buckets))
    have_state = sink.exists("digests") and sink.exists("docs_fp")
    rows, has_run = _change_set(spark, bucket_state_digests(pages_b), sink, have_state)

    committed = {b: (old, h, r) for b, _, _, old, h, r in rows if old is not None}
    changed = [
        (b, new, n) for b, new, n, old, h, _ in rows if new is not None and (new, h) != (old, cfg_hash)
    ]
    removed = [b for b, new, *_ in rows if new is None]
    n_total = len(rows) - len(removed)
    partitioned = have_state and sink.partitioned("docs_fp")

    if have_state and not changed and not removed and not partitioned:
        return IncrementalResult(_live(sink.read("docs_fp"), committed).drop("run"), 0, n_total)

    def fresh(chunk: list) -> DataFrame:
        todo = pages_b.where(F.col("bucket").isin([b for b, _, _ in chunk]))
        return (
            fingerprint_docs(todo, cfg)
            .withColumn("bucket", bucket_of("url", n_buckets))
            .withColumn("run", F.lit(run))
        )

    limit = spark.sparkContext.defaultParallelism * int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    )
    legacy = have_state and (partitioned or not has_run)  # never appended to
    chunks = [changed] if legacy else _chunks(changed, limit)
    for chunk in chunks[:-1]:
        if committed:
            sink.append(fresh(chunk), "docs_fp")
        else:  # nothing live yet: whatever docs_fp holds is dead
            sink.commit_snapshot(fresh(chunk), "docs_fp")
        committed.update({b: (new, cfg_hash, run) for b, new, _ in chunk})
        _commit_digests(spark, sink, committed)

    # compaction: the rows live under the committed digests + the last chunk
    last = chunks[-1]
    docs_fp = _live(sink.read("docs_fp"), committed) if committed else fresh(last)
    if committed and last:
        docs_fp = fresh(last).unionByName(docs_fp)
    sink.commit_snapshot(docs_fp, "docs_fp")
    committed.update({b: (new, cfg_hash, run) for b, new, _ in last})
    for b in removed:
        del committed[b]
    _commit_digests(spark, sink, committed)
    return IncrementalResult(
        _live(sink.read("docs_fp"), committed).drop("run"), len(changed), n_total
    )
