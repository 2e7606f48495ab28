"""Merkle-style partition digest trees — the Spark restatement of the
reference's directory hash rollup.

Reference rule (/root/reference/lib/System/Directory/BigTrees/HashTree/Base.hs:69-70):
    dir hash = H(sorted child hashes, newline-joined)   [names excluded]
with bottom-up aggregates (Build.hs:280-289):
    nNodes = 1 + sum(children); nBytes = own + sum; modTime = max

Spark-first: one hash aggregation per tree level —
    level 0: groupBy(bucket)  agg sha2(concat_ws('\n', sort_array(collect_list(sha256))))
    level k: groupBy(bucket div fanout) over level k-1 digests
The root digest is a deterministic function of content only (row order,
partitioning, and scheduling cannot change it — sort_array before hashing is
exactly the reference's sorted-child-hash rule).

Uses: O(1) table identity/info (reference tail probe, HashTree/Read.hs:86-113),
incremental runs (only re-fingerprint buckets whose digest changed), and the
diff pruning in operators/diff.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DIGEST_COLS = ["bucket", "level", "digest", "n_docs", "n_bytes", "max_ts"]


def bucket_of(url_col: str = "url", n_buckets: int = 16):
    """Stable partition key: non-negative xxhash64(url) mod n_buckets.
    (crc32 in the fixture writer serves the same role for on-disk layout;
    this is the in-plan equivalent.)"""
    return F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets)).cast("int")


def partition_digests(
    docs_fp: DataFrame,
    n_buckets: int = 16,
    bucket_col: str | None = None,
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Level-0 digest rows: one per bucket.

    digest = sha256 of the newline-joined SORTED member digests — the exact
    hashContents rule (HashTree/Base.hs:69-70), so two buckets with identical
    content sets collide regardless of row order or member urls' arrival order.
    """
    df = docs_fp
    if bucket_col is None:
        df = df.withColumn("bucket", bucket_of("url", n_buckets))
        bucket_col = "bucket"
    has_ts = ts_col in df.columns
    aggs = [
        F.sha2(F.concat_ws("\n", F.sort_array(F.collect_list("sha256"))), 256).alias("digest"),
        F.count("*").alias("n_docs"),
        F.sum("nbytes").alias("n_bytes"),
        (F.max(ts_col) if has_ts else F.lit(None).cast("timestamp")).alias("max_ts"),
    ]
    return (
        df.groupBy(F.col(bucket_col).alias("bucket"))
        .agg(*aggs)
        .withColumn("level", F.lit(0))
        .select(*DIGEST_COLS)
    )


def rollup_digest_tree(level0: DataFrame, fanout: int = 16) -> DataFrame:
    """Fold level-0 digests into a tree up to a single root row.

    Each level hashes the sorted child digests (Merkle rule) and sums/maxes
    the aggregates (Build.hs:280-289 semantics).  The tree is tiny (buckets /
    fanout^k rows), so upper levels cost nothing; level count = ceil(log_f B).
    Returns the full tree (all levels) including the root (level = height,
    bucket = 0).

    level0 is read to the driver ONCE before the fold: it is the only
    expensive input (one corpus-wide aggregation, n_buckets output rows, ~10^5
    even at 100 TB), and every level's height probe plus every branch of the
    returned union would re-evaluate its lineage otherwise.  The fold runs
    over a local frame built from those rows, so the call leaves no cache or
    checkpoint behind.
    """
    level0 = level0.select(*DIGEST_COLS)
    # one Arrow read (timestamps cross as UTC instants, types unchanged)
    table = level0.toArrow()
    level0 = level0.sparkSession.createDataFrame(table, level0.schema)
    # level k+1's bucket set is exactly {b // fanout}, so every level's row
    # count is computable in Python from the level-0 ids — no count() job
    # per level
    cur_ids = set(table.column("bucket").to_pylist())
    levels = [level0]
    cur = level0
    while len(cur_ids) > 1:
        # replicate the plan's (bucket / fanout) cast-to-int exactly:
        # SQL casts truncate toward zero, python // floors — they differ on
        # negative custom bucket ids
        cur_ids = {
            None
            if b is None
            else (b // fanout if b >= 0 else -((-b) // fanout))
            for b in cur_ids
        }
        nxt = (
            cur.withColumn("pbucket", (F.col("bucket") / fanout).cast("int"))
            .groupBy("pbucket")
            .agg(
                F.sha2(F.concat_ws("\n", F.sort_array(F.collect_list("digest"))), 256).alias("digest"),
                F.sum("n_docs").alias("n_docs"),
                F.sum("n_bytes").alias("n_bytes"),
                F.max("max_ts").alias("max_ts"),
                F.max("level").alias("clevel"),
            )
            .select(
                F.col("pbucket").alias("bucket"),
                (F.col("clevel") + 1).alias("level"),
                "digest",
                "n_docs",
                "n_bytes",
                "max_ts",
            )
            .select(*DIGEST_COLS)
        )
        levels.append(nxt)
        cur = nxt
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def root_info(digest_tree: DataFrame) -> DataFrame:
    """O(1)-ish table info from the digest tree root — the `bigtrees info`
    analog (/root/reference/app/Cmd/Info.hs:17-40): total docs, total bytes,
    overall content digest, latest timestamp."""
    top = digest_tree.agg(F.max("level").alias("ml")).collect()[0]["ml"]
    return digest_tree.where(F.col("level") == top).select(
        F.col("digest").alias("root_digest"),
        F.col("n_docs").alias("total_docs"),
        F.col("n_bytes").alias("total_bytes"),
        F.col("max_ts").alias("latest_ts"),
    )
