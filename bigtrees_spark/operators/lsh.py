"""MinHash-LSH banding, skew-aware candidate-pair generation, and exact
verification — the generalization of the reference's `groupBy(hash)` dupe
grouping (/root/reference/lib/System/Directory/BigTrees/DupeMap.hs:72-114) to
near-duplicates (SURVEY.md G1/G2).

Scale design (north_rule: "partitioning / shuffle / skew handled explicitly"):
  * the band table is SKINNY — (url, band_idx, band_hash) only; the shingle
    arrays the exact verify reads are joined back AFTER candidate dedup, once
    per side, so the explode x42 never multiplies wide payloads through a
    shuffle;
  * pairing is ONE ordered window pass per bucket key (_skewcapped_pairs):
    each row emits its own pairs, so there is no cache, no materializing
    count, no branch union and no self-join — building the pair frame issues
    no Spark job;
  * hot buckets (boilerplate-heavy web text is Zipfian) are bounded: buckets
    above cfg.max_bucket_size switch from all-pairs to windowed neighbor
    pairing (rank-adjacent within the bucket), which preserves bucket
    connectivity for the CC stage while capping the pair output at O(m*K)
    instead of O(m^2);  exact-dup collapse BEFORE banding (dedup.canonical_docs)
    already removes the worst offenders;
  * AQE skew-join splitting stays on for the residual skew (session.py);
  * partitioning choice: the pairing window hash-partitions on the band keys
    (band_hash is uniform by construction — a minhash of minhashes — so hash
    partitioning is already balanced; repartitionByRange would add a sampling
    pass to learn a distribution that is uniform by design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from bigtrees_spark.config import DEFAULT_CONFIG, FingerprintConfig

NEIGHBOR_K = 3  # windowed pairing width inside over-cap buckets

SIMHASH_CHUNK_CAP = 10_000  # chunk buckets above this switch to rank pairing


def _skewcapped_pairs(
    items: DataFrame,
    keys: list,
    cap: int,
    rs=None,
    skew_name: str = "buckets",
    distinct: bool = True,
) -> DataFrame:
    """(l, r) pairs (l <= r) per bucket, skew-capped and deduped unless
    distinct=False — the shared pairing core of candidate_pairs,
    simhash_edges, substring_edges and lsh_neardup_pairs.

    `items` has the bucket-key columns plus one `item` column (a string or a
    struct whose first field orders the pair, e.g. struct(url, simhash)).
    Null items never pair.

    Buckets <= cap: ALL within-bucket pairs.  Buckets > cap: rank-adjacent
    pairs only (each item paired with its NEIGHBOR_K successors in item
    order) — a documented recall trade-off for pathological buckets that
    keeps every bucket CONNECTED for the downstream CC stage.

    Plan shape: ONE ordered window pass (one shuffle on the bucket keys, one
    sort), no cache, no self-join, no branches.  Every row carries one array
    of "other" items and emits its own pairs by exploding it:
      * bucket size <= cap: the row's EARLIER items — a collect_list over
        the growing frame (unboundedPreceding, -1), which Spark updates
        incrementally — so each pair comes out exactly once, from its later
        row;
      * bucket size > cap: the NEIGHBOR_K lead() successors.  The growing
        frame's argument is null on these rows, so its buffer stays empty
        and a hot bucket costs O(K) per row, not O(size).
    Singleton buckets emit nothing.  The window stage's output is lazy: the
    first action on the returned frame runs it.

    Keys go high-entropy first (e.g. band_hash before band_idx): the sort's
    prefix comparator covers only the first key.

    rs (optional runmeta.RunScope): registers the lazy bucket-size frame
    under `skew_name` ('skew: measured, not assumed', SURVEY §7); its
    aggregate runs only in rs.report().
    """
    items = items.where(F.col("item").isNotNull())
    if rs is not None:
        rs.skew(skew_name, cap, items.groupBy(*keys).agg(F.count("*").alias("bsz")))
    wo = Window.partitionBy(*keys).orderBy("item")
    # bucket size over the ORDERED spec (whole-partition frame): the size and
    # the "others" Window operators then share one sort
    whole = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    earlier = wo.rowsBetween(Window.unboundedPreceding, -1)
    small = F.col("bsz") <= cap
    others = F.when(
        small, F.collect_list(F.when(small, F.col("item"))).over(earlier)
    ).otherwise(
        F.array(*[F.lead("item", k).over(wo) for k in range(1, NEIGHBOR_K + 1)])
    )
    # withColumn, not select: a generator cannot take window expressions in
    # the same projection
    out = (
        items.withColumn("bsz", F.count("*").over(whole))
        .withColumn("others", others)
        .select("item", F.explode("others").alias("o"))
        .where(F.col("o").isNotNull())
        .select(F.least("item", "o").alias("l"), F.greatest("item", "o").alias("r"))
    )
    if not distinct:
        # callers whose next step is already a groupBy over the pair key skip
        # the dedup (duplicates across bands are merged there anyway)
        return out
    # hash the raw pairs on (l, r) BEFORE the dedup: the distinct then reuses
    # that partitioning, so its hash aggregation runs spread across tasks
    # instead of as a partial aggregate inside the window task — which for a
    # hot bucket is ONE task holding all m*K of its pairs (one 200k-item
    # bucket at cap 200: 2.1 s -> 1.8 s wall; results/pairing_hot_bucket_r7.json)
    return out.repartition("l", "r").distinct()


def band_table(docs_fp: DataFrame) -> DataFrame:
    """Explode signatures into skinny (url, band_idx, band_hash) rows."""
    return docs_fp.select(
        "url", F.posexplode("bands").alias("band_idx", "band_hash")
    )


def candidate_pairs(
    docs_fp: DataFrame,
    cfg: FingerprintConfig = DEFAULT_CONFIG,
    rs=None,
) -> DataFrame:
    """Distinct (url_l, url_r) candidate pairs (url_l < url_r) from LSH buckets.

    Buckets <= max_bucket_size: all within-bucket pairs (exact LSH semantics).
    Buckets  > max_bucket_size: rank-adjacent pairs (|rank diff| <= NEIGHBOR_K)
    — documented recall trade-off for pathological buckets, kept connected for
    the downstream connected-components stage.

    rs (optional runmeta.RunScope): its report gets the bucket-size
    distribution and cap-fire count as skew entry 'lsh_bands'.

    Plan shape: see _skewcapped_pairs — one window pass over the skinny
    band table, keyed band_hash first; building the frame runs no job.
    """
    items = band_table(docs_fp).withColumnRenamed("url", "item")
    return _skewcapped_pairs(
        items, ["band_hash", "band_idx"], cfg.max_bucket_size, rs=rs,
        skew_name="lsh_bands",
    ).select(F.col("l").alias("url_l"), F.col("r").alias("url_r"))


def verify_pairs(
    pairs: DataFrame,
    docs_fp: DataFrame,
    cfg: FingerprintConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Candidate pairs -> verified near-dup edges with EXACT shingle Jaccard.

    The one edge predicate: |A ∩ B| / |A ∪ B| >= cfg.jaccard_threshold over
    the precomputed sorted-distinct shingle arrays — pure Catalyst
    (array_intersect/array_union inside whole-stage codegen), so the verify
    stage ships fingerprint arrays instead of document TEXTS and never
    re-tokenizes a doc once per pair.  It is the oracle's definition and the
    stream's (streaming/neardup._jaccard), so pipeline precision is 1.0 and
    pipeline recall is exactly the LSH candidate recall.

    docs_fp needs only `url` and `shingles`; it is joined once per side.

    Returns edges: url_l, url_r, jaccard (>= cfg.jaccard_threshold).
    """
    sh = docs_fp.select("url", "shingles")
    inter = F.size(F.array_intersect(F.col("sh_l"), F.col("sh_r")))
    union = F.size(F.array_union(F.col("sh_l"), F.col("sh_r")))
    return (
        pairs.join(sh.withColumnsRenamed({"url": "url_l", "shingles": "sh_l"}), "url_l")
        .join(sh.withColumnsRenamed({"url": "url_r", "shingles": "sh_r"}), "url_r")
        .withColumn(
            "jaccard",
            # two empty shingle sets are identical docs (jaccard 1.0), same
            # convention as the Arrow kernel and the brute-force oracle
            F.when(union == 0, F.lit(1.0)).otherwise(
                inter.cast("double") / union.cast("double")
            ),
        )
        .where(F.col("jaccard") >= F.lit(cfg.jaccard_threshold))
        .select("url_l", "url_r", "jaccard")
    )


def simhash_edges(
    docs_fp: DataFrame,
    cfg: FingerprintConfig = DEFAULT_CONFIG,
    rs=None,
    chunk_cap: int = SIMHASH_CHUNK_CAP,
) -> DataFrame:
    """Second edge source: SimHash pairs within Hamming radius.

    Block on 4 x 16-bit chunks of the 64-bit fingerprint (pigeonhole: any pair
    with Hamming distance <= 3 agrees exactly on at least one chunk), groupBy
    chunk value, pair within buckets, verify Hamming via vectorized popcount.

    Hot chunk values (e.g. near-zero simhashes from many short docs) are NOT
    dropped: buckets above chunk_cap switch to rank-adjacent pairing, the same
    connectivity-preserving fallback candidate_pairs uses — so a hot chunk
    degrades to a chain of verified edges instead of silently losing every
    pair.  rs (runmeta.RunScope) reports how often the cap fired, as skew
    entry 'simhash_chunks'.

    Plan shape: see _skewcapped_pairs (shared core) — the item is
    struct(url, simhash), so pairs carry both fingerprints out of the
    pairing stage and the Hamming verify never joins back to docs_fp.
    """
    # the 4-chunk pigeonhole only GUARANTEES candidates for Hamming <= 3: a
    # pair differing by >= 4 bits can miss every chunk.  A larger configured
    # radius would pass the verify filter but silently lose such pairs at
    # the blocking stage — refuse rather than under-recall.
    if cfg.simhash_hamming_max > 3 or cfg.simhash_bits != 64:
        raise ValueError(
            "simhash_edges blocks on 4 x 16-bit chunks of a 64-bit simhash: "
            f"requires simhash_bits=64 (got {cfg.simhash_bits}) and "
            f"simhash_hamming_max <= 3 (got {cfg.simhash_hamming_max}); use "
            "more/narrower chunks for a larger radius"
        )
    chunks = docs_fp.select(
        F.struct("url", "simhash").alias("item"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("item", "c.chunk_idx", "c.chunk_val")

    pairs = _skewcapped_pairs(
        chunks, ["chunk_val", "chunk_idx"], chunk_cap, rs=rs,
        skew_name="simhash_chunks",
    ).select(
        F.col("l.url").alias("url_l"),
        F.col("r.url").alias("url_r"),
        F.col("l.simhash").alias("sh_l"),
        F.col("r.simhash").alias("sh_r"),
    )
    return (
        pairs.withColumn(
            "hamming",
            F.bit_count(F.col("sh_l").bitwiseXOR(F.col("sh_r"))),  # JVM popcount
        )
        .where(F.col("hamming") <= F.lit(cfg.simhash_hamming_max))
        .select("url_l", "url_r", "hamming")
    )
