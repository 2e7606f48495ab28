"""End-to-end near-duplicate detection + clustering plan.

The Spark restatement of `bigtrees hash` + `bigtrees dupes` (SURVEY.md §3,
entry points 1-2), generalized to near-dups:

    web_pages
      -> fingerprint_docs        (scan -> ArrowEvalPython -> project; no shuffle)
      -> rep table               (exact-dup collapse: one row per sha256 with
                                  url, bands, shingles, simhash; text never
                                  shuffles)
      -> candidate_pairs         (skinny band explode; skew-capped bucket join)
      -> verify_pairs            (exact Jaccard on shingle arrays, one join
                                  per side, pure codegen — no text shuffle)
      [-> simhash_edges]         (optional second edge source)
      [-> substring edges]       (winnowing pass, operators/substring.py)
      -> connected_components    (large-star/small-star, checkpointed)
      -> expand to all members   (join back through sha256)
      -> clusters(url, cluster_id), near_dupes_report

Exact-dup collapse BEFORE pairing mirrors simplifyDupes' redundancy
elimination at a different level (/root/reference/lib/.../DupeMap.hs:147-154
— SURVEY.md §7) and is the main defense against boilerplate pair blowup.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from bigtrees_spark.config import DEFAULT_CONFIG, FingerprintConfig
from bigtrees_spark.operators import cc, lsh
from bigtrees_spark.operators.fingerprint import fingerprint_docs
from bigtrees_spark.plans.runmeta import RunScope


@dataclass
class DedupResult:
    docs_fp: DataFrame      # per-doc fingerprints
    edges: DataFrame        # near-dup edges between exact-dup REPRESENTATIVES,
    # stable schema (url_l, url_r, jaccard): jaccard is the exact verified
    # value on the MinHash path and null on simhash/extra-edge rows (those
    # sources verify by Hamming distance / upstream logic, not Jaccard).
    # Fully LAZY: no cache sits under it, so every action on `edges` re-runs
    # pairing and verify; `clusters` and `report` do not, because CC
    # materializes its labels during the pipeline call.
    clusters: DataFrame     # url, cluster_id (every input url)
    _report_thunk: object = None  # zero-arg builder; see `report`
    _own_scope: RunScope | None = None  # the scope a call without rs opened
    _report_df: DataFrame | None = None

    @property
    def report(self) -> DataFrame:
        """cluster_id, n_members, savings, members — built on first access.

        The three-level salted report aggregation is ~120 ms of driver-side
        DataFrame construction (py4j round trips, no cluster work); callers
        that only need clusters (the bench's dedup leg, the flagship entry)
        were paying it per run without ever executing the frame, so the
        builder is deferred.  Same frame, same schema, once per result."""
        if self._report_df is None:
            self._report_df = self._report_thunk()
        return self._report_df

    def unpersist(self) -> None:
        """Close the scope the pipeline opened for a call without rs,
        releasing every cache the run created — docs_fp, the rep table and
        connected_components' pre-contraction map — so long-lived sessions
        that loop over near_dedup_pipeline do not accumulate orphaned cache
        entries per run (ADVICE r04).  Safe at any time: persist keeps
        lineage, so a consumer that reads after release recomputes, and a
        distributed-path CC's final star-round checkpoint (which nothing can
        recompute) is left to Spark's ContextCleaner, as for any call
        without rs.

        A run given rs leaves all of this to rs.close(), which frees that
        checkpoint too: consume such a result before closing the scope."""
        if self._own_scope is not None:
            self._own_scope.close(keep_checkpoints=True)


def near_dedup_pipeline(
    pages: DataFrame,
    cfg: FingerprintConfig = DEFAULT_CONFIG,
    extract_from_html: bool = False,
    use_simhash_edges: bool = False,
    extra_edges: DataFrame | None = None,
    persist: bool = True,
    rs: RunScope | None = None,
    pre_partitioned: bool = False,  # True: input already wide, skip the
    # fingerprint-stage repartition (a pre-widened corpus would otherwise pay
    # a fully redundant corpus-size shuffle — inputFiles() can't see it)
) -> DedupResult:
    """pages -> DedupResult.  rs (optional runmeta.RunScope) owns every cache
    and checkpoint the run creates and collects its skew entries and stage
    tags; without rs the pipeline opens a scope of its own, which
    DedupResult.unpersist() closes."""
    own_scope = None
    if rs is None:
        rs = own_scope = RunScope(
            pages.sparkSession, "near_dedup_pipeline", cfg.config_hash()
        )
    docs_fp = fingerprint_docs(
        pages,
        cfg,
        ensure_parallelism=False if pre_partitioned else None,
        extract_from_html=extract_from_html,
        compute_simhash=use_simhash_edges,  # skip the ~40% SimHash cost when unused
    )
    # no stage after fingerprinting reads `text` (verify runs on shingle
    # arrays; the substring pass consumes the SOURCE, not docs_fp) — drop it
    # before persist so the cache never holds the corpus twice (VERDICT r03
    # what's-wrong #4).
    docs_fp = docs_fp.drop("text")
    if persist:
        docs_fp = rs.persist(docs_fp)

    # Err-node semantics (HashTree/Build.hs:109-118): error rows stay in
    # docs_fp (they ARE the error report) but never enter pairing — their
    # sentinel fingerprints/empty-text sha would otherwise cross-link all
    # failed docs into one bogus cluster.  They resurface below as
    # singleton clusters.
    clean_fp = docs_fp.where(F.col("error").isNull())
    err_fp = docs_fp.where(F.col("error").isNotNull())

    # exact-dup collapse: ONE aggregation builds the rep table, one row per
    # sha256 group, that feeds every downstream consumer — pairing
    # (url, bands), verify (url, shingles), SimHash (url, simhash) and the
    # rep labels (sha256, url).  Pairing, verify and SimHash read only this
    # table, and text never rides a shuffle (it was dropped above).
    #
    # The rep is the MIN-URL member of its group (groupBy min: partial-agg
    # map-side, no window sort).  Which member represents is pairing-
    # irrelevant — identical text means identical bands/shingles/simhash —
    # and min-url reps make the CC label (min over rep urls) equal min over
    # the FULL membership by construction, so no relabel pass is needed
    # after member expansion.  (dedup.canonical_docs remains the user-facing
    # keep-earliest-copy operator with (warc_ts, url) semantics.)
    # first(...) is deterministic BY VALUE for the same reason: every member
    # of a sha256 group carries the same bands, shingles and simhash.
    reps = clean_fp.groupBy("sha256").agg(
        F.min("url").alias("url"),
        F.first("bands").alias("bands"),
        F.first("shingles").alias("shingles"),
        F.first("simhash").alias("simhash"),
    )
    if persist:
        reps = rs.persist(reps)
    winners = reps.select("sha256", "url")

    pairs = lsh.candidate_pairs(reps.select("url", "bands"), cfg, rs=rs)
    # stable edge schema across every path: (url_l, url_r, jaccard nullable)
    edges = lsh.verify_pairs(pairs, reps.select("url", "shingles"), cfg)
    if use_simhash_edges:
        edges = edges.unionByName(
            lsh.simhash_edges(reps.select("url", "simhash"), cfg, rs=rs)
            .select("url_l", "url_r"),
            allowMissingColumns=True,  # simhash rows carry jaccard = null
        )
    if extra_edges is not None:
        # extra edges (e.g. substring_edges) run on the SOURCE and may name
        # arbitrary MEMBER urls; cluster expansion below labels only exact-dup
        # REPRESENTATIVES, so map each endpoint to its group's rep first — an
        # unmapped endpoint (url outside this corpus) passes through as
        # itself and can still bridge components.
        url_to_rep = clean_fp.select("url", "sha256").join(
            winners.withColumnRenamed("url", "_rep"), "sha256"
        ).select("url", "_rep")
        mapped = (
            extra_edges.select("url_l", "url_r")
            .join(
                url_to_rep.withColumnsRenamed({"url": "url_l", "_rep": "rep_l"}),
                "url_l", "left",
            )
            .join(
                url_to_rep.withColumnsRenamed({"url": "url_r", "_rep": "rep_r"}),
                "url_r", "left",
            )
            .select(
                F.coalesce("rep_l", F.col("url_l")).alias("url_l"),
                F.coalesce("rep_r", F.col("url_r")).alias("url_r"),
            )
            .where(F.col("url_l") != F.col("url_r"))
        )
        edges = edges.unionByName(mapped, allowMissingColumns=True)

    labels = cc.connected_components(edges.select("url_l", "url_r"), rs=rs)

    # expand rep labels to every member of the rep's exact-dup group.  The
    # CC label is min over rep urls; with min-url reps that IS min over the
    # full membership, so cluster_id needs no further relabel — the old
    # min().over(partitionBy(cluster)) window (a single-task funnel for a
    # boilerplate mega-component) is gone entirely, one shuffle cheaper.
    rep_labels = winners.join(labels, "url", "left").select(
        "sha256", F.coalesce(F.col("cluster_id"), F.col("url")).alias("cluster_id")
    )
    clusters = clean_fp.select("url", "sha256").join(rep_labels, "sha256").select(
        "url", "cluster_id"
    ).unionByName(err_fp.select("url", F.col("url").alias("cluster_id")))

    return DedupResult(
        docs_fp=docs_fp,
        edges=edges,
        clusters=clusters,
        _report_thunk=lambda: cluster_report(
            clusters, docs_fp.select("url", "nbytes")
        ),
        _own_scope=own_scope,
    )


# bounded member preview per report row — the reference prints bounded group
# headers for the same reason (DupeMap.hs:168-201); n_members stays exact
REPORT_MEMBERS_CAP = 100
_MEMBER_SALTS = 64  # per-level fanout; squared for the first member split


def cluster_report(
    clusters: DataFrame,
    doc_sizes: DataFrame,
    members_cap: int = REPORT_MEMBERS_CAP,
) -> DataFrame:
    """clusters(url, cluster_id) + doc_sizes(url, nbytes) -> savings-ordered
    dupes report with a CAPPED members preview.

    Skew design: a mega-cluster must not materialize its full membership in
    one aggregation buffer or one output row.  Stats (count/sum/max) partial-
    aggregate map-side for free; the member list is built THREE-level over a
    4096-way url salt: the `members_cap` smallest urls per (cluster,
    salt%4096) bucket, then per (cluster, salt%64), then per cluster.
    Honest memory bound (ADVICE r03): only the levels AFTER the first are
    strictly capped (<= _MEMBER_SALTS * members_cap entries per buffer); the
    first-level collect_list buffers membership/4096 urls — truncation
    inside an aggregation buffer is not expressible in Catalyst, so a
    10^9-member pathological cluster still holds ~250k urls in its hottest
    first-level buffer (~15 MB at 60-byte urls: large but survivable, and
    4096x better than an unsalted collect).  `n_members` stays exact.
    """
    fine = _MEMBER_SALTS * _MEMBER_SALTS
    lvl0 = (
        clusters.join(doc_sizes, "url")
        .withColumn("_s", F.pmod(F.xxhash64("url"), F.lit(fine)))
        .groupBy("cluster_id", "_s")
        .agg(
            F.count("*").alias("n"),
            F.sum("nbytes").alias("b_total"),
            F.max("nbytes").alias("b_max"),
            F.slice(F.sort_array(F.collect_list("url")), 1, members_cap).alias("m"),
        )
    )
    lvl1 = (
        lvl0.withColumn("_s1", F.col("_s") % _MEMBER_SALTS)
        .groupBy("cluster_id", "_s1")
        .agg(
            F.sum("n").alias("n"),
            F.sum("b_total").alias("b_total"),
            F.max("b_max").alias("b_max"),
            F.slice(
                F.sort_array(F.flatten(F.collect_list("m"))), 1, members_cap
            ).alias("m"),
        )
    )
    return (
        lvl1.groupBy("cluster_id")
        .agg(
            F.sum("n").alias("n_members"),
            F.sum("b_total").alias("n_bytes_total"),
            F.max("b_max").alias("n_bytes_kept"),
            F.slice(
                F.sort_array(F.flatten(F.collect_list("m"))), 1, members_cap
            ).alias("members"),
        )
        .where(F.col("n_members") > 1)
        .withColumn("savings", F.col("n_bytes_total") - F.col("n_bytes_kept"))
        .select(
            "cluster_id", "n_members", "n_bytes_total", "n_bytes_kept",
            "members", "savings",
        )
        .orderBy(F.desc("savings"), F.asc("cluster_id"))
    )


def cluster_implied_pairs(clusters: DataFrame) -> DataFrame:
    """All unordered url pairs sharing a cluster — the pair set the recall
    gate scores (a dedup system 'finds' a pair iff it co-clusters it)."""
    c = clusters
    return (
        c.alias("l")
        .join(c.alias("r"), "cluster_id")
        .where(F.col("l.url") < F.col("r.url"))
        .select(F.col("l.url").alias("url_l"), F.col("r.url").alias("url_r"))
    )
