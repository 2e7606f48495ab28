"""Connected components over an edge DataFrame: alternating large-star /
small-star (Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14 — public algorithm; see PAPERS.md), the scalable generalization of the
reference's dupe grouping where components are identified by a shared exact
hash key (/root/reference/lib/System/Directory/BigTrees/DupeMap.hs:72-126).

Design for 10^12-node scale:
  * node ids are the url STRINGS and the component label is min(url) — fully
    deterministic under any partitioning/row order (SURVEY.md §7), no
    64-bit-hash collision risk at 10^12 docs;
  * every iteration is two shuffles (groupBy src); lineage is truncated with
    localCheckpoint() each round so the plan doesn't grow unboundedly;
  * convergence = edge multiset fixpoint, checked with a cheap count +
    xxhash64 checksum aggregate (no collect of edges);
  * large-star/small-star converges in O(log n) rounds and both operations
    load-balance high-degree nodes by construction (each emits at most one
    edge per (node, neighbor)).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from bigtrees_spark.plans.runmeta import RunScope


def _symmetric(edges: DataFrame) -> DataFrame:
    return edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(edges: DataFrame) -> DataFrame:
    """For each u: m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u."""
    nbrs = _symmetric(edges)
    m = nbrs.groupBy("u").agg(F.min("v").alias("mv"))
    m = m.withColumn("m", F.least(F.col("mv"), F.col("u"))).select("u", "m")
    return (
        nbrs.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct edges high->low; for each u: m = min(smaller-nbrs ∪ {u});
    emit (v, m) for those neighbors plus (u, m)."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    m = directed.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        directed.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(m.select(F.col("u"), F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    return out


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


# env override so scaling measurements can pin the distributed path (the one
# a real multi-executor cluster runs — driver union-find is impossible at
# 10^12 docs); adaptive default everywhere else
DRIVER_CC_MAX_EDGES = int(os.environ.get("SPARK_GRAFT_DRIVER_CC_MAX_EDGES", 2_000_000))


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    driver_threshold: int | None = None,
    pre_contract: bool = True,
    rs=None,
) -> DataFrame:
    """edges(url_l, url_r) -> labels(url, cluster_id) for every node that
    appears in an edge.  cluster_id = min(url) of the component.

    Adaptive strategy (same spirit as Spark's broadcast-join threshold): when
    the deduped edge set is small enough to fit on the driver, a local
    union-find answers in one job instead of O(log n) shuffle rounds; above
    the threshold, the distributed large-star/small-star loop runs.  Both
    paths produce identical labels (tests force driver_threshold=0 to gate
    the distributed path).  At 10^12-doc scale the distributed path is the
    one that runs; the driver path keeps incremental/small-partition runs
    from paying 10+ scheduler round-trips for kilobyte graphs.

    pre_contract (distributed path only): one min-label contraction pass
    before the star loop — m(u) = min(N(u) u {u}), every edge rewritten to
    (m(u), m(v)), self-loops dropped, labels composed back through m at the
    end.  Near-dup graphs are dominated by tiny components (twin pairs,
    short chains), which the contraction resolves ENTIRELY, so the star
    loop only sees the residual multi-hop structure (measured on the
    1.28M-doc corpus: 380k edges -> 514 residual nodes, identical labels,
    2.1x faster end-to-end; BASELINE.md).
    Correctness: m(u) is in u's component, contraction preserves component
    structure, and the component's global min maps to itself — so
    inner-label(m(u)) IS min(component(u)).

    rs (optional runmeta.RunScope) owns the caches this call leaves behind:
    the pre-contraction map m, which the returned label frame reads lazily,
    and the final star round's checkpoint.  Release it only after the
    labels are consumed: a distributed-path result read after rs.close()
    fails (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).  Jobs are tagged `cc`, and
    each star round `cc.star`, so rs.report() gives the rounds and their
    shuffle bytes.  Without rs the call runs in a scope of its own that
    closes on return: m is released (the returned frame recomputes it once
    from lineage) and the final checkpoint, which nothing can recompute, is
    left to Spark's ContextCleaner.  The entry edge set's cache is released
    at its last consumer (driver collect / recursion's entry count / first
    star round); round k's checkpoint is released as soon as round k+1 has
    materialized, so at most two rounds are held at a time.

    Recoverability (north_rule: resumable at cluster scale): the entry edge
    set and the pre-contraction map are persist()ed, NOT localCheckpoint()ed
    — both are corpus-scale frames, and an unreplicated checkpoint deletes
    lineage, so one lost executor between materialization and last
    consumption would fail the job unrecoverably; a persisted frame
    recomputes lost partitions from lineage.  localCheckpoint survives ONLY
    inside the star loop, where truncating the per-round residual graph's
    lineage is the point (each round's frame is consumed within the round).
    """
    if rs is None:
        with RunScope(edges.sparkSession, "connected_components") as own:
            labels = connected_components(
                edges, max_iter, driver_threshold, pre_contract, rs=own
            )
            own.close(keep_checkpoints=True)
            return labels
    if driver_threshold is None:
        driver_threshold = DRIVER_CC_MAX_EDGES
    with rs.stage("cc"):
        return _components(edges, max_iter, driver_threshold, pre_contract, rs)


def _components(edges, max_iter, driver_threshold, pre_contract, rs) -> DataFrame:
    e = rs.persist(
        edges.select(F.col("url_l").alias("u"), F.col("url_r").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # count()-then-collect, deliberately NOT a limit(threshold+1).toPandas()
    # probe: the probe shape was A/B'd in round 6 and lost — Arrow
    # collection of a limit plan executes as 5-8 incremental scale-up scans
    # (separate jobs, ~1.1 s total at bench scale) while count() is one
    # clean cache-materializing job and the follow-up toPandas reads the
    # cache in ~30 ms.
    if e.count() <= driver_threshold:
        # _driver_cc collects to pandas and rebuilds from the driver, so the
        # returned frame has no lineage on e — release the cache now
        out = _driver_cc(e)
        rs.release(e)
        return out
    if pre_contract:
        sym = _symmetric(e)
        m = sym.groupBy("u").agg(F.min("v").alias("mv"))
        m = rs.persist(m.select("u", F.least("u", "mv").alias("m")))
        m.count()  # one deterministic materializing job before the fan-out
        contracted = (
            e.join(m.withColumnsRenamed({"u": "u0", "m": "mu"}), F.col("u") == F.col("u0"))
            .join(m.withColumnsRenamed({"u": "v0", "m": "mv2"}), F.col("v") == F.col("v0"))
            .select(F.col("mu").alias("url_l"), F.col("mv2").alias("url_r"))
            .where(F.col("url_l") != F.col("url_r"))
        )
        # recurse once (pre_contract=False): the residual graph re-enters the
        # adaptive split, so a fully-collapsed graph answers via the driver
        # path and a still-huge one runs the star loop
        inner = _components(contracted, max_iter, driver_threshold, False, rs)
        # the recursion eagerly materialized its own entry frame (its first
        # count), which was e's last consumer — release e's cache; a later
        # recompute (cache miss in inner) walks e's preserved lineage
        rs.release(e)
        return m.join(inner.withColumnsRenamed({"url": "m"}), "m", "left").select(
            F.col("u").alias("url"),
            F.coalesce(F.col("cluster_id"), F.col("m")).alias("cluster_id"),
        )
    prev = _checksum(e)
    for _ in range(max_iter):
        # ONE materialization per round: large-star -> small-star fuse into a
        # single lineage (their joins chain fine inside one adaptive query);
        # checkpointing each half-step separately doubled the per-round
        # barrier count, which is what dominates CC wall time when the graph
        # is small relative to the round overhead.
        with rs.stage("cc.star"):
            nxt = rs.checkpoint(_small_star(_large_star(e)))
            # the eager checkpoint was the last consumer of the previous
            # round's checkpoint (or, in round one, of the entry cache)
            rs.release(e)
            e = nxt
            cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        # the label extraction below assumes the star-shaped fixpoint (every
        # edge is (node, root)); returning labels from a non-fixpoint would
        # silently SPLIT components — refuse instead
        raise RuntimeError(
            f"connected_components: no fixpoint after max_iter={max_iter} "
            "star rounds (expected ~log2(diameter) rounds; raise max_iter)"
        )
    # fixpoint: every edge is (node, root). nodes that ARE roots label themselves
    labels = e.select(F.col("u").alias("url"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("url")).distinct().withColumn(
        "cluster_id", F.col("url")
    )
    return labels.unionByName(roots).groupBy("url").agg(
        F.min("cluster_id").alias("cluster_id")
    )


def _driver_cc(e: DataFrame) -> DataFrame:
    """Local CC over a collected edge DataFrame (small-graph fast path);
    see _driver_cc_pdf for the solver."""
    return _driver_cc_pdf(e.sparkSession, e.toPandas())


def _driver_cc_pdf(spark, pdf_e) -> DataFrame:
    """Local CC over an already-collected pandas edge list.

    Vectorized numpy min-root hooking with full path compression — NOT a
    Python-loop union-find: this path is the pipeline's one serial stage, and
    the dict-based union-find measured ~30-45 s at 1.5M edges (the dominant
    Amdahl term in the scaling grid, BASELINE.md).  Each round hooks, for
    every edge whose endpoints sit under different roots, the larger root
    onto the smaller (np.minimum.at over the edges' current roots), then
    compresses every pointer to its root (p = p[p] until stable).  A parent
    is never larger than its child, so each root is its component's minimum
    node.  The round count stays small whatever order the nodes come in (a
    100k-node chain in shuffled url order: 10 rounds, 0.02 s of numpy on one
    core); relaxing edges with one pointer jump per round instead needs
    rounds in proportion to the chain's length in label order (~40k rounds,
    80 s, on the same chain).

    np.unique returns nodes SORTED, so index order == lexicographic url
    order and the min-index root IS the min-url cluster id — identical
    labels to the union-find it replaces (tests/test_cc.py gates both paths
    against an independent union-find oracle).
    """
    import numpy as np
    import pandas as pd

    if len(pdf_e) == 0:
        return spark.createDataFrame([], schema="url string, cluster_id string")
    u = pdf_e["u"].to_numpy()
    v = pdf_e["v"].to_numpy()
    nodes, codes = np.unique(np.concatenate([u, v]), return_inverse=True)
    ue, ve = codes[: len(u)], codes[len(u) :]
    label = np.arange(len(nodes), dtype=np.int64)
    while True:
        ru, rv = label[ue], label[ve]
        split = ru != rv
        if not split.any():
            break
        np.minimum.at(label, np.maximum(ru, rv)[split], np.minimum(ru, rv)[split])
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
    pdf = pd.DataFrame({"url": nodes, "cluster_id": nodes[label]})
    # Arrow-path createDataFrame: ~10x faster than row-tuple conversion
    return spark.createDataFrame(pdf, schema="url string, cluster_id string")


def attach_labels(docs: DataFrame, labels: DataFrame, url_col: str = "url") -> DataFrame:
    """clusters(url, cluster_id) over ALL docs: unlabeled nodes are singleton
    clusters labeled by their own url."""
    return docs.join(labels, docs[url_col] == labels["url"], "left").select(
        docs["*"],
        F.coalesce(labels["cluster_id"], docs[url_col]).alias("cluster_id"),
    )
