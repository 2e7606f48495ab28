"""Connected components vs a union-find oracle on random graphs."""

from __future__ import annotations

import numpy as np
import pytest

from bigtrees_spark import oracle
from bigtrees_spark.operators.cc import attach_labels, connected_components


def _random_edges(n_nodes: int, n_edges: int, seed: int):
    rng = np.random.default_rng(seed)
    return [
        (f"n{int(a):04d}", f"n{int(b):04d}")
        for a, b in rng.integers(0, n_nodes, size=(n_edges, 2))
        if a != b
    ]


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(1, 50, 30), (2, 200, 150), (3, 500, 700)])
@pytest.mark.parametrize(
    "driver_threshold,pre_contract",
    [(0, True), (0, False), (10**9, True)],
)  # distributed w/ and w/o the contraction seed; driver path
def test_cc_matches_union_find(spark, seed, n_nodes, n_edges, driver_threshold, pre_contract):
    edges = _random_edges(n_nodes, n_edges, seed)
    df = spark.createDataFrame(edges, "url_l string, url_r string")
    got = {
        (r.url, r.cluster_id)
        for r in connected_components(
            df, driver_threshold=driver_threshold, pre_contract=pre_contract
        ).collect()
    }

    truth_df = oracle.clusters_from_pairs({(min(a, b), max(a, b)) for a, b in edges})
    truth = {(r.url, r.cluster_id) for r in truth_df.itertuples(index=False)}
    assert got == truth


def test_cc_pre_contract_fully_collapsing_graph(spark):
    """Disjoint twin pairs: the contraction resolves EVERY component, the
    residual graph is empty, and labels must still cover all nodes via the
    composition join (the defect the first experiment leg exposed)."""
    pairs = [(f"a{i:03d}", f"b{i:03d}") for i in range(50)]
    df = spark.createDataFrame(pairs, "url_l string, url_r string")
    got = {
        (r.url, r.cluster_id)
        for r in connected_components(df, driver_threshold=0, pre_contract=True).collect()
    }
    expect = {(a, a) for a, _ in pairs} | {(b, a) for a, b in pairs}
    assert got == expect


def test_cc_chain_and_star(spark):
    # long chain (worst case for naive propagation) + star + singleton pair
    chain = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(40)]
    star = [("s000", f"s{i:03d}") for i in range(1, 10)]
    df = spark.createDataFrame(chain + star, "url_l string, url_r string")
    labels = {r.url: r.cluster_id for r in connected_components(df).collect()}
    assert {labels[f"c{i:03d}"] for i in range(41)} == {"c000"}
    assert {labels[f"s{i:03d}"] for i in range(10)} == {"s000"}


def test_attach_labels_singletons(spark):
    docs = spark.createDataFrame([("a",), ("b",), ("c",)], "url string")
    labels = spark.createDataFrame([("b", "a"), ("a", "a")], "url string, cluster_id string")
    out = {(r.url, r.cluster_id) for r in attach_labels(docs, labels).collect()}
    assert out == {("a", "a"), ("b", "a"), ("c", "c")}


def test_cc_raises_without_fixpoint(spark):
    """Exhausting max_iter before the star fixpoint must RAISE: the label
    extraction assumes every edge is (node, root), so a non-fixpoint would
    silently split components."""
    path = [(f"p{i}", f"p{i+1}") for i in range(9)]  # 10-node path graph
    df = spark.createDataFrame(path, "url_l string, url_r string")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(df, max_iter=1, driver_threshold=0, pre_contract=False)


def test_scoped_cc_holds_two_rounds_and_releases_all(spark, cache_state, monkeypatch):
    """The star loop holds at most two round checkpoints (round k is freed
    once round k+1 has materialized), tags every round `cc.star`, and the
    scope frees the final round and the pre-contraction map on close."""
    from bigtrees_spark.operators import cc
    from bigtrees_spark.plans.runmeta import RunScope

    rdds = spark.sparkContext._jsc.getPersistentRDDs
    held = []
    checksum = cc._checksum

    def sampling_checksum(e):
        held.append(sum(r.rdd().isLocallyCheckpointed() for r in rdds().values()))
        return checksum(e)

    monkeypatch.setattr(cc, "_checksum", sampling_checksum)
    chain = [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(299)]
    df = spark.createDataFrame(chain, "url_l string, url_r string")
    with RunScope(spark, "cc") as rs:
        labels = {r.cluster_id for r in cc.connected_components(df, driver_threshold=0, rs=rs).collect()}
        rounds = [s for s in rs.report()["spans"] if s["stage"] == "cc.star"]
    assert labels == {"n0000"}
    assert len(held) > 3 and max(held) <= 2, held
    assert len(rounds) == len(held) - 1  # one checksum before the loop
    assert all(r["jobs"] > 0 and r["shuffle_write_bytes"] > 0 for r in rounds)
    assert cache_state() == (True, 0)


def test_distributed_result_read_after_close_fails_loudly(spark):
    """A released checkpoint has no lineage to recompute from: reading a
    distributed-CC result after its scope closed must fail, not mislabel."""
    from bigtrees_spark.plans.runmeta import RunScope

    df = spark.createDataFrame([(f"p{i}", f"p{i + 1}") for i in range(9)], "url_l string, url_r string")
    with RunScope(spark, "cc") as rs:
        labels = connected_components(df, driver_threshold=0, pre_contract=False, rs=rs)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        labels.collect()


def test_driver_cc_shuffled_chain_is_fast(spark):
    """A 100k-node chain whose links run in shuffled url order, through the
    default (driver) path.  Edge relaxation with one pointer jump per round
    needs a round per few links on such a chain (~40k rounds, ~50 s on a
    4-core host); min-root hooking with full path compression needs ~10."""
    import time

    import pandas as pd

    n = 100_000
    perm = np.random.default_rng(7).permutation(n)
    names = np.array([f"n{i:06d}" for i in range(n)])
    pdf = pd.DataFrame({"url_l": names[perm[:-1]], "url_r": names[perm[1:]]})
    df = spark.createDataFrame(pdf, "url_l string, url_r string")

    t0 = time.perf_counter()
    got = connected_components(df).toPandas()
    wall = time.perf_counter() - t0

    pairs = {(min(a, b), max(a, b)) for a, b in zip(pdf.url_l, pdf.url_r)}
    truth = oracle.clusters_from_pairs(pairs)
    assert got.sort_values("url").reset_index(drop=True).equals(truth)
    assert wall < 8.0, f"driver CC took {wall:.1f}s on a 100k-node chain"
