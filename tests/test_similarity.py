"""Similarity search: brute-force cosine top-k vs numpy oracle; LSH path
recall on planted near-identical vectors."""

from __future__ import annotations

import numpy as np
import pytest

from bigtrees_spark.operators.similarity import brute_force_topk, lsh_neardup_pairs

DIM = 16


@pytest.fixture(scope="module")
def vectors():
    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, DIM)).astype(np.float32)
    # plant 10 near-dup pairs: id 100+i is a tiny perturbation of id i
    near = base[:10] + 0.01 * rng.standard_normal((10, DIM)).astype(np.float32)
    ids = list(range(40)) + [100 + i for i in range(10)]
    mat = np.vstack([base, near])
    return ids, mat


@pytest.fixture(scope="module")
def vec_df(spark, vectors):
    ids, mat = vectors
    return spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in zip(ids, mat)],
        "vec_id long, embedding array<float>",
    ).cache()


def test_brute_force_topk_matches_numpy(spark, vec_df, vectors):
    ids, mat = vectors
    queries = vec_df.where("vec_id < 5")
    got = brute_force_topk(queries, vec_df, k=3).collect()

    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = norm @ norm.T
    id_arr = np.array(ids)
    for q in range(5):
        qi = ids.index(q)
        order = [
            (ids[j], float(sims[qi, j]))
            for j in np.argsort(-sims[qi])
            if ids[j] != q
        ][:3]
        got_q = sorted([r for r in got if r.query_id == q], key=lambda r: r.rank)
        assert [r.neighbor_id for r in got_q] == [i for i, _ in order]
        for r, (_, s) in zip(got_q, order):
            assert abs(r.cosine - s) < 1e-5


def test_topk_excludes_self(vec_df):
    got = brute_force_topk(vec_df.where("vec_id < 3"), vec_df, k=5).collect()
    assert all(r.neighbor_id != r.query_id for r in got)


def test_lsh_neardup_finds_planted(vec_df):
    pairs = {
        (r.id_l, r.id_r)
        for r in lsh_neardup_pairs(vec_df, cosine_threshold=0.95, dim=DIM).collect()
    }
    planted = {(i, 100 + i) for i in range(10)}
    found = len(pairs & planted)
    assert found >= 9  # LSH recall on eps-perturbed pairs


def test_lsh_neardup_hot_bucket_keeps_connectivity(spark):
    """A hyperplane bucket larger than max_bucket (here: 30 copies of the
    SAME vector, every band collides) must NOT lose all its pairs — the old
    behavior filtered over-cap buckets out entirely; the shared skew-capped
    core rank-chains them so identical vectors stay connected."""
    rng = np.random.default_rng(3)
    v = rng.standard_normal(DIM).astype(np.float32)
    rows = [(int(i), [float(x) for x in v]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = [
        (r.id_l, r.id_r)
        for r in lsh_neardup_pairs(
            df, cosine_threshold=0.99, dim=DIM, max_bucket=5
        ).collect()
    ]
    assert len(got) > 0, "over-cap bucket must not lose all pairs"

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in got:
        parent[find(a)] = find(b)
    roots = {find(i) for i in range(30)}
    assert len(roots) == 1, f"identical vectors split across {len(roots)} components"


def test_lsh_neardup_records_skew_metrics(spark):
    """Cap fires land in the run report under skew stage 'lsh_ann', like
    every other capped pairing stage (SURVEY §7: skew measured, not assumed)."""
    from bigtrees_spark.plans.runmeta import RunScope

    rng = np.random.default_rng(3)
    v = rng.standard_normal(DIM).astype(np.float32)
    rows = [(int(i), [float(x) for x in v]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with RunScope(spark, "ann") as rs:
        lsh_neardup_pairs(df, cosine_threshold=0.99, dim=DIM, max_bucket=5, rs=rs).count()
        skew = {e["stage"]: e for e in rs.report()["skew"]}
    assert "lsh_ann" in skew
    s = skew["lsh_ann"]
    assert s["cap"] == 5
    assert s["n_overcap"] > 0, "the cap fired; metrics must say so"
    assert s["max_bucket"] >= 30


def test_lsh_neardup_small_buckets_unchanged_by_core_swap(spark, vec_df):
    """With a huge cap the shared-core path must equal the brute-force
    cosine-threshold pairs RESTRICTED to co-bucketed candidates — on this
    fixture the planted twins all co-bucket, so the planted set is exact."""
    pairs = {
        (r.id_l, r.id_r)
        for r in lsh_neardup_pairs(
            vec_df, cosine_threshold=0.95, dim=DIM, max_bucket=10**6
        ).collect()
    }
    planted = {(i, 100 + i) for i in range(10)}
    assert len(pairs & planted) >= 9
    # every returned pair is l < r exactly once
    assert all(a < b for a, b in pairs)
    assert len(pairs) == len({tuple(sorted(p)) for p in pairs})


def _ivf_recall(exact, approx) -> float:
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(exact_sets[q_] & approx_sets.get(q_, set())) for q_ in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    return hits / total


def test_ivf_topk_high_recall_vs_brute_force(spark, vec_df):
    from bigtrees_spark.operators.similarity import ivf_topk

    q = vec_df.where("vec_id < 5")
    exact = brute_force_topk(q, vec_df, k=3).collect()
    # k-means-trained quantizer (default): tight recall gate at n_probe=4/8
    approx = ivf_topk(q, vec_df, k=3, dim=DIM, n_centroids=8, n_probe=4).collect()
    assert _ivf_recall(exact, approx) >= 0.95


def test_ivf_trained_beats_untrained(spark, vec_df):
    from bigtrees_spark.operators.similarity import ivf_topk

    q = vec_df.where("vec_id < 5")
    exact = brute_force_topk(q, vec_df, k=3).collect()
    trained = ivf_topk(q, vec_df, k=3, dim=DIM, n_centroids=8, n_probe=4).collect()
    untrained = ivf_topk(
        q, vec_df, k=3, dim=DIM, n_centroids=8, n_probe=4, train=False
    ).collect()
    assert _ivf_recall(exact, trained) >= _ivf_recall(exact, untrained)


def test_fit_centroids_are_unit_norm_and_deterministic(spark, vec_df):
    import numpy as np

    from bigtrees_spark.operators.similarity import fit_ivf_centroids

    c1 = fit_ivf_centroids(vec_df, DIM, n_centroids=8, seed=7)
    c2 = fit_ivf_centroids(vec_df, DIM, n_centroids=8, seed=7)
    assert c1.shape == (8, DIM)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0, atol=1e-5)
    assert np.array_equal(c1, c2)
    # layout invariance: the hash-ordered sample must not depend on
    # partitioning/row order (ADVICE r02: sample().limit() was layout-bound)
    c3 = fit_ivf_centroids(
        vec_df.repartition(13).sortWithinPartitions("vec_id"), DIM, n_centroids=8, seed=7
    )
    assert np.array_equal(c1, c3)


def test_ivf_planted_neardups_found(spark, vec_df):
    """The planted eps-perturbed twin is ~always in the same IVF list."""
    from bigtrees_spark.operators.similarity import ivf_topk

    q = vec_df.where("vec_id >= 100")  # the 10 perturbed twins
    got = ivf_topk(q, vec_df, k=1, dim=DIM, n_centroids=8, n_probe=3).collect()
    hit = sum(1 for r in got if r.neighbor_id == r.query_id - 100)
    assert hit >= 8


# --- input boundary and undefined cosines -----------------------------------


def test_zero_vectors_complete_through_lsh_and_ivf(spark):
    """Zero vectors share every hyperplane bucket and score 0/0.  Under
    ANSI mode the JVM fold failed the whole job with DIVIDE_BY_ZERO; the
    kernel scores NaN, which never passes the LSH threshold and ranks last
    in IVF."""
    import math

    from bigtrees_spark.operators.similarity import ivf_topk

    df = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [0.0] * 4), (2, [1.0, 2.0, 3.0, 4.0]), (3, [1.0, 2.0, 3.0, 4.5])],
        "vec_id long, embedding array<double>",
    )
    pairs = {(r.id_l, r.id_r) for r in lsh_neardup_pairs(df, 0.5, dim=4).collect()}
    assert (0, 1) not in pairs and (2, 3) in pairs
    got = ivf_topk(
        df.where("vec_id = 0"), df, k=3, dim=4, n_centroids=2, n_probe=2
    ).collect()
    assert got and all(math.isnan(r.cosine) for r in got)


def test_null_ids_are_dropped(spark):
    from bigtrees_spark.operators.similarity import ivf_topk

    df = spark.createDataFrame(
        [(None, [1.0, 0.0]), (1, [1.0, 0.1]), (2, [0.9, 0.0]), (3, [1.0, 0.05])],
        "vec_id long, embedding array<float>",
    )
    for rows in (
        brute_force_topk(df, df, k=5).collect(),
        ivf_topk(df, df, k=5, dim=2, n_centroids=2, n_probe=2).collect(),
    ):
        assert rows and all(
            r.query_id is not None and r.neighbor_id is not None for r in rows
        )
    pairs = lsh_neardup_pairs(df, 0.5, dim=2).collect()
    assert pairs and all(r.id_l is not None and r.id_r is not None for r in pairs)


def test_null_elements_score_null(spark):
    """A null element makes the cosine null (the fold propagates nulls), on
    the brute-force scan and on the pair scorer alike; NaN stays NaN."""
    import math

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, None]), (2, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.neighbor_id: r.cosine
        for r in brute_force_topk(df.where("vec_id = 0"), df, k=5).collect()
    }
    assert got[1] is None and got[2] > 0.7

    from bigtrees_spark.operators.similarity import make_cosine_udf

    pairs = spark.createDataFrame(
        [
            ([1.0, None], [1.0, 0.0]),
            ([1.0, 0.0], [2.0, 0.0]),
            ([1.0, 0.0], [1.0]),
            (None, [1.0, 0.0]),
            ([0.0, 0.0], [0.0, 0.0]),
        ],
        "a array<float>, b array<float>",
    ).coalesce(1)
    c = [r.c for r in pairs.select(make_cosine_udf()("a", "b").alias("c")).collect()]
    assert c[0] is None and c[1] == 1.0 and c[2] is None and c[3] is None
    assert math.isnan(c[4])


def test_topk_ranks_nan_and_null_last(spark):
    """Spark sorts NaN above every number: a zero vector and a null-element
    vector used to push the true neighbour out of the top k."""
    import math

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, None]), (3, [1.0, 0.11]), (4, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    q = df.where("vec_id = 0")
    top2 = brute_force_topk(q, df, k=2).orderBy("rank").collect()
    assert [r.neighbor_id for r in top2] == [3, 4]
    assert top2[0].cosine > 0.99
    # undefined scores keep their values and tie-break on neighbor_id
    tail = brute_force_topk(q, df, k=4).orderBy("rank").collect()[2:]
    assert [r.neighbor_id for r in tail] == [1, 2]
    assert math.isnan(tail[0].cosine) and tail[1].cosine is None


def test_vector_types_at_the_boundary(spark):
    """array<int> raises a TypeError naming the column; float queries
    against a double corpus score like both sides cast to double."""
    from pyspark.sql import functions as F

    from bigtrees_spark.operators.similarity import ivf_topk

    ints = spark.createDataFrame([(0, [1, 2])], "vec_id long, emb array<int>")
    for call in (
        lambda: brute_force_topk(ints, ints, vec_col="emb"),
        lambda: lsh_neardup_pairs(ints, vec_col="emb", dim=2),
        lambda: ivf_topk(ints, ints, vec_col="emb", dim=2),
    ):
        with pytest.raises(TypeError, match="emb"):
            call()

    f32 = spark.createDataFrame(
        [(i, [0.1 * i, 1.0 / (i + 1), 0.3]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    f64 = f32.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    mixed = brute_force_topk(f32.where("vec_id < 2"), f64, k=3).collect()
    both = brute_force_topk(f64.where("vec_id < 2"), f64, k=3).collect()
    assert sorted(map(tuple, mixed)) == sorted(map(tuple, both))


def test_null_vectors_never_pair(spark):
    """A null embedding gets no band keys and no IVF list, so it pairs with
    nothing — as brute force gives it a null cosine.  The hyperplane UDF used
    to fail on `planes @ None` and the IVF centroid sample on `np.stack`."""
    from bigtrees_spark.operators.similarity import fit_ivf_centroids, ivf_topk

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, None), (2, [1.0, 2.0, 3.1]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    pairs = {(r.id_l, r.id_r) for r in lsh_neardup_pairs(df, 0.5, dim=3).collect()}
    assert pairs == {(0, 2)}
    for train in (True, False):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(df, df, k=3, dim=3, n_centroids=2, n_probe=2, train=train).collect()
        }
        assert got == {(0, 2), (2, 0)}
    C = fit_ivf_centroids(df, 3, n_centroids=2)
    assert C.shape == (2, 3) and np.isfinite(C).all()


def test_wrong_length_vector_raises_naming_the_column(spark):
    """A vector whose length is not `dim` fails loudly with the column name
    instead of a bare matmul/stack shape error."""
    from bigtrees_spark.operators.similarity import fit_ivf_centroids, ivf_topk

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0]), (2, [1.0, 2.0, 3.1])],
        "vec_id long, vec array<double>",
    )
    with pytest.raises(ValueError, match=r"'vec'.*length 2.*dim=3"):
        fit_ivf_centroids(df, 3, n_centroids=2, vec_col="vec")
    # inside a UDF the ValueError reaches the driver wrapped by Spark
    for call in (
        lambda: lsh_neardup_pairs(df, 0.5, vec_col="vec", dim=3).collect(),
        lambda: ivf_topk(df, df, vec_col="vec", dim=3, n_centroids=2, train=False).collect(),
    ):
        with pytest.raises(Exception, match=r"ValueError: column 'vec': vector of length 2"):
            call()
