"""Similarity search over an embedding column (array<float> or array<double>).

Generalizes the reference's "same fingerprint => duplicate" to continuous
fingerprints: embedding-cosine near-dup pairs and top-k nearest neighbors.

Every cosine is computed by ONE numpy kernel (kernels.cosine — the op
sequence of Spark's aggregate(zip_with) fold, so bit-identical to it) from
one of two Arrow entry points:
  * brute-force cosine top-k — the exactness baseline.  One mapInArrow scan
    of the corpus with the (small) query set in the task closure
    (_score_corpus_arrow); the top-k is a partition-local bounded rank
    (_topk_per_query).  Cost O(Q x N) — correct tool when Q is small (a
    query batch) even at huge N.
  * pair scoring (make_cosine_udf) — an Arrow UDF over two vector columns,
    behind the LSH-bucketed path — random-hyperplane signatures (SimHash for
    vectors, Charikar'02): b x r sign bits per vector; bucket-join on band
    keys, exact cosine re-rank inside buckets; sub-linear candidate
    generation at 10^12-vector scale, same skew controls as the text LSH —
    and behind the IVF re-rank.
All three operators take their input through _embedding_inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from bigtrees_spark.functions import kernels
from bigtrees_spark.session import spark_memo


def _embedding_inputs(id_col: str, vec_col: str, *frames: DataFrame) -> list:
    """The scorers' shared input boundary: each frame projected to
    (id_col, vec_col) with null-id rows dropped.

    Vectors must be array<float> or array<double>; when the frames disagree,
    all are cast to double — Spark widens float * double the same way, so no
    value changes.  Any other type raises TypeError naming the column."""
    elems = set()
    for df in frames:
        t = df.schema[vec_col].dataType
        if not (
            isinstance(t, ArrayType)
            and isinstance(t.elementType, (FloatType, DoubleType))
        ):
            raise TypeError(
                f"column {vec_col!r} must be array<float> or array<double>, "
                f"got {t.simpleString()}"
            )
        elems.add(t.elementType.simpleString())
    vec = F.col(vec_col)
    if len(elems) > 1:
        vec = vec.cast("array<double>").alias(vec_col)
    return [df.where(F.col(id_col).isNotNull()).select(id_col, vec) for df in frames]


def _vectors(col: pa.ListArray):
    """An Arrow list column as (matrix, None) when every row is a non-null
    vector of one length with no null element, else (None, rows): one
    array per row, None for a null vector or one holding a null element
    (the fold the kernel mirrors propagates nulls to the cosine)."""
    flat = col.flatten()
    if col.null_count == 0 and flat.null_count == 0:
        lens = np.diff(np.asarray(col.offsets))
        d = int(lens[0]) if len(lens) else 0
        if (lens == d).all():
            return np.asarray(flat).reshape(len(col), d), None
    dtype = col.type.value_type.to_pandas_dtype()
    return None, [
        None if v is None or None in v else np.asarray(v, dtype=dtype)
        for v in col.to_pylist()
    ]


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """EXACT per-query top-k with bounded memory at every stage.

    One rank window with a row_number <= k filter.  Spark 3.5+ plans this as
    WindowGroupLimit(Partial) BEFORE the exchange — each map task keeps only
    its partition-local top-k per query — then WindowGroupLimit(Final) after
    it, so the post-shuffle task sees <= n_partitions * k rows per query and
    no task ever buffers a query's full candidate list.  Exactness: the
    global top-k by (cosine desc, neighbor_id asc) is a subset of the
    per-partition top-ks by the same order, and the final window re-ranks
    those survivors.

    Undefined cosines (NaN from a zero or empty vector, null from a null
    element or a length mismatch) rank after every number — Spark alone
    sorts NaN above +inf — and keep their value in the output row."""
    sc = scored.select("query_id", "neighbor_id", "cosine")
    defined = F.nanvl("cosine", F.lit(None).cast("double"))
    w = Window.partitionBy("query_id").orderBy(
        defined.desc_nulls_last(), F.asc("neighbor_id")
    )
    return (
        sc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries is expected to be small: it is collected and rides in the task
    closure of one scan over the corpus (_score_corpus_arrow), so the corpus
    is never joined or shuffled.  The per-query top-k goes through the
    bounded rank (_topk_per_query) so a handful of queries against a
    10^12-vector corpus never serializes each query's scores into one sort
    task.  Self-matches (same id) are excluded.
    """
    queries, corpus = _embedding_inputs(id_col, vec_col, queries, corpus)
    return _topk_per_query(_score_corpus_arrow(queries, corpus), k)


def _score_corpus_arrow(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """All (query, corpus) cosine scores of two (id, vector) frames via ONE
    mapInArrow pass over the corpus, queries riding in the task closure.

    Guide §8 shape: the corpus — the heavy side — is never joined, shuffled,
    or materialized per pair; each task streams its partition once and emits
    skinny (query_id, neighbor_id, cosine) rows.  Collecting the queries is
    the same boundedness assumption a broadcast join makes.

    Scores come from kernels.cosine with corpus norms hoisted per batch and
    query norms per run.  A null vector, a null element or mismatched
    lengths give a null cosine; zero or empty vectors give NaN.  Id types
    come from the data: the query ids as collected, the corpus ids as
    streamed, each `take`n into the output unchanged.
    """
    import pyarrow.compute as pc

    qt = queries.toArrow()
    q_ids = qt.column(0).combine_chunks()
    q_mat, q_rows = _vectors(qt.column(1).combine_chunks())
    q_vecs = q_rows if q_mat is None else list(q_mat)
    q_norms = [None if v is None else kernels.l2_norms(v) for v in q_vecs]

    def one_query(qv, qn, mat, rows, norms, n):
        # (cosine, defined) of one query against every row of a batch
        if mat is not None:
            if qv is None or len(qv) != mat.shape[1]:
                return np.full(n, np.nan), np.zeros(n, dtype=bool)
            return kernels.cosine(mat, qv, norms, qn), np.ones(n, dtype=bool)
        cos, ok = np.full(n, np.nan), np.zeros(n, dtype=bool)
        for i, (cv, cn) in enumerate(zip(rows, norms)):
            if qv is not None and cv is not None and len(cv) == len(qv):
                cos[i], ok[i] = kernels.cosine(cv, qv, cn, qn), True
        return cos, ok

    def score(batches):
        nq = len(q_vecs)
        for batch in batches:
            ids = batch.column(0)
            n = len(ids)
            mat, rows = _vectors(batch.column(1))
            if mat is not None:
                norms = kernels.l2_norms(mat)
            else:
                norms = [None if v is None else kernels.l2_norms(v) for v in rows]
            # (query, row) cells to emit: self-matches excluded, as the join
            # this scan replaced did
            keep = np.array(
                [pc.not_equal(ids, qid).to_numpy(zero_copy_only=False) for qid in q_ids],
                dtype=bool,
            ).reshape(nq, n)
            scores = [
                one_query(qv, qn, mat, rows, norms, n) for qv, qn in zip(q_vecs, q_norms)
            ]
            cos = np.array([c for c, _ in scores]).reshape(nq, n)[keep]
            ok = np.array([v for _, v in scores], dtype=bool).reshape(nq, n)[keep]
            qi, ni = np.nonzero(keep)  # query-major
            yield pa.RecordBatch.from_arrays(
                [
                    q_ids.take(qi),
                    ids.take(ni),
                    pa.array(cos, mask=~ok, type=pa.float64()),
                ],
                names=["query_id", "neighbor_id", "cosine"],
            )

    schema = StructType(
        [
            StructField("query_id", queries.schema[0].dataType),
            StructField("neighbor_id", corpus.schema[0].dataType),
            StructField("cosine", DoubleType()),
        ]
    )
    return corpus.mapInArrow(score, schema)


@spark_memo
def make_cosine_udf():
    """Arrow UDF (a, b) -> cosine of each row's two vectors (kernels.cosine).

    One uniform-length batch scores as two matrices; otherwise row by row,
    with a null cosine where either vector is null, holds a null element,
    or the lengths differ — the zip_with fold's null padding."""

    @F.arrow_udf(DoubleType())
    def cosine(a: pa.Array, b: pa.Array) -> pa.Array:
        ma, ra = _vectors(a)
        mb, rb = _vectors(b)
        if ma is not None and mb is not None and ma.shape[1] == mb.shape[1]:
            return pa.array(kernels.cosine(ma, mb), type=pa.float64())
        ra = ra if ma is None else list(ma)
        rb = rb if mb is None else list(mb)
        return pa.array(
            [
                None if x is None or y is None or len(x) != len(y)
                else float(kernels.cosine(x, y))
                for x, y in zip(ra, rb)
            ],
            type=pa.float64(),
        )

    return cosine


def _dense_rows(vecs, dim: int, vec_col: str):
    """(matrix of the non-null vectors as float32, their positions): a null
    vector has no direction, so it gets no bucket and never pairs.  A vector
    whose length is not `dim` raises ValueError naming the column — hashing
    it would bucket garbage."""
    keep = [i for i, v in enumerate(vecs) if v is not None]
    rows = [np.asarray(vecs[i], dtype=np.float32) for i in keep]
    for r in rows:
        if r.shape != (dim,):
            raise ValueError(
                f"column {vec_col!r}: vector of length {r.size}, expected dim={dim}"
            )
    return (np.stack(rows) if rows else np.zeros((0, dim), np.float32)), keep


def make_hyperplane_udf(dim: int, n_bits: int = 128, seed: int = 42, vec_col: str = "embedding"):
    """pandas UDF: embedding -> array of band keys from random-hyperplane sign
    bits (Charikar'02 random projection LSH); null for a null embedding.
    Hyperplanes are regenerated deterministically from the seed on every
    executor — nothing to broadcast."""
    n_bands = n_bits // 16  # 16 sign bits per band key

    @F.pandas_udf(ArrayType(LongType()))
    def hyperplane_bands(vecs: pd.Series) -> pd.Series:
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((n_bits, dim)).astype(np.float32)
        mat, keep = _dense_rows(vecs.tolist(), dim, vec_col)
        out = [None] * len(vecs)
        for i, x in zip(keep, mat):
            bits = (planes @ x) > 0  # (n_bits,)
            keys = []
            for band in range(n_bands):
                chunk = bits[band * 16 : (band + 1) * 16]
                val = int(np.packbits(chunk).view(np.uint16)[0]) if len(chunk) == 16 else 0
                keys.append((band << 32) | val)
            out[i] = keys
        return pd.Series(out, dtype=object)

    return hyperplane_bands


def lsh_neardup_pairs(
    vectors: DataFrame,
    cosine_threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 128,
    seed: int = 42,
    max_bucket: int = 500,
    rs=None,
) -> DataFrame:
    """Embedding near-dup pairs: hyperplane-LSH buckets -> within-bucket pairs
    -> exact cosine verify.  Returns (id_l, id_r, cosine >= threshold).

    Pairing goes through the SAME skew-capped core as the text LSH and SimHash
    paths (lsh._skewcapped_pairs): buckets <= max_bucket pair all-ways in
    one window pass (no self-join); hot buckets — e.g. many
    near-zero or duplicated embeddings collapsing onto one hyperplane cell —
    degrade to rank-adjacent pairs instead of being dropped, so a monster
    bucket stays CONNECTED for any downstream clustering and the cap firing
    is reported as skew entry 'lsh_ann' when a runmeta.RunScope is passed
    as rs.  The item is struct(id, v), so both
    vectors ride out of the pairing stage and the cosine verify (the shared
    pair scorer, make_cosine_udf) needs no join back to the corpus.  A NaN
    or null cosine never passes the threshold.
    """
    from bigtrees_spark.operators import lsh

    (vectors,) = _embedding_inputs(id_col, vec_col, vectors)
    bands_udf = make_hyperplane_udf(dim, n_bits, seed, vec_col)
    # project-then-struct: field names come from the projection
    items = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.explode(bands_udf(F.col(vec_col))).alias("band_key"),
    ).select(F.struct("id", "v").alias("item"), "band_key")
    pairs = lsh._skewcapped_pairs(
        items, ["band_key"], max_bucket, rs=rs, skew_name="lsh_ann"
    ).select(
        F.col("l.id").alias("id_l"),
        F.col("r.id").alias("id_r"),
        make_cosine_udf()(F.col("l.v"), F.col("r.v")).alias("cosine"),
    )
    # an undefined cosine (NaN: zero vectors share every bucket) is no match
    return pairs.where((F.col("cosine") >= cosine_threshold) & ~F.isnan("cosine"))


def fit_ivf_centroids(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 64,
    vec_col: str = "embedding",
    seed: int = 7,
    sample_size: int = 20_000,
    n_iter: int = 8,
) -> np.ndarray:
    """Spherical k-means on a driver-side sample: the standard IVF coarse
    quantizer training (Lloyd iterations, cosine assignment, re-normalized
    mean update; empty clusters re-seeded from the sample).

    A sample fit is the canonical IVF recipe (FAISS trains on a subset too):
    at 10^12 vectors the quantizer sees a few 10^4 rows once, then ships to
    executors inside the UDF closure (n_centroids x dim floats — KBs to MBs).

    Sampling is a seed-keyed hash-ordered top-N (TakeOrderedAndProject): ONE
    pass, no full-corpus count() job, and deterministic across runs and
    partition layouts — sample(frac).limit(n) was layout-dependent and needed
    a prior count() to size the fraction.
    """
    sample = (
        corpus.select(vec_col)
        .orderBy(F.xxhash64(F.lit(seed), vec_col))
        .limit(sample_size)
    ).toPandas()
    rng = np.random.default_rng(seed)
    X, _ = _dense_rows(sample[vec_col].tolist(), dim, vec_col)
    if len(X) == 0:
        C = rng.standard_normal((n_centroids, dim)).astype(np.float32)
        return C / np.linalg.norm(C, axis=1, keepdims=True)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    X = X / norms

    # k-means++ init (Arthur & Vassilvitskii '07), cosine distance = 1 - sim:
    # spread seeds proportionally to distance from the chosen set — materially
    # better coarse cells than uniform seeding at small n_centroids
    k_eff = min(n_centroids, len(X))
    first = int(rng.integers(len(X)))
    chosen = [first]
    d2 = np.maximum(1.0 - X @ X[first], 0.0) ** 2
    for _ in range(1, k_eff):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(len(X), 1.0 / len(X))
        nxt = int(rng.choice(len(X), p=probs))
        chosen.append(nxt)
        d2 = np.minimum(d2, np.maximum(1.0 - X @ X[nxt], 0.0) ** 2)
    C = X[chosen]
    if len(C) < n_centroids:  # tiny corpora: pad with random directions
        pad = rng.standard_normal((n_centroids - len(C), dim)).astype(np.float32)
        C = np.vstack([C, pad / np.linalg.norm(pad, axis=1, keepdims=True)])

    for _ in range(n_iter):
        assign = np.argmax(X @ C.T, axis=1)  # cosine: both sides unit-norm
        newC = np.zeros_like(C)
        for j in range(n_centroids):
            members = X[assign == j]
            if len(members) == 0:
                newC[j] = X[rng.integers(len(X))]  # re-seed empty cluster
            else:
                m = members.mean(axis=0)
                nm = np.linalg.norm(m)
                newC[j] = m / nm if nm > 0 else C[j]
        if np.allclose(newC, C, atol=1e-6):
            C = newC
            break
        C = newC
    return C.astype(np.float32)


def make_centroid_udf(
    dim: int,
    n_centroids: int = 64,
    n_probe: int = 2,
    seed: int = 7,
    centroids: np.ndarray | None = None,
    vec_col: str = "embedding",
):
    """pandas UDF: embedding -> its n_probe nearest coarse-centroid ids (null
    for a null embedding, so it joins no list).

    With `centroids` (from fit_ivf_centroids) the trained quantizer ships to
    executors in the UDF closure.  Without, DETERMINISTIC random centroids
    are regenerated from the seed on every executor — the untrained fallback
    partitions the space like a coarse LSH (lower recall, zero fit cost)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, IntegerType

    trained = None if centroids is None else np.ascontiguousarray(centroids, dtype=np.float32)

    @F.pandas_udf(ArrayType(IntegerType()))
    def centroid_ids(vecs: pd.Series) -> pd.Series:
        if trained is not None:
            C = trained
        else:
            rng = np.random.default_rng(seed)
            C = rng.standard_normal((n_centroids, dim)).astype(np.float32)
            C /= np.linalg.norm(C, axis=1, keepdims=True)
        mat, keep = _dense_rows(vecs.tolist(), dim, vec_col)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (mat / norms) @ C.T                      # (batch, n_centroids)
        top = np.argsort(-sims, axis=1)[:, :n_probe]    # n_probe nearest lists
        out = [None] * len(vecs)
        for i, row in zip(keep, top):
            out[i] = row.astype("int32").tolist()
        return pd.Series(out, dtype=object)

    return centroid_ids


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_centroids: int = 64,
    n_probe: int = 2,
    seed: int = 7,
    train: bool = True,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k: IVF bucket join + exact cosine re-rank.

    Scale path for 10^12 vectors: corpus vectors live in their single nearest
    list (inverted file); each query probes its n_probe nearest lists, so the
    join touches ~n_probe/n_centroids of the corpus instead of all of it.
    Exact re-rank inside the probed lists (the shared pair scorer,
    make_cosine_udf) keeps ranking exact conditional on the probe — the
    standard IVF recall trade-off, tuned by n_probe.

    Centroids are k-means-trained on a corpus sample by default
    (fit_ivf_centroids); pass centroids= to reuse a fitted quantizer across
    runs, or train=False for the untrained random-projection fallback.
    """
    queries, corpus = _embedding_inputs(id_col, vec_col, queries, corpus)
    if centroids is None and train:
        centroids = fit_ivf_centroids(
            corpus, dim, n_centroids, vec_col=vec_col, seed=seed
        )
    assign = make_centroid_udf(
        dim, n_centroids, n_probe, seed, centroids=centroids, vec_col=vec_col
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("list_id", F.element_at(assign(F.col("cv")), 1))  # nearest only
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("list_id", F.explode(assign(F.col("qv"))))  # probe lists

    scored = (
        q.join(c, "list_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", make_cosine_udf()(F.col("qv"), F.col("cv")))
    )
    # a query appears once per probed list, so the same (query, neighbor)
    # cannot duplicate (corpus vectors live in exactly one list); the
    # bounded reducer caps the per-query ranking like the brute-force path
    return _topk_per_query(scored, k)
