"""Similarity search over an embedding column (array<float>).

Generalizes the reference's "same fingerprint => duplicate" to continuous
fingerprints: embedding-cosine near-dup pairs and top-k nearest neighbors.

Two paths (SURVEY.md / task brief):
  * brute-force cosine top-k — the exactness baseline. JVM-side math only:
    F.zip_with + F.aggregate for dot products inside whole-stage codegen
    (norms hoisted to one projection per side, not per pair); the top-k is a
    partition-local bounded reducer + a small final rank (_topk_per_query).
    Cost O(Q x N) — correct tool when Q is small (a query batch) even at huge N.
  * LSH-bucketed path — random-hyperplane signatures (SimHash for vectors,
    Charikar'02): b x r sign bits per vector; bucket-join on band keys, exact
    cosine re-rank inside buckets. Sub-linear candidate generation at
    10^12-vector scale, same skew controls as the text LSH.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, LongType



def _dot(a, b):  # Column helper: dot product of two float arrays
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):  # Column helper: L2 norm of a float array
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _cosine(a, b):  # Column helper: cosine similarity of two float arrays
    return _dot(a, b) / (_norm(a) * _norm(b))


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """EXACT per-query top-k with bounded memory at every stage.

    One rank window with a row_number <= k filter.  Spark 3.5+ plans this as
    WindowGroupLimit(Partial) BEFORE the exchange — each map task keeps only
    its partition-local top-k per query — then WindowGroupLimit(Final) after
    it, so the post-shuffle task sees <= n_partitions * k rows per query and
    no task ever buffers a query's full candidate list.  That is exactly the
    bound the previous mapInPandas partial-top-k reducer enforced by hand
    (r03 shape), minus the JVM->Python->JVM crossing of every scored row:
    the round-6 plan is pure JVM (the BatchEvalPython/MapInPandas node is
    gone) and the pre-shuffle sort is codegen'd + spillable.  Exactness is
    unchanged: the global top-k by (cosine desc, neighbor_id asc) is a
    subset of the per-partition top-ks by the same order, and the final
    window re-ranks those survivors."""
    sc = scored.select("query_id", "neighbor_id", "cosine")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
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

    queries is expected to be small -> broadcast; the cross join then streams
    the corpus once per partition with zero shuffle of the corpus side.  The
    per-query top-k goes through the partition-local bounded reducer
    (_topk_per_query) so a handful of queries against a 10^12-vector corpus
    never serializes each query's scores into one sort task or one
    aggregation buffer.  Self-matches (same id) are excluded.

    Norms are projected ONCE per side before the cross join (N + Q array
    aggregations) instead of inside the pair expression (2 x N x Q) — the
    same doubles in the same order, so cosine is bit-identical, at a third
    of the JVM array work per pair.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    from pyspark.sql.types import ArrayType, DoubleType, FloatType

    vt = corpus.schema[vec_col].dataType
    qt = queries.schema[vec_col].dataType
    if (
        isinstance(vt, ArrayType)
        and isinstance(qt, ArrayType)
        and isinstance(vt.elementType, (DoubleType, FloatType))
        and vt.elementType == qt.elementType
        and corpus.schema[id_col].dataType.simpleString() in _PA_ID_TYPES
        and queries.schema[id_col].dataType.simpleString() in _PA_ID_TYPES
    ):
        return _topk_per_query(
            _score_corpus_arrow(queries, corpus, id_col, vec_col), k
        )
    # fallback (exotic vector types): the original JVM cross-join shape
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    return _topk_per_query(scored, k)


# Spark simpleString -> pyarrow type for the id columns the Arrow scoring
# path can emit; anything else falls back to the JVM cross-join shape
def _pa_id_types():
    import pyarrow as pa

    return {
        "bigint": pa.int64(),
        "int": pa.int32(),
        "smallint": pa.int16(),
        "string": pa.string(),
    }


class _LazyPaIdTypes:
    def __contains__(self, k):
        return k in _pa_id_types()

    def __getitem__(self, k):
        return _pa_id_types()[k]


_PA_ID_TYPES = _LazyPaIdTypes()


def _score_corpus_arrow(
    queries: DataFrame, corpus: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """All (query, corpus) cosine scores via ONE mapInArrow pass over the
    corpus, queries riding in the task closure.

    Guide §8 shape: the corpus — the heavy side — is never joined, shuffled,
    or materialized per pair; each task streams its partition once and emits
    skinny (query_id, neighbor_id, cosine) rows.  The former plan cross-
    joined the broadcast query side and evaluated the dot product with
    zip_with/aggregate lambdas, which are CodegenFallback expressions
    interpreted per element per pair (~1.4 s for the bench's 200k x 64-dim
    pairs; a static codegen chain fixed the runtime but cost seconds of
    janino compile per evicted cache entry).  Collecting the queries is the
    same boundedness assumption the broadcast already made.

    Float semantics are BIT-IDENTICAL to the JVM expressions they replace:
    products/squares are computed in the SOURCE element type (float32
    multiply for array<float>, double for array<double>) and accumulated
    STRICTLY SEQUENTIALLY in float64 via cumsum (every partial sum is a
    defined output, so no reassociation is possible) — the exact operation
    sequence of F.aggregate(zip_with(a, b, x*y), 0.0, acc+x); norms take
    one IEEE sqrt of the same sequential sum, and the final division
    happens in float64 in the same order (dot / (qn * cn)).  Mismatched
    lengths or null vectors yield null cosine (zip_with's null-pad
    propagation); two empty vectors yield 0.0/0.0 = NaN, as before.
    """
    import numpy as np
    import pyarrow as pa

    idt = corpus.schema[id_col].dataType.simpleString()
    qidt = queries.schema[id_col].dataType.simpleString()
    qrows = queries.select(id_col, vec_col).collect()  # bounded: the side the
    # old plan broadcast to every executor anyway
    q_ids = [r[0] for r in qrows]
    src_np = {
        "float": np.float32,
        "double": np.float64,
    }[corpus.schema[vec_col].dataType.elementType.simpleString()]
    q_vecs = [
        None if r[1] is None else np.asarray(r[1], dtype=src_np) for r in qrows
    ]

    def _seq_sum64(p: "np.ndarray") -> float:
        # left-fold in float64: cumsum's partial sums pin the association
        return float(p.astype(np.float64).cumsum()[-1]) if len(p) else 0.0

    q_norms = [
        None if v is None else float(np.sqrt(_seq_sum64(v * v))) for v in q_vecs
    ]

    def _row_cos(qv, qn, cv, cn):
        if qv is None or cv is None or len(qv) != len(cv):
            return None  # zip_with null-pad -> null cosine
        # numpy float64 division: a zero norm yields nan/inf, where Python
        # float division would raise ZeroDivisionError
        with np.errstate(divide="ignore", invalid="ignore"):
            return float(np.float64(_seq_sum64(qv * cv)) / np.float64(qn * cn))

    def score(batches):
        for batch in batches:
            ids = batch.column(0).to_pylist()
            col = batch.column(1)
            n = len(ids)
            # fast path: no null vectors, one uniform length -> matrix math
            # (still per-row-sequential: cumsum along axis 1 pins the fold)
            mat = None
            if col.null_count == 0 and n:
                flat = np.asarray(col.flatten(), dtype=src_np)
                offs = np.asarray(col.offsets)
                lens = np.diff(offs - offs[0])
                if len(lens) and (lens == lens[0]).all() and lens[0] > 0:
                    mat = flat.reshape(n, int(lens[0]))
            out_q, out_n, out_c = [], [], []
            if mat is not None:
                d = mat.shape[1]
                sq64 = (mat * mat).astype(np.float64)
                cns = np.sqrt(sq64.cumsum(axis=1)[:, -1])
                ids_np = np.asarray(ids)
                for qid, qv, qn in zip(q_ids, q_vecs, q_norms):
                    if qv is None or len(qv) != d:
                        cos = np.full(n, np.nan)
                        valid = np.zeros(n, dtype=bool)
                    else:
                        p64 = (mat * qv[None, :]).astype(np.float64)
                        cos = p64.cumsum(axis=1)[:, -1] / (qn * cns)
                        valid = np.ones(n, dtype=bool)
                    keep = ids_np != qid  # self-match excluded, as the join did
                    out_q.extend([qid] * int(keep.sum()))
                    out_n.extend([i for i, k in zip(ids, keep) if k])
                    out_c.extend(
                        float(c) if v else None
                        for c, v, k in zip(cos, valid, keep)
                        if k
                    )
            else:
                vecs = [
                    None if v is None else np.asarray(v, dtype=src_np)
                    for v in col.to_pylist()
                ]
                norms = [
                    None if v is None else float(np.sqrt(_seq_sum64(v * v)))
                    for v in vecs
                ]
                for qid, qv, qn in zip(q_ids, q_vecs, q_norms):
                    for nid, cv, cn in zip(ids, vecs, norms):
                        if nid == qid:
                            continue
                        out_q.append(qid)
                        out_n.append(nid)
                        out_c.append(_row_cos(qv, qn, cv, cn))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_q, type=_PA_ID_TYPES[qidt]),
                    pa.array(out_n, type=_PA_ID_TYPES[idt]),
                    pa.array(out_c, type=pa.float64()),
                ],
                names=["query_id", "neighbor_id", "cosine"],
            )

    return corpus.select(
        F.col(id_col), F.col(vec_col)
    ).mapInArrow(score, f"query_id {qidt}, neighbor_id {idt}, cosine double")


def make_hyperplane_udf(dim: int, n_bits: int = 128, seed: int = 42):
    """pandas UDF: embedding -> array of band keys from random-hyperplane sign
    bits (Charikar'02 random projection LSH).  Hyperplanes are regenerated
    deterministically from the seed on every executor — nothing to broadcast."""
    n_bands = n_bits // 16  # 16 sign bits per band key

    @F.pandas_udf(ArrayType(LongType()))
    def hyperplane_bands(vecs: pd.Series) -> pd.Series:
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((n_bits, dim)).astype(np.float32)
        out = []
        for v in vecs:
            x = np.asarray(v, dtype=np.float32)
            bits = (planes @ x) > 0  # (n_bits,)
            keys = []
            for band in range(n_bands):
                chunk = bits[band * 16 : (band + 1) * 16]
                val = int(np.packbits(chunk).view(np.uint16)[0]) if len(chunk) == 16 else 0
                keys.append((band << 32) | val)
            out.append(keys)
        return pd.Series(out)

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
    ctx=None,
) -> DataFrame:
    """Embedding near-dup pairs: hyperplane-LSH buckets -> within-bucket pairs
    -> exact cosine verify.  Returns (id_l, id_r, cosine >= threshold).

    Pairing goes through the SAME skew-capped core as the text LSH and SimHash
    paths (lsh._skewcapped_pairs): buckets <= max_bucket pair all-ways in
    one window pass (no self-join); hot buckets — e.g. many
    near-zero or duplicated embeddings collapsing onto one hyperplane cell —
    degrade to rank-adjacent pairs instead of being dropped, so a monster
    bucket stays CONNECTED for any downstream clustering and the cap firing
    is recorded in the skew-metrics table (skew_name 'lsh_ann') when a
    runmeta.RunContext is passed as ctx.  The item is struct(id, v), so both
    vectors ride out of the pairing stage and the cosine verify needs no join
    back to the corpus.
    """
    from bigtrees_spark.operators import lsh

    bands_udf = make_hyperplane_udf(dim, n_bits, seed)
    # norm rides the item struct (computed once per vector, not per pair);
    # it sits AFTER id, so pair ordering — struct comparison, decided by the
    # distinct id in the first field — is unchanged.  Project-then-struct:
    # field names come from the projection (aliases on computed expressions
    # inside F.struct are not preserved as field names).
    items = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("n"),
        F.explode(bands_udf(F.col(vec_col))).alias("band_key"),
    ).select(F.struct("id", "v", "n").alias("item"), "band_key")
    pairs = lsh._skewcapped_pairs(
        items, ["band_key"], max_bucket, ctx=ctx, skew_name="lsh_ann"
    ).select(
        F.col("l.id").alias("id_l"),
        F.col("r.id").alias("id_r"),
        F.col("l.v").alias("v_l"),
        F.col("r.v").alias("v_r"),
        F.col("l.n").alias("n_l"),
        F.col("r.n").alias("n_r"),
    )
    return (
        pairs.withColumn(
            "cosine", _dot(F.col("v_l"), F.col("v_r")) / (F.col("n_l") * F.col("n_r"))
        )
        .where(F.col("cosine") >= cosine_threshold)
        .select("id_l", "id_r", "cosine")
    )


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
    if len(sample) == 0:
        C = rng.standard_normal((n_centroids, dim)).astype(np.float32)
        return C / np.linalg.norm(C, axis=1, keepdims=True)
    X = np.stack([np.asarray(v, dtype=np.float32) for v in sample[vec_col]])
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
):
    """pandas UDF: embedding -> its n_probe nearest coarse-centroid ids.

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
        mat = np.stack([np.asarray(v, dtype=np.float32) for v in vecs])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (mat / norms) @ C.T                      # (batch, n_centroids)
        top = np.argsort(-sims, axis=1)[:, :n_probe]    # n_probe nearest lists
        return pd.Series([row.astype("int32").tolist() for row in top])

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
    Exact re-rank inside the probed lists keeps ranking exact conditional on
    the probe — the standard IVF recall trade-off, tuned by n_probe.

    Centroids are k-means-trained on a corpus sample by default
    (fit_ivf_centroids); pass centroids= to reuse a fitted quantizer across
    runs, or train=False for the untrained random-projection fallback.
    """
    if centroids is None and train:
        centroids = fit_ivf_centroids(
            corpus, dim, n_centroids, vec_col=vec_col, seed=seed
        )
    assign = make_centroid_udf(dim, n_centroids, n_probe, seed, centroids=centroids)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),  # corpus norms once, not per pair
    )
    c = c.withColumn("list_id", F.element_at(assign(F.col("cv")), 1))  # nearest only
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    q = q.withColumn("list_id", F.explode(assign(F.col("qv"))))        # probe lists

    scored = (
        q.join(c, "list_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    # a query appears once per probed list, so the same (query, neighbor)
    # cannot duplicate (corpus vectors live in exactly one list); the
    # bounded reducer caps the per-query ranking like the brute-force path
    return _topk_per_query(scored, k)
