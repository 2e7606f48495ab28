"""Arrow-batched pandas UDF wrappers around the numpy kernels.

Per input_hint: "vectorized pandas/Arrow UDFs (no per-row Python) throughout".
Each UDF processes a whole Arrow batch; the per-doc numpy work is vectorized
over shingles x permutations.  The exact content digest stays JVM-side
(F.sha2 — whole-stage codegen), mirroring the reference's file hash
(/root/reference/lib/System/Directory/BigTrees/Hash.hs:113-114) without its
hex->base64->20-char quirk (SURVEY.md §7 documents the divergence).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bigtrees_spark.config import DEFAULT_CONFIG, FingerprintConfig
from bigtrees_spark.functions import kernels
from bigtrees_spark.session import spark_memo
from bigtrees_spark.sources.extraction import sanitize_err

# minhash slots are < 2^31-1 (mod-Mersenne universal hash) and shingle
# hashes are 32-bit by construction — int32 arrays EXACTLY represent both
# and halve the bytes every downstream shuffle/persist/checkpoint moves.
# (bands stay 64-bit: their collision safety at 10^12 docs needs the width.)
FINGERPRINT_SCHEMA = StructType(
    [
        StructField("minhash", ArrayType(IntegerType()), False),
        StructField("simhash", LongType(), False),
        StructField("bands", ArrayType(LongType()), False),
        StructField("n_tokens", IntegerType(), False),
        StructField("shingles", ArrayType(IntegerType()), False),
        StructField("error", StringType(), True),
    ]
)


def fingerprint_row(
    text, cfg: FingerprintConfig, compute_simhash: bool, a, b
) -> tuple[list[int], int, list[int], int, list[int], str | None]:
    """One doc -> (minhash, simhash, bands, n_tokens, shingles, error).

    The shingle-hash array (sorted distinct, int64) rides along so the verify
    stage can compute EXACT Jaccard JVM-side (array_intersect/array_union)
    without re-shipping or re-tokenizing document texts once per pair.

    Any kernel exception yields the empty-token sentinel fingerprint plus the
    sanitized message — Err-node semantics (reference wraps per-node failures
    as rows and never aborts the scan, HashTree/Build.hs:109-118); the
    sentinel keeps the output schema non-null so downstream stages need no
    null handling, and error rows are excluded from pairing by the pipeline.
    """
    try:
        toks = kernels.tokenize(text or "")
        shingles = kernels.shingle_hashes(toks, cfg.shingle_k)
        sig = kernels.minhash_signature(shingles, a, b)
        sh = kernels.simhash64(toks) if compute_simhash else 0
        bands = kernels.band_hashes(sig, cfg.bands, cfg.rows_per_band)
        import numpy as np

        return (
            sig.astype(np.int32).tolist(),  # values < 2^31-1: exact
            sh,
            bands.tolist(),
            len(toks),
            # uint32 hashes reinterpreted as int32 (equality-preserving)
            shingles.astype(np.uint32).view(np.int32).tolist(),
            None,
        )
    except Exception as e:  # noqa: BLE001 — any per-doc failure becomes a row
        import numpy as np

        sig = kernels.minhash_signature(np.empty(0, dtype=np.uint64), a, b)
        bands = kernels.band_hashes(sig, cfg.bands, cfg.rows_per_band)
        return sig.astype(np.int32).tolist(), 0, bands.tolist(), 0, [], sanitize_err(e)


@spark_memo
def make_fingerprint_udf(
    cfg: FingerprintConfig = DEFAULT_CONFIG, compute_simhash: bool = True
):
    """pandas UDF: text -> (minhash signature, simhash, LSH band hashes,
    n_tokens, error).

    One pass per batch: tokenize once, derive every fingerprint from the same
    token stream so MinHash/SimHash/bands can never disagree about tokenization.
    SimHash is ~40% of the per-doc cost; pipelines that don't use SimHash edges
    pass compute_simhash=False (column stays, filled with 0 for schema
    stability).  One UDF object per (cfg, compute_simhash) per live context.
    """

    @F.pandas_udf(FINGERPRINT_SCHEMA)
    def fingerprint(texts: pd.Series) -> pd.DataFrame:
        a, b = cfg.minhash_coeffs()
        mh, sh, bd, nt, sg, er = [], [], [], [], [], []
        for t in texts:
            sig, s, bands, n, shingles, e = fingerprint_row(t, cfg, compute_simhash, a, b)
            mh.append(sig)
            sh.append(s)
            bd.append(bands)
            nt.append(n)
            sg.append(shingles)
            er.append(e)
        return pd.DataFrame(
            {
                "minhash": mh,
                "simhash": sh,
                "bands": bd,
                "n_tokens": nt,
                "shingles": sg,
                "error": er,
            }
        )

    return fingerprint


WINNOW_SCHEMA = ArrayType(
    StructType([StructField("fp", LongType(), False), StructField("pos", IntegerType(), False)])
)


@spark_memo
def make_winnow_udf(cfg: FingerprintConfig = DEFAULT_CONFIG):
    """pandas UDF: text -> array<struct<fp,pos>> winnowing fingerprints
    (substring-duplicate pass, SURVEY.md G4)."""

    @F.pandas_udf(WINNOW_SCHEMA)
    def winnow(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [{"fp": h, "pos": p} for h, p in kernels.winnow_fingerprints(t or "", cfg)]
                for t in texts
            ]
        )

    return winnow

