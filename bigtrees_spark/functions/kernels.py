"""Pure numpy fingerprint kernels — the single source of truth.

Both the Spark pipeline (via pandas UDFs in spark_udfs.py) and the single-node
oracle (oracle.py) call THESE functions, so "same shingle/signature config" is
guaranteed by construction, the way the reference pins its digest in one module
with unit vectors (/root/reference/lib/System/Directory/BigTrees/Hash.hs:99-114,
vectors at Hash.hs:194-204).

Everything here is deterministic, seed-free (seeds live in config.py), and
vectorized over numpy arrays; no per-row Python in the Spark hot path beyond
the per-unique-token stable hash (amortized via a process-level cache).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

from bigtrees_spark.config import MERSENNE_P, FingerprintConfig

# ---------------------------------------------------------------------------
# tokenization
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"[a-z0-9]+")


def tokenize(text: str) -> list[str]:
    """Lowercase alphanumeric word tokens.  Pinned: changing this invalidates
    every committed fingerprint vector."""
    return _TOKEN_RE.findall(text.lower())


# ---------------------------------------------------------------------------
# stable token hashing (32-bit)
# ---------------------------------------------------------------------------

_token_cache: dict[str, int] = {}


def _stable_hash32(token: str) -> int:
    """First 4 bytes (little-endian) of blake2b(token) — stable across
    processes/platforms, unlike Python's hash()."""
    h = _token_cache.get(token)
    if h is None:
        h = int.from_bytes(hashlib.blake2b(token.encode("utf-8"), digest_size=4).digest(), "little")
        if len(_token_cache) < 4_000_000:  # bound executor memory
            _token_cache[token] = h
    return h


_token_cache64: dict[str, int] = {}


def _stable_hash64(token: str) -> int:
    """64-bit stable token hash (SimHash features), process-cached."""
    h = _token_cache64.get(token)
    if h is None:
        h = int.from_bytes(hashlib.blake2b(token.encode("utf-8"), digest_size=8).digest(), "little")
        if len(_token_cache64) < 4_000_000:
            _token_cache64[token] = h
    return h


def token_hashes(tokens: list[str]) -> np.ndarray:
    """uint64 array of 32-bit stable hashes, one per token (order preserved)."""
    return np.fromiter((_stable_hash32(t) for t in tokens), dtype=np.uint64, count=len(tokens))


# ---------------------------------------------------------------------------
# w-shingling
# ---------------------------------------------------------------------------

_SHINGLE_BASE = np.uint64(1_000_003)  # polynomial base, coprime to 2^32
_MASK32 = np.uint64(0xFFFFFFFF)


def shingle_hashes(tokens: list[str], k: int) -> np.ndarray:
    """Distinct 32-bit hashes of all k-token shingles (as uint64 array).

    Combine consecutive token hashes with a degree-(k-1) polynomial mod 2^32 —
    exact (wrapping) arithmetic, fully vectorized via a strided window view.
    Docs shorter than k tokens hash their full token sequence as one shingle
    (so 1-token docs still fingerprint; reference hashes empty files too,
    Hash.hs:198-204).
    """
    th = token_hashes(tokens)
    if len(th) == 0:
        return np.empty(0, dtype=np.uint64)
    if len(th) < k:
        k = len(th)
    win = np.lib.stride_tricks.sliding_window_view(th, k)  # (n-k+1, k)
    base = int(_SHINGLE_BASE)
    powers = np.array(
        [pow(base, k - 1 - i, 1 << 64) for i in range(k)], dtype=np.uint64
    )
    out = (win * powers).sum(axis=1, dtype=np.uint64) & _MASK32
    return np.unique(out)


# ---------------------------------------------------------------------------
# MinHash
# ---------------------------------------------------------------------------

_EMPTY_SENTINEL = int(MERSENNE_P) - 1  # signature value for empty shingle sets


def minhash_signature(shingles: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """n_perms int64 minima of (a*x + b) mod P over the shingle set.

    Exact universal hashing: x < 2^32, a < P < 2^31 so a*x < 2^63 — no uint64
    overflow (see config.MERSENNE_P note).  Empty docs get a constant sentinel
    signature so two empty docs are (correctly) identical.
    """
    if shingles.size == 0:
        return np.full(a.shape[0], _EMPTY_SENTINEL, dtype=np.int64)
    x = shingles % MERSENNE_P  # (s,)
    # (n_perms, s) — at 128 perms x few-thousand shingles this is small
    vals = (a[:, None] * x[None, :] + b[:, None]) % MERSENNE_P
    return vals.min(axis=1).astype(np.int64)


def band_hashes(signature: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """One stable 64-bit hash per band over its `rows` signature slots.

    Used as the LSH bucket key: docs agreeing on all rows of any band collide.
    blake2b over the raw band bytes — collision-safe at 10^12-doc scale
    (unlike a 32-bit mix) so spurious bucket collisions never inflate the
    candidate set.  Returns a read-only int64 array (a view of the digests).
    """
    # hash slices of ONE contiguous buffer and decode every digest at once:
    # no per-band array view or int conversion in the per-doc hot loop
    buf = signature[: bands * rows].tobytes()
    step = len(buf) // bands
    digests = b"".join(
        [
            hashlib.blake2b(buf[i : i + step], digest_size=8).digest()
            for i in range(0, bands * step, step)
        ]
    )
    return np.frombuffer(digests, dtype="<i8")


# ---------------------------------------------------------------------------
# SimHash (64-bit)
# ---------------------------------------------------------------------------


def simhash64(tokens: list[str]) -> int:
    """Charikar SimHash: per unique token, a stable 64-bit hash votes its bits
    weighted by the token's count; sign of each bit-sum becomes the fingerprint.
    Vectorized: bit matrix built once per doc from unique-token hashes."""
    if not tokens:
        return 0
    uniq, counts = np.unique(np.asarray(tokens, dtype=object), return_counts=True)
    h64 = np.fromiter(
        (_stable_hash64(t) for t in uniq), dtype=np.uint64, count=len(uniq)
    )
    bits = (h64[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)
    votes = ((bits.astype(np.int64) * 2 - 1) * counts[:, None].astype(np.int64)).sum(axis=0)
    fp = 0
    for i in range(64):
        if votes[i] > 0:
            fp |= 1 << i
    return fp - (1 << 64) if fp >= (1 << 63) else fp  # signed for Spark LongType


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


# ---------------------------------------------------------------------------
# winnowing (substring-duplicate fingerprints; suffix-array-equivalent)
# ---------------------------------------------------------------------------

_WINNOW_BASE = np.uint64(0x100000001B3)  # FNV64 prime as polynomial base
_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _gram_hashes(arr: np.ndarray, w: int) -> np.ndarray:
    """Per-position w-gram polynomial hashes mod 2^64, O(n) via prefix sums.

    h[i] = sum_j arr[i+j] * BASE^(w-1-j)  (mod 2^64).  Rewrites as
    (sum_{k=i}^{i+w-1} arr[k] * inv^k) * BASE^(i+w-1) with inv = BASE^-1
    mod 2^64 (BASE is odd, so the inverse exists); the inner sum is a
    cumsum difference.  All uint64 ops wrap mod 2^64 (C semantics), so the
    values are bit-identical to the direct windowed sum — but one pass over
    the bytes instead of w, and no (n, w) temporary.
    """
    N = len(arr)
    n = N - w + 1
    base = int(_WINNOW_BASE)
    inv = pow(base, -1, 1 << 64)
    invpow = np.ones(N, dtype=np.uint64)
    invpow[1:] = np.uint64(inv)
    invpow = np.cumprod(invpow)             # inv^0 .. inv^(N-1), wraps mod 2^64
    csum = np.cumsum(arr * invpow)          # prefix sums of arr[k] * inv^k
    part = csum[w - 1 :].copy()
    part[1:] -= csum[: n - 1]               # sum_{k=i}^{i+w-1} arr[k] inv^k
    basepow = np.full(n, np.uint64(base), dtype=np.uint64)
    basepow[0] = np.uint64(pow(base, w - 1, 1 << 64))
    return part * np.cumprod(basepow)       # * BASE^(i+w-1)


def _windowed_rightmost_argmin(h: np.ndarray, W: int) -> np.ndarray:
    """pos[i] = index of the RIGHTMOST minimum of h[i : i+W] — the winnowing
    selection rule — for every window, in O(n) total (van Herk / Gil-Werman
    blockwise min, extended to rightmost-tie argmin).

    Blocks of size W; window i spans a suffix of block i//W and a prefix of
    the next block, so it is answered by combining a per-block suffix
    rightmost-argmin with a per-block prefix rightmost-argmin, preferring the
    prefix (right) side on value ties.  Each scan is a masked
    minimum/maximum.accumulate — no per-window work.
    """
    n = len(h)
    m = n - W + 1
    nblocks = -(-n // W)
    pad = nblocks * W - n
    hp = np.concatenate([h, np.full(pad, np.uint64(0xFFFFFFFFFFFFFFFF))]) if pad else h
    v = hp.reshape(nblocks, W)
    idx = np.arange(W, dtype=np.int64)

    # prefix scan (left -> right): an element updates the running argmin iff
    # it EQUALS the running min including itself (<= keeps the rightmost tie)
    run = np.minimum.accumulate(v, axis=1)
    pref = np.maximum.accumulate(np.where(v <= run, idx, np.int64(-1)), axis=1)

    # suffix scan (right -> left): an element wins iff STRICTLY below the min
    # of everything to its right (strict keeps the rightmost tie); the answer
    # for position j is then the first winner at or after j
    rrun = np.minimum.accumulate(v[:, ::-1], axis=1)[:, ::-1]
    upd = np.empty_like(v, dtype=bool)
    upd[:, :-1] = v[:, :-1] < rrun[:, 1:]
    upd[:, -1] = True
    big = np.int64(nblocks * W)
    suf = np.minimum.accumulate(
        np.where(upd, idx, big)[:, ::-1], axis=1
    )[:, ::-1]

    off = (np.arange(nblocks, dtype=np.int64) * W)[:, None]
    pref_g = (pref + off).reshape(-1)
    suf_g = (suf + off).reshape(-1)

    i = np.arange(m, dtype=np.int64)
    s = suf_g[i]                # rightmost-argmin of h[i .. block_end(i)]
    p = pref_g[i + W - 1]       # rightmost-argmin of h[block_start(e) .. e]
    # prefix side is the right half (ties -> rightmost); padded positions can
    # never win: the only padded-valued candidates sit on the suffix side of
    # the final block, and p <= tie always prefers the in-range prefix side
    return np.where(hp[p] <= hp[s], p, s)


def winnow_fingerprints(text: str, cfg: FingerprintConfig) -> list[tuple[int, int]]:
    """Selected (hash, position) fingerprints per Schleimer et al. (SIGMOD'03).

    Guarantee: two docs sharing a verbatim substring of length >=
    cfg.substring_min_len share at least one selected fingerprint — the
    distributed replacement for the reference-inspired suffix-array pass
    (SURVEY.md G4): explode fingerprints, groupBy hash, verify candidates by
    seed-and-extend.

    Both stages are linear: the w-gram rolling hash via modular-inverse
    prefix sums (_gram_hashes) and the window-min selection via blockwise
    scans (_windowed_rightmost_argmin) — at the default config (w=64,
    window=193) this replaces ~257 numpy ops per byte with ~10, and the
    selected (hash, pos) set is bit-identical to the direct quadratic
    evaluation (tests/test_kernels.py parity suite).
    """
    data = text.encode("utf-8")
    w = cfg.winnow_gram
    if len(data) < w:
        return []
    arr = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    n = len(arr) - w + 1
    h = _gram_hashes(arr, w)
    window = cfg.winnow_window
    if n <= window:
        pos = int(np.argmin(h))  # single window: leftmost-min (legacy parity)
        return [(_as_i64(h[pos]), pos)]
    sel = np.unique(_windowed_rightmost_argmin(h, window))
    return [(_as_i64(h[p]), int(p)) for p in sel]


def _as_i64(v: np.uint64) -> int:
    """Reinterpret a uint64 value as signed 64-bit (Spark LongType range)."""
    x = int(v)
    return x - (1 << 64) if x >= (1 << 63) else x


# ---------------------------------------------------------------------------
# cosine (embedding near-dup / top-k scoring)
# ---------------------------------------------------------------------------


def _fold64(p: np.ndarray) -> np.ndarray:
    """Left fold ((0.0 + p0) + p1) + ... in float64 along the last axis.

    cumsum's partial sums are defined outputs, so numpy cannot reassociate
    them; the trailing + 0.0 is the fold's starting accumulator, which only
    matters for an all-(-0.0) row (-0.0 + 0.0 == 0.0)."""
    if p.shape[-1] == 0:
        return np.zeros(p.shape[:-1])
    return p.astype(np.float64).cumsum(axis=-1)[..., -1] + 0.0


def l2_norms(x: np.ndarray) -> np.ndarray:
    """sqrt of the float64 fold of squares taken in x's own dtype."""
    return np.sqrt(_fold64(x * x))


def cosine(a: np.ndarray, b: np.ndarray, na=None, nb=None) -> np.ndarray:
    """Cosine along the last axis of a and b (broadcast against each other).

    The op sequence of Spark's aggregate(zip_with(a, b, x * y), 0.0, acc + x)
    fold, so the result is bit-identical to it: products in the SOURCE dtype
    (float32 * float32 stays float32), accumulated strictly sequentially in
    float64, one sqrt per norm, then dot / (na * nb) in float64.  Zero or
    empty vectors give NaN (0/0), never an error.  na/nb are l2_norms()
    hoisted by a caller that scores one vector against many."""
    if na is None:
        na = l2_norms(a)
    if nb is None:
        nb = l2_norms(b)
    with np.errstate(divide="ignore", invalid="ignore"):
        return _fold64(a * b) / (na * nb)
