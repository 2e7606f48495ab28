"""Known-answer vectors + properties for the fingerprint kernels — the analog
of the reference's pinned hash unit vectors (/root/reference/lib/System/
Directory/BigTrees/Hash.hs:194-221) and QuickCheck round-trips (SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bigtrees_spark.config import DEFAULT_CONFIG as CFG
from bigtrees_spark.functions import kernels

SENT = "The quick brown fox jumps over the lazy dog"
TOKS = ["the", "quick", "brown", "fox", "jumps", "over", "the", "lazy", "dog"]


def test_tokenize_known():
    assert kernels.tokenize(SENT) == TOKS
    assert kernels.tokenize("") == []
    assert kernels.tokenize("   ") == []
    assert kernels.tokenize("a1-b2 C3") == ["a1", "b2", "c3"]
    # non-latin scripts fall out of [a-z0-9]+ deterministically
    assert kernels.tokenize("straße 漢字 x") == ["stra", "e", "x"]


def test_known_answer_vectors():
    """Pinned vectors: a change to tokenization/hashing/permutations breaks
    these on purpose (reference pins digests the same way, Hash.hs:194-204)."""
    assert kernels._stable_hash32("the") == 2800107122
    sh = kernels.shingle_hashes(TOKS, CFG.shingle_k)
    assert sh.tolist() == [2948180, 504719687, 942129559, 1348881169, 3309690450]
    a, b = CFG.minhash_coeffs()
    sig = kernels.minhash_signature(sh, a, b)
    assert sig[:5].tolist() == [206805752, 17239638, 483397365, 367771316, 124054040]
    assert kernels.simhash64(TOKS) == 3979588399098220570
    bh = kernels.band_hashes(sig, CFG.bands, CFG.rows_per_band)
    assert bh[0] == 5781163717884930230


def test_empty_doc_sentinel():
    a, b = CFG.minhash_coeffs()
    sig = kernels.minhash_signature(np.empty(0, dtype=np.uint64), a, b)
    assert (sig == sig[0]).all()  # constant sentinel: empty docs are identical
    assert kernels.simhash64([]) == 0


def _band_hashes_per_band(signature, bands, rows):
    """The per-band reference: one array slice and one int decode per band."""
    import hashlib

    sig = signature[: bands * rows].reshape(bands, rows)
    out = np.empty(bands, dtype=np.int64)
    for i in range(bands):
        d = hashlib.blake2b(sig[i].tobytes(), digest_size=8).digest()
        out[i] = int.from_bytes(d, "little", signed=True)
    return out


def test_band_hashes_match_per_band_loop():
    """The one-buffer kernel is bit-identical to hashing each band's slice
    separately, on random signatures and on the empty-set sentinel."""
    a, b = CFG.minhash_coeffs()
    rng = np.random.default_rng(5)
    sigs = [rng.integers(0, 2**31 - 1, CFG.n_perms, dtype=np.int64) for _ in range(50)]
    sigs.append(kernels.minhash_signature(np.empty(0, dtype=np.uint64), a, b))
    for sig in sigs:
        got = kernels.band_hashes(sig, CFG.bands, CFG.rows_per_band)
        want = _band_hashes_per_band(sig, CFG.bands, CFG.rows_per_band)
        assert got.dtype == np.int64 and got.shape == (CFG.bands,)
        assert (got == want).all()


def test_short_doc_shingles():
    # docs shorter than k tokens hash their full sequence as one shingle
    sh = kernels.shingle_hashes(["solo"], CFG.shingle_k)
    assert sh.shape == (1,)


@given(st.lists(st.sampled_from("abc defg hi jkl mno pqrs tuv".split()), min_size=0, max_size=200))
@settings(max_examples=50, deadline=None)
def test_minhash_deterministic_and_bounded(tokens):
    a, b = CFG.minhash_coeffs()
    s1 = kernels.minhash_signature(kernels.shingle_hashes(tokens, CFG.shingle_k), a, b)
    s2 = kernels.minhash_signature(kernels.shingle_hashes(list(tokens), CFG.shingle_k), a, b)
    assert (s1 == s2).all()
    assert s1.shape == (CFG.n_perms,)
    assert (s1 >= 0).all() and (s1 < (1 << 31)).all()


def test_minhash_estimates_jaccard():
    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(2000)]
    base = [vocab[i] for i in rng.integers(0, 2000, 600)]
    mut = list(base)
    for i in rng.choice(600, 30, replace=False):  # 5% substitution
        mut[i] = vocab[int(rng.integers(0, 2000))]
    a, b = CFG.minhash_coeffs()
    sa = kernels.shingle_hashes(base, CFG.shingle_k)
    sb = kernels.shingle_hashes(mut, CFG.shingle_k)
    true_j = len(set(sa.tolist()) & set(sb.tolist())) / len(set(sa.tolist()) | set(sb.tolist()))
    est = (kernels.minhash_signature(sa, a, b) == kernels.minhash_signature(sb, a, b)).mean()
    assert abs(est - true_j) < 0.12  # 128 perms -> stderr ~ sqrt(j(1-j)/128)


def test_simhash_locality():
    base = [f"tok{i}" for i in range(300)]
    h1 = kernels.simhash64(base)
    h2 = kernels.simhash64(base[:-3] + ["x", "y", "z"])
    h3 = kernels.simhash64([f"other{i}" for i in range(300)])
    assert kernels.hamming64(h1, h2) < kernels.hamming64(h1, h3)


def test_winnowing_guarantee():
    """Docs sharing a >= substring_min_len verbatim substring share a selected
    fingerprint (Schleimer et al. guarantee)."""
    rng = np.random.default_rng(3)

    def rand_text(n):
        return " ".join(f"u{rng.integers(0, 10**9)}" for _ in range(n))

    shared = "the shared verbatim excerpt block " * 12  # ~400 bytes > 256
    assert len(shared.encode()) >= CFG.substring_min_len
    for _ in range(5):
        d1 = rand_text(60) + " " + shared + " " + rand_text(60)
        d2 = rand_text(80) + " " + shared + " " + rand_text(40)
        f1 = {h for h, _ in kernels.winnow_fingerprints(d1, CFG)}
        f2 = {h for h, _ in kernels.winnow_fingerprints(d2, CFG)}
        assert f1 & f2, "winnowing guarantee violated"


def test_winnowing_no_false_shares():
    rng = np.random.default_rng(4)
    d1 = " ".join(f"a{rng.integers(0, 10**9)}" for _ in range(300))
    d2 = " ".join(f"b{rng.integers(0, 10**9)}" for _ in range(300))
    f1 = {h for h, _ in kernels.winnow_fingerprints(d1, CFG)}
    f2 = {h for h, _ in kernels.winnow_fingerprints(d2, CFG)}
    assert not (f1 & f2)


def test_hamming64():
    assert kernels.hamming64(0, 0) == 0
    assert kernels.hamming64(0, -1) == 64
    assert kernels.hamming64(0b1011, 0b0010) == 2


# --- linear winnow kernel vs direct quadratic evaluation -------------------
# winnow_fingerprints computes gram hashes via modular-inverse prefix sums
# and window selection via blockwise scans; this reference evaluates the
# SIGMOD'03 definition directly (explicit (n, w) window products, explicit
# per-window reversed argmin).  The selected (hash, pos) sets must be
# bit-identical — the oracle rows and golden clusters pin the old values.


def _winnow_quadratic(text, cfg):
    data = text.encode("utf-8")
    w = cfg.winnow_gram
    if len(data) < w:
        return []
    arr = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    n = len(arr) - w + 1
    base = int(kernels._WINNOW_BASE)
    powers = np.array([pow(base, w - 1 - i, 1 << 64) for i in range(w)], dtype=np.uint64)
    win = np.lib.stride_tricks.sliding_window_view(arr, w)
    h = (win * powers).sum(axis=1, dtype=np.uint64)
    window = cfg.winnow_window
    if n <= window:
        pos = int(np.argmin(h))
        return [(kernels._as_i64(h[pos]), pos)]
    wins = np.lib.stride_tricks.sliding_window_view(h, window)
    rev_arg = wins[:, ::-1].argmin(axis=1)
    pos = (np.arange(wins.shape[0]) + (window - 1 - rev_arg)).astype(np.int64)
    return [(kernels._as_i64(h[p]), int(p)) for p in np.unique(pos)]


def test_winnow_linear_matches_quadratic_boundaries():
    """Exact parity at every length boundary (empty, < gram, == gram,
    single-window, first multi-window) and on tie-heavy inputs (constant and
    short-period texts exercise the rightmost-tie rule in every scan)."""
    from bigtrees_spark.config import FingerprintConfig

    rng = np.random.default_rng(11)
    for cfg in (CFG, FingerprintConfig(winnow_gram=4, substring_min_len=12)):
        w, win = cfg.winnow_gram, cfg.winnow_window
        for L in (0, w - 1, w, w + 1, w + win - 1, w + win, w + win + 1, 5 * win):
            texts = [
                "a" * L,
                "".join(rng.choice(list("ab"), size=L)) if L else "",
                "".join(chr(c) for c in rng.integers(32, 127, size=L)),
                ("xyz123" * (L // 6 + 1))[:L],
            ]
            for t in texts:
                assert kernels.winnow_fingerprints(t, cfg) == _winnow_quadratic(t, cfg), (
                    cfg.winnow_gram,
                    L,
                    t[:20],
                )


@settings(max_examples=30, deadline=None)
@given(st.text(alphabet="abcxyz 123é", min_size=0, max_size=1200))
def test_winnow_linear_matches_quadratic_property(t):
    assert kernels.winnow_fingerprints(t, CFG) == _winnow_quadratic(t, CFG)


# ---------------------------------------------------------------------------
# cosine kernel
# ---------------------------------------------------------------------------


def _left_fold_cosine(a, b):
    """Pure-Python reference: products in the vectors' dtype, float64
    accumulators starting at 0.0, one sqrt per norm."""
    import math

    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += float(x * y)
        na += float(x * x)
        nb += float(y * y)
    den = math.sqrt(na) * math.sqrt(nb)
    return dot / den if den else float("nan")


@pytest.mark.parametrize("dtype", [np.float32, np.float64])
def test_cosine_kernel_matches_left_fold(dtype):
    rng = np.random.default_rng(3)
    for d in (1, 2, 7, 64, 301):
        a = rng.standard_normal((6, d)).astype(dtype)
        b = rng.standard_normal((6, d)).astype(dtype)
        got = kernels.cosine(a, b)
        want = [_left_fold_cosine(x, y) for x, y in zip(a, b)]
        assert got.dtype == np.float64
        assert got.tolist() == want  # bit-identical, not approximately equal
        # one-vs-many with hoisted norms, and row by row, agree exactly
        hoisted = kernels.cosine(a, b[0], kernels.l2_norms(a), kernels.l2_norms(b[0]))
        assert hoisted.tolist() == [_left_fold_cosine(x, b[0]) for x in a]
        assert [float(kernels.cosine(x, y)) for x, y in zip(a, b)] == want


@pytest.mark.parametrize("dtype", [np.float32, np.float64])
def test_cosine_kernel_zero_and_empty_vectors_give_nan(dtype):
    z = np.zeros(4, dtype=dtype)
    v = np.arange(1, 5, dtype=dtype)
    assert np.isnan(kernels.cosine(z, v)) and np.isnan(kernels.cosine(v, z))
    assert np.isnan(kernels.cosine(z, z))
    e = np.zeros((3, 0), dtype=dtype)
    assert np.isnan(kernels.cosine(e, e)).all()
    # the fold starts at +0.0, so all-(-0.0) products sum to +0.0, not -0.0
    c = kernels.cosine(np.array([-1.0, 0.0], dtype), np.array([0.0, -1.0], dtype))
    assert c == 0.0 and not np.signbit(c)
    assert not np.signbit(_left_fold_cosine([-1.0, 0.0], [0.0, -1.0]))
