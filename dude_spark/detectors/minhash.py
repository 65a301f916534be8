"""D1 — MinHash-LSH near-duplicate detector over caption shingles.

Generalizes the reference's fingerprint-then-group design (MD5 project →
group-by-hash, /root/reference/internal/processing/hashing.go:289-382)
to *near*-equality: the fingerprint becomes a MinHash signature over
character k-shingles, and the group key becomes an LSH band hash, so
rows with Jaccard-similar captions land in at least one shared bucket
with high probability.  Downstream is identical to D0: buckets →
candidate pairs (skew-capped, operators/candidates.py) → exact-Jaccard
verify (operators/verify.py — the ParanoidMode analogue that kills LSH
false positives) → connected components.

Spark-first layout:
  * the ONLY Python-side work is the signature projection — one
    vectorized ``pandas_udf`` (numpy universal hashing over Arrow
    batches; no per-row Python loops in the hash math);
  * banding/bucketing is JVM-side ``posexplode`` + string concat, so
    the wide (rows × bands) explode and the groupBy shuffle stay in
    whole-stage codegen;
  * the scan for this detector reads ONLY (image_id, caption) —
    Catalyst column pruning keeps the multi-TB `bytes` column out of
    both the scan and every shuffle.

Determinism (north_rule "same shingle/signature config"): all hash
parameters derive from `MinHashConfig.seed` via sha256 — never Python
``hash()`` — so signatures are reproducible across Python/numpy
versions and cluster runs (SURVEY.md §4 hard-part (a)).

Math: base shingle hash = rolling polynomial over unicode code points
mod 2^64 (natural uint64 wraparound); minhash_i = min over shingles of
(a_i·(x mod p) + b_i) mod p with p = 2^31−1, a_i,b_i < p — products
stay < 2^62, exact in uint64.  Band hash folds rows_per_band minhash
values through the same polynomial.

Rejected alternative, measured: one-permutation hashing (bin = h mod H,
min per bin, rotation- or offset-densified) is O(S+H) instead of
O(S×H), BUT in this workload's sparse regime (distinct shingles S ≈
num_hashes H, high baseline similarity between captions) its banded
collision rate was 7× classic minwise (93k vs 13k colliding pairs on
an 800-caption sample; 25.7M LSH candidate pairs at n=200k vs ~1M) —
the downstream verify cost dwarfed the signature savings.  Classic
minwise stays.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import MinHashConfig


_P31 = (1 << 31) - 1  # Mersenne prime modulus for universal hashing
_POLY_B = np.uint64(1099511628211)  # FNV-64 prime as polynomial base


def _params(cfg: MinHashConfig) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) universal-hash coefficients, shape (num_hashes,), seeded
    deterministically from cfg.seed via sha256 (never Python hash())."""
    blob = f"minhash|{cfg.seed}|{cfg.num_hashes}".encode()
    rs = np.random.RandomState(int.from_bytes(hashlib.sha256(blob).digest()[:4], "big"))
    a = rs.randint(1, _P31, size=cfg.num_hashes).astype(np.uint64)
    b = rs.randint(0, _P31, size=cfg.num_hashes).astype(np.uint64)
    return a, b


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct 64-bit shingle hashes of one caption, fully vectorized.

    Shingles are *character* k-grams (matching verify.shingle_set); a
    caption shorter than k is its own single shingle; empty → empty.
    """
    if not text:
        return np.empty(0, dtype=np.uint64)
    cp = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    n = len(cp)
    kk = min(k, n)
    # windows[i, j] = cp[i + j]  (n-kk+1 rows) via sliding window view
    win = np.lib.stride_tricks.sliding_window_view(cp, kk)
    pows = np.empty(kk, dtype=np.uint64)
    pows[0] = 1
    with np.errstate(over="ignore"):  # uint64 wraparound IS the modulus
        for j in range(1, kk):
            pows[j] = pows[j - 1] * _POLY_B
        h64 = (win * pows[::-1]).sum(axis=1, dtype=np.uint64)
    return np.unique(h64)


def _minwise_sig(shingles: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray | None:
    """Classic minwise signature, shape (num_hashes,) uint64, or None
    for empty shingle sets (no shingles ⇒ no buckets ⇒ no candidates)."""
    if shingles.size == 0:
        return None
    x = shingles % np.uint64(_P31)
    # (num_hashes, n_shingles) universal hashes; min along shingles.
    return ((a[:, None] * x[None, :] + b[:, None]) % np.uint64(_P31)).min(axis=1)


def _fold_bands(sig: np.ndarray, bands: int, rpb: int) -> np.ndarray:
    """Per-band polynomial fold of a minwise signature → (bands,) int64."""
    folded = np.zeros(bands, dtype=np.uint64)
    with np.errstate(over="ignore"):  # uint64 wraparound IS the modulus
        for j in range(rpb):  # rpb is small (e.g. 3); wide axis vectorized
            folded = folded * _POLY_B + sig[j::rpb][:bands]
    return folded.astype(np.int64)


def _band_hashes(
    shingles: np.ndarray,
    a: np.ndarray,
    b: np.ndarray,
    num_hashes: int,
    bands: int,
    rpb: int,
) -> np.ndarray | None:
    """Minwise signature → per-band fold (the scalar reference kernel;
    the UDF hot path is _batch_sigs_and_bands)."""
    sig = _minwise_sig(shingles, a, b)
    return None if sig is None else _fold_bands(sig, bands, rpb)


# modular inverse of the polynomial base mod 2^64 (the base is odd, so
# it is a unit in Z/2^64) — lets the whole-batch path express every
# k-window hash from ONE O(N) prefix pass instead of a (windows × k)
# matrix per caption: h(i) = (T[i+k] - T[i]) * B^(i+k-1) with
# T = cumsum(cp * Binv^i), exactly the scalar polynomial mod 2^64.
_POLY_B_INV = np.uint64(pow(int(_POLY_B), -1, 1 << 64))

# cap on shingles hashed per universal-hash matrix.  Sized for the
# CONCURRENT case, not one process: the (num_hashes × chunk) uint64
# temporaries are ~22 MB at 2^14 — "L3-resident" for a single worker,
# but 32 Spark python workers × 22 MB blow the shared L3 and the whole
# signature stage degrades to DRAM bandwidth (measured: FLAT 8→32 core
# scaling, 19.5 s vs 18.4 s at n=600k).  At 2^9 each matrix is ~0.7 MB,
# 32 workers fit in cache together, and the multiply/add/mod/reduceat
# passes stop touching DRAM: 32-worker aggregate 96k → 172k caps/s
# (+79%), 8→32 scaling restored to ~4.0×, and even a SINGLE worker is
# 22% faster (6.9k vs 5.6k caps/s) — smaller loses only below 2^8
# where numpy per-call overhead bites.  Mersenne shift/add reduction
# was tried and LOST to numpy's u64 `%` (58 ms vs 17 ms per 2.7M elems:
# three broadcast passes beat one division pass only on paper).
_CHUNK_SHINGLES = 1 << 9


def _batch_sigs_and_bands(
    texts: list[str | None],
    a: np.ndarray,
    b: np.ndarray,
    nh: int,
    bands: int,
    rpb: int,
    k: int,
) -> tuple[list[np.ndarray | None], list[np.ndarray | None]]:
    """Whole-batch (minwise signatures, band hashes) — bit-identical to
    the scalar ``_band_hashes(_shingle_hashes(t, k), ...)`` per caption
    (gated by test_batch_minhash_equals_scalar_reference), ~one numpy
    pass per Arrow batch instead of a Python loop per caption.

    Signatures are returned as int32 (minwise values < 2^31−1): the
    full signature rides along so the verify stage can estimate Jaccard
    JVM-side before attaching captions (verify.prefilter_minhash) —
    int32 halves its storage/shuffle width vs int64.

    Captions shorter than k (their single shingle needs its own power
    vector) and empties take the scalar path; everything else shares
    one rolling-hash prefix pass and chunked minhash matrices reduced
    per caption with ``np.minimum.reduceat`` (duplicate shingles don't
    affect a min, so the scalar path's np.unique is skipped)."""
    n = len(texts)
    out_sig: list[np.ndarray | None] = [None] * n
    out: list[np.ndarray | None] = [None] * n
    long_idx = []
    for i, t in enumerate(texts):
        if not t:
            continue
        if len(t) < k:
            s = _minwise_sig(_shingle_hashes(t, k), a, b)
            if s is not None:
                out_sig[i] = s.astype(np.int32)
                out[i] = _fold_bands(s, bands, rpb)
        else:
            long_idx.append(i)
    if not long_idx:
        return out_sig, out

    lens = np.array([len(texts[i]) for i in long_idx], dtype=np.int64)
    cp = np.frombuffer(
        "".join(texts[i] for i in long_idx).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.uint64)
    starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
    N = cp.shape[0]
    with np.errstate(over="ignore"):  # uint64 wraparound IS the modulus
        powsB = np.empty(N + 1, dtype=np.uint64)
        powsB[0] = 1
        np.cumprod(np.full(N, _POLY_B, dtype=np.uint64), out=powsB[1:])
        T = np.empty(N + 1, dtype=np.uint64)
        T[0] = 0
        np.cumsum(cp * _pows_inv(N), out=T[1:])
        # windows: for caption at offset o with length L, starts o..o+L-k
        win_counts = lens - k + 1
        win_starts = np.repeat(starts, win_counts) + _ragged_arange(win_counts)
        H = (T[win_starts + k] - T[win_starts]) * powsB[win_starts + k - 1]
    X = H % np.uint64(_P31)

    sig_starts = np.concatenate(([0], np.cumsum(win_counts)))
    sigs = np.empty((len(long_idx), nh), dtype=np.uint64)
    c0 = 0
    while c0 < len(long_idx):
        # grow the caption chunk until its shingle span exceeds the cap
        c1 = c0 + 1
        while (
            c1 < len(long_idx)
            and sig_starts[c1 + 1] - sig_starts[c0] <= _CHUNK_SHINGLES
        ):
            c1 += 1
        xs = X[sig_starts[c0] : sig_starts[c1]]
        if c1 == c0 + 1 and xs.shape[0] > _CHUNK_SHINGLES:
            # one pathological caption wider than the cap: running min
            # over shingle slices keeps the matrix bounded (the simhash
            # scatter-OOM lesson, detectors/simhash.py)
            acc = np.full(nh, _P31, dtype=np.uint64)
            for s0 in range(0, xs.shape[0], _CHUNK_SHINGLES):
                xsl = xs[s0 : s0 + _CHUNK_SHINGLES]
                np.minimum(
                    acc,
                    ((a[:, None] * xsl[None, :] + b[:, None]) % np.uint64(_P31))
                    .min(axis=1),
                    out=acc,
                )
            sigs[c0] = acc
        else:
            M = (a[:, None] * xs[None, :] + b[:, None]) % np.uint64(_P31)
            red = (sig_starts[c0:c1] - sig_starts[c0]).astype(np.intp)
            sigs[c0:c1] = np.minimum.reduceat(M, red, axis=1).T
        c0 = c1

    with np.errstate(over="ignore"):
        blocks = sigs[:, : bands * rpb].reshape(len(long_idx), bands, rpb)
        folded = np.zeros((len(long_idx), bands), dtype=np.uint64)
        for j in range(rpb):  # rpb is small (e.g. 3); wide axes vectorized
            folded = folded * _POLY_B + blocks[:, :, j]
    folded = folded.astype(np.int64)
    sigs32 = sigs.astype(np.int32)
    for row, i in enumerate(long_idx):
        out_sig[i] = sigs32[row]
        out[i] = folded[row]
    return out_sig, out


def _batch_band_hashes(
    texts: list[str | None],
    a: np.ndarray,
    b: np.ndarray,
    nh: int,
    bands: int,
    rpb: int,
    k: int,
) -> list[np.ndarray | None]:
    """Band hashes only — thin wrapper over _batch_sigs_and_bands (the
    bit-identity gates and band-only callers use this)."""
    return _batch_sigs_and_bands(texts, a, b, nh, bands, rpb, k)[1]


def _batch_shingle_segments(
    texts: list[str], k: int
) -> tuple[np.ndarray, np.ndarray]:
    """All captions' k-shingle hashes in one rolling-hash pass:
    returns (hashes uint64, seg_ids int64) where seg_ids[i] is the
    index of the caption that owns hashes[i].  NOT deduplicated —
    callers needing set semantics unique within segments themselves.

    Unlike the band path, short captions (0 < len < k) are handled in
    the same vectorized pass: their single whole-string shingle is just
    a window of length len(text) under the same prefix-hash identity
    h = (T[s+l] - T[s]) * B^(s+l-1).  Empty/None captions contribute
    zero shingles."""
    lens = np.array([len(t) if t else 0 for t in texts], dtype=np.int64)
    cp = np.frombuffer(
        "".join(t for t in texts if t).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.uint64)
    starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
    N = cp.shape[0]
    win_lens_per = np.minimum(lens, k)
    win_counts = np.where(lens > 0, np.maximum(lens - k + 1, 1), 0)
    seg_ids = np.repeat(np.arange(len(texts), dtype=np.int64), win_counts)
    win_starts = np.repeat(starts, win_counts) + _ragged_arange(win_counts)
    win_lens = np.repeat(win_lens_per, win_counts)
    with np.errstate(over="ignore"):  # uint64 wraparound IS the modulus
        powsB = np.empty(N + 1, dtype=np.uint64)
        powsB[0] = 1
        np.cumprod(np.full(N, _POLY_B, dtype=np.uint64), out=powsB[1:])
        T = np.empty(N + 1, dtype=np.uint64)
        T[0] = 0
        np.cumsum(cp * _pows_inv(N), out=T[1:])
        H = (T[win_starts + win_lens] - T[win_starts]) * powsB[
            win_starts + win_lens - 1
        ]
    return H, seg_ids


def _segment_sorted_sets(
    H: np.ndarray, seg: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """SET semantics over (hash, segment) pairs: lexsort by (segment,
    hash), drop adjacent duplicates — returns (uh, useg) where each
    segment's hashes are sorted and unique.  The one implementation of
    the dedupe idiom shared by the Jaccard verify (operators/verify.
    _batch_jaccard) and the substring verify (detectors/suffix.
    _batch_shares_substring); callers derive per-segment sizes
    (np.bincount(useg)) or slice bounds (np.searchsorted(useg, …))
    as needed."""
    order = np.lexsort((H, seg))
    Hs, segs = H[order], seg[order]
    keep = np.ones(Hs.shape[0], dtype=bool)
    keep[1:] = (Hs[1:] != Hs[:-1]) | (segs[1:] != segs[:-1])
    return Hs[keep], segs[keep]


def _pows_inv(n: int) -> np.ndarray:
    """[Binv^0, …, Binv^(n-1)] mod 2^64."""
    with np.errstate(over="ignore"):
        p = np.empty(n, dtype=np.uint64)
        if n:
            p[0] = 1
            if n > 1:
                np.cumprod(np.full(n - 1, _POLY_B_INV, dtype=np.uint64), out=p[1:])
        return p


def _ragged_arange(counts: np.ndarray) -> np.ndarray:
    """concatenate([arange(c) for c in counts]) without the Python loop."""
    total = int(counts.sum())
    ends = np.cumsum(counts)
    idx = np.arange(total, dtype=np.int64)
    return idx - np.repeat(ends - counts, counts)


def minhash_bands_udf(cfg: MinHashConfig):
    """pandas_udf: caption → struct(sig array<int>, bands array<long>).

    `bands` (len = cfg.bands) keys the LSH explode; `sig` is the full
    minwise signature (len = num_hashes, int32 — values < 2^31−1), kept
    so the verify stage can estimate pair Jaccard JVM-side and drop the
    LSH false-positive bulk BEFORE the caption attach
    (verify.prefilter_minhash)."""
    a, b = _params(cfg)
    k, nh, bands, rpb = cfg.shingle_k, cfg.num_hashes, cfg.bands, cfg.rows_per_band

    @F.pandas_udf("sig array<int>, bands array<long>")
    def bands_of(captions: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for batch in captions:
            sig, bnd = _batch_sigs_and_bands(
                [None if c is None else c for c in batch], a, b, nh, bands, rpb, k
            )
            yield pd.DataFrame(
                {
                    "sig": pd.Series(sig, dtype=object),
                    "bands": pd.Series(bnd, dtype=object),
                }
            )

    return bands_of


def minhash_signatures(images: DataFrame, cfg: MinHashConfig) -> DataFrame:
    """images → (image_id, sig array<int>, bands array<long>).  Scan
    reads only (image_id, caption) — verify with .explain() that
    ReadSchema excludes `bytes` (SURVEY.md §4: the biggest I/O lever at
    10^12).  The bucket explode selects only `bands`, so Catalyst
    prunes `sig` out of the wide (rows × bands) shuffle — it moves
    only through the narrow verify prefilter join."""
    from ..session import ensure_min_partitions

    udf = minhash_bands_udf(cfg)
    # spread an under-split scan before the signature UDF: one row
    # group = one task otherwise, whatever the cluster size
    images = ensure_min_partitions(images.select("image_id", "caption"))
    return images.select(
        "image_id", udf("caption").alias("sb")
    ).select("image_id", F.col("sb.sig").alias("sig"), F.col("sb.bands").alias("bands"))


def minhash_buckets(signatures: DataFrame) -> DataFrame:
    """(image_id, bands) → (image_id, bucket) with bucket =
    xxhash64('mh', band_idx, band_hash) — a LONG key, not a string:
    the LSH blocking shuffle moves 8 bytes per row instead of a ~30
    char concat (the single widest shuffle in the pipeline at 10^12
    rows × bands).  Hash collisions across bands merely create extra
    candidates that the exact-Jaccard verify kills."""
    return (
        signatures.where(F.col("bands").isNotNull())
        .select("image_id", F.posexplode("bands").alias("band_idx", "band_hash"))
        .select(
            "image_id",
            F.xxhash64(F.lit("mh"), F.col("band_idx"), F.col("band_hash")).alias(
                "bucket"
            ),
        )
    )
