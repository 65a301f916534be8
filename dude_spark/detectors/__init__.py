"""Detector registry: each detector's signature → bucket → verify chain,
defined once.

``DETECTORS[name]`` (``exact``, ``minhash``, ``simhash``, ``suffix``)
holds four functions of the detector's own sub-config ``cfg``
(``MinHashConfig``, ``SimHashConfig``, ``SuffixConfig``; None for
exact):

  signatures(rows, cfg)             rows → per-row signature table
  buckets(sigs, cfg)                sigs → (image_id, bucket), possibly
                                    many buckets per row (LSH bands,
                                    SimHash segments)
  verify(pairs, rows, sigs, cfg)    candidate (a, b) → verified (a, b)
  reads(cfg)                        payload columns the chain reads

Rows sharing a bucket are candidate duplicates; the shared
candidate-pair stage (``operators.candidates.pairs_from_buckets``)
turns buckets into skew-capped ``(a, b)`` edges, and ``verify`` is the
exact recheck — the generalization of DuDe's group-then-byte-verify
(the reference's internal/processing/hashing.go:321-382 then
:135-239).  ``reads`` is both the batch pipeline's row-fingerprint
columns (incremental signatures) and the stream's persisted
``state_cols``.  ``run_pipeline``, ``streaming.detector_ingest``
(stream and dedup-new) and ``__spark_entry__``'s pair queries all run
the chain from here; ``config_id`` is the one id of a detector
configuration, keying signature stages and pinning stream state.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.verify import prefilter_minhash, verify_exact, verify_jaccard
from .exact import exact_buckets
from .minhash import minhash_buckets, minhash_signatures
from .simhash import simhash_buckets, simhash_pairs_verified, simhash_signatures
from .suffix import suffix_buckets, suffix_signatures, verify_substring


@dataclasses.dataclass(frozen=True)
class Detector:
    signatures: Callable[[DataFrame, object], DataFrame]
    buckets: Callable[[DataFrame, object], DataFrame]
    verify: Callable[[DataFrame, DataFrame, DataFrame, object], DataFrame]
    reads: Callable[[object], tuple[str, ...]]


def _verify_minhash(pairs, rows, sigs, cfg):
    if cfg.verify_prefilter:
        # sketch-estimate cut kills the LSH false-positive bulk
        # JVM-side before captions are attached (verify.py docs)
        pairs = prefilter_minhash(
            pairs, sigs, cfg.jaccard_threshold,
            cfg.num_hashes, cfg.prefilter_margin_sigmas,
        )
    return verify_jaccard(
        pairs, rows, cfg.shingle_k, cfg.jaccard_threshold
    ).select("a", "b")


DETECTORS: dict[str, Detector] = {
    "exact": Detector(
        signatures=lambda rows, cfg: exact_buckets(rows).withColumnRenamed(
            "bucket", "sig"
        ),
        buckets=lambda sigs, cfg: sigs.select(
            "image_id", F.col("sig").alias("bucket")
        ),
        verify=lambda pairs, rows, sigs, cfg: verify_exact(pairs, rows),
        reads=lambda cfg: ("bytes",),
    ),
    "minhash": Detector(
        signatures=minhash_signatures,
        buckets=lambda sigs, cfg: minhash_buckets(sigs),
        verify=_verify_minhash,
        reads=lambda cfg: ("caption",),
    ),
    "simhash": Detector(
        signatures=simhash_signatures,
        buckets=simhash_buckets,
        verify=lambda pairs, rows, sigs, cfg: simhash_pairs_verified(
            pairs, sigs, cfg
        ),
        reads=lambda cfg: tuple(
            c
            for c, on in (("caption", cfg.use_caption), ("phash", cfg.use_phash))
            if on
        ),
    ),
    "suffix": Detector(
        signatures=suffix_signatures,
        buckets=lambda sigs, cfg: suffix_buckets(sigs),
        verify=lambda pairs, rows, sigs, cfg: verify_substring(
            pairs, rows, cfg
        ).select("a", "b"),
        reads=lambda cfg: ("caption",),
    ),
}


def config_id(name: str, cfg=None) -> str:
    """Deterministic id of one detector's full configuration: ``cfg``
    is its sub-config dataclass, a dict (the stream's embedding and
    tilephash pins) or None.  Signature stages are keyed by it, so a
    config change invalidates the cache the way a file mtime/size
    change invalidates the reference's row cache (hashing.go:84-88),
    and a stream state dir pins it so a detector swap is refused."""
    sub: dict = {"detector": name}
    if isinstance(cfg, dict):
        sub.update(cfg)
    elif cfg is not None:
        sub.update(dataclasses.asdict(cfg))
    blob = json.dumps(sub, sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:16]
