"""Job configuration + validation — the `ExecutionParams` analogue.

Reference: ``ExecutionParams{Directories, UseCache, CacheDir, ResultsDir,
ParanoidMode, CPUs, BufSize, DebugMode}``
(/root/reference/internal/models/models.go:20-29) with validation in
internal/handlers/validation/resolver.go:13-82 and validator.go:17-47:
≥1 readable input, writable cache/results dirs, CPUs clamped to
[1, GOMAXPROCS], BufSize default 1024 / max 1<<20.

Here the "directories" generalize to input table paths, the SQLite cache
dir to a checkpoint root, and ParanoidMode to the verify stage.  All
hash-family seeds are part of the config and feed a deterministic
``config_id`` so signatures are cache-addressed by configuration
(SURVEY.md §4: "deterministic seeds for all hash families,
config-addressed").
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os


class ConfigError(ValueError):
    """Validation failure — same fail-fast role as the reference's error
    taxonomy (internal/handlers/validation/errors.go:5-11)."""


MAX_BUF_SIZE = 1 << 20  # resolver.go:78 upper bound
DEFAULT_BUF_SIZE = 1024  # resolver.go:74 default


@dataclasses.dataclass
class MinHashConfig:
    """D1: MinHash-LSH over caption shingles."""

    shingle_k: int = 6          # character shingle width (k=6: random-pair tail fires 4x less than k=5; planted word-replacement pairs stay J>=0.58 -> caught at 0.994)
    num_hashes: int = 168       # minhash signature length
    bands: int = 42             # LSH bands (rows per band = num_hashes // bands)
    seed: int = 42
    jaccard_threshold: float = 0.55  # verify-stage exact-similarity floor
    # s-curve at (bands=42, r=4): P(bucket-share) = 1-(1-J^4)^42
    #   J=0.63 → 0.9992   J=0.55 → 0.982   J=0.2 → 0.065   J=0.1 → 0.0042
    #   J=0.035 → 6e-5
    # Planted near-dups (J ≥ 0.63 on realistic-vocabulary captions) are
    # caught with prob ≥ 0.999 (BASELINE.json recall ≥ 0.99) while the
    # random-pair tail (J ≈ 0.03-0.1) almost never fires — r=4 rather
    # than r=3 because at n^2 pair volume even a 0.4% tail rate floods
    # the verify stage with O(n^2/250) candidates.
    #
    # Sketch-estimate prefilter (verify.prefilter_minhash): before the
    # exact-Jaccard verify attaches captions, candidate pairs whose
    # full-signature agreement estimates J < threshold − margin·σ
    # (σ = sqrt(τ(1−τ)/num_hashes) ≈ 0.038 here) are dropped JVM-side.
    # At 4σ the per-true-pair loss is ~3e-5 — noise against the 0.99
    # recall bar — while on high-overlap corpora it removes ~99% of
    # candidates before the wide caption join.  Set margin_sigmas to
    # raise/lower the cut; verify_prefilter=False restores the pure
    # exact verify.
    verify_prefilter: bool = True
    prefilter_margin_sigmas: float = 4.0

    def __post_init__(self) -> None:
        if self.num_hashes % self.bands != 0:
            raise ConfigError("num_hashes must be divisible by bands")

    @property
    def rows_per_band(self) -> int:
        return self.num_hashes // self.bands


@dataclasses.dataclass
class SimHashConfig:
    """D2: 64-bit SimHash over phash bits + caption tokens, Hamming-ball
    bucketing via pigeonhole segmenting (radius <= segments - 1)."""

    segments: int = 8           # 64-bit sig split into 8x8-bit segments
    hamming_radius: int = 3     # phash channel: generalized pigeonhole —
    seed: int = 42              # any (m-r)-subset of segments is a bucket
    use_phash: bool = True      # table → C(m,r) tables with (m-r)*(64/m)-bit
    use_caption: bool = True    # keys (40-bit at defaults)
    caption_radius: int = 1     # caption channel: near-identical token bags
    # sit at distance ~0-1, so radius 1 suffices → C(8,1)=8 tables with
    # 56-bit keys instead of 56 tables — 43% less candidate explode.
    # Raise toward hamming_radius to hunt fuzzier token-bag matches.

    def __post_init__(self) -> None:
        if 64 % self.segments != 0:
            raise ConfigError("segments must divide 64")
        for r in (self.hamming_radius, self.caption_radius):
            if r > self.segments - 1:
                raise ConfigError(
                    "pigeonhole bucketing needs radius <= segments - 1"
                )

    def radius_for(self, channel: str) -> int:
        return self.caption_radius if channel == "caption" else self.hamming_radius


@dataclasses.dataclass
class SuffixConfig:
    """D3: suffix-array exact-substring matching over captions."""

    min_match_len: int = 32     # shared-substring threshold (chars).
    # 32 ≈ a 5-6 word run — long enough that natural-language captions
    # sharing it are genuinely near-dups; 16 (≈3 words) makes random
    # small-vocab captions transitively collapse into one giant cluster.
    boundary_overlap: int = 64  # prefix chars replicated across partitions


@dataclasses.dataclass
class JobConfig:
    """Full pipeline configuration (≅ ExecutionParams, models.go:20-29)."""

    input_paths: tuple[str, ...] = ()      # ≅ Directories (≥1, readable)
    checkpoint_dir: str | None = None      # ≅ CacheDir (SQLite → parquet/Iceberg)
    results_dir: str | None = None         # ≅ ResultsDir
    use_cache: bool = False                # ≅ UseCache — incremental signatures
    paranoid: bool = True                  # ≅ ParanoidMode — verify stage on
    cpus: int = 0                          # ≅ CPUs (0 → all available)
    buf_size: int = DEFAULT_BUF_SIZE       # ≅ BufSize → Arrow batch rows
    detectors: tuple[str, ...] = ("exact",)  # subset of {exact,minhash,simhash,suffix}
    # id dictionary encoding (operators/ids.py): "auto" turns the
    # string→dense-long key mapping on when the input reaches
    # id_encoding_min_rows (probed with a bounded limit().count(), so
    # the probe costs the same at 10^12 rows as at 10^5); "on"/"off"
    # force it.  Below the threshold the mapping-join overhead exceeds
    # the shuffle-width savings (measured at n=20k); above it the
    # narrower exploded-bucket shuffle dominates (round-2 stage
    # anatomy: ~3× on the widest shuffle at n=600k).
    id_encoding: str = "auto"
    id_encoding_min_rows: int = 100_000
    bucket_cap: int = 64                   # max bucket size fully paired (then chained)
    run_id: str = "run"
    minhash: MinHashConfig = dataclasses.field(default_factory=MinHashConfig)
    simhash: SimHashConfig = dataclasses.field(default_factory=SimHashConfig)
    suffix: SuffixConfig = dataclasses.field(default_factory=SuffixConfig)

    def validated(self) -> "JobConfig":
        """Resolve + clamp, mirroring resolver.go:13-82 semantics."""
        cfg = dataclasses.replace(self)
        if not cfg.input_paths:
            raise ConfigError("at least one input path is required")  # resolver.go:17
        for p in cfg.input_paths:
            if not os.path.exists(p):
                raise ConfigError(f"input path does not exist: {p}")
        known = {"exact", "minhash", "simhash", "suffix"}
        bad = set(cfg.detectors) - known
        if bad:
            raise ConfigError(f"unknown detectors: {sorted(bad)}")
        max_cpus = os.cpu_count() or 1
        if cfg.cpus <= 0 or cfg.cpus > max_cpus:   # clamp ≅ resolver.go:54-67
            cfg.cpus = max_cpus
        if cfg.buf_size <= 0:
            cfg.buf_size = DEFAULT_BUF_SIZE        # resolver.go:74
        cfg.buf_size = min(cfg.buf_size, MAX_BUF_SIZE)  # resolver.go:78
        if cfg.bucket_cap < 2:
            raise ConfigError("bucket_cap must be >= 2")
        if cfg.id_encoding not in ("auto", "on", "off"):
            raise ConfigError(
                f"id_encoding must be auto/on/off, got {cfg.id_encoding!r}"
            )
        return cfg

    def config_id(self, detector: str) -> str:
        """Deterministic id of one detector's full hash configuration.

        Signatures in the checkpoint table are keyed by this so a config
        change invalidates the cache the way a file mtime/size change
        invalidates the reference's row cache (hashing.go:84-88).
        """
        sub: dict = {"detector": detector}
        if detector == "minhash":
            sub.update(dataclasses.asdict(self.minhash))
        elif detector == "simhash":
            sub.update(dataclasses.asdict(self.simhash))
        elif detector == "suffix":
            sub.update(dataclasses.asdict(self.suffix))
        blob = json.dumps(sub, sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]
