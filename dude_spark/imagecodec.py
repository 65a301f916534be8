"""Deterministic image codec + perceptual hash (pure numpy/zlib).

Real image libraries (Pillow/opencv) are NOT in this container, so the
codecs here are deterministic stand-ins with *real lossy/lossless
semantics*: a lossless zlib "png", a quantized lossy "jpeg" whose
quantization step is chosen so PSNR >= 40 dB always holds at quality 90
(the BASELINE.json per-row invariant), and a coarser-quantized "gif".
The container formats, header layout, and Spark-side plumbing (binary
column in/out, Arrow batch shape, schema) are real; only the
entropy-coding internals are simplified.  When Pillow IS importable
(production clusters), `decode` transparently handles real PNG/JPEG/
GIF/WebP bytes too: container magic is tried first (deterministic test
path), anything else falls through to PIL behind the same signature
and error taxonomy — the "swap is a body change" claim, executable.

Reference analogue: the e2e fixture generators produce real 256x256
PNG/JPEG-q90/GIF files (/root/reference/tests/e2e_tests/
e2e_utilities.go:492-547, JPEG quality at :532); the engine itself only
ever treats file content as an opaque byte stream
(internal/processing/hashing.go:316).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

MAGIC = {"png": b"DPNG", "jpeg": b"DJPG", "gif": b"DGIF"}
_FMT_BY_MAGIC = {v: k for k, v in MAGIC.items()}

# Uniform quantization step per lossy format.  MSE of step-s uniform
# quantization ~ s^2/12; PSNR = 10*log10(255^2 / MSE).
#   jpeg q90: s=4  -> MSE~1.33 -> PSNR ~46.9 dB  (>= 40 invariant holds)
#   gif:      s=6  -> MSE~3.0  -> PSNR ~43.4 dB
_QUANT_STEP = {"jpeg": 4, "gif": 6}

try:  # pragma: no cover - not present in this container
    from PIL import Image as _PILImage

    HAVE_PIL = True
except ImportError:
    _PILImage = None
    HAVE_PIL = False


class CodecError(ValueError):
    """Undecodable payload — callers skip-and-count, never fail the job
    (≅ permission-error tolerance, internal/processing/files.go:59-70)."""


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    """Encode an (h, w, 3) uint8 pixel array into `fmt` container bytes."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise CodecError(f"expected (h,w,3) uint8, got {pixels.dtype}{pixels.shape}")
    if fmt not in MAGIC:
        raise CodecError(f"unknown format {fmt!r}")
    h, w = pixels.shape[:2]
    if not (0 < w <= 0xFFFF and 0 < h <= 0xFFFF):
        # struct.error from pack('<HH') would escape every caller's
        # except-CodecError handler; zero-area images are undecodable
        # by contract (see decode)
        raise CodecError(f"dimensions out of range: {w}x{h} (1..65535)")
    step = _QUANT_STEP.get(fmt)
    if step is not None:
        # mid-rise uniform quantization — the lossy step
        pixels = ((pixels.astype(np.int32) // step) * step + step // 2).clip(
            0, 255
        ).astype(np.uint8)
    payload = zlib.compress(pixels.tobytes(), level=1)
    return MAGIC[fmt] + struct.pack("<HH", w, h) + payload


def decode(data: bytes) -> tuple[np.ndarray, str]:
    """Decode container bytes → ((h, w, 3) uint8 pixels, fmt).

    Raises CodecError for malformed payloads.
    """
    if data is None or len(data) < 8:
        raise CodecError("payload too short")
    fmt = _FMT_BY_MAGIC.get(bytes(data[:4]))
    if fmt is None:
        if HAVE_PIL:
            return _decode_pil(data)
        raise CodecError("bad magic")
    w, h = struct.unpack("<HH", bytes(data[4:8]))
    expected = h * w * 3
    if expected == 0:
        # a zero-area image has no pixels to operate on — features
        # would be NaN means
        raise CodecError("zero-area image")
    # Decompression-bomb guard: the header is ATTACKER-CONTROLLED, so
    # (a) reject sizes no real payload of this length could inflate to
    # (zlib tops out near ~1032:1), and (b) hard-cap the decompressor
    # at expected+1 bytes so a lying stream can't allocate past the
    # claim either way.
    if expected > len(data) * 1100:
        raise CodecError(
            f"implausible dimensions {w}x{h} for a {len(data)}-byte payload"
        )
    try:
        obj = zlib.decompressobj()
        raw = obj.decompress(bytes(data[8:]), expected + 1)
    except zlib.error as e:
        raise CodecError(f"corrupt payload: {e}") from e
    if len(raw) != expected:
        raise CodecError("size mismatch")
    if not obj.eof or obj.unused_data:
        # exactly `expected` bytes came out but the stream either never
        # reached its end marker/adler32 (truncated) or carries bytes
        # past it — both rejected by plain zlib.decompress; keep
        # rejecting them now that the bomb guard decompresses
        # incrementally under a max_length cap
        raise CodecError("corrupt payload: truncated or trailing-garbage stream")
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3), fmt


def _decode_pil(data: bytes) -> tuple[np.ndarray, str]:  # pragma: no cover
    """Real-image fallback when Pillow is importable: PNG/JPEG/GIF/WebP
    bytes → ((h, w, 3) uint8, fmt).  Same CodecError taxonomy, so every
    caller's skip-and-count contract is unchanged."""
    import io

    try:
        with _PILImage.open(io.BytesIO(data)) as img:
            fmt = (img.format or "unknown").lower()
            pixels = np.asarray(img.convert("RGB"), dtype=np.uint8)
    except Exception as e:  # PIL raises a zoo of types for bad bytes
        raise CodecError(f"undecodable image payload: {e}") from e
    return pixels, fmt


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 pixel arrays."""
    if a.shape != b.shape:
        raise ValueError("shape mismatch")
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def phash64(pixels: np.ndarray, grid: int = 8) -> int:
    """64-bit average-hash perceptual fingerprint (signed int64 range).

    Grayscale → grid×grid block means → bit = cell > global mean.
    Deterministic pure-integer/float64 arithmetic — no Python hash().
    """
    gray = pixels.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    # block-mean downsample to grid x grid (pad to a multiple first)
    ph = (grid - h % grid) % grid
    pw = (grid - w % grid) % grid
    if ph or pw:
        gray = np.pad(gray, ((0, ph), (0, pw)), mode="edge")
    bh, bw = gray.shape[0] // grid, gray.shape[1] // grid
    cells = gray.reshape(grid, bh, grid, bw).mean(axis=(1, 3))
    bits = (cells > cells.mean()).astype(np.uint64).ravel()
    val = np.uint64(0)
    for i, b in enumerate(bits):
        val |= np.uint64(b) << np.uint64(i)
    return int(val.astype(np.int64))  # wrap into Spark LongType range


def pyramid_phash64(pixels: np.ndarray, grid: int = 2) -> list[int]:
    """[phash(full), phash(tile_0), …, phash(tile_{grid²-1})] — the
    full-image hash plus one per grid×grid tile (row-major, floor
    split; trailing remainder rows/cols fold into the last tile so
    every pixel is covered).  One shared hash space is the point:
    an image that IS another's tile (an exact crop) collides
    full-vs-tile, a tile-aligned collage collides tile-vs-tile, an
    exact duplicate collides full-vs-full.  Images smaller than the
    grid emit only the full hash (zero-area tiles have no content).
    Deterministic like phash64 — no Python hash()."""
    out = [phash64(pixels)]
    h, w = pixels.shape[:2]
    if h < grid or w < grid:
        return out
    hb, wb = h // grid, w // grid
    for i in range(grid):
        for j in range(grid):
            y1 = (i + 1) * hb if i < grid - 1 else h
            x1 = (j + 1) * wb if j < grid - 1 else w
            out.append(phash64(pixels[i * hb: y1, j * wb: x1]))
    return out
