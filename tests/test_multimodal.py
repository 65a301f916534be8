"""Multimodal image operators: decode, features, quality, tile-phash."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dude_spark.imagecodec import decode
from dude_spark.operators.multimodal import decode_images, extract_features


def test_decode_images_skip_and_count(spark, images_df, fixture_pdf):
    out = decode_images(images_df).toPandas().set_index("image_id")
    bad = fixture_pdf[fixture_pdf.truth_kind == "degenerate"]
    # undecodable/empty-bytes degenerate rows: ok=false with an error,
    # run does NOT fail (files.go:59-70 contract)
    def _undecodable(b) -> bool:
        try:
            decode(bytes(b or b""))
            return False
        except Exception:
            return True

    bad_ids = [r.image_id for r in bad.itertuples() if _undecodable(r.bytes)]
    assert bad_ids
    for i in bad_ids:
        assert not out.loc[i, "ok"] and out.loc[i, "err"]
    good = out[out.ok]
    assert len(good) == len(out) - len(bad_ids)
    # decoded dims match the metadata columns for healthy rows
    src = fixture_pdf.set_index("image_id")
    for i in good.index[:50]:
        assert int(good.loc[i, "w"]) == int(src.loc[i, "w"])
        assert int(good.loc[i, "h"]) == int(src.loc[i, "h"])


def test_extract_features_matches_phash_column(spark, images_df, fixture_pdf):
    feat = extract_features(images_df)
    # filter Spark-side: a pandas int64 column with NaNs silently
    # becomes float64 and corrupts 64-bit phash values in the test
    ok = feat.where(F.col("ok")).toPandas().set_index("image_id")
    src = fixture_pdf.set_index("image_id")
    assert len(ok) > 500
    for i in ok.index[:100]:
        # phash recomputed from decoded pixels must equal the input
        # column for lossless rows (png); lossy rows may differ slightly
        if src.loc[i, "fmt"] == "png":
            assert int(ok.loc[i, "phash"]) == int(src.loc[i, "phash"]), i
        assert 0.0 <= ok.loc[i, "brightness"] <= 255.0


@pytest.mark.skipif(
    not __import__("dude_spark.imagecodec", fromlist=["HAVE_PIL"]).HAVE_PIL,
    reason="Pillow not installed in this sandbox",
)
def test_real_png_decodes_through_pil_shim():
    """When Pillow exists, decode() must accept REAL image bytes —
    the production-codec claim, executable (VERDICT r2 next #10)."""
    import io

    import numpy as np
    from PIL import Image

    from dude_spark.imagecodec import decode

    arr = np.arange(48 * 48 * 3, dtype=np.uint8).reshape(48, 48, 3)
    buf = io.BytesIO()
    Image.fromarray(arr).save(buf, format="PNG")
    pixels, fmt = decode(buf.getvalue())
    assert fmt == "png" and np.array_equal(pixels, arr)


def test_non_container_bytes_still_raise_without_real_codecs():
    """Without Pillow the fallthrough must stay a clean CodecError,
    preserving skip-and-count."""
    from dude_spark import imagecodec

    blob = b"\x89PNG\r\n\x1a\nnot really a png but real magic padding"
    if not imagecodec.HAVE_PIL:
        with pytest.raises(imagecodec.CodecError):
            imagecodec.decode(blob)


def test_image_decompression_bomb_rejected():
    """A tiny blob claiming huge dimensions must raise CodecError
    before allocating the claimed pixels."""
    import struct as _struct
    import zlib as _zlib

    from dude_spark import imagecodec

    bomb = (
        imagecodec.MAGIC["png"]
        + _struct.pack("<HH", 65535, 65535)  # claims ~12.9 GB raw
        + _zlib.compress(b"\x00" * 4096, level=9)
    )
    with pytest.raises(imagecodec.CodecError, match="implausible"):
        imagecodec.decode(bomb)
    # a lying-but-plausible header is cut off at the cap, not ballooned
    lying = (
        imagecodec.MAGIC["png"]
        + _struct.pack("<HH", 4, 4)
        + _zlib.compress(b"\x00" * 10_000, level=9)
    )
    with pytest.raises(imagecodec.CodecError, match="size mismatch"):
        imagecodec.decode(lying)
    # a TRUNCATED stream that still inflates to exactly the claimed
    # size (adler32 trailer cut off) must not decode as a valid image:
    # the incremental bomb-guard decompressor has to check stream end,
    # not just output length
    good = imagecodec.encode(np.zeros((4, 4, 3), dtype=np.uint8), "png")
    with pytest.raises(imagecodec.CodecError, match="corrupt|truncated"):
        imagecodec.decode(good[:-4])
    # trailing garbage past the stream end is rejected too
    with pytest.raises(imagecodec.CodecError, match="corrupt|trailing"):
        imagecodec.decode(good + b"junk")


def test_zero_area_and_oversize_images_are_codec_errors(spark):
    import struct as _struct
    import zlib as _zlib

    from dude_spark import imagecodec

    zero = (
        imagecodec.MAGIC["png"]
        + _struct.pack("<HH", 5, 0)
        + _zlib.compress(b"")
    )
    with pytest.raises(imagecodec.CodecError, match="zero-area"):
        imagecodec.decode(zero)
    # through the operator: ok=false row, not an IndexError job failure
    df = spark.createDataFrame([("z", zero)], "image_id string, bytes binary")
    rows = decode_images(df).collect()
    assert len(rows) == 1 and not rows[0]["ok"]
    assert "zero-area" in rows[0]["err"]
    # encode: dimensions beyond the u16 container range raise
    # CodecError, not struct.error escaping the skip-and-count handler
    with pytest.raises(imagecodec.CodecError, match="out of range"):
        imagecodec.encode(
            np.zeros((1, 70000, 3), dtype=np.uint8), "png"
        )


def test_image_quality_cascade(spark):
    from dude_spark.imagecodec import encode
    from dude_spark.operators.multimodal import image_quality

    rng = np.random.default_rng(7)
    noisy = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    rows = [
        ("ok", encode(noisy, "png")),
        ("blank", encode(np.full((64, 64, 3), 128, np.uint8), "png")),
        # chromatic solid tile: zero variance WITHIN each channel but a
        # joint std of ~120 across channels — must still read blank
        ("red", encode(np.tile(np.array([255, 0, 0], np.uint8), (64, 64, 1)), "png")),
        ("tiny", encode(rng.integers(0, 256, (8, 8, 3), dtype=np.uint8), "png")),
        ("banner", encode(rng.integers(0, 256, (40, 400, 3), dtype=np.uint8), "png")),
        ("corrupt", b"\x00\x01junk"),
        ("empty", None),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    out = {r["image_id"]: r for r in image_quality(df).collect()}

    assert out["ok"]["quality"] == "ok" and out["ok"]["ok"]
    assert out["ok"]["std_x100"] >= 200
    # solid color: std exactly 0, flagged blank, not a job failure
    assert out["blank"]["quality"] == "blank" and out["blank"]["std_x100"] == 0
    assert out["red"]["quality"] == "blank" and out["red"]["std_x100"] == 0
    assert out["tiny"]["quality"] == "too_small" and out["tiny"]["w"] == 8
    # 400x40 = aspect 10 > 4.0 (min side 40 clears too_small, so the
    # cascade reaches the aspect cut); decoded dims, not metadata
    assert out["banner"]["quality"] == "extreme_aspect"
    assert (out["banner"]["w"], out["banner"]["h"]) == (400, 40)
    for bad in ("corrupt", "empty"):
        assert not out[bad]["ok"] and out[bad]["quality"] == "undecodable"
        assert out[bad]["std_x100"] is None


def test_image_quality_cascade_precedence(spark):
    """too_small outranks blank: an 8x8 solid tile reports too_small
    (first-match cascade contract, same as text quality_signals)."""
    from dude_spark.imagecodec import encode
    from dude_spark.operators.multimodal import image_quality

    df = spark.createDataFrame(
        [("t", encode(np.full((8, 8, 3), 55, np.uint8), "png"))],
        "image_id string, bytes binary",
    )
    (row,) = image_quality(df).collect()
    assert row["quality"] == "too_small"


class TestTilePhash:
    def _img_df(self, spark, items):
        """items: (image_id, pixels or None-for-garbage)"""
        from dude_spark.imagecodec import encode

        rows = []
        for iid, pix in items:
            data = b"\x00garbage" if pix is None else encode(pix, "png")
            rows.append((iid, bytearray(data)))
        return spark.createDataFrame(rows, "image_id string, bytes binary")

    def test_crop_collage_and_dup_all_pair(self, spark):
        rng = np.random.RandomState(8)
        A = rng.randint(0, 256, (64, 64, 3)).astype(np.uint8)
        B = A[:32, :32].copy()              # exact tile crop of A
        C = rng.randint(0, 256, (64, 64, 3)).astype(np.uint8)
        C[32:, 32:] = A[32:, 32:]           # tile-aligned collage reuse
        D = A.copy()                        # exact duplicate
        E = rng.randint(0, 256, (64, 64, 3)).astype(np.uint8)  # unrelated
        from dude_spark.operators.multimodal import tile_phash_pairs

        df = self._img_df(
            spark, [("a", A), ("b", B), ("c", C), ("d", D), ("e", E)]
        )
        pairs, overcap = tile_phash_pairs(df)
        got = {(r["a"], r["b"]) for r in pairs.collect()}
        assert ("a", "b") in got     # full(B) == tile0(A)
        assert ("a", "c") in got     # tile3(C) == tile3(A)
        assert ("a", "d") in got     # full == full
        assert not any("e" in p for p in got)

    def test_degenerate_rows_skip_and_count(self, spark):
        rng = np.random.RandomState(9)
        A = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
        from dude_spark.operators.multimodal import (
            extract_tile_features,
            tile_phash_pairs,
        )

        df = self._img_df(spark, [("a", A), ("bad", None)])
        feats = extract_tile_features(df).collect()
        by_id = {r["image_id"]: r for r in feats}
        assert by_id["a"]["ok"] and len(by_id["a"]["keys"]) == 5
        assert not by_id["bad"]["ok"] and by_id["bad"]["keys"] is None
        pairs, _ = tile_phash_pairs(df)
        assert pairs.count() == 0  # bad row excluded, no crash

    def test_constant_tile_hot_bucket_capped_and_recorded(self, spark):
        # every image shares an all-black tile -> one hot bucket
        rng = np.random.RandomState(10)
        items = []
        for i in range(12):
            p = rng.randint(0, 256, (32, 32, 3)).astype(np.uint8)
            p[:16, :16] = 0
            items.append((f"i{i}", p))
        from dude_spark.operators.multimodal import tile_phash_pairs

        pairs, overcap = tile_phash_pairs(
            self._img_df(spark, items), bucket_cap=4
        )
        oc = overcap.collect()
        assert oc and max(r["bucket_size"] for r in oc) == 12
        # exhaustive grid still emits every pair through the hot key
        assert pairs.count() == 12 * 11 // 2

    def test_jpeg_requantized_crop_needs_hamming(self, spark):
        """A JPEG-re-encoded crop perturbs the crop's phash by a few
        bits vs the source's tile phash: exact tile equality misses it,
        the pigeonhole + bit_count(xor) path recovers it."""
        from dude_spark.imagecodec import decode, encode, phash64, pyramid_phash64
        from dude_spark.operators.multimodal import (
            tile_phash_pairs,
            tile_phash_pairs_hamming,
        )

        rng = np.random.RandomState(2)
        A = rng.randint(0, 256, (128, 128, 3)).astype(np.uint8)
        crop_jpeg = encode(A[:64, :64].copy(), "jpeg")
        # the premise, asserted: requantization flipped SOME bits but
        # stayed inside the default radius-3 ball
        d = bin(
            (phash64(decode(crop_jpeg)[0]) ^ pyramid_phash64(A, 2)[1])
            & ((1 << 64) - 1)
        ).count("1")
        assert 1 <= d <= 3, d
        E = rng.randint(0, 256, (128, 128, 3)).astype(np.uint8)
        df = spark.createDataFrame(
            [("a", bytearray(encode(A, "png"))),
             ("crop", bytearray(crop_jpeg)),
             ("e", bytearray(encode(E, "png")))],
            "image_id string, bytes binary",
        )
        exact, _ = tile_phash_pairs(df)
        assert ("a", "crop") not in {
            (r["a"], r["b"]) for r in exact.collect()
        }
        fuzzy, _ = tile_phash_pairs_hamming(df, radius=3)
        got = {(r["a"], r["b"]) for r in fuzzy.collect()}
        assert ("a", "crop") in got
        assert not any("e" in p for p in got)

    def test_hamming_hot_bucket_capped_and_recorded(self, spark):
        # shared all-black tile -> every pigeonhole subset key is hot;
        # caps recorded, exhaustive grid still emits every pair and the
        # distance-0 verify keeps them all
        rng = np.random.RandomState(10)
        items = []
        for i in range(12):
            p = rng.randint(0, 256, (32, 32, 3)).astype(np.uint8)
            p[:16, :16] = 0
            items.append((f"i{i:02d}", p))
        from dude_spark.operators.multimodal import tile_phash_pairs_hamming

        pairs, overcap = tile_phash_pairs_hamming(
            self._img_df(spark, items), bucket_cap=4
        )
        oc = overcap.collect()
        assert oc and max(r["bucket_size"] for r in oc) == 12
        got = {(r["a"], r["b"]) for r in pairs.collect()}
        assert len(got) == 12 * 11 // 2

    def test_hamming_param_validation(self, spark):
        import pytest as _pytest

        from dude_spark.operators.multimodal import tile_phash_pairs_hamming

        df = self._img_df(spark, [])
        with _pytest.raises(ValueError, match="segments"):
            tile_phash_pairs_hamming(df, segments=7)
        with _pytest.raises(ValueError, match="radius"):
            tile_phash_pairs_hamming(df, segments=4, radius=4)
        with _pytest.raises(ValueError, match="grid"):
            tile_phash_pairs_hamming(df, grid=0)

    def test_small_image_emits_full_hash_only(self, spark):
        from dude_spark.operators.multimodal import extract_tile_features

        one = np.full((1, 1, 3), 7, dtype=np.uint8)
        out = extract_tile_features(self._img_df(spark, [("t", one)])).collect()
        assert len(out[0]["keys"]) == 1

    def test_grid_validation(self, spark):
        import pytest as _pytest

        from dude_spark.operators.multimodal import extract_tile_features

        with _pytest.raises(ValueError, match="grid"):
            extract_tile_features(self._img_df(spark, []), grid=0)
