"""D0 — exact content-equality detector (the DuDe-equivalent recall oracle).

Reference: MD5 fingerprint of streamed file content
(/root/reference/internal/processing/hashing.go:289-319) grouped by
hash (hashing.go:321-382).  Content — not the caption/filename — drives
equality: same-name-different-content is ignored and NFC/NFD-named
files with equal content ARE duplicates
(tests/e2e_tests/dual_folder_test.go:981-1028, :1083-1128).

Spark-first: a single JVM-side projection — `sha2(bytes, 256)` — no
Python UDF, fully whole-stage-codegen'd, and Catalyst prunes every
other column from the scan (at 10^12 rows the scan reads only
`image_id` + `bytes`).  sha2-256 collisions are cryptographically
negligible; the paranoid verify join (byte equality) removes even
those, mirroring ParanoidMode's defeat of real MD5-collision blocks
(tests/e2e_tests/single_folder_test.go:264-325).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_buckets(images: DataFrame, include_caption: bool = False) -> DataFrame:
    """images → (image_id, bucket) where bucket = sha2 of content.

    ``include_caption=True`` fingerprints (bytes ‖ caption) instead —
    the stricter pair-identity variant (SURVEY.md §2.2 D0 lists both).
    Null-bytes rows are skipped (skip-and-count tolerance, files.go:59-70).
    """
    content = F.col("bytes")
    if include_caption:
        content = F.concat(F.col("bytes"), F.encode(F.coalesce(F.col("caption"), F.lit("")), "UTF-8"))
    return (
        images.where(F.col("bytes").isNotNull())
        .select(F.col("image_id"), F.sha2(content, 256).alias("bucket"))
    )
