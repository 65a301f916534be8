"""id dictionary encoding — string image_id → dense long, decode at report.

The round-2 stage anatomy (BENCH.md) put the pipeline's widest shuffle
— 38M exploded bucket rows at n=600k — at ~49 s largely because
`image_id` rides every shuffle as a string; this one-pass mapping keys
the bucket explode, candidate pairs, every CC round, and the edge union
with 8-byte longs instead (~3× narrower rows on the widest shuffles),
decoding back to strings only at the report boundary.  Reference
analogue: none — DuDe keys everything by path string in a single
process (internal/processing/hashing.go:354); at 10^12 rows the key
width IS the shuffle bill.

Design constraints and why this shape:

  * **Dense rank, not a hash.**  xxhash64(image_id) needs no mapping
    table, but at 10^12 rows expects ~n²/2^65 ≈ tens of thousands of
    collisions — each one silently merges two unrelated images into
    one dedup identity.  Unacceptable for a correctness-bearing key.
  * **Order-preserving.**  iid = the global dense rank of image_id, so
    min(iid) over a component decodes to min(image_id) — the
    deterministic representative contract (components.py) survives
    encoding unchanged, and every oracle that sorts by id agrees.
  * **One range shuffle, no global window.**  The classic distributed
    dense-rank: range-repartition the (narrow) id column, count rows
    per partition (map-side combinable), cumulate the counts into
    per-partition offsets on the driver (#partitions values — tiny),
    then enumerate each partition with offset + local index in one
    mapInPandas pass.  No single-task global sort, no zipWithIndex
    RDD round-trip.  The pin between the two jobs is
    CORRECTNESS, not caching: repartitionByRange samples boundaries,
    so without pinning the computed partitions the count job and the
    enumerate job could see different layouts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ranking import with_global_rank


def encode_ids(
    images: DataFrame, id_col: str = "image_id", partitions: int | None = None
) -> DataFrame:
    """images → mapping(id_col string, iid long), iid = dense rank of
    id_col (0-based, deterministic for a given id set).  Assumes id_col
    values are unique (the table contract — TEXT UNIQUE in the
    reference, db/database.go:44); duplicate ids would each get their
    own iid and split one identity.

    The dense rank itself is :func:`functions.ranking.with_global_rank`
    — ONE implementation of the two-pass distributed enumeration (the
    docstring above explains the shape), not a second copy."""
    return with_global_rank(
        images.select(id_col), (id_col,), out_col="iid",
        partitions=partitions,
    )


def encode_keys(df: DataFrame, ids: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Replace each string key column in ``cols`` with its long iid via
    a join against the mapping (inner: every key is expected to be in
    the mapping — it was built from the same table).  Narrow join: only
    the mapping's two columns plus df's own shuffle."""
    for c in cols:
        df = (
            df.join(
                ids.select(F.col("image_id").alias(c), F.col("iid").alias("__iid")),
                c,
            )
            .drop(c)
            .withColumnRenamed("__iid", c)
        )
    return df


def decode_keys(df: DataFrame, ids: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Inverse of encode_keys: long iid columns back to strings."""
    for c in cols:
        df = (
            df.join(
                ids.select(
                    F.col("iid").alias(c), F.col("image_id").alias("__sid")
                ),
                c,
            )
            .drop(c)
            .withColumnRenamed("__sid", c)
        )
    return df
