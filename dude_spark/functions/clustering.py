"""Distributed spherical k-means over an embedding column — the
clustering stage of SemDeDup-style semantic dedup (Abbas et al. 2023)
and of cluster-scoped curation (per-cluster sampling, outlier pruning,
topic balancing) at corpus scale.

The IVF index (embedding.py) already trains k-means ON A SAMPLE — right
for an ANN routing table, wrong when the DELIVERABLE is the assignment
of every row (SemDeDup needs each doc's cluster so pair generation can
be scoped within clusters).  This module runs Lloyd's algorithm over
the FULL corpus: each iteration is one corpus scan (a vectorized
integer-matmul assignment UDF) plus one combinable (cluster, dim)
integer-sum aggregate whose k·dim result is the only thing the driver
ever holds.  That is the textbook distributed k-means shape (MLlib's
is the same); iterations cost T scans by construction.

What is NOT textbook: the whole trajectory is BIT-DETERMINISTIC, by
the centroid_similarity playbook (embedding.py) —

* rows are quantized once: ``q_i = floor(double(v_i)·S)`` then unit-
  quantized ``u_i = floor(double(q_i)·S / sqrt(double(na2)))`` with
  ``na2 = Σ q_i²`` exact — every step a single correctly-rounded IEEE
  op on order-free integers;
* per-cluster update sums are INTEGER sums of u (exact in any
  addition order — a float mean would drift with partitioning and
  run-to-run reduce order, making the result unreproducible);
* centroids renormalize to the same integer scale via one closed-form
  IEEE expression, so cluster-size magnitude never compounds and the
  int64 assignment matmul can never overflow (|u·C| ≤ 64·S² ≈ 6.4e13);
* the assignment matmul itself is int64·int64 (numpy integer matmul is
  exact, no BLAS float reduction), and the only floats — dividing each
  cluster's dot by its ``sqrt(ns2)`` — are correctly-rounded ops on
  identical integers, so ties and argmaxes are identical everywhere;
* init is the k rows with the smallest ``md5(cast(id as string))`` —
  a deterministic hash order both engines share (TakeOrdered on the
  Spark side, never a full sort).

Consequence: the driver query's DuckDB oracle replays the ENTIRE
k-means — init, every Lloyd round, final assignment — in plain SQL and
hash-matches bit-for-bit.  An iterative float algorithm is normally
the definition of "not SQL-oracle-able"; the integer trajectory is
what buys the strong gate (``__spark_entry__.q_kmeans_clusters``).

Degenerate handling, all by definition (never NaN): zero/NaN-component
vectors quantize to u = 0, score 0 against every cluster, and land in
cluster 0 (first argmax); clusters that lose every member (or whose
members sum to the zero vector) keep their previous centroid — the
_spherical_kmeans convention.

Scale shape at 10^12 rows: the u-frame is computed once in pure
codegen and pinned; each iteration ships k·dim longs to
executors in the UDF closure (~2 MB at k=4096·dim 64 — broadcast-sized
by construction) and returns k·dim longs to the driver; no other
collect exists.  ``ensure_min_partitions`` floors the scan ahead of
the Python matmul (the §10.5 one-row-group starvation fix).

Reference analogue: none — DuDe has no clustering; north-star
LLM-pipeline scope (SemDeDup composes this with the pairs + CC
operators already shipped).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import ensure_min_partitions, pin

SCALE = 1_000_000


def quantized(vec_col) -> tuple:
    """(q array<long>, na2 long): the quantized integer vector
    ``q_i = floor(double(v_i)·SCALE)`` and its exact squared norm.
    Single correctly-rounded IEEE steps on exact integers, so any
    engine replaying the formula gets the identical longs.  NaN
    components are defined as 0 (a failed encoder must not poison
    ANSI casts or argsorts)."""
    q = F.transform(
        vec_col,
        lambda x: F.floor(
            F.nanvl(x.cast("double"), F.lit(0.0)) * F.lit(float(SCALE))
        ).cast("long"),
    )
    na2 = F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x * x)
    return q, na2


def _u_frame(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(_id, _u array<long>, _nu2 long), null-embedding rows dropped,
    partition-floored ahead of the Python matmul stages.  _u is the
    unit-quantized vector ``floor(q_i·SCALE / sqrt(na2))`` (zero
    vector when na2 = 0); _nu2 = Σ u_i² exact — the norm the final
    cosine uses (u is the vector actually scored, and |u| is only
    ≈ SCALE, not exactly)."""
    q, na2 = quantized(F.col(vec_col))
    base = (
        ensure_min_partitions(
            df.where(F.col(vec_col).isNotNull()).select(id_col, vec_col)
        )
        .withColumn("_na2", na2)
        .withColumn("_q", q)
    )
    u = F.when(
        F.col("_na2") == 0,
        F.transform(F.col("_q"), lambda x: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(
            F.col("_q"),
            lambda x: F.floor(
                (x.cast("double") * F.lit(float(SCALE)))
                / F.sqrt(F.col("_na2").cast("double"))
            ).cast("long"),
        )
    )
    nu2 = F.aggregate(u, F.lit(0).cast("long"), lambda a, x: a + x * x)
    return base.select(
        F.col(id_col).alias("_id"), u.alias("_u"), nu2.alias("_nu2")
    )


def _assign_udf(cent: np.ndarray, ns2: list[int], with_sim: bool):
    """pandas_udf over u arrays: int64 matmul against the centroid
    matrix, per-cluster division by sqrt(ns2), first-max argmax (ties
    → lowest cluster id).  With ``with_sim``, also the closed-form
    integer per-mille cosine to the chosen centroid."""
    C = cent.astype(np.int64)
    s = np.sqrt(np.asarray(ns2, dtype=np.float64))
    s_safe = np.where(s == 0.0, 1.0, s)

    if with_sim:

        @F.pandas_udf("struct<c: int, sim: long>")
        def assign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                U = np.stack(pdf["_u"].to_numpy()).astype(np.int64)
                nu2 = pdf["_nu2"].to_numpy().astype(np.int64)
                dots = U @ C.T  # exact: numpy integer matmul
                sims = dots / s_safe  # correctly-rounded IEEE, per element
                sims[:, s == 0.0] = -np.inf  # dead (all-zero) centroid
                c = np.argmax(sims, axis=1).astype(np.int32)
                dsel = dots[np.arange(len(c)), c]
                den = np.sqrt(nu2.astype(np.float64)) * s_safe[c]
                ok = (nu2 > 0) & (s[c] > 0)
                sim = np.zeros(len(c), dtype=np.int64)
                sim[ok] = np.floor(
                    (1000 * dsel[ok]).astype(np.float64) / den[ok]
                ).astype(np.int64)
                yield pd.DataFrame({"c": c, "sim": sim})

        return assign

    @F.pandas_udf("int")
    def assign_only(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for batch in it:
            U = np.stack(batch.to_numpy()).astype(np.int64)
            sims = (U @ C.T) / s_safe
            sims[:, s == 0.0] = -np.inf
            yield pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    return assign_only


def _renorm(sums: dict[int, list[int]], old: np.ndarray) -> np.ndarray:
    """Next centroid matrix: renormalize each cluster's exact integer
    sum vector back to SCALE via the closed-form IEEE expression;
    empty/zero clusters keep their old centroid.  Python bigints keep
    Σ S_i² exact at any cluster size (the SQL twin uses HUGEINT)."""
    out = old.copy()
    for c, S in sums.items():
        ns2 = sum(v * v for v in S)
        if ns2 > 0:
            r = math.sqrt(float(ns2))
            out[c] = [math.floor((float(v) * float(SCALE)) / r) for v in S]
    return out


def kmeans_fit(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 5,
) -> np.ndarray:
    """Full-corpus distributed Lloyd; returns the integer centroid
    matrix (k×dim int64) after ``iters`` update rounds.  Init = the
    unit-quantized vectors of the k rows with the smallest
    md5(cast(id as string)), cluster ids in that md5 order."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    u = pin(_u_frame(corpus, id_col, vec_col))
    return _fit_on_u(u, k, iters)


def _fit_on_u(u: DataFrame, k: int, iters: int) -> np.ndarray:
    """Lloyd rounds over a prepared (checkpointed) u-frame — shared by
    kmeans_fit and semdedup so the quantization pass runs once."""
    seed_rows = (
        u.orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(k)
        .collect()
    )
    if not seed_rows:
        return np.empty((0, 0), dtype=np.int64)
    cent = np.asarray([r["_u"] for r in seed_rows], dtype=np.int64)

    for _ in range(iters):
        ns2 = [int((row.astype(object) ** 2).sum()) for row in cent]
        assign = _assign_udf(cent, ns2, with_sim=False)
        sums = (
            u.withColumn("_c", assign(F.col("_u")))
            .select("_c", F.posexplode("_u").alias("_i", "_v"))
            .groupBy("_c", "_i")
            .agg(F.sum("_v").alias("_s"))
            .collect()
        )
        by_c: dict[int, list[int]] = {}
        for r in sums:
            by_c.setdefault(r["_c"], [0] * cent.shape[1])[r["_i"]] = r["_s"]
        cent = _renorm(by_c, cent)
    return cent


def kmeans_assign(
    corpus: DataFrame,
    cent: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, sim_x1000) against a fixed centroid matrix.
    An empty matrix yields zero rows (id type follows the corpus —
    never a hardcoded long that would break string-id callers)."""
    if cent.size == 0:
        return corpus.where(F.lit(False)).select(
            F.col(id_col),
            F.lit(0).cast("long").alias("cluster"),
            F.lit(0).cast("long").alias("sim_x1000"),
        )
    return _assign_on_u(_u_frame(corpus, id_col, vec_col), cent, id_col)


def _assign_on_u(u: DataFrame, cent: np.ndarray, id_col: str) -> DataFrame:
    """kmeans_assign over a PREPARED u-frame — kmeans_clusters shares
    the checkpointed u between fit and final assignment instead of
    re-running the scan + quantization chain (measured: one of five
    corpus passes, removed)."""
    ns2 = [int((row.astype(object) ** 2).sum()) for row in cent]
    assign = _assign_udf(cent, ns2, with_sim=True)
    return u.select(
        F.col("_id").alias(id_col),
        assign(F.struct("_u", "_nu2")).alias("_a"),
    ).select(
        id_col,
        F.col("_a.c").cast("long").alias("cluster"),
        F.col("_a.sim").alias("sim_x1000"),
    )


def kmeans_clusters(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 5,
) -> DataFrame:
    """Fit on the full corpus, then assign every row against the final
    centroids: (id, cluster, sim_x1000).  One u-frame, checkpointed
    once, shared by the fit rounds AND the final assignment."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    u = pin(_u_frame(corpus, id_col, vec_col))
    cent = _fit_on_u(u, k, iters)
    if cent.size == 0:
        return corpus.where(F.lit(False)).select(
            F.col(id_col),
            F.lit(0).cast("long").alias("cluster"),
            F.lit(0).cast("long").alias("sim_x1000"),
        )
    return _assign_on_u(u, cent, id_col)


def verify_pairs_cosine(
    pairs: DataFrame, u: DataFrame, threshold_x1000: int
) -> DataFrame:
    """Filter candidate (a, b) pairs to integer per-mille cosine ≥
    ``threshold_x1000`` over a prepared u-frame — the closed-form
    exact-integer expression every caller (semdedup, semdedup_new,
    the streaming embedding preset) must share so their oracles and
    state contracts can never diverge.  One codegen join per side, no
    Python in the scoring loop; zero-norm members never qualify."""
    ua = u.select(
        F.col("_id").alias("a"), F.col("_u").alias("_ua"),
        F.col("_nu2").alias("_na"),
    )
    ub = u.select(
        F.col("_id").alias("b"), F.col("_u").alias("_ub"),
        F.col("_nu2").alias("_nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("_ua"), F.col("_ub"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sim = F.floor(
        (F.lit(1000).cast("long") * F.col("_dot")).cast("double")
        / (
            F.sqrt(F.col("_na").cast("double"))
            * F.sqrt(F.col("_nb").cast("double"))
        )
    ).cast("long")
    return (
        pairs.join(ua, "a")
        .join(ub, "b")
        .where((F.col("_na") > 0) & (F.col("_nb") > 0))
        .withColumn("_dot", dot)
        .where(sim >= F.lit(int(threshold_x1000)))
        .select("a", "b")
    )


def semdedup(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 5,
    threshold_x1000: int = 950,
    cluster_cap: int = 512,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) end-to-end at scale: k-means the
    corpus, generate candidate pairs ONLY within clusters, keep pairs
    whose integer per-mille cosine ≥ ``threshold_x1000``, connect
    components, keep each component's min-id representative.

    Returns (id, rep_id, keep) — one row per vector that appears in at
    least one qualifying pair (vectors in no pair are implicitly kept,
    the dedup_assignments convention); ``keep`` = 1 on the min-id
    representative.

    Why this composition is the 10^12-row shape: the cluster equi-join
    bounds candidate generation to Σ|cluster|² instead of N² — k is
    the knob (SemDeDup's own recipe: k ≈ N/10^4) — and a hot cluster
    never meets one task: pair generation routes through
    ``pairs_from_buckets(overcap_mode="exhaustive")``, the salted
    block grid that spreads a b²-pair bucket over b²/cap² cells with
    ~2·cap rows per task.  Pair similarity reuses the exact-integer u
    vectors (one codegen join, no Python), with the same closed-form
    IEEE per-mille as the rest of this module — so the ENTIRE
    pipeline, k-means rounds included, replays bit-exactly in the
    driver query's DuckDB oracle (``semdedup_prune``).

    The assignment stage is pinned before pair generation:
    pairs_from_buckets is EAGER (a skew-probe action at call time) and
    would otherwise re-run the assignment UDF chain per action.
    """
    from ..operators.candidates import pairs_from_buckets
    from ..operators.components import connected_components

    if not 0 <= threshold_x1000 <= 1000:
        raise ValueError(
            f"threshold_x1000 must be in [0, 1000], got {threshold_x1000}"
        )
    u = pin(_u_frame(corpus, id_col, vec_col))
    cent = _fit_on_u(u, k, iters)
    if cent.size == 0:
        return corpus.where(F.lit(False)).select(
            F.col(id_col),
            F.col(id_col).alias("rep_id"),
            F.lit(0).cast("long").alias("keep"),
        )
    ns2 = [int((row.astype(object) ** 2).sum()) for row in cent]
    assign = _assign_udf(cent, ns2, with_sim=False)
    assigned = pin(u.select(
        F.col("_id").alias("image_id"), assign(F.col("_u")).alias("bucket")
    ))

    pairs, _overcap = pairs_from_buckets(
        assigned, bucket_cap=cluster_cap, overcap_mode="exhaustive"
    )
    strong = verify_pairs_cosine(pairs, u, threshold_x1000)
    assigns = connected_components(strong)
    return assigns.select(
        F.col("image_id").alias(id_col),
        F.col("cluster_id").alias("rep_id"),
        (F.col("image_id") == F.col("cluster_id")).cast("long").alias("keep"),
    )


def semdedup_new(
    corpus: DataFrame,
    new: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 5,
    threshold_x1000: int = 950,
    cluster_cap: int = 10_000,
) -> DataFrame:
    """Incremental SemDeDup: semantic dup pairs of a NEW embedding
    batch against an already-ingested corpus — within-new and
    new-vs-known pairs, NEVER within-known (the known side is already
    semantically deduplicated by contract).  The embedding twin of
    ``cross_corpus_pairs`` ("dedupe this month's crawl against
    everything ingested, without re-pairing the old side").

    Returns (a, b): a = known id for cross pairs (b = new id), both
    new with a < b for within-new pairs; every pair has integer
    per-mille cosine ≥ ``threshold_x1000``.

    Composition: centroids fit on the KNOWN side (the stable corpus
    geometry — a 10^9-row ingest should not re-train on every batch;
    assignment of new rows against frozen centroids is one scan), both
    sides assign to clusters, and the cluster id plays the bucket
    role: new-vs-known goes through ``pairs_vs_known`` (known side
    restricted to the batch's clusters), within-new through the
    exhaustive salted grid.  Pair cosine is the same closed-form
    exact-integer expression as ``semdedup``, so the driver query's
    DuckDB oracle replays the whole composition
    (``semdedup_new_pairs``).

    Over-cap semantics — read before lowering ``cluster_cap``: a
    cluster whose KNOWN membership exceeds the cap joins new members
    against its min-id anchor ONLY, and because the cosine verify
    then runs against the anchor alone, a true duplicate of a
    NON-anchor member in such a cluster is NOT recovered (unlike the
    exact-bucket case, where the anchor pair always survives and CC
    restores connectivity).  The cap is a blowup valve for the
    cross-join volume (Σ |new_c|·|known_c|), not a free lunch — the
    default matches SemDeDup's own cluster-size recipe (k ≈ N/10^4 →
    ~10^4 members), so it only fires when clustering is much coarser
    than the recipe; raise ``k`` or the cap when it does.  The cut is
    attached, never silent: the returned frame carries
    ``.overcap_known`` (pairs_vs_known's pinned frame of the cut
    clusters: bucket, bucket_size, bucket_min) and ``.overcap_within``
    (the within-new grid's task-spread records, which lose nothing).

    An EMPTY known corpus (no rows, or no non-null embeddings) is
    refused loudly: returning zero pairs would silently skip the
    promised within-new dedup — run ``semdedup`` on the batch
    instead for a first ingest.

    Disjoint-id CONTRACT, validated loudly: the known and new id
    namespaces must not overlap.  An id on both sides would carry
    duplicate ``_id`` rows through the unioned u-frame and fan out the
    cosine-verify joins into duplicated, ambiguous pairs — so the
    overlap is probed (one bounded ``limit(1)`` semi-join on the
    already-checkpointed 8-byte-key assignment frames, O(min side)
    work, no wide shuffle) and refused with the offending id named.
    Re-key one side (e.g. offset new ids) before calling.
    """
    from ..operators.candidates import pairs_from_buckets, pairs_vs_known

    if not 0 <= threshold_x1000 <= 1000:
        raise ValueError(
            f"threshold_x1000 must be in [0, 1000], got {threshold_x1000}"
        )
    u_known = pin(_u_frame(corpus, id_col, vec_col))
    cent = _fit_on_u(u_known, k, iters)
    if cent.size == 0:
        raise ValueError(
            "semdedup_new: the known corpus has no usable embeddings — "
            "nothing to fit centroids on or dedupe against; run "
            "semdedup on the new batch instead for a first ingest"
        )
    ns2 = [int((row.astype(object) ** 2).sum()) for row in cent]
    assign = _assign_udf(cent, ns2, with_sim=False)
    u_new = pin(_u_frame(new, id_col, vec_col))
    kb = pin(u_known.select(
        F.col("_id").alias("image_id"), assign(F.col("_u")).alias("bucket")
    ))
    nb = pin(u_new.select(
        F.col("_id").alias("image_id"), assign(F.col("_u")).alias("bucket")
    ))

    # disjoint-id contract (see docstring): bounded limit(1) probe on
    # the checkpointed 8-byte-key frames — an overlap would fan out the
    # verify joins below into duplicated, ambiguous pairs.
    clash = (
        nb.select("image_id")
        .join(kb.select("image_id"), "image_id", "left_semi")
        .limit(1)
        .collect()
    )
    if clash:
        raise ValueError(
            "semdedup_new: id namespaces of the known corpus and the "
            f"new batch overlap (e.g. id {clash[0]['image_id']!r}) — "
            "the union of the two u-frames would duplicate _id rows "
            "and fan out the cosine-verify joins; re-key one side "
            "before calling"
        )

    cross, overcap_known = pairs_vs_known(
        nb, kb, bucket_cap=cluster_cap, context="semdedup_new cross join"
    )
    within, overcap_within = pairs_from_buckets(
        nb, bucket_cap=cluster_cap, overcap_mode="exhaustive"
    )
    pairs = cross.select("a", "b").unionByName(within.select("a", "b"))
    out = verify_pairs_cosine(
        pairs, u_known.unionByName(u_new), threshold_x1000
    )
    out.overcap_known = overcap_known  # type: ignore[attr-defined]
    out.overcap_within = overcap_within  # type: ignore[attr-defined]
    return out
