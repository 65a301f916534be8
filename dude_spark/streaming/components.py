"""Incremental connected components over streaming duplicate pairs.

The batch pipeline recovers duplicate groups by running connected
components over the full pairs table (``operators.components``, the
small-star/large-star rounds of Kiveris et al., SOCC'14).  At ingest
that is the wrong cost model: re-running CC over 10^12 accumulated
pairs every micro-batch is O(corpus · rounds) per epoch, when a
micro-batch's new edges touch a vanishing fraction of components.
This module maintains the ``image_id → cluster_id`` assignment
*incrementally* — per epoch it does work proportional to the batch's
edges plus the membership of the components those edges actually
merge, never the corpus:

  1. map this epoch's pair endpoints through the existing assignment
     (a pruned latest-wins state read — only the touched keys' shards
     open), collapsing each known node to its component representative;
  2. run CC on the DELTA graph only — nodes are representatives and
     never-seen ids, edges are the mapped pairs (bounded by the batch,
     so the driver union-find fast path almost always takes it);
  3. components whose representative changed are merges: their full
     membership is looked up in a cluster-keyed members index (again a
     pruned read — only the losing clusters' shards) and rewritten to
     the winning cluster id.

Cluster-id contract is the batch operator's exactly: ``cluster_id =
min(image_id)`` over the component, singletons absent (a node enters
the state only via a pair).  That contract forces rewrite-the-losers
rather than union-by-size — when the global min id lives in the
smaller component the larger one is rewritten — because a stable,
order-independent cluster id is what makes epoch replays idempotent
and batch/streaming results comparable.  (Union-by-size with
rep-chaining would rewrite less but hand back unstable ids and a
read-time pointer chase.)

State lives in two ``ShardedEpochStore``s (storage.py):

  assign   key ``image_id``, rows (image_id, cluster_id) — MUTABLE,
           read through ``read_resolved_for_keys`` (latest epoch wins
           per key), compacted with ``dedup="latest"``.
  members  key ``cluster_id``, rows (cluster_id, image_id) — a
           cluster→members index so a merge can find the losing
           cluster's rows without scanning the corpus.  Append-only
           with set semantics (``.distinct()`` on read, compacted
           with ``dedup="distinct"``).  Rows keyed by a DEAD cluster
           id are never read again — a dead rep maps to its winner in
           ``assign``, so no future epoch resolves to it — which is
           what makes tombstones unnecessary.

Replay idempotency follows the ingest loop's scheme: both stores
write per-epoch overwrite partitions, and every state read excludes
the in-flight epoch, so a crashed attempt's half-written output is
invisible to its own replay.

Rewrite-the-losers' worst case is OBSERVABLE, not silent: every
component rewrite is recorded durably under ``<state>/merges/epoch=N``
as (epoch, winning_cluster, losing_cluster, rewritten_members) — the
overcap-record convention applied to the one unbounded-looking cost
here (a late tiny id arriving next to a 10^8-member component costs
that component's full membership rewrite in one epoch; the audit rows
make the spike visible before it hurts, and the per-epoch scan audit
carries the totals).

Reference parity: the reference groups duplicates per run in memory
(``/root/reference/internal/processing/runner.go`` result maps); the
streaming generalization — groups that stay current as files keep
arriving — has no reference counterpart and follows the incremental
view-maintenance shape instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.components import connected_components
from ..session import pin
from ..storage import ShardedEpochStore

ASSIGN_STORE = "assign"
MEMBERS_STORE = "members"


def assignment_stores(
    spark: SparkSession, state_dir: str, n_shards: int
) -> tuple[ShardedEpochStore, ShardedEpochStore]:
    """The (assign, members) store pair under ``state_dir``."""
    return (
        ShardedEpochStore(
            spark, state_dir, ASSIGN_STORE, key_col="image_id",
            n_shards=n_shards,
        ),
        ShardedEpochStore(
            spark, state_dir, MEMBERS_STORE, key_col="cluster_id",
            n_shards=n_shards,
        ),
    )


def update_assignments(
    spark: SparkSession,
    assign_store: ShardedEpochStore,
    members_store: ShardedEpochStore,
    pairs: DataFrame,
    epoch: int,
) -> dict:
    """Fold one epoch's verified pairs (a, b) into the incremental
    assignment state; returns an audit dict (delta row counts + the
    pruned-scan stats).  Caller contract: ``pairs`` is this epoch's
    final pair table (bounded), ideally pinned — it feeds
    several actions here."""
    merge_stats = None
    ids = (
        pairs.select(F.col("a").alias("image_id"))
        .unionByName(pairs.select(F.col("b").alias("image_id")))
        .distinct()
    )
    assign_shards = assign_store.shards_for(ids)
    raw_known = assign_store.read_for_shards(assign_shards)
    assign_scan = assign_store.scan_stats(raw_known, assign_shards)
    known = assign_store.resolve_latest(raw_known, exclude_epoch=epoch)
    if known is not None:
        known = pin(known.join(ids, "image_id", "leftsemi"))
        # collapse each endpoint to its component representative; an
        # unseen id represents itself
        ka = known.select(
            F.col("image_id").alias("a"), F.col("cluster_id").alias("ra")
        )
        kb = known.select(
            F.col("image_id").alias("b"), F.col("cluster_id").alias("rb")
        )
        edges = (
            pairs.join(ka, "a", "left")
            .join(kb, "b", "left")
            .select(
                F.coalesce(F.col("ra"), F.col("a")).alias("a"),
                F.coalesce(F.col("rb"), F.col("b")).alias("b"),
            )
        )
    else:
        edges = pairs.select("a", "b")
    # endpoints already in the same component produce no edge — the
    # delta graph holds only representatives/new ids that must move
    edges = edges.where(F.col("a") != F.col("b"))
    # delta CC input is bounded by the batch's pairs, so the driver
    # union-find fast path takes it in practice; checkpoint because
    # the result feeds two consumers (losers + new nodes)
    delta = pin(connected_components(edges))
    if known is not None:
        reps = known.select(
            F.col("cluster_id").alias("image_id")
        ).distinct()
        # losing representatives: existing clusters whose id is no
        # longer the component min — every one of their members moves
        losers = (
            delta.join(reps, "image_id", "leftsemi")
            .where(F.col("cluster_id") != F.col("image_id"))
            .select(
                F.col("image_id").alias("old_cluster"),
                F.col("cluster_id").alias("new_cluster"),
            )
        )
        new_nodes = delta.join(reps, "image_id", "left_anti")
        losers = pin(losers)
        # set-semantics read (NOT latest-wins — a cluster has many
        # member rows): pruned to the losing clusters' shards, own
        # epoch excluded, duplicates across epochs collapsed
        member_shards = members_store.shards_for(
            losers.select(F.col("old_cluster").alias("cluster_id"))
        )
        member_rows = members_store.read_for_shards(member_shards)
        members_scan = members_store.scan_stats(member_rows, member_shards)
        if member_rows is not None:
            # two consumers: the assignment delta and the merge-size
            # audit below — materialize the membership lookup once
            moved_keyed = pin(
                member_rows.where(F.col("epoch") != F.lit(epoch))
                .select("cluster_id", "image_id")
                .distinct()
                .join(
                    losers,
                    F.col("cluster_id") == F.col("old_cluster"),
                )
                .select("image_id", "old_cluster", "new_cluster")
            )
            # merge-size audit (the overcap-record convention applied
            # to the one unbounded-looking cost in the streaming path):
            # rewrite-the-losers means a late tiny id next to a huge
            # component rewrites that component's FULL membership in
            # one epoch — record (winner, loser, rewritten_members)
            # durably so the spike is observable BEFORE it hurts.
            # Combinable count agg; per-epoch overwrite (replay-
            # idempotent like every other epoch dir).
            merge_audit = (
                moved_keyed.groupBy(
                    F.col("new_cluster").alias("winning_cluster"),
                    F.col("old_cluster").alias("losing_cluster"),
                )
                .agg(F.count("*").cast("long").alias("rewritten_members"))
                .withColumn("epoch", F.lit(epoch).cast("long"))
            )
            merge_audit.write.mode("overwrite").parquet(
                os.path.join(
                    os.path.dirname(assign_store.base),
                    "merges",
                    f"epoch={epoch}",
                )
            )
            _ms = merge_audit.agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum("rewritten_members"), F.lit(0)).alias("m"),
            ).first()
            merge_stats = {
                "n_merges": int(_ms["n"]),
                "rewritten_members": int(_ms["m"]),
            }
            moved = moved_keyed.select(
                "image_id", F.col("new_cluster").alias("cluster_id")
            )
            assign_delta = new_nodes.unionByName(moved)
        else:
            assign_delta = new_nodes
    else:
        assign_delta = delta
        members_scan = None
    assign_delta = pin(assign_delta)
    assign_store.write_epoch(assign_delta, epoch)
    members_store.write_epoch(
        assign_delta.select("cluster_id", "image_id"), epoch
    )
    return {
        "epoch": epoch,
        "assign_rows_written": assign_delta.count(),
        "assign_scan": assign_scan,
        "members_scan": members_scan,
        "merges": merge_stats,
    }


def current_assignments(
    spark: SparkSession, assign_store: ShardedEpochStore
) -> DataFrame:
    """The full current image_id → cluster_id assignment — a FULL
    state read (every shard, latest-wins), for end-of-stream
    materialization and audits, never inside the per-epoch loop."""
    df = assign_store.read_for_shards(list(range(assign_store.n_shards)))
    resolved = assign_store.resolve_latest(df)
    if resolved is None:
        return spark.createDataFrame(
            [], "image_id string, cluster_id string"
        )
    # resolve_latest, not a hand-rolled max_by: the latest-wins
    # contract (tie-breaking, extra state columns) must stay single-
    # sourced with the pruned-read path or the two silently diverge
    return resolved.select("image_id", "cluster_id")
