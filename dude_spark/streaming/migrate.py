"""Centroid-refresh migration for the embedding ingest preset.

``embedding_ingest`` pins its frozen centroid matrix in the stream's
state config id — the CORRECT refusal: silently moving centroids
re-keys every persisted bucket and cross-epoch pairs vanish (the
n_state_shards failure class).  But a corpus that drifts for months
eventually needs new geometry, and "start a fresh state dir" forfeits
the accumulated dedup state.  This module is the sanctioned path:

  1. STOP the stream (migration is an offline batch job over the
     stream's own durable state — the reference's cache is likewise
     only rewritten between runs, hashing.go:73-116);
  2. re-cluster offline (``cluster --save-centroids`` on a current
     sample — outside this module's scope);
  3. ``migrate_embedding_centroids``: re-bucket every persisted
     signature under the new centroids in ONE batch job — the rows
     state already holds each image's embedding (the detector-agnostic
     payload contract), so no original input is re-read — and commit
     the re-bucketed signatures as a new STATE GENERATION of the sigs
     store (``storage._rewrite_base``: the compact protocol's
     tmp-write → rename → atomic-meta commit, crash-safe at every
     step);
  4. flip the config-id pin to the new centroid hash — only AFTER the
     data generation committed, so a crash mid-migration leaves the
     old pin guarding the old (still fully live) state.

The old refusal still guards accidental drift: a restart with
centroids that match neither the old nor the new pin is refused
exactly as before; only this tool — which rewrites the data and the
pin together — moves the state between centroid spaces.

Scale shape: one pruned-free full read of the rows state (a migration
IS an O(corpus) operation — that is its honest cost, paid once per
re-cluster, not per epoch), one Arrow-batched assignment matmul scan,
one sharded generation write.  No per-row Python.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import pin
from ..storage import ShardedEpochStore, _rewrite_base


def committed_epochs(state_dir: str) -> list[int]:
    """Epoch ids with a commit marker under ``<state>/epochs``."""
    epochs_path = os.path.join(state_dir, "epochs")
    if not os.path.isdir(epochs_path):
        return []
    out = []
    for name in os.listdir(epochs_path):
        if name.startswith("epoch_"):
            try:
                out.append(int(name[len("epoch_"):]))
            except ValueError:
                continue
    return sorted(out)


def migrate_embedding_centroids(
    spark: SparkSession,
    state_dir: str,
    new_centroids,
    expected_config_id: str | None = None,
    new_config_id: str | None = None,
) -> dict:
    """Re-bucket the sigs state under ``new_centroids`` and flip the
    config-id pin — see the module docstring for the protocol.

    ``expected_config_id``: the pin the state dir MUST currently hold
    (derived from the OLD centroids) — migrating a state dir pinned to
    something else is refused loudly, so the tool cannot be used to
    bulldoze a mismatch it does not understand.  ``new_config_id``:
    the pin to install (derived from the new centroids); required —
    ``None`` raises ValueError before any state is touched.  Returns an
    audit dict, also written durably under ``<state>/migrations/``.
    """
    import numpy as np

    from ..functions.clustering import _assign_udf, _u_frame

    if new_config_id is None:
        raise ValueError(
            "new_config_id is required — migrating would install a null "
            "config pin that no restart can match"
        )
    meta_path = os.path.join(state_dir, "state_meta.json")
    if not os.path.exists(meta_path):
        raise ValueError(
            f"{state_dir} has no state_meta.json — not an ingest state dir"
        )
    with open(meta_path) as f:
        meta = json.load(f)
    pinned = meta.get("config_id")
    if expected_config_id is not None and pinned != expected_config_id:
        raise ValueError(
            f"state dir {state_dir} is pinned to config {pinned!r}, not "
            f"the expected {expected_config_id!r} — refusing to migrate "
            "state whose current detector configuration does not match "
            "the declared old centroids (wrong --old-centroids, or this "
            "state was never the embedding detector's)"
        )
    epochs = committed_epochs(state_dir)
    if not epochs:
        raise ValueError(
            f"state dir {state_dir} has no committed epochs — nothing to "
            "migrate; start the stream fresh with the new centroids"
        )
    upto = epochs[-1]
    n_shards = int(meta["n_state_shards"])

    cent = np.asarray(new_centroids, dtype=np.int64)
    if cent.ndim != 2 or not cent.size:
        raise ValueError(
            f"new_centroids must be a non-empty k x dim matrix, got {cent.shape}"
        )
    ns2 = [int((row.astype(object) ** 2).sum()) for row in cent]
    assign = _assign_udf(cent, ns2, with_sim=False)

    rows_store = ShardedEpochStore(
        spark, state_dir, "rows", key_col="image_id", n_shards=n_shards
    )
    payload = rows_store.read_for_shards(list(range(n_shards)))
    if payload is None:
        raise ValueError(
            f"state dir {state_dir} has no rows state — the embedding "
            "preset persists embeddings there; nothing to re-bucket"
        )
    # append-only payload state: one row per image across epochs, but a
    # crashed epoch replay may have left per-epoch duplicates — resolve
    # per image before the assignment scan
    # EXACTLY embedding_ingest's bucket chain — quantized u-frame, then
    # the integer-matmul assignment, bucket as string — so migrated
    # buckets and future stream epochs' buckets can never disagree
    u = pin(_u_frame(
        payload.select("image_id", "embedding").dropDuplicates(["image_id"]),
        "image_id",
        "embedding",
    ))
    new_sigs = u.select(
        F.col("_id").alias("image_id"),
        assign(F.col("_u")).cast("string").alias("bucket"),
    )
    sigs_store = ShardedEpochStore(
        spark, state_dir, "sigs", key_col="bucket", n_shards=n_shards
    )
    gen_audit = _rewrite_base(sigs_store, new_sigs, upto)

    # flip the pin LAST — the commit point of the migration as a whole
    meta["config_id"] = new_config_id
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)

    audit = {
        "migrated_images": u.count(),
        "upto_epoch": upto,
        "sigs_generation": gen_audit,
        "old_config_id": pinned,
        "new_config_id": new_config_id,
        "n_cells": int(cent.shape[0]),
        "dim": int(cent.shape[1]),
    }
    mig_dir = os.path.join(state_dir, "migrations")
    os.makedirs(mig_dir, exist_ok=True)
    with open(
        os.path.join(mig_dir, f"migration_gen_{gen_audit['gen']}.json"), "w"
    ) as f:
        json.dump(audit, f)
    return audit
