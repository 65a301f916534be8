"""End-to-end pipeline orchestration: stages, checkpoints, resume, cache.

The Spark analogue of the reference's hardwired operator chain
(/root/reference/internal/processing/runner.go:213-325): scan →
[incremental cache probe] → signature projection → bucket grouping →
candidate pairs → verify → connected components → report.  Three
generalizations mandated by the north star:

  * every stage materializes to a checkpoint directory with a sidecar
    manifest keyed by its own params, the input fingerprint and its
    upstream stages' keys (``storage.StageRunner``) — a re-run skips
    every completed stage whose key matches ("resumes idempotently
    mid-run"; generalizes DuDe's row cache, hashing.go:84-116, from
    rows to stages);
  * per-partition lineage rows + stage metrics append to durable
    tables (lineage.py);
  * the signature stage is row-incremental when ``use_cache`` is on:
    rows whose content fingerprint matches the cached signature are
    NOT recomputed — the stat+cache-probe (O3, hashing.go:73-88) and
    upsert (O6, db/hash_repository.go:128-143) as one join + union
    (an Iceberg ``MERGE INTO`` in production; see below).

Storage note: stage I/O goes through the StageStore interface
(storage.py) — ParquetManifestStore (sandbox default: parquet dirs +
atomic JSON manifest sidecars) or IcebergStageStore (cluster: one
Iceberg table per stage, MERGE INTO manifests).  The swap is an
interface implementation, enforced by the stage runner depending only
on the contract; pass ``store=`` to run_pipeline to select.

Scale notes: `bytes` is projected away before every shuffle except the
exact detector's verify join (SURVEY.md §7 hard-part (e)); candidate
generation is bucket-capped with star edges (operators/candidates.py);
CC pins each round (operators/components.py); stage
reads come back from parquet so no lineage chain spans a stage
boundary.
"""

from __future__ import annotations

import dataclasses
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import JobConfig
from .detectors import DETECTORS, config_id
from .operators.candidates import pairs_from_buckets
from .operators.components import connected_components
from .operators.ids import decode_keys, encode_ids, encode_keys
from .operators.report import assignments_to_report, write_csv_report
from .session import pin
from .storage import (  # noqa: F401 — CancelledRun re-exported for callers
    CancelledRun,
    StageInfo,
    StageRunner,
    StageStore,
    input_fingerprint,
    mark_cancelled,
)


# Input size at which run_pipeline switches to the long-keyed plan
# (operators/ids.py).  Below it the mapping-join overhead exceeds the
# shuffle-width savings (measured at n=20k); above it the narrower
# exploded-bucket shuffle dominates (round-2 stage anatomy: ~3× on the
# widest shuffle at n=600k).
ID_ENCODING_MIN_ROWS = 100_000


@dataclasses.dataclass
class PipelineResult:
    assignments: DataFrame
    report: DataFrame
    csv_path: str | None
    stages: dict[str, StageInfo]


def _job_group(run_id: str) -> str:
    return f"dude_spark::{run_id}"


def cancel_run(
    spark: SparkSession, run_id: str, checkpoint_dir: str | None = None
) -> None:
    """Cancel an in-flight pipeline run (O13 — ≅ CancelExecution,
    /root/reference/internal/processing/runner.go:45-50, context
    cancellation threaded through every operator).

    Two mechanisms, mirroring Go's ctx.Done() being both preemptive
    (goroutines killed) and sticky (checked at operator boundaries):
    ``cancelJobGroup`` kills currently-active Spark jobs, and a CANCEL
    marker in the checkpoint root makes the stage runner refuse to
    start the next stage (cancelJobGroup alone is one-shot — a cancel
    landing between jobs would otherwise be lost).  Completed stages
    stay checkpointed, so a resume picks up where the cancel landed.
    """
    if checkpoint_dir:
        mark_cancelled(spark, checkpoint_dir, run_id)
    spark.sparkContext.cancelJobGroup(_job_group(run_id))


def load_images(spark: SparkSession, cfg: JobConfig) -> DataFrame:
    """Union of all input tables (≅ multi-root scan fan-in,
    runner.go:249-252 — cross-input and intra-input dups are the same)."""
    df = spark.read.parquet(cfg.input_paths[0])
    for p in cfg.input_paths[1:]:
        df = df.unionByName(spark.read.parquet(p))
    return df


# ---------------------------------------------------------------- detectors

def _verify_is_noop(detector: str, cfg: JobConfig) -> bool:
    """True when the edges stage keeps its candidates unverified (the
    exact detector with ParanoidMode off) — the ONE source of truth for
    compute_edges' verify and decode/encode-sandwich skip and for the
    edges stage's key params."""
    return detector == "exact" and not cfg.paranoid


def _incremental_signatures(
    spark: SparkSession,
    images: DataFrame,
    detector: str,
    cfg: JobConfig,
    store: StageStore,
    sig_stage: str,
) -> DataFrame:
    """Row-level MERGE of new/changed signatures with the cached table.

    ≅ fileNeedsReHashing = !memoryExists || fileHasChangedOnDisk
    (hashing.go:84-88) as one anti join; unchanged rows keep their
    cached signature without re-running the signature UDF.
    """
    det, dcfg = DETECTORS[detector], getattr(cfg, detector, None)
    # the row fingerprint hashes exactly the columns the detector's
    # chain reads (the (size, mtime) stat proxy of hashing.go:73-88:
    # our schema has no mtime, so content columns are hashed directly)
    fp = images.withColumn("row_fp", F.xxhash64(*det.reads(dcfg)))
    full = det.signatures(images, dcfg).join(
        fp.select("image_id", "row_fp"), "image_id"
    )
    try:
        if not store.exists(sig_stage):
            raise FileNotFoundError(sig_stage)
        cached = store.read(sig_stage)
    except Exception:  # first run — no cache yet
        return full
    if set(cached.columns) != set(full.columns):
        # signature SCHEMA migrated since the cache was written (e.g.
        # round 3 added the full `sig` column to minhash signatures):
        # a stale-schema cache cannot be row-merged — unionByName would
        # abort the run — so recompute everything; this stage's own
        # write then refreshes the cache to the new schema.  Checked
        # BEFORE the checkpoint so the useless cache is never
        # materialized.
        return full
    # pin BEFORE the stage overwrites the cache — Spark
    # reads lazily, so writing over the table still being scanned
    # would corrupt the very cache being merged.  (With Iceberg this
    # is a snapshot-isolated MERGE INTO and the checkpoint is free.)
    cached = pin(cached)
    current = fp.select("image_id", "row_fp")
    unchanged = cached.join(current, ["image_id", "row_fp"])  # semi via inner
    # anti join, one row per current image: the cache holds one row per
    # signature (simhash: per channel), so a left join would re-sign a
    # changed image once per cached row and duplicate it in the merge
    stale_ids = current.join(
        cached.select("image_id", "row_fp"), ["image_id", "row_fp"], "left_anti"
    ).select("image_id")
    fresh_rows = images.join(stale_ids, "image_id")
    fresh = det.signatures(fresh_rows, dcfg).join(
        fp.select("image_id", "row_fp"), "image_id"
    )
    return unchanged.unionByName(fresh)


# ------------------------------------------------------------------ pipeline

def run_pipeline(
    spark: SparkSession,
    cfg: JobConfig,
    resume: bool = True,
    images: DataFrame | None = None,
    progress=None,
    store: StageStore | None = None,
) -> PipelineResult:
    """Full run: detectors → union of verified edges → CC → report.

    `resume=True` + an existing checkpoint dir skips completed stages
    (kill-and-rerun safety, ≅ runner.go cancellation + cache warm
    path).  Pass `images` to override the input scan (tests).
    ``progress``: True for the reference-style stderr bar, or a
    callable receiving each ProgressEvent (progress.py) — live
    {title, percent, current, total} during stages, ≅
    progress_tracker.go's 250 ms ticker.
    """
    from .progress import ProgressReporter

    if progress:
        reporter = ProgressReporter(
            spark, callback=progress if callable(progress) else None
        ).start()
        try:
            return run_pipeline(
                spark, cfg, resume=resume, images=images, store=store
            )
        finally:
            reporter.stop()
    cfg = cfg.validated()
    if cfg.checkpoint_dir is None:
        raise ValueError("run_pipeline requires cfg.checkpoint_dir")
    spark.sparkContext.setJobGroup(
        _job_group(cfg.run_id), "dude_spark pipeline", interruptOnCancel=True
    )

    if images is None:
        images = load_images(spark, cfg)

    # one BOUNDED input probe (limit n, never a full count — same cost
    # at 10^12 rows) decides both the early exit on an empty input
    # (runner.go:255-260) and the id-encoding plan below
    probe = ID_ENCODING_MIN_ROWS
    n_probe = images.select("image_id").limit(probe).count()
    if n_probe == 0:
        empty_assign = spark.createDataFrame([], "image_id string, cluster_id string")
        empty_rep = spark.createDataFrame(
            [], "image_id string, caption string, dup_image_id string, "
            "dup_caption string, cluster_id string"
        )
        return PipelineResult(empty_assign, empty_rep, None, {})

    st = StageRunner(
        spark, cfg.checkpoint_dir, input_fingerprint(spark, cfg.input_paths),
        run_id=cfg.run_id, resume=resume, store=store,
    )

    # id dictionary encoding (round-2 top lever, operators/ids.py): one
    # shared mapping stage; every bucket explode, candidate pair, edge,
    # and CC round downstream is keyed by 8-byte longs instead of id
    # strings — ~3× narrower rows on the pipeline's widest shuffles.
    # Built BEFORE the concurrent detector chains (they all read it).
    # Below ID_ENCODING_MIN_ROWS (the probe above) the mapping joins
    # cost more than narrow shuffles save, so small inputs keep the
    # direct string-keyed plan.
    use_iid = n_probe >= probe
    # stages keyed by long iids (candidates, edges, components) carry
    # use_iid in their params and the ids stage upstream, so a
    # string-keyed checkpoint never resumes into the long-keyed plan
    ids_up = ("ids",) if use_iid else ()
    if use_iid:
        ids_map = st.run("ids", lambda: encode_ids(images))

        def _enc(df: DataFrame, cols) -> DataFrame:
            return encode_keys(df, ids_map, cols)

        def _dec(df: DataFrame, cols) -> DataFrame:
            return decode_keys(df, ids_map, cols)
    else:
        def _enc(df: DataFrame, cols) -> DataFrame:
            return df

        def _dec(df: DataFrame, cols) -> DataFrame:
            return df

    def run_detector(det: str) -> DataFrame:
        """signatures → candidates → verified edges for one detector."""
        # job groups are thread-local — each detector thread re-arms
        # the group so cancel_run() reaches every concurrent chain
        spark.sparkContext.setJobGroup(
            _job_group(cfg.run_id), f"dude_spark {det}", interruptOnCancel=True
        )
        sig_stage = f"signatures_{det}"
        cand_stage = f"candidates_{det}"
        chain, dcfg = DETECTORS[det], getattr(cfg, det, None)

        def compute_sigs():
            if cfg.use_cache:
                return _incremental_signatures(
                    spark, images, det, cfg, st.store, sig_stage
                )
            return chain.signatures(images, dcfg).withColumn(
                "row_fp", F.lit(None).cast("long")
            )

        sigs = st.run(
            sig_stage, compute_sigs, params=config_id(det, dcfg), detector=det
        )

        def compute_pairs():
            # encode BEFORE the bucket explode: the exploded bucket
            # table (rows × bands) is the widest shuffle in the
            # pipeline — it must carry longs, not id strings
            sigs_enc = _enc(sigs, ("image_id",))
            pairs, overcap = pairs_from_buckets(
                chain.buckets(sigs_enc, dcfg), cfg.bucket_cap
            )
            # durable record of capped buckets — never silently
            # truncated (SURVEY §2.2).  The overcap aggregate is its
            # own map-side-combinable job; no persist is shared with
            # the pairs write (its shuffle volume is one combined row
            # per map partition per hot bucket — noise).
            st.store.write(overcap, f"overcap_{det}")
            return pairs

        pairs = st.run(
            cand_stage, compute_pairs,
            params={"bucket_cap": cfg.bucket_cap, "use_iid": use_iid},
            upstream=(sig_stage,) + ids_up, detector=det,
        )

        def compute_edges():
            if _verify_is_noop(det, cfg):
                # verify is a no-op — don't pay the decode/encode
                # sandwich (four mapping joins) to reproduce the input
                return pairs.select("a", "b")
            # verification runs in STRING space between a decode and a
            # re-encode: the payload attach (captions / bytes) joins
            # the raw images table, and pairs are small post-LSH, so
            # the two mapping joins per side cost far less than
            # encoding a payload projection would (bytes must never
            # shuffle at table width — SURVEY §7 hard-part (e))
            pairs_str = _dec(pairs, ("a", "b"))
            verified = chain.verify(pairs_str, images, sigs, dcfg)
            return _enc(verified.select("a", "b"), ("a", "b"))

        # paranoid keys ONLY the edges stage: signatures and candidates
        # are byte-identical across paranoid settings, so a toggle
        # recomputes just the edges (and what reads them)
        edges = st.run(
            f"edges_{det}", compute_edges,
            params={
                "verify": not _verify_is_noop(det, cfg), "use_iid": use_iid
            },
            upstream=(cand_stage, sig_stage) + ids_up, detector=det,
        )
        return edges.select("a", "b")

    # Detector chains are independent until the edge union — run them
    # CONCURRENTLY from driver threads.  Spark job submission is
    # thread-safe; interleaved jobs fill task slots that a sequential
    # chain would leave idle during its per-stage barriers (write/
    # read/commit latency), which is also exactly what a multi-tenant
    # cluster scheduler would do with four independent job DAGs.
    if len(cfg.detectors) > 1:
        with ThreadPoolExecutor(max_workers=len(cfg.detectors)) as pool:
            edge_frames = list(pool.map(run_detector, cfg.detectors))
    else:
        edge_frames = [run_detector(cfg.detectors[0])]

    all_edges = edge_frames[0]
    for e in edge_frames[1:]:
        all_edges = all_edges.unionByName(e)

    # CC iterates entirely on long iids; the component minimum decodes
    # to min(image_id) because the mapping is order-preserving (dense
    # rank), so the deterministic-representative contract is unchanged.
    # Decode happens once here, at the stage boundary — report and
    # results stay string-keyed for every consumer.
    assignments = st.run(
        "components",
        lambda: _dec(
            connected_components(all_edges.distinct()),
            ("image_id", "cluster_id"),
        ),
        params={"use_iid": use_iid},
        upstream=tuple(f"edges_{d}" for d in cfg.detectors) + ids_up,
    )
    report = st.run(
        "report",
        lambda: assignments_to_report(assignments, images),
        upstream=("components",),
    )

    st.flush()
    csv_path = None
    if cfg.results_dir:
        csv_path = write_csv_report(report, cfg.results_dir)
    # pipeline order, not the order the concurrent detector chains
    # finished in — a run and its resume list stages identically
    order = ["ids"] + [
        f"{s}_{d}" for d in cfg.detectors
        for s in ("signatures", "candidates", "edges")
    ] + ["components", "report"]
    stages = {s: st.stages[s] for s in order if s in st.stages}
    return PipelineResult(assignments, report, csv_path, stages)
