"""Composed curation recipe: the end-to-end chain users actually run.

The CLI exposes ~20 single-purpose verbs; a real pretraining-data
pipeline chains a fixed subset in a fixed order.  ``curate`` runs that
chain — filter → pii-scrub → dedup (exact + fuzzy n-gram Jaccard →
connected components → representative-keep) → decontaminate (optional)
→ domain mix (optional) → training shards — through the same
``storage.StageRunner`` the dedup pipeline uses (``pipeline.py``), so
the chain is RESUMABLE MID-RUN: every stage materializes under
``<workdir>/stages/<name>`` with a manifest keyed by the stage's own
params, the input fingerprint and its upstream stages' keys.  A re-run
skips every completed stage whose key matches; a new input recomputes
every stage, and a flag change invalidates exactly the stage it
affects and everything downstream of it.

Every destructive stage leaves a durable audit under
``<workdir>/audits/`` — rejected rows with reasons, PII rewrite
counts, dup-cluster assignments, hot-bucket caps, decontamination
flags, realized mix fractions — the same no-silent-drop contract the
stream state keeps (rejected/, overcap/).

Scale shape: each stage is one of the already-audited operators
(filter/pii are zero-shuffle codegen maps; dedup is the banded /
hot-gram-cut candidate machinery + CC; decontam broadcasts only the
benchmark side; mix is a zero-shuffle hash sample; shards are
bounded-task writes) — composing them adds ONE parquet materialization
per stage boundary, which is precisely what buys kill-anywhere
resumability on a 10^12-row run.

Reference analogue: the reference's hardwired single-detector chain
(/root/reference/internal/processing/runner.go:213-325), widened to
the curation surface the north star mandates.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import pin
from .storage import (
    StageRunner,
    StageStore,
    _hadoop_write_text_atomic,
    frame_fingerprint,
)


def _audit(workdir: str, name: str, df: DataFrame) -> None:
    df.write.mode("overwrite").parquet(os.path.join(workdir, "audits", name))


def curate(
    spark: SparkSession,
    docs: DataFrame,
    workdir: str,
    id_col: str = "image_id",
    text_col: str = "caption",
    source_col: str = "source",
    allowed_langs: tuple[str, ...] | None = None,
    ngram: int = 3,
    jaccard_num: int = 8,
    jaccard_den: int = 10,
    max_gram_df: int | None = 100_000,
    benchmark: DataFrame | None = None,
    mix_weights: dict[str, float] | None = None,
    rows_per_shard: int = 100_000,
    resume: bool = True,
    store: StageStore | None = None,
) -> dict:
    """Run the full curation chain over ``docs``; returns the per-stage
    report (rows, skipped) plus shard-verification status.  See the
    module docstring for semantics; the CLI twin is ``dude-spark
    curate``.

    Input columns are renamed to the canonical ``(image_id, caption)``
    on entry (several chain operators carry that contract) and back to
    the caller's names before the shard write, so the shards hold the
    input schema.
    """
    from .functions.splits import mix_corpus
    from .operators.candidates import pairs_from_buckets
    from .operators.components import connected_components
    from .operators.decontam import decontaminate
    from .operators.filters import filter_corpus
    from .operators.pii import scrub_pii
    from .operators.report import dedup_corpus
    from .operators.shards import verify_shards, write_training_shards
    from .operators.textdedup import ngram_jaccard_pairs

    runner = StageRunner(
        spark, workdir, frame_fingerprint(spark, docs), run_id="curate",
        resume=resume, store=store,
    )
    report: dict[str, dict] = {}

    def run(stage: str, compute, params=None, upstream=()) -> DataFrame:
        out = runner.run(stage, compute, params, upstream)
        info = runner.stages[stage]
        report[stage] = {"rows": info.rows, "skipped": info.skipped}
        return out

    canon = docs
    if id_col != "image_id":
        canon = canon.withColumnRenamed(id_col, "image_id")
    if text_col != "caption":
        canon = canon.withColumnRenamed(text_col, "caption")

    # 1 — quality filter (rejected rows + reasons are the audit)
    def _filter():
        clean, rejected = filter_corpus(
            canon, text_col="caption", allowed_langs=allowed_langs
        )
        _audit(workdir, "rejected", rejected)
        return clean

    filtered = run(
        "filtered", _filter,
        {"langs": allowed_langs, "id_col": id_col, "text_col": text_col},
    )

    # 2 — PII scrub (audit = per-touched-doc signal counts)
    def _pii():
        scrubbed, audit = scrub_pii(filtered, "caption", "image_id")
        _audit(workdir, "pii", audit)
        return scrubbed

    scrubbed = run("pii", _pii, upstream=("filtered",))

    # 3 — dedup: exact (sha2 of text) + fuzzy (n-gram Jaccard) edges →
    # connected components → keep each cluster's min-id representative
    def _dedup():
        base = pin(scrubbed)  # feeds 3 consumers
        exact_b = base.where(
            F.col("caption").isNotNull() & (F.length("caption") > 0)
        ).select(
            "image_id", F.sha2(F.col("caption"), 256).alias("bucket")
        )
        # star mode: assignment semantics — CC restores membership
        # through the star center, overcap recorded
        e_pairs, overcap = pairs_from_buckets(exact_b, overcap_mode="star")
        fuzzy = ngram_jaccard_pairs(
            base, "image_id", "caption", n=ngram,
            threshold_num=jaccard_num, threshold_den=jaccard_den,
            max_gram_df=max_gram_df,
        )
        edges = e_pairs.select("a", "b").unionByName(fuzzy.select("a", "b"))
        assigns = pin(connected_components(edges))
        _audit(workdir, "dedup_assignments", assigns)
        _audit(workdir, "dedup_overcap", overcap)
        return dedup_corpus(base, assigns, "image_id")

    current = run(
        "deduped", _dedup,
        {"ngram": ngram, "num": jaccard_num, "den": jaccard_den,
         "max_gram_df": max_gram_df},
        upstream=("pii",),
    )
    last = "deduped"

    # 4 — decontamination vs a benchmark set (optional)
    if benchmark is not None:
        deduped = current

        def _dec():
            clean, flagged = decontaminate(deduped, benchmark)
            _audit(workdir, "decontam_flagged", flagged)
            return clean

        current = run(
            "decontam", _dec,
            {"benchmark": frame_fingerprint(spark, benchmark)},
            upstream=(last,),
        )
        last = "decontam"
    else:
        report["decontam"] = {"rows": None, "skipped": "no benchmark"}

    # 5 — domain mix (optional)
    if mix_weights is not None:
        src = current

        def _mix():
            mixed, fractions = mix_corpus(
                src, mix_weights, source_col, id_col="image_id"
            )
            _hadoop_write_text_atomic(
                spark,
                os.path.join(workdir, "audits", "mix_fractions.json"),
                json.dumps(fractions),
            )
            return mixed

        current = run(
            "mixed", _mix,
            {"weights": mix_weights, "source_col": source_col},
            upstream=(last,),
        )
        last = "mixed"
    else:
        report["mixed"] = {"rows": None, "skipped": "no mix weights"}

    # 6 — training shards (manifest-after-data + verification)
    final = current
    if id_col != "image_id":
        final = final.withColumnRenamed("image_id", id_col)
    if text_col != "caption":
        final = final.withColumnRenamed("caption", text_col)
    shards_dir = os.path.join(workdir, "shards")
    # every-row-filtered-away corpus: a shard write would produce an
    # empty parquet dir that the verification read cannot even infer a
    # schema from — report loudly instead of crashing (the chain's
    # audits say exactly where the rows went)
    if runner.stages[last].rows == 0:
        runner.flush()
        report["shards"] = {
            "rows": 0,
            "skipped": "upstream corpus is empty — nothing to shard",
        }
        return {
            "stages": report,
            "shards": 0,
            "shard_verification_failures": 0,
            "workdir": workdir,
        }
    manifest = run(
        "shards",
        lambda: write_training_shards(
            final, shards_dir, rows_per_shard, id_col=id_col
        ),
        {"rows_per_shard": rows_per_shard},
        upstream=(last,),
    )
    runner.flush()
    bad = verify_shards(spark, shards_dir, id_col=id_col).count()
    return {
        "stages": report,
        "shards": manifest.count(),
        "shard_verification_failures": bad,
        "workdir": workdir,
    }
