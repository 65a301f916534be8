"""The traced op: each layer's public functions called in turn, each call
inside a named span, and the per-layer metrics folded from the spans and
the Spark event log.

The images op follows ``pipeline.run_pipeline`` with the detector chains
run one after another instead of concurrently; the docs op follows
``curate.curate``.  Each layer's output is pinned with an eager
``localCheckpoint`` inside its span, so the work it triggers is charged
to that layer and not to the storage write that follows.
"""

from __future__ import annotations

import os

from gen import JACCARD, NGRAM, ROWS_PER_SHARD
from spans import Tracer

DETECTORS = ("exact", "minhash", "simhash", "suffix")
SPANS = (
    [f"detectors.{d}.signatures" for d in DETECTORS]
    + [f"candidates.{d}" for d in DETECTORS]
    + [f"verify.{d}" for d in DETECTORS]
    + ["components", "report", "storage.write", "storage.read", "lineage.count",
       "filters", "pii", "textdedup", "shards.write", "shards.verify"]
)
FIELDS = (("s", "s"), ("rows_out", "count"), ("exec_cpu_s", "s"),
          ("shuffle_write_mb", "MB"), ("jobs", "count"))
EXTRAS = (
    [(f"detectors.{d}.signatures.python_s", "s") for d in DETECTORS]
    + [(f"candidates.{d}.overcap_buckets", "count") for d in DETECTORS]
    + [(f"verify.{d}.kept_frac", "ratio") for d in DETECTORS]
    + [("components.star_s", "s"), ("textdedup.dropped_grams", "count"),
       ("session.start.s", "s"), ("trace.overhead_s", "s"),
       ("trace.unattributed_jobs", "count")]
)


def _pin(df):
    return df.localCheckpoint(eager=True)


class _Stages:
    """Stage writes through the program's StageStore, as its runners do:
    write, read back, count per partition."""

    def __init__(self, spark, tr: Tracer, root: str):
        from dude_spark.storage import ParquetManifestStore

        self.tr, self.store = tr, ParquetManifestStore(spark, root)

    def persist(self, df, stage: str, rows: int):
        from dude_spark.lineage import partition_count_rows

        with self.tr.span("storage.write", rows_out=rows):
            self.store.write(df, stage)
        with self.tr.span("storage.read", rows_out=rows):
            out = self.store.read(stage)
        with self.tr.span("lineage.count") as c:
            c["rows_out"] = sum(n for _, n in partition_count_rows(out))
        return out


# ------------------------------------------------------------------ images

def _images(spark, tr: Tracer, inp: str, opdir: str) -> bool:
    from pyspark.sql import functions as F

    from dude_spark.config import JobConfig
    from dude_spark.detectors import exact as d_exact
    from dude_spark.detectors import minhash as d_minhash
    from dude_spark.detectors import simhash as d_simhash
    from dude_spark.detectors import suffix as d_suffix
    from dude_spark.operators.candidates import pairs_from_buckets
    from dude_spark.operators.components import connected_components
    from dude_spark.operators.report import assignments_to_report, write_csv_report
    from dude_spark.operators.verify import prefilter_minhash, verify_exact, verify_jaccard

    cfg = JobConfig()
    mh = cfg.minhash
    signatures = {
        "exact": lambda im: d_exact.exact_buckets(im).withColumnRenamed("bucket", "sig"),
        "minhash": lambda im: d_minhash.minhash_signatures(im, mh),
        "simhash": lambda im: d_simhash.simhash_signatures(im, cfg.simhash),
        "suffix": lambda im: d_suffix.suffix_signatures(im, cfg.suffix),
    }
    buckets = {
        "exact": lambda s: s.select("image_id", F.col("sig").alias("bucket")),
        "minhash": d_minhash.minhash_buckets,
        "simhash": lambda s: d_simhash.simhash_buckets(s, cfg.simhash),
        "suffix": d_suffix.suffix_buckets,
    }
    verify = {
        "exact": lambda p, im, s: verify_exact(p, im),
        "minhash": lambda p, im, s: verify_jaccard(
            prefilter_minhash(p, s, mh.jaccard_threshold, mh.num_hashes,
                              mh.prefilter_margin_sigmas),
            im, mh.shingle_k, mh.jaccard_threshold),
        "simhash": lambda p, im, s: d_simhash.simhash_pairs_verified(p, s, cfg.simhash),
        "suffix": lambda p, im, s: d_suffix.verify_substring(p, im, cfg.suffix),
    }

    st = _Stages(spark, tr, os.path.join(opdir, "ckpt"))
    images = spark.read.parquet(os.path.join(inp, "images"))
    edges = []
    for d in DETECTORS:
        with tr.span(f"detectors.{d}.signatures") as c:
            sigs = _pin(signatures[d](images))
            c["rows_out"] = sigs.count()
        sigs = st.persist(sigs, f"signatures_{d}", c["rows_out"])
        with tr.span(f"candidates.{d}") as c:
            pairs, overcap = pairs_from_buckets(buckets[d](sigs), cfg.bucket_cap)
            pairs = _pin(pairs)
            c["rows_out"] = n_cand = pairs.count()
            c["overcap_buckets"] = overcap.count()
        pairs = st.persist(pairs, f"candidates_{d}", n_cand)
        with tr.span(f"verify.{d}") as c:
            kept = _pin(verify[d](pairs, images, sigs).select("a", "b"))
            c["rows_out"] = n_kept = kept.count()
            c["kept_frac"] = n_kept / n_cand if n_cand else 1.0
        edges.append(st.persist(kept, f"edges_{d}", n_kept))

    all_edges = edges[0]
    for e in edges[1:]:
        all_edges = all_edges.unionByName(e)
    all_edges = all_edges.distinct()
    with tr.span("components") as c:
        assign = _pin(connected_components(all_edges))
        c["rows_out"] = n_assign = assign.count()
    with tr.span("components.star") as c:
        c["rows_out"] = connected_components(all_edges, driver_cap=0).count()
    assign = st.persist(assign, "components", n_assign)
    with tr.span("report") as c:
        report = _pin(assignments_to_report(assign, images))
        c["rows_out"] = n_report = report.count()
        csv = write_csv_report(report, os.path.join(opdir, "results"))
    st.persist(report, "report", n_report)
    return n_assign > 0 and n_report > 0 and csv is not None


# -------------------------------------------------------------------- docs

def _docs(spark, tr: Tracer, inp: str, opdir: str) -> bool:
    from pyspark.sql import functions as F

    from dude_spark.operators.candidates import pairs_from_buckets
    from dude_spark.operators.components import connected_components
    from dude_spark.operators.filters import filter_corpus
    from dude_spark.operators.pii import scrub_pii
    from dude_spark.operators.report import dedup_corpus
    from dude_spark.operators.shards import verify_shards, write_training_shards
    from dude_spark.operators.textdedup import ngram_jaccard_pairs

    st = _Stages(spark, tr, opdir)
    docs = (
        spark.read.parquet(os.path.join(inp, "docs"))
        .withColumnRenamed("doc_id", "image_id")
        .withColumnRenamed("text", "caption")
    )
    with tr.span("filters") as c:
        clean, rejected = filter_corpus(docs, text_col="caption")
        rejected.write.mode("overwrite").parquet(os.path.join(opdir, "audits", "rejected"))
        clean = _pin(clean)
        c["rows_out"] = clean.count()
    clean = st.persist(clean, "filtered", c["rows_out"])
    with tr.span("pii") as c:
        scrubbed, audit = scrub_pii(clean, "caption", "image_id")
        audit.write.mode("overwrite").parquet(os.path.join(opdir, "audits", "pii"))
        scrubbed = _pin(scrubbed)
        c["rows_out"] = scrubbed.count()
    base = st.persist(scrubbed, "pii", c["rows_out"])
    with tr.span("textdedup") as c:
        exact_b = base.where(
            F.col("caption").isNotNull() & (F.length("caption") > 0)
        ).select("image_id", F.sha2(F.col("caption"), 256).alias("bucket"))
        e_pairs, _ = pairs_from_buckets(exact_b, overcap_mode="star")
        fuzzy = ngram_jaccard_pairs(
            base, "image_id", "caption", n=NGRAM,
            threshold_num=round(JACCARD * 10), threshold_den=10,
            max_gram_df=100_000,
        )
        edges = _pin(e_pairs.select("a", "b").unionByName(fuzzy.select("a", "b")))
        c["dropped_grams"] = fuzzy.dropped_grams
        with tr.span("components") as cc:
            assign = _pin(connected_components(edges))
            cc["rows_out"] = n_assign = assign.count()
        deduped = _pin(dedup_corpus(base, assign, "image_id"))
        c["rows_out"] = n_kept = deduped.count()
    with tr.span("components.star") as c:
        c["rows_out"] = connected_components(edges, driver_cap=0).count()
    deduped = st.persist(deduped, "deduped", n_kept)
    final = deduped.withColumnRenamed("image_id", "doc_id").withColumnRenamed(
        "caption", "text")
    shards_dir = os.path.join(opdir, "shards")
    with tr.span("shards.write") as c:
        manifest = write_training_shards(final, shards_dir, ROWS_PER_SHARD, id_col="doc_id")
        c["rows_out"] = manifest.count()
    with tr.span("shards.verify") as c:
        c["rows_out"] = bad = verify_shards(spark, shards_dir, id_col="doc_id").count()
    return bad == 0 and n_assign > 0 and c["rows_out"] == 0


def traced_op(spark, workload: str, inp: str, opdir: str):
    """(tracer, ok) of one traced op; a failing layer call makes the op
    fail, the spans recorded so far are kept."""
    import traceback

    tr = Tracer(spark.sparkContext)
    body = _docs if workload.startswith("docs") else _images
    ok = False
    with tr.window():
        try:
            with tr.span("op"):
                ok = body(spark, tr, inp, opdir)
        except Exception:
            traceback.print_exc()
    return tr, ok


def per_layer(tr: Tracer, jobs: dict, session_s: float, overhead_s: float) -> dict:
    """Every per-layer metric; a layer the workload does not reach reads 0."""
    agg: dict[str, dict] = {}
    for s in tr.spans:
        a = agg.setdefault(s["name"], {"s": 0.0, "rows_out": 0})
        a["s"] += s["self_s"]
        for k, v in s["counts"].items():
            a[k] = v if k == "kept_frac" else a.get(k, 0) + v
    out = {}
    for name in SPANS:
        a, j = agg.get(name, {}), jobs.get(name, {})
        for field, unit in FIELDS:
            v = a.get(field, 0) if field in ("s", "rows_out") else j.get(field, 0)
            out[f"{name}.{field}"] = {"value": v, "unit": unit}
    for name, unit in EXTRAS:
        span, _, field = name.rpartition(".")
        if name == "components.star_s":
            v = agg.get("components.star", {}).get("s", 0.0)
        elif name == "session.start.s":
            v = session_s
        elif name == "trace.overhead_s":
            v = overhead_s
        elif name == "trace.unattributed_jobs":
            v = jobs.get(None, {}).get("jobs", 0)
        elif field == "python_s":
            v = jobs.get(span, {}).get("python_s", 0.0)
        else:
            v = agg.get(span, {}).get(field, 0)
        out[name] = {"value": v, "unit": unit}
    return out
