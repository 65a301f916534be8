"""Pipeline orchestration: stage checkpoints, resume, lineage, cache.

Resume semantics under test mirror the reference's cache warm path +
cancellation safety (/root/reference/internal/processing/runner.go,
hashing.go:84-116): kill after stage k, re-run, outputs identical,
completed stages not recomputed (SURVEY.md §5.4).
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from dude_spark.config import JobConfig, MinHashConfig
from dude_spark.fixtures import IMAGES_COLUMNS
from dude_spark.lineage import read_lineage, read_metrics
from dude_spark.pipeline import run_pipeline

ALL = ("exact", "minhash", "simhash", "suffix")


@pytest.fixture(scope="module")
def input_dir(spark, fixture_pdf, tmp_path_factory):
    d = tmp_path_factory.mktemp("pipe_input")
    spark.createDataFrame(fixture_pdf[IMAGES_COLUMNS]).write.parquet(
        str(d / "images.parquet")
    )
    return str(d / "images.parquet")


@pytest.fixture(scope="module")
def first_run(spark, input_dir, tmp_path_factory):
    work = tmp_path_factory.mktemp("pipe_work")
    cfg = JobConfig(
        input_paths=(input_dir,),
        checkpoint_dir=str(work / "ckpt"),
        results_dir=str(work / "results"),
        detectors=ALL,
        run_id="r1",
        # force the dictionary-encoded layout at fixture size (auto
        # would keep strings below id_encoding_min_rows)
        id_encoding="on",
    )
    return run_pipeline(spark, cfg), cfg


def _assign_set(result):
    return {(r["image_id"], r["cluster_id"]) for r in result.assignments.collect()}


def test_full_run_produces_groups(first_run, truth_pdf):
    result, _ = first_run
    label = {r["image_id"]: r["cluster_id"] for r in result.assignments.collect()}
    exact = truth_pdf[truth_pdf.truth_kind == "exact"]
    for _, grp in exact.groupby("truth_group_id"):
        labels = {label.get(i) for i in grp.image_id}
        assert len(labels) == 1 and None not in labels
    assert result.csv_path and os.path.exists(result.csv_path)
    assert open(result.csv_path, "rb").read()[:3] == b"\xef\xbb\xbf"


def test_stage_manifests_and_lineage(first_run, spark):
    result, cfg = first_run
    manifests = glob.glob(os.path.join(cfg.checkpoint_dir, "stages", "*.manifest.json"))
    # 3 stages per detector + ids + components + report
    assert len(manifests) == 3 * len(ALL) + 3
    for m in manifests:
        meta = json.load(open(m))
        assert meta["config_id"] and meta["rows"] >= 0
    metrics = read_metrics(spark, cfg.checkpoint_dir)
    assert metrics.count() == len(manifests)
    lineage = read_lineage(spark, cfg.checkpoint_dir)
    # per-partition rows recorded for every non-skipped stage
    stages_in_lineage = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert "components" in stages_in_lineage
    assert f"signatures_exact" in stages_in_lineage
    # lineage row counts sum to the stage's rows_out
    comp = lineage.where(F.col("stage") == "components")
    total = comp.agg(F.sum("rows")).collect()[0][0]
    assert total == result.stages["components"].rows


def test_hot_path_stages_are_long_keyed(first_run, spark):
    """id dictionary encoding (round-3): the checkpointed candidate and
    edge stages — the frames behind the widest shuffles and every CC
    round — must carry 8-byte long keys, with the string ids living
    only in the ids mapping stage and the decoded outputs."""
    _, cfg = first_run
    stages = os.path.join(cfg.checkpoint_dir, "stages")
    ids = spark.read.parquet(os.path.join(stages, "ids"))
    assert dict(ids.dtypes) == {"image_id": "string", "iid": "bigint"}
    for name in ("candidates_minhash", "candidates_exact", "edges_exact"):
        df = spark.read.parquet(os.path.join(stages, name))
        assert dict(df.dtypes) == {"a": "bigint", "b": "bigint"}, name
    # the decoded surface stays string-keyed for every consumer
    comp = spark.read.parquet(os.path.join(stages, "components"))
    assert dict(comp.dtypes) == {"image_id": "string", "cluster_id": "string"}


def test_id_encoding_off_produces_identical_assignments(
    first_run, spark, input_dir, tmp_path_factory
):
    """id_encoding is a physical-layout choice, never a semantic one:
    the string-keyed plan (auto below threshold / off) must yield the
    exact same assignment set as the long-keyed fixture run."""
    import dataclasses

    result_on, cfg_on = first_run
    work = tmp_path_factory.mktemp("pipe_off")
    cfg = dataclasses.replace(
        cfg_on,
        checkpoint_dir=str(work / "ckpt"),
        results_dir=str(work / "results"),
        id_encoding="auto",  # fixture is far below min_rows → strings
    )
    result_off = run_pipeline(spark, cfg)
    assert "ids" not in result_off.stages
    assert _assign_set(result_off) == _assign_set(result_on)


def test_resume_skips_everything(first_run, spark):
    result1, cfg = first_run
    result2 = run_pipeline(spark, cfg)
    assert all(info.skipped for info in result2.stages.values()), result2.stages
    assert _assign_set(result2) == _assign_set(result1)


def test_run_and_resume_list_stages_in_pipeline_order(first_run, spark):
    """The stage table follows the pipeline, not the order the
    concurrent detector chains finished in."""
    result1, cfg = first_run
    want = ["ids"] + [
        f"{s}_{d}" for d in ALL for s in ("signatures", "candidates", "edges")
    ] + ["components", "report"]
    assert list(result1.stages) == want
    assert list(run_pipeline(spark, cfg).stages) == want


def test_resume_mid_run(first_run, spark):
    # simulate a kill after the detector stages: later stages lose
    # their manifests, earlier ones keep them
    result1, cfg = first_run
    want = _assign_set(result1)  # collect BEFORE the re-run overwrites parquet
    for stage in ("components", "report"):
        os.remove(os.path.join(cfg.checkpoint_dir, "stages", f"{stage}.manifest.json"))
    result2 = run_pipeline(spark, cfg)
    assert result2.stages["components"].skipped is False
    assert result2.stages["signatures_exact"].skipped is True
    assert result2.stages["candidates_minhash"].skipped is True
    assert _assign_set(result2) == want


def test_config_change_invalidates_stage(first_run, spark):
    result1, cfg = first_run
    import dataclasses

    cfg2 = dataclasses.replace(
        cfg, minhash=MinHashConfig(jaccard_threshold=0.8), run_id="r2"
    )
    result2 = run_pipeline(spark, cfg2)
    assert result2.stages["signatures_minhash"].skipped is False
    assert result2.stages["signatures_exact"].skipped is True  # config unchanged
    # restore checkpoint state for other tests (threshold back)
    run_pipeline(spark, cfg)


def test_bucket_cap_change_recomputes_candidates_and_downstream(
    spark, input_dir, tmp_path_factory
):
    """bucket_cap is the candidates stage's own param: a resume with a
    new cap skips the signatures and recomputes candidates and every
    stage after them, matching a cold run at that cap."""
    import dataclasses

    work = tmp_path_factory.mktemp("pipe_cap")
    dets = ("exact", "minhash")
    cfg = JobConfig(
        input_paths=(input_dir,), checkpoint_dir=str(work / "ckpt"),
        detectors=dets, run_id="cap64",
    )
    run_pipeline(spark, cfg)
    cfg2 = dataclasses.replace(cfg, bucket_cap=2, run_id="cap2")
    r2 = run_pipeline(spark, cfg2)
    for d in dets:
        assert r2.stages[f"signatures_{d}"].skipped, d
        assert not r2.stages[f"candidates_{d}"].skipped, d
        assert not r2.stages[f"edges_{d}"].skipped, d
    assert not r2.stages["components"].skipped
    assert not r2.stages["report"].skipped
    cold = run_pipeline(
        spark, dataclasses.replace(cfg2, checkpoint_dir=str(work / "cold"))
    )
    for d in dets:
        stage = f"candidates_{d}"
        assert r2.stages[stage].rows == cold.stages[stage].rows, stage
    assert _assign_set(r2) == _assign_set(cold)


def test_empty_input_early_exit(spark, tmp_path_factory):
    work = tmp_path_factory.mktemp("pipe_empty")
    empty = spark.createDataFrame(
        [], "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long"
    )
    p = str(work / "empty.parquet")
    empty.write.parquet(p)
    cfg = JobConfig(
        input_paths=(p,), checkpoint_dir=str(work / "ckpt"),
        results_dir=str(work / "results"), detectors=("exact",),
    )
    result = run_pipeline(spark, cfg)
    assert result.csv_path is None
    assert result.assignments.count() == 0
    assert not glob.glob(os.path.join(str(work / "results"), "*.csv"))


def test_incremental_signature_cache(spark, fixture_pdf, tmp_path_factory):
    """use_cache row-level merge: unchanged rows keep their cached
    signature (proven via a planted sentinel), changed rows recompute
    (≅ fileNeedsReHashing, hashing.go:84-88)."""
    import pandas as pd

    work = tmp_path_factory.mktemp("cache_work")
    sub = fixture_pdf.head(60)[IMAGES_COLUMNS]
    v1 = str(work / "v1.parquet")
    spark.createDataFrame(sub).write.parquet(v1)
    cfg = JobConfig(
        input_paths=(v1,), checkpoint_dir=str(work / "ckpt"),
        detectors=("minhash",), use_cache=True, run_id="c1",
    )
    r1 = run_pipeline(spark, cfg)
    assert r1.stages["signatures_minhash"].skipped is False

    sig_dir = os.path.join(cfg.checkpoint_dir, "stages", "signatures_minhash")
    sigs1 = spark.read.parquet(sig_dir).toPandas()

    # plant a sentinel on an unchanged row's cached signature
    changed_id = sub.iloc[0].image_id
    keep_id = sub.iloc[1].image_id
    sigs1.loc[sigs1.image_id == keep_id, "bands"] = pd.Series(
        [[999] * len(sigs1.iloc[0]["bands"])] * (sigs1.image_id == keep_id).sum(),
        index=sigs1.index[sigs1.image_id == keep_id],
    )
    spark.createDataFrame(sigs1).write.mode("overwrite").parquet(sig_dir)

    # v2 input: one caption changed
    sub2 = sub.copy()
    sub2.loc[sub2.image_id == changed_id, "caption"] = "a brand new caption entirely"
    v2 = str(work / "v2.parquet")
    spark.createDataFrame(sub2).write.parquet(v2)
    import dataclasses

    cfg2 = dataclasses.replace(cfg, input_paths=(v2,), run_id="c2")
    r2 = run_pipeline(spark, cfg2)
    assert r2.stages["signatures_minhash"].skipped is False  # input changed

    sigs2 = spark.read.parquet(sig_dir).toPandas().set_index("image_id")
    # unchanged row: sentinel survived → it was NOT recomputed
    assert list(sigs2.loc[keep_id, "bands"]) == [999] * len(sigs2.loc[keep_id, "bands"])
    # changed row: recomputed to the fresh caption's true signature
    from dude_spark.detectors.minhash import minhash_signatures
    from dude_spark.config import MinHashConfig

    fresh = (
        minhash_signatures(
            spark.createDataFrame(sub2[sub2.image_id == changed_id]), MinHashConfig()
        )
        .collect()[0]["bands"]
    )
    assert list(sigs2.loc[changed_id, "bands"]) == list(fresh)


def test_incremental_simhash_cache_alternating_inputs(
    spark, fixture_pdf, tmp_path_factory
):
    """The simhash cache holds one row per (image, channel): a changed
    image must be re-signed once, not once per cached row, so
    alternating two inputs keeps the stage at a cold run's size."""
    import dataclasses

    work = tmp_path_factory.mktemp("cache_alt")
    a = fixture_pdf.head(80)[IMAGES_COLUMNS]
    b = a.copy()
    b.loc[b.index[:10], "caption"] = [f"a rewritten caption {i}" for i in range(10)]
    paths = {}
    for name, pdf in (("a", a), ("b", b)):
        paths[name] = str(work / f"{name}.parquet")
        spark.createDataFrame(pdf).write.parquet(paths[name])

    def sig_rows(cfg):
        run_pipeline(spark, cfg)
        sigs = spark.read.parquet(
            os.path.join(cfg.checkpoint_dir, "stages", "signatures_simhash")
        )
        dups = sigs.groupBy("image_id", "channel").count().where("count > 1")
        return sigs.count(), dups.count()

    base = JobConfig(detectors=("simhash",), use_cache=True, run_id="alt")
    cold = {
        n: sig_rows(dataclasses.replace(
            base, input_paths=(p,), checkpoint_dir=str(work / f"cold_{n}")
        ))[0]
        for n, p in paths.items()
    }
    for n in ("a", "b", "a", "b"):
        cfg = dataclasses.replace(
            base, input_paths=(paths[n],), checkpoint_dir=str(work / "ckpt")
        )
        assert sig_rows(cfg) == (cold[n], 0), n


def test_incremental_signatures_survive_schema_migration(spark, images_df, tmp_path):
    """A signature cache written before a schema change (e.g. round 3
    added the full `sig` column to minhash signatures) must fall back
    to full recompute, not abort the run on a unionByName mismatch."""
    from dude_spark.config import JobConfig
    from dude_spark.pipeline import _incremental_signatures
    from dude_spark.storage import ParquetManifestStore

    store = ParquetManifestStore(spark, str(tmp_path))
    cfg = JobConfig(use_cache=True)
    images = images_df.limit(40)
    stage = "signatures_minhash"

    fresh = _incremental_signatures(spark, images, "minhash", cfg, store, stage)
    assert "sig" in fresh.columns
    # simulate the pre-migration cache: same rows, `sig` column absent
    store.write(fresh.drop("sig"), stage)

    merged = _incremental_signatures(spark, images, "minhash", cfg, store, stage)
    assert set(merged.columns) == set(fresh.columns)
    assert merged.count() == images.count()
