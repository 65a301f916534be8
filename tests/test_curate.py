"""Library-level curate chain semantics (the CLI twin is covered in
test_cli.py): config-hash invalidation granularity and the
empty-corpus guard."""

from __future__ import annotations

import os

import numpy as np
import pytest  # noqa: F401

from dude_spark.curate import curate
from dude_spark.lineage import read_lineage


def _corpus(spark, n=8):
    rng = np.random.RandomState(91)
    rows = []
    for i in range(n):
        toks = []
        for j in range(26):
            toks.append(f"w{rng.randint(0, 5000):04d}")
            if j % 3 == 0:
                toks.append("the")
        rows.append((f"d{i:02d}", " ".join(toks), "web"))
    return spark.createDataFrame(
        rows, "image_id string, caption string, source string"
    )


def test_config_change_invalidates_exactly_downstream(spark, tmp_path):
    """A dedup-flag change recomputes the dedup stage (and shards) but
    SKIPS the untouched filter/pii stages — the stage config-id
    contract that makes mid-chain resume safe."""
    wd = str(tmp_path / "wd")
    docs = _corpus(spark)
    r1 = curate(spark, docs, wd, rows_per_shard=4)
    assert all(
        not r1["stages"][s]["skipped"] for s in ("filtered", "pii", "deduped")
    )
    # identical re-run: everything skips
    r2 = curate(spark, docs, wd, rows_per_shard=4)
    assert all(
        r2["stages"][s]["skipped"] for s in ("filtered", "pii", "deduped")
    )
    # fuzzy-threshold change: dedup recomputes, upstream still skips
    r3 = curate(spark, docs, wd, rows_per_shard=4, jaccard_num=9)
    assert r3["stages"]["filtered"]["skipped"]
    assert r3["stages"]["pii"]["skipped"]
    assert not r3["stages"]["deduped"]["skipped"]
    assert not r3["stages"]["shards"]["skipped"]


def test_new_input_recomputes_every_stage(spark, tmp_path):
    """A different input in the same workdir re-keys the whole chain:
    no stage is skipped, so the old input's shards are never returned
    for the new one."""
    wd = str(tmp_path / "wd")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _corpus(spark).write.parquet(a)
    _corpus(spark, n=10).write.parquet(b)
    curate(spark, spark.read.parquet(a), wd, rows_per_shard=4)
    r2 = curate(spark, spark.read.parquet(b), wd, rows_per_shard=4)
    for s in ("filtered", "pii", "deduped", "shards"):
        assert not r2["stages"][s]["skipped"], s
    shards = spark.read.parquet(os.path.join(wd, "shards"))
    assert "d09" in {r["image_id"] for r in shards.collect()}
    # the runner's durable per-partition lineage covers curate too
    lineage = {r["stage"] for r in read_lineage(spark, wd).collect()}
    assert {"filtered", "pii", "deduped", "shards"} <= lineage
    # the same files again: every stage skips
    r3 = curate(spark, spark.read.parquet(b), wd, rows_per_shard=4)
    for s in ("filtered", "pii", "deduped", "shards"):
        assert r3["stages"][s]["skipped"], s


def test_benchmark_change_recomputes_decontam_and_downstream(spark, tmp_path):
    """The benchmark set is decontam's own param: a new benchmark frame
    recomputes decontam and the shards after it, and skips filter, pii
    and dedup."""
    wd = str(tmp_path / "wd")
    docs = _corpus(spark)

    def bench(text):
        return spark.createDataFrame(
            [("b1", text)], "image_id string, caption string"
        )

    curate(spark, docs, wd, rows_per_shard=4,
           benchmark=bench("first unrelated benchmark passage text"))
    r2 = curate(spark, docs, wd, rows_per_shard=4,
                benchmark=bench("second unrelated benchmark passage text"))
    for s in ("filtered", "pii", "deduped"):
        assert r2["stages"][s]["skipped"], s
    for s in ("decontam", "shards"):
        assert not r2["stages"][s]["skipped"], s


def test_empty_after_filter_reports_instead_of_crashing(spark, tmp_path):
    """Every row rejected by the quality gate: the chain must complete
    with a loud empty-shards report (audits carry the rows), not crash
    on an uninferable empty parquet dir."""
    wd = str(tmp_path / "wd")
    docs = spark.createDataFrame(
        [("a", "tiny", "web"), ("b", "small", "web")],
        "image_id string, caption string, source string",
    )
    rep = curate(spark, docs, wd, rows_per_shard=4)
    assert rep["shards"] == 0
    assert rep["shard_verification_failures"] == 0
    assert "empty" in rep["stages"]["shards"]["skipped"]
    rej = spark.read.parquet(os.path.join(wd, "audits", "rejected"))
    assert rej.count() == 2
