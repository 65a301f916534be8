"""A re-crawl — an image_id present in both the known corpus and the new
batch — must not multiply the written pair rows: `dedup-new` and the
ingest stream write each verified pair once, in one orientation (the
new row of a re-crawled id supersedes its known row)."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dude_spark import cli
from dude_spark.config import MinHashConfig
from dude_spark.fixtures import IMAGES_COLUMNS
from dude_spark.streaming import detector_ingest, start_incremental_dedup

N_RECRAWL = 60


@pytest.fixture(scope="module")
def batches(fixture_pdf):
    """(known, new): the fixture's first half, then its second half
    plus the first N_RECRAWL known rows again, unchanged."""
    pdf = fixture_pdf[IMAGES_COLUMNS]
    half = len(pdf) // 2
    known = pdf.iloc[:half]
    new = pd.concat([pdf.iloc[half:], pdf.iloc[:N_RECRAWL]])
    return known, new


def _rows_and_pairs(df):
    """(rows, distinct unordered pairs): equal iff no pair is written
    twice, in either orientation."""
    unordered = df.select(F.least("a", "b"), F.greatest("a", "b"))
    return df.count(), unordered.distinct().count()


@pytest.mark.parametrize("detector", ["exact", "minhash", "simhash", "suffix"])
def test_dedup_new_writes_each_pair_once(
    spark, tmp_path, monkeypatch, batches, detector
):
    known, new = batches
    corpus, inp, out = (str(tmp_path / d) for d in ("corpus", "new", "out"))
    spark.createDataFrame(known).write.parquet(corpus)
    spark.createDataFrame(new).write.parquet(inp)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    assert cli.main(["dedup-new", "--corpus", corpus, "--new", inp,
                     "--out", out, "--detector", detector,
                     "--bucket-cap", "3"]) == 0
    rows, pairs = _rows_and_pairs(spark.read.parquet(f"{out}/pairs"))
    assert pairs > 0
    assert rows == pairs


def test_stream_writes_each_pair_once(spark, tmp_path, batches):
    known, new = batches
    input_dir, state_dir = str(tmp_path / "in"), str(tmp_path / "state")
    schema = "image_id string, caption string"
    bucket_fn, verify_fn, state_cols = detector_ingest(
        "minhash", MinHashConfig()
    )
    for batch in (known, new):
        spark.createDataFrame(batch[["image_id", "caption"]]).coalesce(
            1
        ).write.mode("append").parquet(input_dir)
        q = start_incremental_dedup(
            spark, input_dir, state_dir, schema,
            bucket_fn=bucket_fn, verify_fn=verify_fn, state_cols=state_cols,
            bucket_cap=3,
        )
        q.awaitTermination(180)
        assert not q.isActive
    # checked per epoch: a pair whose members were both re-crawled is
    # found, and written, by each epoch
    written = spark.read.parquet(os.path.join(state_dir, "pairs"))
    for epoch in (0, 1):
        rows, pairs = _rows_and_pairs(written.where(f"epoch = {epoch}"))
        assert pairs > 0
        assert rows == pairs, epoch
