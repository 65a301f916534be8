"""Batch cross-corpus dedup (operators/candidates.pairs_vs_known +
cross_corpus_pairs) — the batch twin of the streaming micro-batch join
(streaming/ingest._batch_pairs shares the same kernel; the streaming
suite covers it end-to-end through the ingest loop).

Gates: brute-force equality on the uncapped path, the known-side
min-rep cap for hot buckets (connectivity kept, O(batch) output,
recorded never silent), the within-known exclusion, and the
too-many-overcap refusal.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dude_spark.operators.candidates import (
    cross_corpus_pairs,
    pairs_vs_known,
)


def _frame(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "bucket"]),
        "image_id string, bucket string",
    )


def test_cross_corpus_matches_bruteforce(spark):
    """Uncapped path == the literal pair semantics: within-new (a<b)
    plus known-vs-new, NEVER within-known."""
    known = [(f"k{i}", f"b{i % 5}") for i in range(15)]
    new = [(f"n{i}", f"b{i % 7}") for i in range(10)]  # b5,b6 miss known
    pairs, overcap = cross_corpus_pairs(
        _frame(spark, known), _frame(spark, new), bucket_cap=64
    )
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    want = {
        (k, n) for k, bk in known for n, bn in new if bk == bn
    } | {
        (a, b)
        for a, ba in new
        for b, bb in new
        if ba == bb and a < b
    }
    assert got == want
    # within-known pairs never appear even though known has dup buckets
    assert not any(a.startswith("k") and b.startswith("k") for a, b in got)
    assert overcap.count() == 0


def test_known_hot_bucket_min_rep_cap(spark):
    """A known bucket over the cap joins through its min id only:
    every new member still pairs with the component anchor
    (connectivity), output is O(new), and the cut is recorded."""
    hot = [(f"k{i:03d}", "hot") for i in range(100)]
    cold = [("kc1", "cold"), ("kc2", "cold")]
    new = [("n1", "hot"), ("n2", "cold"), ("n3", "nowhere")]
    pairs, rows = pairs_vs_known(
        _frame(spark, new), _frame(spark, hot + cold), bucket_cap=10
    )
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert got == {("k000", "n1"), ("kc1", "n2"), ("kc2", "n2")}
    assert [(r["bucket"], r["bucket_size"]) for r in rows.collect()] == [
        ("hot", 100)
    ]


def test_cross_corpus_overcap_sides_recorded(spark):
    """cross_corpus_pairs labels each cap by side: a hot NEW bucket
    degrades via pairs_from_buckets (side=batch), a hot KNOWN bucket
    via the min-rep join (side=known)."""
    known = [(f"k{i:03d}", "kb") for i in range(40)]
    new = [(f"n{i:03d}", "nb") for i in range(40)] + [("nx", "kb")]
    pairs, overcap = cross_corpus_pairs(
        _frame(spark, known), _frame(spark, new), bucket_cap=8
    )
    sides = {(r["bucket"], r["side"]) for r in overcap.collect()}
    assert sides == {("nb", "batch"), ("kb", "known")}
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    # known cap: nx pairs only with the known min
    assert ("k000", "nx") in got
    assert not any(b == "nx" and a != "k000" for a, b in got)
    # new cap (star mode): every new member still connected via min
    star = {p for p in got if p[0].startswith("n")}
    assert star == {("n000", f"n{i:03d}") for i in range(1, 40)}


def test_pairs_vs_known_refuses_overcap_flood(spark, monkeypatch):
    """More capped known buckets than the driver may collect → loud
    refusal naming the config mismatch, not a silent OOM."""
    import dude_spark.operators.candidates as cand

    monkeypatch.setattr(cand, "_MAX_BROADCAST_HOT_KEYS", 2)
    known = [(f"k{i}_{j}", f"b{i}") for i in range(4) for j in range(5)]
    new = [(f"n{i}", f"b{i}") for i in range(4)]
    with pytest.raises(ValueError, match="over-cap KNOWN buckets"):
        pairs_vs_known(
            _frame(spark, new), _frame(spark, known), bucket_cap=3
        )
