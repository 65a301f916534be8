"""Physical-plan hygiene: the plans we would want at 10^12 rows.

Checks .explain() output the way SURVEY.md §4 prescribes: column
pruning keeps `bytes` out of caption-detector scans (the single
biggest I/O lever), bucket-size aggregation is map-side partial
(two-stage — one hot key cannot pin a reducer for counting), and the
salted-key helper is equivalent to direct grouping.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dude_spark.config import MinHashConfig, SimHashConfig, SuffixConfig
from dude_spark.detectors.exact import exact_buckets
from dude_spark.detectors.minhash import minhash_signatures
from dude_spark.detectors.simhash import simhash_signatures
from dude_spark.detectors.suffix import suffix_signatures
from dude_spark.fixtures import IMAGES_COLUMNS
from dude_spark.operators.candidates import pairs_from_buckets, salt_buckets


@pytest.fixture(scope="module")
def parquet_images(spark, fixture_pdf, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "images.parquet")
    spark.createDataFrame(fixture_pdf[IMAGES_COLUMNS]).write.parquet(path)
    return spark.read.parquet(path)


def _read_schema_line(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert lines, plan
    return lines[0]


def test_caption_detectors_prune_bytes(parquet_images):
    for df in (
        minhash_signatures(parquet_images, MinHashConfig()),
        simhash_signatures(parquet_images, SimHashConfig()),
        suffix_signatures(parquet_images, SuffixConfig()),
    ):
        rs = _read_schema_line(df)
        assert "bytes" not in rs, rs
        assert "caption" in rs or "phash" in rs, rs


def test_exact_detector_reads_only_id_and_bytes(parquet_images):
    rs = _read_schema_line(exact_buckets(parquet_images))
    assert "bytes" in rs and "image_id" in rs
    assert "caption" not in rs and "phash" not in rs, rs


def test_overcap_aggregate_is_two_stage(parquet_images):
    from dude_spark.operators.candidates import overcap_stats

    overcap = overcap_stats(exact_buckets(parquet_images), 64)
    plan = overcap._jdf.queryExecution().executedPlan().toString()
    # map-side partial + final merge = two aggregate operators around
    # the exchange (SortAggregate since min(string) joined the agg); a
    # hot key only ever costs the merge side one combined row per map
    # partition
    n_aggs = plan.count("HashAggregate") + plan.count("SortAggregate")
    assert n_aggs >= 2, plan
    assert "partial_count" in plan or "partial count" in plan.lower(), plan


def test_pairs_plan_single_fat_shuffle(parquet_images):
    # the pairing path shuffles the fat bucket table ONCE (the window);
    # the self-join operates on the singleton-filtered remainder
    pairs, _ = pairs_from_buckets(exact_buckets(parquet_images), 64)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan


def test_hot_bucket_star_edges_via_broadcast(spark):
    """A bucket over the cap must produce star edges through a
    broadcast join of the (few) over-cap keys — never by colocating
    the hot bucket on one reducer — and exact star-edge output."""
    pdf = pd.DataFrame(
        {
            "image_id": [f"i{i:05d}" for i in range(5000)]
            + [f"p{i}" for i in range(4)],
            "bucket": ["HOT"] * 5000 + ["ok"] * 4,
        }
    )
    pairs, overcap = pairs_from_buckets(spark.createDataFrame(pdf), bucket_cap=64)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    star = {("i00000", f"i{i:05d}") for i in range(1, 5000)}
    full = {(f"p{i}", f"p{j}") for i in range(4) for j in range(i + 1, 4)}
    assert got == star | full
    oc = overcap.collect()
    assert len(oc) == 1 and oc[0]["bucket"] == "HOT" and oc[0]["bucket_size"] == 5000


def test_hot_bucket_exhaustive_grid_emits_all_pairs(spark):
    """overcap_mode='exhaustive' (pair-semantics callers): a hot bucket
    must emit EVERY in-bucket pair via the salted block grid — the
    exact set a naive self-join would produce — while under-cap
    buckets keep the window path, and the cut is still recorded."""
    n_hot = 300
    pdf = pd.DataFrame(
        {
            "image_id": [f"i{i:05d}" for i in range(n_hot)]
            + [f"p{i}" for i in range(4)],
            "bucket": ["HOT"] * n_hot + ["ok"] * 4,
        }
    )
    pairs, overcap = pairs_from_buckets(
        spark.createDataFrame(pdf), bucket_cap=64, overcap_mode="exhaustive"
    )
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    hot_all = {
        (f"i{i:05d}", f"i{j:05d}")
        for i in range(n_hot)
        for j in range(i + 1, n_hot)
    }
    full = {(f"p{i}", f"p{j}") for i in range(4) for j in range(i + 1, 4)}
    assert got == hot_all | full
    oc = overcap.collect()
    assert len(oc) == 1 and oc[0]["bucket_size"] == n_hot


def test_exhaustive_grid_refuses_impossible_jobs(spark, monkeypatch):
    """A universal bucket above the pair-count safety bound must raise
    loudly instead of launching a quadratic job."""
    from dude_spark.operators import candidates

    monkeypatch.setattr(candidates, "_MAX_EXHAUSTIVE_PAIRS", 1000)
    pdf = pd.DataFrame(
        {"image_id": [f"i{i}" for i in range(100)], "bucket": ["U"] * 100}
    )
    with pytest.raises(ValueError, match="safety bound"):
        candidates.pairs_from_buckets(
            spark.createDataFrame(pdf), bucket_cap=10,
            overcap_mode="exhaustive",
        )


def test_salted_two_stage_equals_direct(spark):
    # hot key: 5000 rows in one bucket; salted two-stage count must
    # equal the direct group count exactly
    pdf = pd.DataFrame(
        {
            "image_id": [f"i{i:05d}" for i in range(6000)],
            "bucket": ["HOT"] * 5000 + [f"b{i}" for i in range(1000)],
        }
    )
    buckets = spark.createDataFrame(pdf)
    direct = {
        r["bucket"]: r["n"]
        for r in buckets.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    salted = salt_buckets(buckets, salt=16)
    two_stage = (
        salted.groupBy("bucket_salted", "bucket")
        .agg(F.count("*").alias("partial"))
        .groupBy("bucket")
        .agg(F.sum("partial").alias("n"))
    )
    got = {r["bucket"]: r["n"] for r in two_stage.collect()}
    assert got == direct
    # the hot key really was spread over multiple salted sub-buckets
    n_sub = salted.where(F.col("bucket") == "HOT").select(
        "bucket_salted"
    ).distinct().count()
    assert n_sub > 1


def test_whole_stage_codegen_covers_bucket_path(parquet_images):
    # the exact detector's bucket projection must be inside
    # WholeStageCodegen (JVM, no Python boundary)
    plan = exact_buckets(parquet_images)._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in plan  # '*' marks WholeStageCodegen spans
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # null-filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(bytes)]" in plan


def test_many_overcap_buckets_distributed_fallback(spark, monkeypatch):
    """Above _MAX_BROADCAST_HOT_KEYS over-cap buckets (cap/selectivity
    mismatching the corpus), the skew plan must not materialize the
    hot-key list on the driver — hot frames join distributedly — and
    both modes' outputs stay identical to the broadcast plan's."""
    from dude_spark.operators import candidates

    pdf = pd.DataFrame(
        {
            "image_id": [f"i{b}_{i}" for b in range(6) for i in range(8)]
            + [f"p{i}" for i in range(3)],
            "bucket": [f"H{b}" for b in range(6) for _ in range(8)]
            + ["ok"] * 3,
        }
    )
    df = spark.createDataFrame(pdf)

    def run(mode):
        pairs, overcap = candidates.pairs_from_buckets(
            df, bucket_cap=4, overcap_mode=mode
        )
        return (
            {(r["a"], r["b"]) for r in pairs.collect()},
            {(r["bucket"], r["bucket_size"]) for r in overcap.collect()},
        )

    expected = {m: run(m) for m in ("star", "exhaustive")}
    monkeypatch.setattr(candidates, "_MAX_BROADCAST_HOT_KEYS", 3)
    for m in ("star", "exhaustive"):
        got_pairs, got_overcap = run(m)
        assert got_pairs == expected[m][0]
        assert got_overcap == expected[m][1]
        assert got_overcap == {(f"H{b}", 8) for b in range(6)}


def test_ensure_min_partitions_spreads_underpartitioned_scan(spark, tmp_path):
    """A one-row-group parquet plans as ONE input partition; the
    signature stage must not inherit that (measured at sf0.1: the
    minhash signature UDF ran on 2 of 32 cores, a 260k-row n-gram
    explode took 11 s on one task).  ensure_min_partitions spreads the
    narrow projection to the session's parallelism — and is a NO-OP
    when the input is already wide enough (a 100 TB scan must not pay
    a pointless full shuffle)."""
    from dude_spark.session import ensure_min_partitions

    path = str(tmp_path / "docs.parquet")
    spark.range(500).selectExpr(
        "cast(id as string) image_id", "repeat('word ', 40) caption"
    ).coalesce(1).write.parquet(path)
    one = spark.read.parquet(path)
    assert one.rdd.getNumPartitions() == 1
    spread = ensure_min_partitions(one)
    target = spark.sparkContext.defaultParallelism
    assert spread.rdd.getNumPartitions() == target
    # idempotent / no-op on an already-spread frame: no second exchange
    again = ensure_min_partitions(spread)
    assert again is spread
    # the signature UDF consumes the spread layout
    sigs = minhash_signatures(one, MinHashConfig())
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan, plan


def test_ensure_min_partitions_skips_post_shuffle_frames(spark, tmp_path):
    """A frame that already crossed a shuffle is returned UNTOUCHED —
    AQE spreads shuffle outputs itself, and probing its partition count
    via df.rdd would finalize the adaptive plan, eagerly running the
    upstream exchange stages once for the probe and again for the real
    query (observed: streaming verify fns paying their semi-join twice
    per micro-batch)."""
    from dude_spark.session import ensure_min_partitions

    path = str(tmp_path / "docs.parquet")
    spark.range(200).selectExpr(
        "cast(id as string) image_id", "repeat('word ', 5) caption"
    ).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    keys = scan.select("image_id").limit(50)
    joined = scan.join(keys, "image_id", "leftsemi")
    assert ensure_min_partitions(joined) is joined
    agged = scan.groupBy("caption").count()
    assert ensure_min_partitions(agged) is agged
    # ...while a scan-rooted narrow projection still gets the spread
    spread = ensure_min_partitions(scan.select("image_id", "caption"))
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_embedding_udf_paths_have_partition_floor(spark, tmp_path):
    """The §10.5 one-row-group starvation applies to any Python kernel
    over a raw scan (round-3 VERDICT next #10): the embedding LSH
    signature matmul, the IVF cell-assignment matmul, and the exact
    block matmul must all spread an under-split scan before their UDF
    stage, exactly like the text detectors do."""
    import numpy as np
    import pandas as pd

    from dude_spark.functions.embedding import (
        _lsh_signature_base,
        ann_topk,
        cosine_dup_pairs,
    )

    rs = np.random.RandomState(7)
    path = str(tmp_path / "embs.parquet")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(300),
                "embedding": [
                    rs.standard_normal(16).astype("float32").tolist()
                    for _ in range(300)
                ],
            }
        )
    ).coalesce(1).write.parquet(path)
    embs = spark.read.parquet(path)
    assert embs.rdd.getNumPartitions() == 1

    # the LSH path checkpoints its signature base (plan truncation), so
    # assert on the factored pre-checkpoint frame it actually uses
    lsh = _lsh_signature_base(embs, "vec_id", "embedding", 16, 42)
    exact = cosine_dup_pairs(embs, threshold=0.99, strategy="exact", dim=16)
    ann = ann_topk(embs, embs.where("vec_id < 2"), k=5, dim=16, n_cells=8)
    for name, df in (("lsh", lsh), ("exact", exact), ("ann", ann)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert (
            "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan
        ), (name, plan)


def test_tile_hamming_match_is_jvm_only(spark):
    """The Hamming tile verify (nested exists + bit_count over two
    small key arrays) must stay inside JVM codegen — no Python eval
    node and no cartesian product in the plan."""
    from dude_spark.operators.multimodal import tile_hamming_match

    pairs = spark.createDataFrame([("a", "b")], "a string, b string")
    tiles = spark.createDataFrame(
        [("a", [1, 2]), ("b", [3, 4])],
        "image_id string, tile_keys array<long>",
    )
    plan = (
        tile_hamming_match(pairs, tiles, radius=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_ann_query_joins_broadcast_query_side(spark, tmp_path):
    """ann_query against a persisted posting list: the (small) query
    side rides a broadcast — the corpus-sized assignment frame must
    never shuffle for the cell join."""
    import numpy as np

    from dude_spark.functions.embedding import ann_assign, ann_query

    pdf = pd.DataFrame({
        "vec_id": list(range(64)),
        "embedding": [
            np.random.RandomState(i).uniform(-0.5, 0.5, 8)
            .astype("float32").tolist()
            for i in range(64)
        ],
    })
    df = spark.createDataFrame(pdf).selectExpr(
        "vec_id", "cast(embedding as array<float>) embedding"
    )
    cent = np.eye(4, 8)[:4]
    p = str(tmp_path / "cells")
    ann_assign(df, cent).write.parquet(p)
    assigned = spark.read.parquet(p)
    plan = (
        ann_query(assigned, cent, df.where("vec_id < 3"), k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_text_signals_split_each_document_once(spark):
    """The token array is bound once per row inside the expression:
    neither a gram lambda nor the filter cascade's signals re-split the
    document, and the filter's stopword test does no case mapping.
    (Columns are aliased: an unaliased column's generated name would
    repeat the expression text in the plan string.)"""
    from dude_spark.functions.text import word_ngrams
    from dude_spark.operators.filters import filter_corpus

    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, None)], "doc_id long, caption string"
    )
    clean, rejected = filter_corpus(docs, text_col="caption")
    for df in (clean, rejected):
        plan = _optimized(df)
        assert plan.count("split(") == 1, plan
        assert "lower(" not in plan, plan
    grams = docs.select(word_ngrams(F.col("caption"), 5).alias("g"))
    plan = _optimized(grams)
    assert plan.count("split(") == 1, plan


def test_boilerplate_strip_splits_each_document_once_per_node(spark):
    """strip_boilerplate's audit counts the covered tokens, so its
    Project and the Filter pushed down onto it split the document once
    each (the positions Generate splits it once more, for the grams)."""
    from dude_spark.operators.boilerplate import strip_boilerplate

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon x{i}") for i in range(4)],
        "doc_id long, text string",
    )
    _, audit = strip_boilerplate(docs, n=3, min_df=2)
    plan = _optimized(audit)
    splits = {}
    for line in plan.splitlines():
        node = line.lstrip(" :+-").split(" ", 1)[0]
        splits.setdefault(node, []).append(line.count("split("))
    assert max(splits["Project"]) <= 1 and max(splits["Filter"]) <= 1, plan
    assert plan.count("split(") == 3, plan


def _hinted(df) -> bool:
    return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()


def test_pin_hot_keys_counts_once_and_hints_iff_under_cap(spark, monkeypatch):
    """The one hot-key step: a single action (the count) materializes
    the pin; the join side is hinted broadcast iff the count is at most
    the cap (the default cap is read at call time); the table the
    over-cap record reads is unhinted and is a scan of the pinned rows,
    not the aggregate run again."""
    from dude_spark.operators import candidates

    hot = spark.range(70).groupBy((F.col("id") % 7).alias("k")).count()
    actions = []
    with monkeypatch.context() as m:
        cls = type(hot)
        for name in ("count", "collect", "first", "head", "take", "toPandas"):
            def spy(self, *a, _orig=getattr(cls, name), _name=name, **k):
                actions.append(_name)
                return _orig(self, *a, **k)

            m.setattr(cls, name, spy)
        table, join, n = candidates.pin_hot_keys(hot, cap=7)
    assert (n, actions) == (7, ["count"])
    assert _hinted(join) and not _hinted(table)
    plan = table._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan and "Aggregate" not in plan, plan
    assert sorted(r["k"] for r in table.collect()) == list(range(7))

    table, join, n = candidates.pin_hot_keys(hot, cap=6)
    assert n == 7 and join is table and not _hinted(join)
    monkeypatch.setattr(candidates, "_MAX_BROADCAST_HOT_KEYS", 6)
    assert not _hinted(candidates.pin_hot_keys(hot)[1])


def test_operators_build_no_frames_from_python_lists():
    """A createDataFrame over a Python list is a Python RDD: every
    action over it starts Python tasks.  No operator builds one, and
    the candidate operators collect nothing to the driver."""
    import ast
    import pathlib

    import dude_spark.operators as ops

    literal = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp)
    found = []
    for path in sorted(pathlib.Path(ops.__file__).parent.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not (
                isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            ):
                continue
            data = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "data"), None
            )
            if node.func.attr == "createDataFrame" and isinstance(data, literal):
                found.append(f"{path.name}:{node.lineno} createDataFrame")
            if node.func.attr == "collect" and path.name == "candidates.py":
                found.append(f"{path.name}:{node.lineno} collect")
    assert not found, found
