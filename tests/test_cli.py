"""CLI surface: the stream subcommand drives ingest dedup end to end."""

from __future__ import annotations

import os

from dude_spark import cli


def test_cli_stream_exact(spark, tmp_path, monkeypatch, capsys):
    input_dir, state_dir = str(tmp_path / "in"), str(tmp_path / "state")
    df = spark.createDataFrame(
        [("a", b"same"), ("b", b"same"), ("c", b"other")],
        "image_id string, bytes binary",
    )
    df.coalesce(1).write.parquet(input_dir)

    # inject the session fixture: the CLI builds (and stops) its own
    # session, which would tear down the shared test session
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    rc = cli.main(["stream", "--input", input_dir, "--state", state_dir])
    assert rc == 0
    assert "pairs:" in capsys.readouterr().out

    pairs = {
        (r["a"], r["b"])
        for r in spark.read.parquet(os.path.join(state_dir, "pairs")).collect()
    }
    assert pairs == {("a", "b")}


def test_cli_stream_minhash_flag_builds_detector(spark, tmp_path, monkeypatch):
    """--detector minhash wires the D1 preset (near-dup captions pair)."""
    input_dir, state_dir = str(tmp_path / "in"), str(tmp_path / "state")
    base = (
        "the quick brown fox jumps over the lazy dog beside the quiet "
        "riverbank at dawn while distant church bells echo across the valley"
    )
    df = spark.createDataFrame(
        [("a", base), ("b", base.replace("quick", "swift")),
         ("c", "entirely unrelated text about parquet footer statistics")],
        "image_id string, caption string",
    )
    df.coalesce(1).write.parquet(input_dir)

    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    rc = cli.main([
        "stream", "--input", input_dir, "--state", state_dir,
        "--schema", "image_id string, caption string",
        "--detector", "minhash",
    ])
    assert rc == 0
    pairs = {
        (r["a"], r["b"])
        for r in spark.read.parquet(os.path.join(state_dir, "pairs")).collect()
    }
    assert pairs == {("a", "b")}


def test_cli_shards(spark, tmp_path, monkeypatch, capsys):
    """shards subcommand: splits, writes the shard tree, verifies it."""
    inp, out = str(tmp_path / "corpus"), str(tmp_path / "shards")
    spark.range(300).selectExpr(
        "cast(id as string) image_id", "repeat('w ', 5) caption"
    ).write.parquet(inp)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main([
        "shards", "--input", inp, "--out", out,
        "--rows-per-shard", "64", "--split", "--verify",
    ])
    assert rc == 0
    assert "(verified)" in capsys.readouterr().out
    tree = spark.read.parquet(out)
    assert tree.count() == 300
    assert {"split", "shard"} <= set(tree.columns)


def test_local_master_clamps_zero_cpus():
    """--cpus defaults to 0 (= all cores) on every subcommand; the
    stream/decontam paths build the master string directly and must
    not ask Spark for local[0] (a startup crash)."""
    import os

    assert cli._local_master(0) == f"local[{os.cpu_count() or 2}]"
    assert cli._local_master(-3) == f"local[{os.cpu_count() or 2}]"
    assert cli._local_master(4) == "local[4]"


def test_cli_decontam(spark, tmp_path, monkeypatch, capsys):
    """decontam subcommand: flags overlapping docs, writes an audit
    table, and survivors keep the corpus's full schema."""
    corpus_p, bench_p, out = (
        str(tmp_path / "corpus"), str(tmp_path / "bench"), str(tmp_path / "out")
    )
    base = " ".join(f"tok{i}" for i in range(60))
    rows = [
        (0, base, "en"),
        (1, " ".join(f"x{i}" for i in range(60)), "en"),
        (2, " ".join(f"y{i}" for i in range(60)), "de"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(corpus_p)
    spark.createDataFrame(
        [(100, base[10:90], "xx")], "doc_id long, text string, lang string"
    ).write.parquet(bench_p)

    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main([
        "decontam", "--corpus", corpus_p, "--benchmark", bench_p,
        "--out", out, "--id-col", "doc_id", "--text-col", "text",
    ])
    assert rc == 0
    assert "flagged 1 contaminated" in capsys.readouterr().out
    clean = spark.read.parquet(f"{out}/clean")
    assert set(clean.columns) == {"doc_id", "text", "lang"}
    assert {r["doc_id"] for r in clean.collect()} == {1, 2}
    flagged = spark.read.parquet(f"{out}/flagged")
    # audit ids come back in the corpus's ORIGINAL id type (long here),
    # so both outputs join back to the corpus without a cast
    assert flagged.schema["doc_id"].dataType.simpleString() == "bigint"
    assert [(r["doc_id"], r["n_bench_hits"]) for r in flagged.collect()] == [(0, 1)]


def test_cli_mix(spark, tmp_path, monkeypatch, capsys):
    """mix subcommand: rebalances to the target mixture, prints the
    derived keep fractions, rejects malformed --weights."""
    import pytest

    from dude_spark.config import ConfigError

    inp, out = str(tmp_path / "corpus"), str(tmp_path / "mixed")
    spark.range(400).selectExpr(
        "cast(id as string) image_id",
        "CASE WHEN id % 4 = 0 THEN 'de' ELSE 'en' END AS lang",
        "cast(5 + id % 3 as long) toks",
    ).write.parquet(inp)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main([
        "mix", "--input", inp, "--out", out,
        "--weights", "en=0.5,de=0.5", "--strata-col", "lang",
        "--weight-col", "toks",
    ])
    assert rc == 0
    assert "keep fractions" in capsys.readouterr().out
    mixed = spark.read.parquet(out)
    # de binds (100 docs vs a 0.5 target share): kept whole
    assert mixed.where("lang = 'de'").count() == 100
    assert mixed.count() < 400  # en downsampled
    with pytest.raises(ConfigError, match="name=share"):
        cli.main([
            "mix", "--input", inp, "--out", out,
            "--weights", "en:0.5", "--strata-col", "lang",
        ])
    with pytest.raises(ConfigError, match="not a"):
        cli.main([
            "mix", "--input", inp, "--out", out,
            "--weights", "en=half,de=0.5", "--strata-col", "lang",
        ])


def test_cli_mix_max_repeat(spark, tmp_path, monkeypatch, capsys):
    """mix --max-repeat > 1 routes to mix_corpus_epochs: low-resource
    stratum upsampled with an epoch column, plan printed."""
    inp, out = str(tmp_path / "corpus"), str(tmp_path / "mixed_ep")
    spark.range(440).selectExpr(
        "cast(id as string) image_id",
        "CASE WHEN id % 11 = 0 THEN 'de' ELSE 'en' END AS lang",
        "cast(10 as long) toks",
    ).write.parquet(inp)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main([
        "mix", "--input", inp, "--out", out,
        "--weights", "en=0.5,de=0.5", "--strata-col", "lang",
        "--weight-col", "toks", "--max-repeat", "3",
    ])
    assert rc == 0
    assert "(repeat, fraction) plan" in capsys.readouterr().out
    mixed = spark.read.parquet(out)
    assert "epoch" in mixed.columns
    # de (40 docs) binds at 3x and keeps every copy: 120 de rows
    assert mixed.where("lang = 'de'").count() == 120
    assert mixed.where("lang = 'de' and epoch = 3").count() == 40
    # en: 400 docs at fraction 0.3 (1200 target tokens / 4000), one epoch
    assert mixed.where("lang = 'en'").select("epoch").distinct().collect() == [
        (1,)
    ] or mixed.where("lang = 'en' and epoch > 1").count() == 0


def test_cli_stream_assign_and_compact_flags(spark, tmp_path, monkeypatch, capsys):
    """--assign-clusters and --compact-every reach the ingest loop:
    incremental groups land under assign/ (latest-wins) and the state
    is compacted to a base generation."""
    input_dir, state_dir = str(tmp_path / "in"), str(tmp_path / "state")
    df = spark.createDataFrame(
        [("b", b"same"), ("c", b"same"), ("a", b"same")],
        "image_id string, bytes binary",
    )
    df.coalesce(1).write.parquet(input_dir)

    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    rc = cli.main([
        "stream", "--input", input_dir, "--state", state_dir,
        "--n-state-shards", "4", "--compact-every", "1",
        "--assign-clusters",
    ])
    assert rc == 0
    assert "assignments:" in capsys.readouterr().out

    from dude_spark.streaming import assignment_stores, current_assignments

    a_store, _ = assignment_stores(spark, state_dir, 4)
    got = {
        r["image_id"]: r["cluster_id"]
        for r in current_assignments(spark, a_store).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a"}
    # compact-every=1 folded epoch 0's state into a base generation
    assert os.path.exists(os.path.join(state_dir, "compactions", "epoch_0.json"))


def test_cli_results_from_streaming_state(spark, tmp_path, monkeypatch, capsys):
    """results --state summarizes the live incremental assignments
    (streaming twin of the batch components stage) with the same
    nested-groups surface."""
    input_dir, state_dir = str(tmp_path / "in"), str(tmp_path / "state")
    df = spark.createDataFrame(
        [("b", b"x"), ("c", b"x"), ("a", b"x"), ("p", b"y"), ("q", b"y")],
        "image_id string, bytes binary",
    )
    df.coalesce(1).write.parquet(input_dir)

    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    assert cli.main([
        "stream", "--input", input_dir, "--state", state_dir,
        "--n-state-shards", "4", "--assign-clusters",
    ]) == 0
    capsys.readouterr()

    rc = cli.main(["results", "--state", state_dir, "--groups", "2"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "5 rows in 2 duplicate groups" in out
    assert "a (3):" in out and "p (2):" in out


def test_cli_stream_pins_detector_config(spark, tmp_path, monkeypatch):
    """The CLI derives a config id from the detector + its thresholds
    and pins it: re-running with a different detector on the same
    state dir is refused instead of silently finding nothing."""
    import pytest

    input_dir, state_dir = str(tmp_path / "in"), str(tmp_path / "state")
    df = spark.createDataFrame(
        [("a", b"x"), ("b", b"x")], "image_id string, bytes binary"
    )
    df.coalesce(1).write.parquet(input_dir)

    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    assert cli.main(["stream", "--input", input_dir, "--state", state_dir]) == 0
    with pytest.raises(ValueError, match="detector config"):
        cli.main([
            "stream", "--input", input_dir, "--state", state_dir,
            "--schema", "image_id string, caption string",
            "--detector", "minhash",
        ])


def test_cli_sample_modes(spark, tmp_path, monkeypatch, capsys):
    """sample subcommand: all three modes write the expected subsets;
    --fractions without --strata-col and malformed lists are refused."""
    import pytest

    from dude_spark.config import ConfigError

    inp = str(tmp_path / "corpus")
    spark.range(400).selectExpr(
        "cast(id as string) image_id",
        "CASE WHEN id % 4 = 0 THEN 'de' ELSE 'en' END AS lang",
        "cast(id % 100 as double) / 100.0 AS q",
    ).write.parquet(inp)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    out = str(tmp_path / "frac")
    assert cli.main(["sample", "--input", inp, "--out", out,
                     "--frac", "0.25"]) == 0
    n_frac = spark.read.parquet(out).count()
    assert 0 < n_frac < 400
    assert "kept" in capsys.readouterr().out

    out = str(tmp_path / "weighted")
    assert cli.main(["sample", "--input", inp, "--out", out,
                     "--weight-col", "q"]) == 0
    n_w = spark.read.parquet(out).count()
    assert 0 < n_w < 400

    out = str(tmp_path / "strat")
    assert cli.main(["sample", "--input", inp, "--out", out,
                     "--fractions", "de=1.0,en=0.1",
                     "--strata-col", "lang"]) == 0
    strat = spark.read.parquet(out)
    assert strat.where("lang = 'de'").count() == 100  # kept whole
    assert strat.where("lang = 'en'").count() < 100

    with pytest.raises(ConfigError, match="requires --strata-col"):
        cli.main(["sample", "--input", inp, "--out", out,
                  "--fractions", "de=1.0"])
    with pytest.raises(ConfigError, match="name=share"):
        cli.main(["sample", "--input", inp, "--out", out,
                  "--fractions", "de:1.0", "--strata-col", "lang"])


def test_cli_select_budget(spark, tmp_path, monkeypatch, capsys):
    """select subcommand: quality-descending budget cut equals the
    window recompute; temp descending keys don't leak into the output."""
    import pytest

    from dude_spark.config import ConfigError

    inp, out = str(tmp_path / "corpus"), str(tmp_path / "sel")
    spark.range(300).selectExpr(
        "id AS doc_id",
        "cast(5 + id % 40 as long) AS n_tokens",
        "cast((id * 11) % 97 as long) AS quality",
    ).write.parquet(inp)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    assert cli.main([
        "select", "--input", inp, "--out", out, "--budget", "2000",
        "--token-col", "n_tokens", "--order-by=-quality,doc_id",
    ]) == 0
    assert "/2000 tokens" in capsys.readouterr().out
    sel = spark.read.parquet(out)
    assert set(sel.columns) == {"doc_id", "n_tokens", "quality",
                                "cum_tokens"}
    rows = sorted(
        ((-r["quality"], r["doc_id"], r["n_tokens"])
         for r in spark.read.parquet(inp).collect())
    )
    acc, want = 0, {}
    for _, d, t in rows:
        acc += t
        if acc > 2000:
            break
        want[d] = acc
    got = {r["doc_id"]: r["cum_tokens"] for r in sel.collect()}
    assert got == want

    with pytest.raises(ConfigError, match="at least one column"):
        cli.main(["select", "--input", inp, "--out", out,
                  "--budget", "10", "--order-by", " , "])


def test_cli_dedup_new(spark, tmp_path, monkeypatch, capsys):
    """dedup-new subcommand: exact mode pairs a re-ingested doc with
    its corpus original and pairs within-new copies, never
    within-corpus; minhash mode runs the verify path end to end."""
    corpus, new, out = (str(tmp_path / d) for d in ("corpus", "new", "o"))
    import pandas as pd

    spark.createDataFrame(pd.DataFrame({
        "image_id": [f"k{i}" for i in range(20)],
        "bytes": [f"payload-{i % 19}".encode() for i in range(20)],
        "caption": [f"caption text number {i % 19} with words" for i in range(20)],
    })).write.parquet(corpus)
    # n0 re-ingests k3's payload; n1/n2 duplicate each other only
    spark.createDataFrame(pd.DataFrame({
        "image_id": ["n0", "n1", "n2"],
        "bytes": [b"payload-3", b"brand new", b"brand new"],
        "caption": ["caption text number 3 with words",
                    "wholly new caption", "wholly new caption"],
    })).write.parquet(new)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    assert cli.main(["dedup-new", "--corpus", corpus, "--new", new,
                     "--out", out]) == 0
    assert "duplicate pairs" in capsys.readouterr().out
    got = {(r["a"], r["b"])
           for r in spark.read.parquet(f"{out}/pairs").collect()}
    # corpus has a within-known dup pair (k0/k19 share payload-0):
    # it must NOT appear
    assert got == {("k3", "n0"), ("n1", "n2")}

    out2 = str(tmp_path / "o2")
    assert cli.main(["dedup-new", "--corpus", corpus, "--new", new,
                     "--out", out2, "--detector", "minhash"]) == 0
    got2 = {(r["a"], r["b"])
            for r in spark.read.parquet(f"{out2}/pairs").collect()}
    assert ("k3", "n0") in got2 and ("n1", "n2") in got2
    assert not any(x.startswith("k") and y.startswith("k")
                   for x, y in got2)


def test_cli_triage(spark, tmp_path, monkeypatch, capsys):
    """triage subcommand: profile/ matches the operator; with
    --assignments the impact/ table appears, keyed by --by; a --by
    column missing from the corpus is refused with exit 2."""
    inp = str(tmp_path / "corpus")
    spark.createDataFrame(
        [
            ("a", "the quick brown fox jumps over the lazy dog", "web"),
            ("b", "the quick brown fox jumps over the lazy dog", "web"),
            ("c", "entirely different text with no shared five gram", "books"),
        ],
        "image_id string, caption string, source string",
    ).write.parquet(inp)
    asg = str(tmp_path / "assignments")
    spark.createDataFrame(
        [("a", "a"), ("b", "a")], "image_id string, cluster_id string"
    ).write.parquet(asg)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    out = str(tmp_path / "triage")
    assert cli.main(["triage", "--input", inp, "--out", out]) == 0
    prof = {r["image_id"]: r["dup_x1000"]
            for r in spark.read.parquet(f"{out}/profile").collect()}
    assert prof == {"a": 1000, "b": 1000, "c": 0}
    assert "profiled 3 doc(s)" in capsys.readouterr().out

    out2 = str(tmp_path / "triage2")
    assert cli.main(["triage", "--input", inp, "--out", out2,
                     "--assignments", asg]) == 0
    impact = {r["source"]: (r["n_docs"], r["removed"])
              for r in spark.read.parquet(f"{out2}/impact").collect()}
    assert impact == {"web": (2, 1), "books": (1, 0)}
    assert "impact over 2" in capsys.readouterr().out

    assert cli.main(["triage", "--input", inp, "--out", out2,
                     "--assignments", asg, "--by", "nope"]) == 2
    assert "not in the corpus schema" in capsys.readouterr().err


def test_cli_dedup_lines(spark, tmp_path, monkeypatch, capsys):
    """dedup-lines subcommand: cleaned/ keeps the full input schema
    with text rewritten in place (NULL text stays NULL), audit/ lists
    only docs that lost lines, and the summary counts removals."""
    inp = str(tmp_path / "corpus")
    spark.createDataFrame(
        [
            ("a", "nav\nbody one\nnav\nbody two", "s1"),
            ("b", "x\ny\nz", "s1"),
            ("c", None, "s2"),
        ],
        "image_id string, caption string, source string",
    ).write.parquet(inp)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    out = str(tmp_path / "out")
    assert cli.main(["dedup-lines", "--input", inp, "--out", out]) == 0
    assert "removed 1 repeated line(s) across 1 doc(s)" in capsys.readouterr().out

    cleaned = {r["image_id"]: r for r in spark.read.parquet(f"{out}/cleaned").collect()}
    assert set(cleaned["a"].asDict()) == {"image_id", "caption", "source"}
    assert cleaned["a"]["caption"] == "nav\nbody one\nbody two"
    assert cleaned["b"]["caption"] == "x\ny\nz"
    assert cleaned["c"]["caption"] is None
    assert cleaned["a"]["source"] == "s1"  # non-text columns survive

    audit = spark.read.parquet(f"{out}/audit").collect()
    assert [(r["image_id"], r["n_lines"], r["n_kept"]) for r in audit] == [
        ("a", 4, 3)
    ]


def test_cli_cluster(spark, tmp_path, monkeypatch, capsys):
    """cluster subcommand: k-means assignments written with the
    expected schema and every row assigned; bad --k/--iters refused."""
    import numpy as np
    import pandas as pd
    import pytest

    from dude_spark.config import ConfigError

    inp = str(tmp_path / "embs")
    rng = np.random.RandomState(21)
    pdf = pd.DataFrame({
        "vec_id": list(range(60)),
        "embedding": [
            rng.uniform(-0.5, 0.5, 8).astype("float32").tolist()
            for _ in range(60)
        ],
    })
    spark.createDataFrame(pdf).selectExpr(
        "vec_id", "cast(embedding as array<float>) embedding"
    ).write.parquet(inp)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    out = str(tmp_path / "assign")
    assert cli.main(["cluster", "--input", inp, "--out", out,
                     "--k", "3", "--iters", "2"]) == 0
    text = capsys.readouterr().out
    assert "assigned 60 rows to 3 clusters" in text
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 60
    assert set(rows[0].asDict()) == {"vec_id", "cluster", "sim_x1000"}
    assert {r["cluster"] for r in rows} == {0, 1, 2}

    with pytest.raises(ConfigError, match="--k"):
        cli.main(["cluster", "--input", inp, "--out", out, "--k", "0"])
    with pytest.raises(ConfigError, match="--iters"):
        cli.main(["cluster", "--input", inp, "--out", out,
                  "--k", "2", "--iters", "-1"])


def test_cli_ann_build_query_roundtrip(spark, tmp_path, monkeypatch, capsys):
    """ann-build once, ann-query twice against the persisted index:
    results match the per-call ann_topk at the same knobs, the second
    query reuses the index (no retrain — centroids.npy untouched), and
    a manifest-less index dir is refused."""
    import numpy as np
    import pandas as pd
    import pytest

    from dude_spark.config import ConfigError
    from dude_spark.functions.embedding import ann_topk

    inp = str(tmp_path / "embs")
    rng = np.random.RandomState(33)
    pdf = pd.DataFrame({
        "vec_id": list(range(200)),
        "embedding": [
            rng.uniform(-0.5, 0.5, 8).astype("float32").tolist()
            for _ in range(200)
        ],
    })
    spark.createDataFrame(pdf).selectExpr(
        "vec_id", "cast(embedding as array<float>) embedding"
    ).write.parquet(inp)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    idx = str(tmp_path / "ivf")
    qdir, out1, out2 = (str(tmp_path / d) for d in ("q", "o1", "o2"))
    spark.read.parquet(inp).where("vec_id < 4").write.parquet(qdir)

    with pytest.raises(ConfigError, match="manifest"):
        cli.main(["ann-query", "--index-dir", idx, "--queries", qdir,
                  "--out", out1])

    assert cli.main(["ann-build", "--input", inp, "--index-dir", idx]) == 0
    assert "IVF index built" in capsys.readouterr().out
    cent_mtime = os.path.getmtime(os.path.join(idx, "centroids.npy"))

    assert cli.main(["ann-query", "--index-dir", idx, "--queries", qdir,
                     "--out", out1, "--k", "5"]) == 0
    assert cli.main(["ann-query", "--index-dir", idx, "--queries", qdir,
                     "--out", out2, "--k", "5"]) == 0
    r1 = {(r["query_id"], r["rank"], r["neighbor_id"])
          for r in spark.read.parquet(out1).collect()}
    r2 = {(r["query_id"], r["rank"], r["neighbor_id"])
          for r in spark.read.parquet(out2).collect()}
    want = {(r["query_id"], r["rank"], r["neighbor_id"])
            for r in ann_topk(
                spark.read.parquet(inp), spark.read.parquet(qdir),
                k=5, dim=8,
            ).collect()}
    assert r1 == r2 == want and len(want) == 4 * 5
    # queries never rebuild the index
    assert os.path.getmtime(os.path.join(idx, "centroids.npy")) == cent_mtime

    with pytest.raises(ConfigError, match="n-cells"):
        cli.main(["ann-build", "--input", inp, "--index-dir", idx,
                  "--n-cells", "0"])


def test_cli_ann_build_crash_leaves_refused_index(spark, tmp_path, monkeypatch):
    """A rebuild that dies after the posting write but before the
    centroids save / manifest publish leaves an index ann-query
    refuses — never the old manifest vouching for new postings."""
    import numpy as np
    import pandas as pd
    import pytest

    from dude_spark.config import ConfigError

    inp = str(tmp_path / "embs")
    rng = np.random.RandomState(34)
    pdf = pd.DataFrame({
        "vec_id": list(range(60)),
        "embedding": [
            rng.uniform(-0.5, 0.5, 8).astype("float32").tolist()
            for _ in range(60)
        ],
    })
    spark.createDataFrame(pdf).selectExpr(
        "vec_id", "cast(embedding as array<float>) embedding"
    ).write.parquet(inp)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    idx, qdir = str(tmp_path / "ivf"), str(tmp_path / "q")
    spark.read.parquet(inp).where("vec_id < 2").write.parquet(qdir)
    assert cli.main(["ann-build", "--input", inp, "--index-dir", idx,
                     "--n-cells", "4"]) == 0

    def boom(*a, **k):
        raise RuntimeError("simulated crash before publish")

    monkeypatch.setattr(np, "save", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        cli.main(["ann-build", "--input", inp, "--index-dir", idx,
                  "--n-cells", "8"])
    with pytest.raises(ConfigError, match="manifest"):
        cli.main(["ann-query", "--index-dir", idx, "--queries", qdir,
                  "--out", str(tmp_path / "o")])


def test_cli_semdedup_modes(spark, tmp_path, monkeypatch, capsys):
    """semdedup subcommand: batch mode emits keep/remove assignments,
    --new mode emits cross pairs only; bad threshold refused."""
    import numpy as np
    import pandas as pd
    import pytest

    from dude_spark.config import ConfigError

    rng = np.random.RandomState(44)
    vecs = [rng.uniform(-0.5, 0.5, 8).astype("float32").tolist()
            for _ in range(30)]
    inp = str(tmp_path / "embs")
    pdf = pd.DataFrame({
        "vec_id": list(range(30)) + [100, 101],
        "embedding": vecs + [vecs[0], vecs[1]],  # two exact copies
    })
    spark.createDataFrame(pdf).selectExpr(
        "vec_id", "cast(embedding as array<float>) embedding"
    ).write.parquet(inp)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    out = str(tmp_path / "assign")
    assert cli.main(["semdedup", "--input", inp, "--out", out,
                     "--k", "3", "--iters", "2",
                     "--threshold", "990"]) == 0
    assert "prunable" in capsys.readouterr().out
    got = {r["vec_id"]: (r["rep_id"], r["keep"])
           for r in spark.read.parquet(out).collect()}
    assert got[100] == (0, 0) and got[0] == (0, 1)
    assert got[101] == (1, 0) and got[1] == (1, 1)

    newp = str(tmp_path / "new")
    spark.createDataFrame(
        pd.DataFrame({"vec_id": [500], "embedding": [vecs[2]]})
    ).selectExpr(
        "vec_id", "cast(embedding as array<float>) embedding"
    ).write.parquet(newp)
    out2 = str(tmp_path / "pairs")
    assert cli.main(["semdedup", "--input", inp, "--new", newp,
                     "--out", out2, "--k", "3", "--iters", "2",
                     "--threshold", "990"]) == 0
    pairs = {(r["a"], r["b"]) for r in spark.read.parquet(out2).collect()}
    assert (2, 500) in pairs
    assert all(b >= 500 for _, b in pairs)  # never within-known

    with pytest.raises(ConfigError, match="--threshold"):
        cli.main(["semdedup", "--input", inp, "--out", out,
                  "--k", "2", "--threshold", "2000"])


def test_cli_stream_embedding_detector(spark, tmp_path, monkeypatch, capsys):
    """stream --detector embedding: centroids from cluster
    --save-centroids feed the semantic preset; identical embeddings
    pair cross-epoch; missing --centroids refused."""
    import numpy as np
    import pandas as pd
    import pytest

    from dude_spark.config import ConfigError

    rng = np.random.RandomState(55)
    vecs = [rng.uniform(-0.5, 0.5, 8).astype("float32").tolist()
            for _ in range(20)]
    boot = str(tmp_path / "boot")
    pdf = pd.DataFrame({"vec_id": list(range(20)), "embedding": vecs})
    spark.createDataFrame(pdf).selectExpr(
        "vec_id", "cast(embedding as array<float>) embedding"
    ).write.parquet(boot)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    cent_path = str(tmp_path / "cent.npy")
    assert cli.main(["cluster", "--input", boot, "--out",
                     str(tmp_path / "assign"), "--k", "3", "--iters", "1",
                     "--save-centroids", cent_path]) == 0
    assert np.load(cent_path).shape == (3, 8)
    capsys.readouterr()

    input_dir, state_dir = str(tmp_path / "in"), str(tmp_path / "state")
    schema = "image_id string, embedding array<float>"
    spark.createDataFrame(
        [("x1", vecs[0]), ("x2", vecs[0]), ("y", vecs[1])], schema
    ).coalesce(1).write.mode("append").parquet(input_dir)
    assert cli.main(["stream", "--input", input_dir, "--state", state_dir,
                     "--schema", schema, "--detector", "embedding",
                     "--centroids", cent_path,
                     "--sem-threshold", "990"]) == 0
    pairs = {(r["a"], r["b"])
             for r in spark.read.parquet(f"{state_dir}/pairs").collect()}
    assert pairs == {("x1", "x2")}

    with pytest.raises(ConfigError, match="--centroids"):
        cli.main(["stream", "--input", input_dir, "--state", state_dir,
                  "--schema", schema, "--detector", "embedding"])


def test_cli_curate_chain_and_resume(spark, tmp_path, monkeypatch, capsys):
    """curate: the composed filter → pii → dedup → decontam → mix →
    shards chain on one fixture corpus — per-stage audits present,
    planted rows land where they should — and a crash mid-chain
    (decontam stage dies) resumes without recomputing the completed
    upstream stages."""
    import numpy as np
    import pytest

    from dude_spark.config import ConfigError

    rng = np.random.RandomState(71)

    def sent(n=26):
        toks = []
        for i in range(n):
            toks.append(f"w{rng.randint(0, 5000):04d}")
            if i % 3 == 0:
                toks.append("the")
        return " ".join(toks)

    secret = "zq alpha bravo charlie delta echo foxtrot golf hotel india"
    rows = []
    for i in range(10):
        rows.append((f"d{i:02d}", sent(), "web" if i % 2 == 0 else "books"))
    base_text = rows[0][1]
    rows.append(("d10", base_text, "web"))            # exact dup of d00
    rows.append(("d11", base_text, "books"))          # exact dup of d00
    fuzzy = rows[1][1].rsplit(" ", 1)[0] + " zzdiff"  # near-dup of d01
    rows.append(("d12", fuzzy, "web"))
    rows.append(("d13", "tiny", "web"))               # rejected: too_short
    rows.append(
        ("d14", sent() + " contact me at alice@example.com for it", "books")
    )
    rows.append(("d15", sent() + " " + secret, "web"))  # contaminated
    inp = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "image_id string, caption string, source string"
    ).write.parquet(inp)
    bench = str(tmp_path / "bench")
    spark.createDataFrame(
        [("b1", "completely unrelated framing text " + secret)],
        "image_id string, caption string",
    ).write.parquet(bench)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    wd = str(tmp_path / "work")
    args = ["curate", "--input", inp, "--workdir", wd,
            "--benchmarks", bench, "--mix", "web=0.5,books=0.5",
            "--rows-per-shard", "4"]

    # crash mid-chain: decontam stage dies AFTER filter/pii/dedup wrote
    import dude_spark.operators.decontam as dec_mod

    real_dec = dec_mod.decontaminate

    def boom(*a, **k):
        raise RuntimeError("simulated mid-chain crash")

    monkeypatch.setattr(dec_mod, "decontaminate", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        cli.main(args)
    monkeypatch.setattr(dec_mod, "decontaminate", real_dec)

    # resume: upstream stages skip, chain completes
    capsys.readouterr()
    assert cli.main(args) == 0
    out = capsys.readouterr().out
    for stage in ("filtered", "pii", "deduped"):
        assert f"stage {stage}: skipped" in out, out
    assert "stage decontam: ran" in out
    assert "0 verification failure(s)" in out

    # stage results: planted rows landed where they should
    audits = os.path.join(wd, "audits")
    rej = spark.read.parquet(os.path.join(audits, "rejected")).collect()
    assert [(r["image_id"], r["reason"]) for r in rej] == [("d13", "too_short")]
    pii = spark.read.parquet(os.path.join(audits, "pii")).collect()
    assert [r["image_id"] for r in pii] == ["d14"] and pii[0]["n_emails"] == 1
    assigns = {
        (r["image_id"], r["cluster_id"])
        for r in spark.read.parquet(
            os.path.join(audits, "dedup_assignments")
        ).collect()
    }
    assert {("d10", "d00"), ("d11", "d00"), ("d12", "d01")} <= assigns
    flagged = spark.read.parquet(
        os.path.join(audits, "decontam_flagged")
    ).collect()
    assert [r["doc_id"] for r in flagged] == ["d15"]
    assert os.path.exists(os.path.join(audits, "mix_fractions.json"))
    # deduped stage: 15 clean - 3 dup members = 12; decontam: 11
    dd = spark.read.parquet(os.path.join(wd, "stages", "deduped"))
    assert dd.count() == 12
    ids = {r["image_id"] for r in dd.collect()}
    assert {"d10", "d11", "d12"} & ids == set()
    assert spark.read.parquet(
        os.path.join(wd, "stages", "decontam")
    ).count() == 11
    # shards carry the final mixed corpus with the input schema
    shards = spark.read.parquet(os.path.join(wd, "shards"))
    assert {"image_id", "caption", "source"} <= set(shards.columns)
    assert shards.count() == spark.read.parquet(
        os.path.join(wd, "stages", "mixed")
    ).count()

    with pytest.raises(ConfigError, match="jaccard"):
        cli.main(["curate", "--input", inp, "--workdir", wd,
                  "--jaccard", "0.8"])


def test_cli_migrate_centroids(spark, tmp_path, monkeypatch, capsys):
    """Sanctioned centroid refresh: restart with new centroids is
    refused until migrate-centroids re-buckets the sigs state and
    flips the pin; post-migration, new epochs pair against
    PRE-migration state; the refusal still guards both the stale
    centroids and a wrong --old-centroids."""
    import numpy as np
    import pandas as pd
    import pytest

    rng = np.random.RandomState(58)
    vecs = [rng.uniform(-0.5, 0.5, 8).astype("float32").tolist()
            for _ in range(24)]
    boot = str(tmp_path / "boot")
    pdf = pd.DataFrame({"vec_id": list(range(24)), "embedding": vecs})
    spark.createDataFrame(pdf).selectExpr(
        "vec_id", "cast(embedding as array<float>) embedding"
    ).write.parquet(boot)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    c1, c2 = str(tmp_path / "c1.npy"), str(tmp_path / "c2.npy")
    assert cli.main(["cluster", "--input", boot, "--out",
                     str(tmp_path / "a1"), "--k", "3", "--iters", "1",
                     "--save-centroids", c1]) == 0
    assert cli.main(["cluster", "--input", boot, "--out",
                     str(tmp_path / "a2"), "--k", "4", "--iters", "2",
                     "--save-centroids", c2]) == 0
    capsys.readouterr()

    input_dir, state_dir = str(tmp_path / "in"), str(tmp_path / "state")
    schema = "image_id string, embedding array<float>"
    spark.createDataFrame(
        [("x1", vecs[0]), ("x2", vecs[0]), ("y", vecs[1])], schema
    ).coalesce(1).write.mode("append").parquet(input_dir)
    stream_args = ["stream", "--input", input_dir, "--state", state_dir,
                   "--schema", schema, "--detector", "embedding",
                   "--sem-threshold", "990"]
    assert cli.main(stream_args + ["--centroids", c1]) == 0
    pairs_path = f"{state_dir}/pairs"
    assert {(r["a"], r["b"]) for r in spark.read.parquet(pairs_path).collect()} \
        == {("x1", "x2")}

    # un-migrated restart with NEW centroids: refused (the pin)
    with pytest.raises(ValueError, match="detector config"):
        cli.main(stream_args + ["--centroids", c2])
    # migration with the WRONG old centroids: refused (pin mismatch)
    with pytest.raises(ValueError, match="pinned to config"):
        cli.main(["migrate-centroids", "--state", state_dir,
                  "--old-centroids", c2, "--new-centroids", c2,
                  "--sem-threshold", "990"])

    assert cli.main(["migrate-centroids", "--state", state_dir,
                     "--old-centroids", c1, "--new-centroids", c2,
                     "--sem-threshold", "990"]) == 0
    assert "migrated 3 image(s)" in capsys.readouterr().out
    assert os.path.isdir(os.path.join(state_dir, "migrations"))

    # epoch 2 under the NEW centroids: x3 duplicates PRE-migration x1/x2
    spark.createDataFrame(
        [("x3", vecs[0]), ("z", vecs[2])], schema
    ).coalesce(1).write.mode("append").parquet(input_dir)
    assert cli.main(stream_args + ["--centroids", c2]) == 0
    pairs = {(r["a"], r["b"]) for r in spark.read.parquet(pairs_path).collect()}
    assert pairs == {("x1", "x2"), ("x1", "x3"), ("x2", "x3")}

    # the OLD centroids are now the mismatch: still refused
    with pytest.raises(ValueError, match="detector config"):
        cli.main(stream_args + ["--centroids", c1])


def test_cli_novelty(spark, tmp_path, monkeypatch, capsys):
    """novelty subcommand: verbatim batch scores 0, fresh batch 1000."""
    ref = str(tmp_path / "ref")
    base = "the quick brown fox jumps over the lazy sleeping dog today yes"
    spark.createDataFrame(
        [("r1", base), ("r2", base + " twice")],
        "image_id string, caption string",
    ).write.parquet(ref)
    new = str(tmp_path / "new")
    spark.createDataFrame(
        [("n1", base), ("n2", "qqfresh utterly novel text never in the reference corpus")],
        "image_id string, caption string",
    ).write.parquet(new)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    out = str(tmp_path / "nv")
    assert cli.main(["novelty", "--new", new, "--reference", ref,
                     "--out", out]) == 0
    assert "corpus-level novelty" in capsys.readouterr().out
    got = {r["doc_id"]: r["novel_x1000"]
           for r in spark.read.parquet(out).collect()}
    assert got == {"n1": 0, "n2": 1000}


def test_cli_tilephash(spark, tmp_path, monkeypatch, capsys):
    """tilephash subcommand: crop pair found, audit dirs written."""
    import numpy as np
    import pytest

    from dude_spark.config import ConfigError
    from dude_spark.imagecodec import encode

    rng = np.random.RandomState(12)
    A = rng.randint(0, 256, (64, 64, 3)).astype(np.uint8)
    inp = str(tmp_path / "imgs")
    spark.createDataFrame(
        [("a", bytearray(encode(A, "png"))),
         ("b", bytearray(encode(A[:32, :32].copy(), "png")))],
        "image_id string, bytes binary",
    ).write.parquet(inp)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    out = str(tmp_path / "tp")
    assert cli.main(["tilephash", "--input", inp, "--out", out]) == 0
    assert "tile-phash pair(s)" in capsys.readouterr().out
    pairs = {(r["a"], r["b"])
             for r in spark.read.parquet(f"{out}/pairs").collect()}
    assert pairs == {("a", "b")}

    with pytest.raises(ConfigError, match="--grid"):
        cli.main(["tilephash", "--input", inp, "--out", out, "--grid", "0"])


def test_cli_tilephash_radius(spark, tmp_path, monkeypatch, capsys):
    """tilephash --radius: a JPEG-re-encoded crop pairs (exact run
    misses it); bad radius/segments refused before Spark work."""
    import numpy as np
    import pytest

    from dude_spark.config import ConfigError
    from dude_spark.imagecodec import encode

    rng = np.random.RandomState(2)
    A = rng.randint(0, 256, (128, 128, 3)).astype(np.uint8)
    inp = str(tmp_path / "imgs")
    spark.createDataFrame(
        [("a", bytearray(encode(A, "png"))),
         ("crop", bytearray(encode(A[:64, :64].copy(), "jpeg")))],
        "image_id string, bytes binary",
    ).write.parquet(inp)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    out = str(tmp_path / "tp_exact")
    assert cli.main(["tilephash", "--input", inp, "--out", out]) == 0
    assert spark.read.parquet(f"{out}/pairs").count() == 0

    out2 = str(tmp_path / "tp_ham")
    assert cli.main(["tilephash", "--input", inp, "--out", out2,
                     "--radius", "3"]) == 0
    pairs = {(r["a"], r["b"])
             for r in spark.read.parquet(f"{out2}/pairs").collect()}
    assert pairs == {("a", "crop")}

    with pytest.raises(ConfigError, match="--segments"):
        cli.main(["tilephash", "--input", inp, "--out", out2,
                  "--radius", "3", "--segments", "7"])
    with pytest.raises(ConfigError, match="--radius"):
        cli.main(["tilephash", "--input", inp, "--out", out2,
                  "--radius", "4", "--segments", "4"])


def test_cli_stream_tilephash_detector(spark, tmp_path, monkeypatch):
    """stream --detector tilephash: crop of an in-batch image pairs."""
    import numpy as np

    from dude_spark.imagecodec import encode

    rng = np.random.RandomState(66)
    A = rng.randint(0, 256, (64, 64, 3)).astype(np.uint8)
    input_dir, state_dir = str(tmp_path / "in"), str(tmp_path / "state")
    spark.createDataFrame(
        [("a", bytearray(encode(A, "png"))),
         ("crop", bytearray(encode(A[:32, :32].copy(), "png")))],
        "image_id string, bytes binary",
    ).coalesce(1).write.mode("append").parquet(input_dir)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    assert cli.main(["stream", "--input", input_dir, "--state", state_dir,
                     "--detector", "tilephash"]) == 0
    pairs = {(r["a"], r["b"])
             for r in spark.read.parquet(f"{state_dir}/pairs").collect()}
    assert pairs == {("a", "crop")}


def test_cli_stream_tile_radius_flag(spark, tmp_path, monkeypatch):
    """stream --detector tilephash --tile-radius N routes through the
    Hamming preset: a JPEG-re-encoded crop of an in-batch image pairs
    (the exact preset would miss it); bad values refused up front."""
    import numpy as np
    import pytest

    from dude_spark.config import ConfigError
    from dude_spark.imagecodec import encode

    rng = np.random.RandomState(2)
    A = rng.randint(0, 256, (128, 128, 3)).astype(np.uint8)
    input_dir, state_dir = str(tmp_path / "in"), str(tmp_path / "state")
    spark.createDataFrame(
        [("a", bytearray(encode(A, "png"))),
         ("crop", bytearray(encode(A[:64, :64].copy(), "jpeg")))],
        "image_id string, bytes binary",
    ).coalesce(1).write.mode("append").parquet(input_dir)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    with pytest.raises(ConfigError, match="tile-segments"):
        cli.main(["stream", "--input", input_dir, "--state", state_dir,
                  "--detector", "tilephash", "--tile-radius", "3",
                  "--tile-segments", "7"])
    assert cli.main(["stream", "--input", input_dir, "--state", state_dir,
                     "--detector", "tilephash", "--tile-radius", "3"]) == 0
    pairs = {(r["a"], r["b"])
             for r in spark.read.parquet(f"{state_dir}/pairs").collect()}
    assert pairs == {("a", "crop")}


def test_cli_stream_tile_grid_flag(spark, tmp_path, monkeypatch):
    """stream --tile-grid is plumbed into tilephash_ingest AND the
    pinned detector config: a grid-3 stream state refuses a later
    default-grid resume (config-id mismatch), and --tile-grid 0 is
    rejected up front."""
    import numpy as np
    import pytest

    from dude_spark.config import ConfigError
    from dude_spark.imagecodec import encode

    rng = np.random.RandomState(67)
    A = rng.randint(0, 256, (96, 96, 3)).astype(np.uint8)
    input_dir, state_dir = str(tmp_path / "in"), str(tmp_path / "state")
    spark.createDataFrame(
        [("a", bytearray(encode(A, "png")))],
        "image_id string, bytes binary",
    ).coalesce(1).write.mode("append").parquet(input_dir)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    with pytest.raises(ConfigError, match="tile-grid"):
        cli.main(["stream", "--input", input_dir, "--state", state_dir,
                  "--detector", "tilephash", "--tile-grid", "0"])
    assert cli.main(["stream", "--input", input_dir, "--state", state_dir,
                     "--detector", "tilephash", "--tile-grid", "3"]) == 0
    with pytest.raises(Exception, match="config"):
        cli.main(["stream", "--input", input_dir, "--state", state_dir,
                  "--detector", "tilephash"])


def test_cli_strip_lines(spark, tmp_path, monkeypatch, capsys):
    """strip-lines subcommand: shared chrome stripped in place, audit
    only covers touched docs, schema preserved."""
    import pytest

    from dude_spark.config import ConfigError

    inp = str(tmp_path / "corpus")
    rows = [(f"d{i}", f"NAV\nbody {i}\nFOOTER", "s1") for i in range(6)]
    rows.append(("solo", "original\ncontent", "s2"))
    spark.createDataFrame(
        rows, "image_id string, caption string, source string"
    ).write.parquet(inp)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    out = str(tmp_path / "sl")
    assert cli.main(["strip-lines", "--input", inp, "--out", out,
                     "--min-df", "5"]) == 0
    assert "stripped 12 boilerplate line(s) across 6 doc(s)" \
        in capsys.readouterr().out
    cleaned = {r["image_id"]: r
               for r in spark.read.parquet(f"{out}/cleaned").collect()}
    assert cleaned["d0"]["caption"] == "body 0"
    assert cleaned["solo"]["caption"] == "original\ncontent"
    assert cleaned["d0"]["source"] == "s1"  # non-text columns survive
    audit = spark.read.parquet(f"{out}/audit").collect()
    assert {r["image_id"] for r in audit} == {f"d{i}" for i in range(6)}

    with pytest.raises(ConfigError, match="--min-df"):
        cli.main(["strip-lines", "--input", inp, "--out", out,
                  "--min-df", "1"])
