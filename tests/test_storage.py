"""StageStore contract: parquet implementation + Iceberg availability."""

from __future__ import annotations

import json
import os

import pytest

from dude_spark.storage import IcebergStageStore, ParquetManifestStore


def test_parquet_store_contract(spark, tmp_path):
    store = ParquetManifestStore(spark, str(tmp_path))
    df = spark.range(10).withColumnRenamed("id", "v")

    assert not store.exists("s1")
    assert store.manifest("s1") is None

    assert store.write(df, "s1") is None
    assert store.exists("s1")
    assert store.read("s1").count() == 10

    # manifest publishes atomically AFTER data, survives re-read
    store.publish_manifest("s1", {"config_id": "abc", "rows": 10})
    assert store.manifest("s1") == {"config_id": "abc", "rows": 10}
    raw = json.load(open(os.path.join(str(tmp_path), "stages", "s1.manifest.json")))
    assert raw["config_id"] == "abc"

    # overwrite replaces
    store.write(spark.range(3).withColumnRenamed("id", "v"), "s1")
    assert store.read("s1").count() == 3


def _iceberg_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
        return True
    except Exception:
        return False


def test_iceberg_store_probe_fails_fast_without_runtime(spark):
    """The sandbox ships no Iceberg jar: constructing the Iceberg store
    must raise immediately with actionable guidance, never fail
    mid-pipeline."""
    if _iceberg_available(spark):
        pytest.skip("Iceberg runtime present — probe-failure path N/A")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        IcebergStageStore(spark)


def test_iceberg_store_contract_parity(spark, tmp_path):
    """Executable swap claim (round-3 VERDICT next #7): when the
    Iceberg runtime jar IS on the classpath, the Iceberg store must
    satisfy the exact StageStore contract the parquet store does —
    write/read/exists/manifest/publish (idempotent MERGE re-publish) —
    with identical observable results.  Skips (with the missing-jar
    message) in this sandbox; runs wherever spark-submit ships
    --packages org.apache.iceberg:iceberg-spark-runtime."""
    if not _iceberg_available(spark):
        pytest.skip(
            "org.apache.iceberg not on the Spark classpath — submit with "
            "--packages org.apache.iceberg:iceberg-spark-runtime to run"
        )
    stores = {
        "parquet": ParquetManifestStore(spark, str(tmp_path)),
        "iceberg": IcebergStageStore(spark, namespace="dude_spark_test"),
    }
    results = {}
    for name, store in stores.items():
        df = spark.range(10).withColumnRenamed("id", "v")
        assert not store.exists("c1")
        assert store.manifest("c1") is None
        store.write(df, "c1")
        n_written = store.read("c1").count()
        store.publish_manifest("c1", {"config_id": "abc", "rows": 10})
        # re-publish must be idempotent (MERGE INTO / atomic replace)
        store.publish_manifest("c1", {"config_id": "abc", "rows": 10})
        store.write(spark.range(3).withColumnRenamed("id", "v"), "c1")
        results[name] = (
            n_written,
            store.exists("c1"),
            store.manifest("c1"),
            sorted(r["v"] for r in store.read("c1").collect()),
        )
    assert results["parquet"] == results["iceberg"]


def _state_rows(store):
    df = store.read_for_shards(list(range(store.n_shards)))
    if df is None:
        return []
    return sorted((r["k"], r["v"]) for r in df.select("k", "v").collect())


def _mk_epoch(spark, store, epoch, rows):
    store.write_epoch(spark.createDataFrame(rows, "k string, v int"), epoch)


def test_sharded_store_compaction_merges_and_prunes(spark, tmp_path):
    """compact() must preserve every row while collapsing O(epochs)
    file sets per shard into one base generation — and repeated
    compaction must keep rolling the base forward."""
    from dude_spark.storage import ShardedEpochStore

    store = ShardedEpochStore(spark, str(tmp_path), "s", "k", n_shards=4)
    for e in range(3):
        _mk_epoch(spark, store, e, [(f"k{e}-{i}", e * 10 + i) for i in range(5)])
    before_rows = _state_rows(store)
    before_files = store.total_data_files()

    audit = store.compact(2)
    assert audit["gen"] == 1 and audit["merged_upto"] == 2
    assert audit["epochs_merged"] == 3
    assert audit["files_after"] < audit["files_before"] == before_files
    assert _state_rows(store) == before_rows
    assert store.total_data_files() == audit["files_after"]
    # positive epoch dirs are gone; only the base generation remains
    assert {
        d.split("epoch=")[-1]
        for d in os.listdir(str(tmp_path / "s"))
        if d.startswith("epoch=")
    } == {"-1"}

    # new epochs after compaction stack on top of the base …
    _mk_epoch(spark, store, 3, [("k3-0", 30)])
    assert _state_rows(store) == sorted(before_rows + [("k3-0", 30)])
    # … and a second compaction folds base + new epoch into gen 2
    audit2 = store.compact(3)
    assert audit2["gen"] == 2 and audit2["merged_upto"] == 3
    assert _state_rows(store) == sorted(before_rows + [("k3-0", 30)])

    # watermark no-op: nothing below upto left to merge
    assert store.compact(3)["epochs_merged"] == 0


def test_sharded_store_rewrite_base(spark, tmp_path):
    """_rewrite_base replaces ALL live state ≤ upto with the given
    frame as a new generation (the migration primitive): committed
    epochs AND a previous base vanish, epochs above the watermark stay
    live, and a subsequent compact rolls the new generation forward."""
    from dude_spark.storage import ShardedEpochStore, _rewrite_base

    store = ShardedEpochStore(spark, str(tmp_path), "s", "k", n_shards=4)
    for e in range(2):
        _mk_epoch(spark, store, e, [(f"k{e}-{i}", e * 10 + i) for i in range(4)])
    store.compact(1)  # pre-existing base generation (gen 1) to supersede
    _mk_epoch(spark, store, 2, [("committed", 42)])  # replaced too
    _mk_epoch(spark, store, 3, [("above", 99)])      # in-flight: survives

    new_rows = [("m0", 1000), ("m1", 1001), ("m2", 1002)]
    audit = _rewrite_base(
        store, spark.createDataFrame(new_rows, "k string, v int"), 2
    )
    assert audit["gen"] == 2 and audit["merged_upto"] == 2
    assert _state_rows(store) == sorted(new_rows + [("above", 99)])
    # superseded dirs are gone; base -2 + epoch 3 remain
    assert {
        d.split("epoch=")[-1]
        for d in os.listdir(str(tmp_path / "s"))
        if d.startswith("epoch=")
    } == {"-2", "3"}
    # the migrated generation composes with normal compaction
    store.compact(3)
    assert _state_rows(store) == sorted(new_rows + [("above", 99)])


def test_sharded_store_compaction_crash_windows(spark, tmp_path):
    """Every crash window must leave exactly one fully-live reader
    view (class-docstring protocol): a half-built generation (rename
    done, meta not written) is invisible and swept; a committed meta
    with stale dirs not yet deleted reads without duplicates."""
    import shutil

    from dude_spark.storage import ShardedEpochStore

    store = ShardedEpochStore(spark, str(tmp_path), "s", "k", n_shards=4)
    _mk_epoch(spark, store, 0, [("a", 1), ("b", 2)])
    _mk_epoch(spark, store, 1, [("c", 3)])
    store.compact(1)
    truth = [("a", 1), ("b", 2), ("c", 3)]
    assert _state_rows(store) == truth

    base = str(tmp_path / "s")
    # crash window A — rename done, meta NOT written: a stray
    # epoch=-2 dir (would-be gen 2) duplicating the base must be
    # ignored by readers (gen is still 1) and swept by compact()
    shutil.copytree(os.path.join(base, "epoch=-1"), os.path.join(base, "epoch=-2"))
    assert _state_rows(store) == truth
    _mk_epoch(spark, store, 2, [("d", 4)])
    audit = store.compact(2)
    assert audit["gen"] == 2  # the real gen 2, built fresh after the sweep
    assert _state_rows(store) == sorted(truth + [("d", 4)])

    # crash window B — meta committed, stale dirs NOT yet deleted: a
    # leftover pre-merge epoch dir below the watermark must be ignored
    # (its rows live in the base now; reading both would duplicate)
    _mk_epoch(spark, store, 1, [("c", 3)])  # resurrect a merged epoch
    assert _state_rows(store) == sorted(truth + [("d", 4)])
    # and the next compaction sweeps it without changing the state
    store.compact(2)
    assert _state_rows(store) == sorted(truth + [("d", 4)])
    assert not os.path.exists(os.path.join(base, "epoch=1"))


def test_sharded_store_compaction_skips_trivial(spark, tmp_path):
    """A single uncompacted epoch is not worth a rewrite (pure byte
    churn) — compact() must no-op, and readers stay correct."""
    from dude_spark.storage import ShardedEpochStore

    store = ShardedEpochStore(spark, str(tmp_path), "s", "k", n_shards=2)
    _mk_epoch(spark, store, 0, [("a", 1)])
    audit = store.compact(0)
    assert audit["epochs_merged"] == 0 and audit["gen"] == 0
    assert _state_rows(store) == [("a", 1)]


def test_iceberg_epoch_store_probe_fails_fast(spark):
    from dude_spark.storage import IcebergEpochStore

    if _iceberg_available(spark):
        pytest.skip("Iceberg runtime present — probe-failure path N/A")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        IcebergEpochStore(spark, "sigs", key_col="bucket")


def test_iceberg_epoch_store_contract_parity(spark, tmp_path):
    """Executable twin claim: where the Iceberg runtime IS present,
    IcebergEpochStore must satisfy the ShardedEpochStore read/write
    contract — epoch overwrite idempotency, pruned shard reads,
    latest-wins resolution, row-preserving compaction — with results
    identical to the parquet store's.  Skips here (no jar)."""
    from dude_spark.storage import IcebergEpochStore, ShardedEpochStore

    if not _iceberg_available(spark):
        pytest.skip(
            "org.apache.iceberg not on the Spark classpath — submit with "
            "--packages org.apache.iceberg:iceberg-spark-runtime to run"
        )
    stores = {
        "parquet": ShardedEpochStore(
            spark, str(tmp_path), "s", key_col="k", n_shards=4
        ),
        "iceberg": IcebergEpochStore(
            spark, "parity_s", key_col="k", n_shards=4
        ),
    }
    results = {}
    for name, store in stores.items():
        e0 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
        e1 = spark.createDataFrame([("a", 10), ("c", 3)], "k string, v int")
        store.write_epoch(e0, 0)
        store.write_epoch(e1, 1)
        store.write_epoch(e1, 1)  # replay: epoch overwrite, no dup rows
        keys = spark.createDataFrame([("a",)], "k string")
        pruned = store.read_for_keys(keys)
        resolved = store.read_resolved_for_keys(keys)
        store.compact(1)
        after = store.read_resolved_for_keys(keys)
        results[name] = (
            sorted(
                (r["k"], r["v"], r["epoch"])
                for r in pruned.select("k", "v", "epoch").collect()
            ),
            sorted((r["k"], r["v"]) for r in resolved.collect()),
            sorted((r["k"], r["v"]) for r in after.collect()),
        )
    # iceberg prunes by partition metadata, parquet by shard dirs —
    # both must surface the same rows with the same resolution
    # (modulo the parquet base's folded epoch: compare resolved views)
    assert results["parquet"][1] == results["iceberg"][1]
    assert results["parquet"][2] == results["iceberg"][2]
    # the raw pruned read agrees wherever epochs survive (pre-compact)
    assert results["parquet"][0] == results["iceberg"][0]


def test_sharded_store_torn_meta_falls_back(spark, tmp_path):
    """Crash window C — a torn (half-written) meta at the committed
    name: the atomic writer makes this impossible going forward, but
    pre-atomic state dirs / copy+delete object stores can still
    surface one.  The reader must fall back to the next parseable
    generation instead of raising forever; all-metas-torn must be a
    loud error, never a silent never-compacted view."""
    import pytest

    from dude_spark.storage import ShardedEpochStore

    store = ShardedEpochStore(spark, str(tmp_path), "s", "k", n_shards=4)
    _mk_epoch(spark, store, 0, [("a", 1), ("b", 2)])
    _mk_epoch(spark, store, 1, [("c", 3)])
    store.compact(1)
    truth = [("a", 1), ("b", 2), ("c", 3)]
    base = str(tmp_path / "s")

    # torn higher-gen meta appears (e.g. a crashed non-atomic writer):
    # readers must keep serving gen 1
    with open(os.path.join(base, "compact_meta.gen=2.json"), "w") as f:
        f.write('{"gen": 2, "merged')  # truncated mid-write
    assert store._compact_meta() == (1, 1)
    assert _state_rows(store) == truth

    # the next compaction still commits a REAL gen above the torn one
    _mk_epoch(spark, store, 2, [("d", 4)])
    audit = store.compact(2)
    assert audit["gen"] >= 2
    assert _state_rows(store) == sorted(truth + [("d", 4)])

    # every meta torn -> refuse loudly (ambiguous live generation)
    for p in os.listdir(base):
        if p.startswith("compact_meta.gen="):
            with open(os.path.join(base, p), "w") as f:
                f.write("{broken")
    with pytest.raises(RuntimeError, match="unparseable"):
        store._compact_meta()


def test_atomic_meta_write_leaves_no_torn_final_name(spark, tmp_path):
    """_hadoop_write_text_atomic: the final name only ever appears
    complete; the temp name never survives a successful write."""
    from dude_spark.storage import _hadoop_write_text_atomic

    path = str(tmp_path / "meta.json")
    _hadoop_write_text_atomic(spark, path, '{"ok": true}')
    with open(path) as f:
        assert f.read() == '{"ok": true}'
    assert [p for p in os.listdir(str(tmp_path)) if ".tmp-" in p] == []
