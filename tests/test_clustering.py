"""Distributed k-means (functions/clustering.py)."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dude_spark.functions.clustering import (
    SCALE,
    kmeans_assign,
    kmeans_clusters,
    kmeans_fit,
)


def _df(spark, rows):
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    return spark.createDataFrame(pdf).select(
        "vec_id", F.col("embedding").cast("array<float>")
    )


def _uq(vec):
    q = [math.floor(float(np.float32(x)) * SCALE) for x in vec]
    na2 = sum(v * v for v in q)
    if na2 == 0:
        return [0] * len(q), 0
    r = math.sqrt(float(na2))
    u = [math.floor((float(v) * SCALE) / r) for v in q]
    return u, sum(x * x for x in u)


def _replay(rows, k, iters):
    """Pure-Python trajectory replay — the cross-engine reference."""
    U = {vid: _uq(vec) for vid, vec in rows}
    seeds = sorted(U, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:k]
    cent = [list(U[i][0]) for i in seeds]

    def ns2s(c):
        return [sum(v * v for v in row) for row in c]

    def assign_all(cent):
        ns2 = ns2s(cent)
        out = {}
        for vid, (u, _) in U.items():
            best, bs = 0, None
            for c in range(len(cent)):
                if ns2[c] == 0:
                    continue
                dot = sum(x * y for x, y in zip(u, cent[c]))
                sim = float(dot) / math.sqrt(float(ns2[c]))
                if bs is None or sim > bs:
                    best, bs = c, sim
            out[vid] = best
        return out

    for _ in range(iters):
        a = assign_all(cent)
        sums: dict[int, list[int]] = {}
        for vid, c in a.items():
            S = sums.setdefault(c, [0] * len(cent[0]))
            sums[c] = [x + y for x, y in zip(S, U[vid][0])]
        for c, S in sums.items():
            n2 = sum(v * v for v in S)
            if n2 > 0:
                r = math.sqrt(float(n2))
                cent[c] = [math.floor((float(v) * SCALE) / r) for v in S]
    a = assign_all(cent)
    ns2 = ns2s(cent)
    want = {}
    for vid, c in a.items():
        u, nu2 = U[vid]
        dot = sum(x * y for x, y in zip(u, cent[c]))
        sim = (
            0
            if nu2 == 0 or ns2[c] == 0
            else math.floor(
                float(1000 * dot)
                / (math.sqrt(float(nu2)) * math.sqrt(float(ns2[c])))
            )
        )
        want[vid] = (c, sim)
    return want


class TestKmeans:
    def test_matches_python_replay_seeded(self, spark):
        rng = np.random.RandomState(11)
        rows = [
            (i, rng.uniform(-0.6, 0.6, 8).astype(np.float32).tolist())
            for i in range(80)
        ]
        got = {
            r["vec_id"]: (r["cluster"], r["sim_x1000"])
            for r in kmeans_clusters(_df(spark, rows), k=4, iters=2).collect()
        }
        assert got == _replay(rows, 4, 2)

    def test_separable_blobs_recovered(self, spark):
        rng = np.random.RandomState(3)
        centers = np.eye(3, 6) * 0.5  # three orthogonal directions
        rows = []
        for i in range(90):
            b = i % 3
            v = centers[b] + rng.uniform(-0.02, 0.02, 6)
            rows.append((i, v.astype(np.float32).tolist()))
        out = kmeans_clusters(_df(spark, rows), k=3, iters=4).collect()
        by_blob: dict[int, set[int]] = {}
        for r in out:
            by_blob.setdefault(r["vec_id"] % 3, set()).add(r["cluster"])
        # each blob maps to exactly one cluster, and clusters are distinct
        assert all(len(cs) == 1 for cs in by_blob.values())
        assert len({next(iter(cs)) for cs in by_blob.values()}) == 3
        assert all(r["sim_x1000"] > 950 for r in out)

    def test_deterministic_across_runs(self, spark):
        rng = np.random.RandomState(5)
        rows = [
            (i, rng.uniform(-1, 1, 6).astype(np.float32).tolist())
            for i in range(50)
        ]
        df = _df(spark, rows)
        a = sorted(map(tuple, kmeans_clusters(df, k=5, iters=3).collect()))
        b = sorted(map(tuple, kmeans_clusters(df, k=5, iters=3).collect()))
        assert a == b

    def test_zero_vector_lands_cluster_zero_sim_zero(self, spark):
        rng = np.random.RandomState(9)
        rows = [
            (i, rng.uniform(0.1, 0.5, 4).astype(np.float32).tolist())
            for i in range(10)
        ]
        rows.append((99, [0.0, 0.0, 0.0, 0.0]))
        got = {
            r["vec_id"]: (r["cluster"], r["sim_x1000"])
            for r in kmeans_clusters(_df(spark, rows), k=2, iters=1).collect()
        }
        assert got[99] == (0, 0)

    def test_null_embedding_dropped_and_empty_corpus(self, spark):
        pdf = pd.DataFrame({"vec_id": [1, 2], "embedding": [[0.1, 0.2], None]})
        df = spark.createDataFrame(pdf).select(
            "vec_id", F.col("embedding").cast("array<float>")
        )
        out = kmeans_clusters(df, k=2, iters=1)
        assert [r["vec_id"] for r in out.collect()] == [1]
        empty = kmeans_clusters(df.where(F.lit(False)), k=2, iters=1)
        assert empty.count() == 0
        assert [f.name for f in empty.schema.fields] == [
            "vec_id", "cluster", "sim_x1000",
        ]

    def test_iters_zero_assigns_against_seeds(self, spark):
        rows = [(i, [float(i == 0), float(i != 0)]) for i in range(6)]
        got = {
            r["vec_id"]: r["cluster"]
            for r in kmeans_clusters(_df(spark, rows), k=2, iters=0).collect()
        }
        assert got == _replay_clusters_only(rows, 2, 0)

    def test_assign_against_fixed_centroids(self, spark):
        cent = np.asarray(
            [[SCALE, 0, 0, 0], [0, SCALE, 0, 0]], dtype=np.int64
        )
        rows = [(1, [0.9, 0.1, 0.0, 0.0]), (2, [0.0, 0.8, 0.1, 0.0])]
        got = {
            r["vec_id"]: r["cluster"]
            for r in kmeans_assign(_df(spark, rows), cent).collect()
        }
        assert got == {1: 0, 2: 1}

    def test_validation(self, spark):
        df = _df(spark, [(1, [0.1, 0.2])])
        with pytest.raises(ValueError, match="k must be"):
            kmeans_fit(df, k=0)
        with pytest.raises(ValueError, match="iters"):
            kmeans_fit(df, k=1, iters=-1)


def _replay_clusters_only(rows, k, iters):
    return {vid: c for vid, (c, _) in _replay(rows, k, iters).items()}


class TestSemDedup:
    def test_planted_copies_pruned(self, spark):
        rng = np.random.RandomState(13)
        rows = [
            (i, rng.uniform(-0.5, 0.5, 8).astype(np.float32).tolist())
            for i in range(60)
        ]
        rows += [(1000 + i, rows[i][1]) for i in range(5)]  # exact copies
        from dude_spark.functions.clustering import semdedup

        out = {
            r["vec_id"]: (r["rep_id"], r["keep"])
            for r in semdedup(
                _df(spark, rows), k=4, iters=2, threshold_x1000=990
            ).collect()
        }
        for i in range(5):
            assert out[1000 + i] == (i, 0)
            assert out[i] == (i, 1)

    def test_below_threshold_pairs_excluded(self, spark):
        # two orthogonal-ish groups, no near-dups: empty result
        rows = [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]),
        ]
        from dude_spark.functions.clustering import semdedup

        assert (
            semdedup(_df(spark, rows), k=2, iters=1, threshold_x1000=900)
            .count() == 0
        )

    def test_threshold_validation(self, spark):
        from dude_spark.functions.clustering import semdedup

        with pytest.raises(ValueError, match="threshold_x1000"):
            semdedup(_df(spark, [(1, [0.1])]), k=1, threshold_x1000=1500)


class TestSemDedupNew:
    def test_cross_and_within_new_never_within_known(self, spark):
        rng = np.random.RandomState(31)
        known = [
            (i, rng.uniform(-0.5, 0.5, 8).astype(np.float32).tolist())
            for i in range(40)
        ]
        # two identical rows in the KNOWN side: must NOT pair
        known.append((40, known[0][1]))
        # new: one re-crawl of known[3], one fresh pair of identical twins
        twin = rng.uniform(-0.5, 0.5, 8).astype(np.float32).tolist()
        new = [(500, known[3][1]), (501, twin), (502, twin)]
        from dude_spark.functions.clustering import semdedup_new

        pairs = {
            (r["a"], r["b"])
            for r in semdedup_new(
                _df(spark, known), _df(spark, new), k=3, iters=2,
                threshold_x1000=990, cluster_cap=100000,
            ).collect()
        }
        assert (3, 500) in pairs        # cross: known id first
        assert (501, 502) in pairs      # within-new
        assert (0, 40) not in pairs and (40, 0) not in pairs  # within-known

    def test_known_side_min_rep_cut_records(self, spark):
        # one hot cluster: every known row identical => over-cap bucket
        vec = [0.3, 0.2, 0.1, 0.4]
        known = [(i, vec) for i in range(30)]
        new = [(900, vec)]
        from dude_spark.functions.clustering import semdedup_new

        pairs = {
            (r["a"], r["b"])
            for r in semdedup_new(
                _df(spark, known), _df(spark, new), k=1, iters=1,
                threshold_x1000=990, cluster_cap=8,
            ).collect()
        }
        # capped: new row pairs only with the bucket's min known id
        assert pairs == {(0, 900)}

    def test_overcap_audit_attached(self, spark):
        vec = [0.3, 0.2, 0.1, 0.4]
        known = [(i, vec) for i in range(30)]
        new = [(900, vec)]
        from dude_spark.functions.clustering import semdedup_new

        out = semdedup_new(
            _df(spark, known), _df(spark, new), k=1, iters=1,
            threshold_x1000=990, cluster_cap=8,
        )
        out.collect()
        known_cut = out.overcap_known.collect()
        assert known_cut and known_cut[0]["bucket_size"] == 30
        assert hasattr(out, "overcap_within")

    def test_overlapping_id_namespaces_refused(self, spark):
        """known/new id overlap would duplicate _id rows in the unioned
        u-frame and fan out the verify joins — refused loudly."""
        rows = [(i, [0.1 * (i + 1), 0.2]) for i in range(5)]
        new = [(4, [0.5, 0.2]), (100, [0.3, 0.1])]  # id 4 on both sides
        from dude_spark.functions.clustering import semdedup_new

        with pytest.raises(ValueError, match="overlap"):
            semdedup_new(
                _df(spark, rows), _df(spark, new), k=2, iters=1
            )

    def test_empty_new_batch(self, spark):
        rows = [(i, [0.1 * (i + 1), 0.2]) for i in range(5)]
        from dude_spark.functions.clustering import semdedup_new

        df = _df(spark, rows)
        assert (
            semdedup_new(df, df.where(F.lit(False)), k=2, iters=1).count()
            == 0
        )


def test_empty_paths_keep_caller_id_type(spark):
    """Empty corpus / empty centroid matrix: zero rows with the
    CALLER's id type (string here), never a hardcoded long; the
    kmeans_assign empty-matrix guard covers the CLI --save-centroids
    path that bypasses kmeans_clusters."""
    import numpy as np
    import pandas as pd

    from dude_spark.functions.clustering import (
        kmeans_assign,
        kmeans_clusters,
        semdedup,
        semdedup_new,
    )

    pdf = pd.DataFrame({"vec_id": ["x"], "embedding": [[0.1, 0.2]]})
    df = (
        spark.createDataFrame(pdf)
        .select("vec_id", F.col("embedding").cast("array<float>"))
        .where(F.lit(False))
    )
    for out, idc in [
        (kmeans_clusters(df, k=2, iters=1), "vec_id"),
        (kmeans_assign(df, np.empty((0, 0), dtype=np.int64)), "vec_id"),
        (semdedup(df, k=2, iters=1), "vec_id"),
    ]:
        assert out.count() == 0
        assert out.schema[idc].dataType.simpleString() == "string", out.schema
    # an empty KNOWN corpus is refused loudly: silently returning zero
    # pairs would skip the promised within-new dedup
    import pytest as _pt

    with _pt.raises(ValueError, match="no usable embeddings"):
        semdedup_new(df, df, k=2, iters=1)


def test_semdedup_output_composes_with_report_surface(spark):
    """semdedup's (id, rep_id, keep) frame is assignment-shaped: renamed
    to the components contract it drives the SAME nested-groups report
    operators as the batch detectors — semantic dedup plugs into the
    product reporting path with no adapter code."""
    import numpy as np

    from dude_spark.functions.clustering import semdedup
    from dude_spark.operators.report import group_results

    rng = np.random.RandomState(77)
    rows = [
        (i, rng.uniform(-0.5, 0.5, 8).astype(np.float32).tolist())
        for i in range(40)
    ]
    rows += [(100 + i, rows[i][1]) for i in range(3)]  # exact copies
    out = semdedup(_df(spark, rows), k=3, iters=2, threshold_x1000=990)
    assigns = out.select(
        F.col("vec_id").cast("string").alias("image_id"),
        F.col("rep_id").cast("string").alias("cluster_id"),
    )
    groups = group_results(assigns).collect()
    by_rep = {r["cluster_id"]: r for r in groups}
    assert set(by_rep) == {"0", "1", "2"}
    for i in range(3):
        g = by_rep[str(i)]
        assert g["group_size"] == 2
        member_ids = {m["image_id"] for m in g["members"]}
        assert member_ids == {str(i), str(100 + i)}
