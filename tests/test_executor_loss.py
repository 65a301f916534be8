"""Executor loss on a multi-executor master (``local-cluster[2,1,1024]``).

Runs this file as a driver script in a subprocess, twice: on
``local[2]`` (the expected answer) and on ``local-cluster`` with
``spark.checkpoint.dir`` under tmp_path, where a wrapper on
``components._fingerprint`` SIGKILLs one of the driver JVM's own
executors after the first round of each connected-components loop —
once inside a 4-detector ``run_pipeline`` on the n=600 fixture, once
in a standalone multi-round ``connected_components(driver_cap=0)``.
The rounds after the kill read the frame pinned in round one: a
``localCheckpoint`` block on the killed executor is gone
(CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), a reliable checkpoint is not.
The assignments must equal the ``local[2]`` run's."""

from __future__ import annotations

import functools
import json
import os
import signal
import subprocess
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DETECTORS = ("exact", "minhash", "simhash", "suffix")


def _executor_pids(jvm_pid: int) -> list[int]:
    """Executor processes forked by THIS driver JVM (its /proc children
    running CoarseGrainedExecutorBackend), never a box-wide search."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            if ppid != jvm_pid:
                continue
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read()
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
        if b"CoarseGrainedExecutorBackend" in cmd:
            pids.append(int(entry))
    return sorted(pids)


def _drive(master: str, work: str, checkpoint_dir: str | None) -> None:
    from pyspark.sql import functions as F

    from dude_spark import pipeline
    from dude_spark.config import JobConfig
    from dude_spark.fixtures import write_fixture
    from dude_spark.operators import components
    from dude_spark.session import get_spark

    conf = {}
    if checkpoint_dir:
        conf = {
            "spark.checkpoint.dir": checkpoint_dir,
            # several partitions per pinned round, so both executors
            # hold some of it whichever one is killed
            "spark.sql.shuffle.partitions": "4",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        }
    spark = get_spark("executor_loss", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    armed, kills = [False], []
    fingerprint = components._fingerprint

    def fingerprint_then_kill(edges):
        fp = fingerprint(edges)
        if armed[0]:
            armed[0] = False
            pids = _executor_pids(jvm_pid)
            if pids:
                os.kill(pids[0], signal.SIGKILL)
                kills.append(pids[0])
        return fp

    components._fingerprint = fingerprint_then_kill
    # the pipeline's CC runs the distributed rounds (at n=600 the
    # driver union-find would take it), so the kill lands mid-pipeline
    pipeline.connected_components = functools.partial(
        components.connected_components, driver_cap=0
    )
    out = {}
    try:
        write_fixture(spark, work, n=600, partitions=4)
        cfg = JobConfig(
            input_paths=(f"{work}/images.parquet",),
            checkpoint_dir=f"{work}/ckpt",
            detectors=DETECTORS,
            run_id="executor_loss",
        )
        armed[0] = True
        res = pipeline.run_pipeline(spark, cfg, resume=False)
        out["pipeline"] = sorted(
            [r["image_id"], r["cluster_id"]] for r in res.assignments.collect()
        )
        # three paths of 64 nodes: several star rounds each
        ids = spark.range(3 * 64).where(F.col("id") % 64 != 63)
        edges = ids.select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
        armed[0] = True
        cc = components.connected_components(edges, driver_cap=0)
        out["cc"] = sorted([r["image_id"], r["cluster_id"]] for r in cc.collect())
        out["kills"] = len(kills)
    finally:
        spark.stop()
    with open(os.path.join(work, "out.json"), "w") as f:
        json.dump(out, f)


def _run(master: str, work: str, checkpoint_dir: str | None = None) -> dict:
    os.makedirs(work)
    env = dict(os.environ, PYTHONPATH=REPO_ROOT, PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        [sys.executable, __file__, master, work, checkpoint_dir or ""],
        env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, (
        f"{master} run failed\n--- stdout ---\n{proc.stdout[-3000:]}"
        f"\n--- stderr ---\n{proc.stderr[-6000:]}"
    )
    with open(os.path.join(work, "out.json")) as f:
        return json.load(f)


@pytest.mark.slow  # ~140 s on 4 cores: two sessions, two executor losses
@pytest.mark.skipif(not os.path.isdir("/proc"),
                    reason="finds the executors through /proc")
def test_pinned_frames_survive_executor_loss(tmp_path):
    want = _run("local[2]", str(tmp_path / "local"))
    got = _run(
        "local-cluster[2,1,1024]", str(tmp_path / "cluster"),
        checkpoint_dir=str(tmp_path / "spark-ckpt"),
    )
    assert got["kills"] == 2  # one executor lost in each CC loop
    assert want["kills"] == 0  # local[2] has no executor process
    assert got["pipeline"] == want["pipeline"]
    assert got["cc"] == want["cc"]
    assert len(want["pipeline"]) > 0
    assert len({c for _, c in want["cc"]}) == 3


if __name__ == "__main__":
    _drive(sys.argv[1], sys.argv[2], sys.argv[3] or None)
