"""Session policy: one pin() for every frame materialization, and
session defaults sized from the machine the driver runs on.

The builder is replaced by a recorder here, so nothing in this file
starts a JVM; tests/test_executor_loss.py drives the real thing."""

from __future__ import annotations

import ast
import glob
import os
import types

import pytest

from dude_spark import session
from dude_spark.config import ConfigError

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pin_is_the_only_checkpoint_call():
    """Nothing outside session.py calls .localCheckpoint( or
    .checkpoint( — the pin policy lives in one place."""
    files = glob.glob(os.path.join(REPO_ROOT, "dude_spark", "**", "*.py"),
                      recursive=True)
    files.append(os.path.join(REPO_ROOT, "__spark_entry__.py"))
    offenders = []
    for path in files:
        if os.path.basename(path) == "session.py":
            continue
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        offenders += [
            f"{os.path.relpath(path, REPO_ROOT)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("localCheckpoint", "checkpoint")
        ]
    assert len(files) > 40
    assert offenders == []


class _Frame:
    """Records which checkpoint flavour pin() picked."""

    def __init__(self, master):
        self.sparkSession = types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(master=master)
        )

    def localCheckpoint(self, eager):
        return ("local", eager)

    def checkpoint(self, eager):
        return ("reliable", eager)


@pytest.mark.parametrize("master, kind", [
    ("local", "local"),
    ("local[4]", "local"),
    ("local[*]", "local"),
    ("local-cluster[2,1,1024]", "reliable"),
    ("spark://host:7077", "reliable"),
    ("yarn", "reliable"),
    ("k8s://https://host:443", "reliable"),
])
def test_pin_policy_follows_the_master(master, kind):
    assert session.pin(_Frame(master)) == (kind, True)
    assert session.pin(_Frame(master), eager=False) == (kind, False)


class _Builder:
    """Stands in for SparkSession.builder: records the conf and hands
    back a session whose context reports the master it was given."""

    def __init__(self, checkpoint_dir=None):
        self.conf, self.stopped = {}, 0
        self.checkpoint_dir = checkpoint_dir

    def appName(self, _name):
        return self

    def master(self, m):
        self.conf["spark.master"] = m
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        ckpt = self.conf.get("spark.checkpoint.dir", self.checkpoint_dir)
        sc = types.SimpleNamespace(
            master=self.conf["spark.master"], getCheckpointDir=lambda: ckpt
        )

        def stop():
            self.stopped += 1

        return types.SimpleNamespace(sparkContext=sc, stop=stop)


@pytest.fixture
def builder(monkeypatch):
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_EXTRA_CONF",
                "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    b = _Builder()
    monkeypatch.setattr(session, "SparkSession",
                        types.SimpleNamespace(builder=b))
    return b


def test_defaults_fit_the_machine(builder, monkeypatch):
    """No master and no SPARK_GRAFT_CPUS: width = the cores this
    process may run on; driver heap = half the physical RAM, at most
    24g.  SPARK_GRAFT_CPUS still overrides the width."""
    session.get_spark()
    cores = len(os.sched_getaffinity(0))
    assert builder.conf["spark.master"] == f"local[{cores}]"
    assert builder.conf["spark.sql.shuffle.partitions"] == str(cores)
    heap = builder.conf["spark.driver.memory"]
    assert heap.endswith("g")
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 1 <= int(heap[:-1]) <= min(24, max(1, (phys >> 30) // 2))
    assert builder.conf[
        "spark.cleaner.referenceTracking.cleanCheckpoints"] == "true"
    assert builder.conf[
        "spark.driver.extraJavaOptions"] == "-XX:G1HeapRegionSize=8m"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark()
    assert builder.conf["spark.master"] == "local[3]"


def test_multi_executor_master_needs_a_checkpoint_dir(builder):
    """A multi-executor session without spark.checkpoint.dir fails at
    session start (no job has run) and is stopped; with one it starts."""
    with pytest.raises(ConfigError, match="spark.checkpoint.dir"):
        session.get_spark(master="local-cluster[2,1,1024]")
    assert builder.stopped == 1

    spark = session.get_spark(
        master="local-cluster[2,1,1024]",
        extra_conf={"spark.checkpoint.dir": "/shared/ckpt"},
    )
    assert spark.sparkContext.getCheckpointDir() == "/shared/ckpt"
    assert builder.stopped == 1
    session.get_spark(master="local[2]")  # single JVM: no dir needed
    assert builder.stopped == 1
