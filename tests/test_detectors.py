"""Detector registry: one signature → bucket → verify chain per
detector, stable config ids, and no restated chains elsewhere."""

from __future__ import annotations

import ast
import glob
import os

import pytest

from dude_spark.config import ConfigError, JobConfig, SimHashConfig
from dude_spark.detectors import DETECTORS, config_id

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "name, cfg, expected",
    [
        ("exact", None, "c4e4642b74647f40"),
        ("minhash", JobConfig().minhash, "70a08fbb338154af"),
        ("simhash", JobConfig().simhash, "3986660452f5069e"),
        ("suffix", JobConfig().suffix, "ff9cde3ee1834d0b"),
        ("simhash", SimHashConfig(use_phash=False), "141bf54d7aa8b56e"),
        ("tilephash", {"grid": 2}, "a14308d0d1ac0604"),
    ],
)
def test_config_ids_are_stable(name, cfg, expected):
    """Signature stage keys and stream state pins written before the
    registry existed keep resuming: the ids are hard-coded."""
    assert config_id(name, cfg) == expected


def test_registry_names_the_known_detectors(tmp_path):
    assert sorted(DETECTORS) == ["exact", "minhash", "simhash", "suffix"]
    with pytest.raises(ConfigError, match="unknown detectors"):
        JobConfig(input_paths=(str(tmp_path),), detectors=("fuzzy",)).validated()
    assert DETECTORS["simhash"].reads(JobConfig().simhash) == ("caption", "phash")
    assert DETECTORS["simhash"].reads(SimHashConfig(use_phash=False)) == ("caption",)


_CHAIN_KERNELS = {
    "minhash_buckets",
    "simhash_buckets",
    "suffix_buckets",
    "simhash_pairs_verified",
    "prefilter_minhash",
}


def test_detector_chains_live_only_in_the_registry():
    """Outside dude_spark/detectors/ nothing (``__spark_entry__.py``
    included) names a bucket or verify kernel: every caller dispatches
    through DETECTORS."""
    files = [
        p
        for p in glob.glob(
            os.path.join(REPO_ROOT, "dude_spark", "**", "*.py"), recursive=True
        )
        if os.sep + "detectors" + os.sep not in p
    ]
    files.append(os.path.join(REPO_ROOT, "__spark_entry__.py"))
    offenders = []
    for path in files:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names = [a.name.split(".")[-1] for a in node.names]
            else:
                continue
            offenders += [
                f"{os.path.relpath(path, REPO_ROOT)}:{node.lineno} {n}"
                for n in names
                if n in _CHAIN_KERNELS
            ]
    assert len(files) > 30
    assert offenders == []
