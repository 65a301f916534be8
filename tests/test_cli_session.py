"""CLI verb table and session lifecycle: every verb dispatches through
its registered handler, and every Spark-backed verb opens and stops
its session through one place with the width --cpus asks for."""

from __future__ import annotations

import argparse
import json
import os

import pytest

from dude_spark import cli
from dude_spark.config import ConfigError


def _verbs() -> dict[str, argparse.ArgumentParser]:
    sub = next(
        a for a in cli._parser()._actions
        if isinstance(a, argparse._SubParsersAction)
    )
    return sub.choices


class _Refused(Exception):
    """Raised by the recording get_spark stub: no session is built."""


def _recording_get_spark(calls):
    def fake(*args, **kwargs):
        calls.append((args, kwargs))
        raise _Refused
    return fake


def test_every_verb_has_a_handler_and_help(capsys):
    verbs = _verbs()
    assert len(verbs) == 24
    for name, vp in verbs.items():
        assert callable(vp.get_default("handler")), name
        with pytest.raises(SystemExit) as exc:
            cli.main([name, "--help"])
        assert exc.value.code == 0, name
        assert capsys.readouterr().out.startswith(f"usage: dude_spark {name}")


def test_cpus_sets_width_without_local(monkeypatch, tmp_path):
    """--cpus reaches get_spark as the session width on a plain python
    launch (no --local): get_spark builds local[--cpus] there and
    leaves a spark-submit master alone.  0 means all cores."""
    calls = []
    monkeypatch.setattr(cli, "get_spark", _recording_get_spark(calls))
    sample = ["sample", "--input", "in", "--out", "out", "--frac", "0.5"]

    for argv in (sample + ["--cpus", "3"], sample,
                 sample + ["--cpus", "3", "--local"]):
        with pytest.raises(_Refused):
            cli.main(argv)
    assert [(a, k["master"], k["parallelism"]) for a, k in calls] == [
        (("dude_spark_sample",), None, 3),
        (("dude_spark_sample",), None, os.cpu_count() or 2),
        (("dude_spark_sample",), "local[3]", 3),
    ]

    # run: JobConfig's clamped cpus and its Arrow batch rows
    calls.clear()
    with pytest.raises(_Refused):
        cli.main(["run", "--input", str(tmp_path), "--checkpoint",
                  str(tmp_path / "ckpt"), "--cpus", "1", "--buf-size", "77"])
    (args, kw), = calls
    assert args == ("dude_spark_run",)
    assert kw == {"master": None, "parallelism": 1, "arrow_batch_rows": 77}

    # results declares no --cpus: get_spark keeps its own default width
    calls.clear()
    with pytest.raises(_Refused):
        cli.main(["results", "--checkpoint", str(tmp_path)])
    assert calls == [(("dude_spark_results",),
                      {"master": None, "parallelism": None})]


def test_stream_flag_checks_run_before_the_session(monkeypatch, tmp_path):
    calls = []
    monkeypatch.setattr(cli, "get_spark", _recording_get_spark(calls))
    base = ["stream", "--input", str(tmp_path), "--state", str(tmp_path / "s")]
    for extra, match in (
        (["--detector", "tilephash", "--tile-grid", "0"], "--tile-grid"),
        (["--detector", "tilephash", "--tile-radius", "3",
          "--tile-segments", "7"], "--tile-segments must divide 64"),
        (["--detector", "tilephash", "--tile-radius", "4",
          "--tile-segments", "4"], "--tile-radius must be < --tile-segments"),
        (["--detector", "embedding"], "--centroids"),
    ):
        with pytest.raises(ConfigError, match=match):
            cli.main(base + extra)
    assert calls == []


def test_session_stops_once_on_error_and_on_early_return(
    spark, tmp_path, monkeypatch, capsys
):
    """A handler that raises, or returns, after its session started
    still stops that session exactly once."""
    stops = []
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: stops.append(1))

    qdir = str(tmp_path / "q")
    with pytest.raises(ConfigError, match="manifest"):
        cli.main(["ann-query", "--index-dir", str(tmp_path / "ivf"),
                  "--queries", qdir, "--out", str(tmp_path / "o")])
    assert len(stops) == 1

    state = tmp_path / "state"
    state.mkdir()
    (state / "state_meta.json").write_text(json.dumps({"n_state_shards": 4}))
    assert cli.main(["results", "--state", str(state)]) == 2
    assert "no assignment state" in capsys.readouterr().err
    assert len(stops) == 2
