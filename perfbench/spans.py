"""Spans recorded around the calls into each layer, and the Spark event
log folded onto them.

Each span sets the Spark local property ``perfbench.span`` for the
calling thread, so every job and stage it starts carries the span name
in the event log.  After the session stops, ``fold_event_log`` sums per
span: jobs, executor CPU, shuffle bytes written and Python-worker time.
Jobs submitted inside the traced window without the property are
counted as unattributed.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

PROP = "perfbench.span"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.t0 = self.t1 = None

    @contextmanager
    def span(self, name: str, **counts):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "parent": parent["name"] if parent else None,
            "start": time.time(),
            "end": None,
            "counts": dict(counts),
            "_child_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty(PROP, name)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            dur = rec["end"] - rec["start"]
            rec["self_s"] = dur - rec.pop("_child_s")
            if parent is not None:
                parent["_child_s"] += dur
            self.sc.setLocalProperty(PROP, parent["name"] if parent else None)

    @contextmanager
    def window(self):
        """The traced op: jobs submitted inside it must carry a span."""
        self.t0 = time.time()
        try:
            yield
        finally:
            self.t1 = time.time()


def _event_log_file(log_dir: str) -> str:
    names = [os.path.join(log_dir, n) for n in os.listdir(log_dir)]
    files = [n for n in names if os.path.isfile(n) and not n.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {names}")
    return files[0]


def fold_event_log(log_dir: str, tracer: Tracer) -> dict[str, dict]:
    """{span: {jobs, exec_cpu_s, shuffle_write_mb, python_s}} for the jobs
    submitted inside ``tracer.window``; the key ``None`` collects jobs
    that carried no span."""
    lo, hi = tracer.t0 * 1000, tracer.t1 * 1000
    out: dict = {}

    def slot(name):
        return out.setdefault(
            name, {"jobs": 0, "exec_cpu_s": 0.0, "shuffle_write_mb": 0.0, "python_s": 0.0}
        )

    stage_span: dict[int, str | None] = {}
    with open(_event_log_file(log_dir)) as f:
        for line in f:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                ev = json.loads(line)
                if not lo <= ev["Submission Time"] <= hi:
                    continue
                name = ev.get("Properties", {}).get(PROP)
                slot(name)["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_span.setdefault(sid, name)
            elif line.startswith('{"Event":"SparkListenerStageCompleted"'):
                ev = json.loads(line)
                info = ev["Stage Info"]
                if info["Stage ID"] not in stage_span:
                    continue
                acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
                s = slot(stage_span[info["Stage ID"]])
                s["exec_cpu_s"] += int(acc.get("internal.metrics.executorCpuTime", 0)) / 1e9
                s["shuffle_write_mb"] += (
                    int(acc.get("internal.metrics.shuffle.write.bytesWritten", 0)) / 2**20
                )
                s["python_s"] += int(acc.get("time to run Python workers", 0)) / 1000
    return out


def write_spans(path: str, tracer: Tracer, jobs: dict) -> None:
    """Spans in start order (name, start, end, parent, self_s, counts) and
    the event-log totals per span name."""
    with open(path, "w") as f:
        json.dump({"spans": tracer.spans,
                   "jobs_by_span": {str(k): v for k, v in jobs.items()}}, f, indent=1)
