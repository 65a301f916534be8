#!/usr/bin/env python3
"""dude_spark benchmark: seeded inputs, the program driven through its
public functions, every output checked.

    python3 perfbench/run.py --workload images_cold --seed 1 --seconds 1 --trace 0

Run it from the root of a checkout (it needs ``dude_spark/`` next to
``perfbench/``).  It writes only under ``.perfbench/`` in that root.

Workloads (closed loop: one client, the next op starts when the previous
one has finished and its state is released; one process, local[nproc]):

  images_cold  ``pipeline.run_pipeline`` with all four detectors (exact,
               MinHash-LSH, SimHash, suffix) over the seeded images
               fixture, into a fresh checkpoint dir, resume=False.
  docs_curate  ``curate.curate`` (filter -> pii -> exact + n-gram Jaccard
               dedup -> components -> shards + verify) over a seeded text
               corpus with planted duplicates, PII and low-quality rows.

An op is one whole pipeline, and the timed op is the first one after
session start and warm-up: a fresh process, as a user's batch run is.
One op takes about 30-45 s on a 4-core box, so a run measures a single op
however small ``--seconds`` is; ``--seconds`` only adds ops when it is
longer than an op.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` turns the
Spark event log on, runs one untraced op and then one traced op that
calls each layer's public functions in turn inside named spans, writes
the spans to ``.perfbench/trace-<workload>-s<seed>.json`` and prints the
per-layer metrics (``layers.json`` says which end-to-end metric each one
should move).  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import gen  # noqa: E402
import layers  # noqa: E402
import proctree  # noqa: E402
import spans  # noqa: E402
from gen import JACCARD, NGRAM, ROWS_PER_SHARD  # noqa: E402
from layers import DETECTORS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("images_cold", "docs_curate")
SIZES = {"images_cold": 1000, "docs_curate": 400}
# Spark's own default spark.driver.memory, committed up front: a small working set
# then touches the whole heap in every op, so the tree's peak RSS tracks
# the program's off-heap and Python memory instead of when G1 grew the heap
DRIVER_HEAP = "1g"


# ------------------------------------------------------------------ session

def start_session(log_dir: str | None):
    """local[nproc] session pinned from the benchmark side: a heap that
    fits a small box, one BLAS thread per worker, every scratch dir inside
    the checkout, and the event log only when tracing."""
    from dude_spark.session import get_spark

    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    # both JVMs (spark-submit's launcher and Spark's own): temp files in the
    # checkout, and no hsperfdata file, which HotSpot writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    )
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both inside
    local_dir = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": local_dir,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # uncompressed: Spark's default codec needs zstandard to read
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    nproc = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, workload: str) -> None:
    """Load the SQL engine's classes with one small query and, for the
    images workloads, fork the Python workers and import the detector
    modules in them, so the timed op does not pay process start-up."""
    spark.range(4096).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    if workload.startswith("images"):
        def imports(batches):
            import dude_spark.detectors.minhash  # noqa: F401
            import dude_spark.detectors.simhash  # noqa: F401
            import dude_spark.detectors.suffix  # noqa: F401
            import dude_spark.operators.verify  # noqa: F401
            yield from batches

        n = spark.sparkContext.defaultParallelism
        df = spark.range(n * 8).repartition(n)
        df.mapInPandas(imports, df.schema).count()


def stop_session(spark) -> None:
    """Stop Spark, close the JVM gateway and wait for every process this
    run started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while len(proctree.descendants()) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in proctree.descendants()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def release(spark, opdir: str) -> None:
    """Drop per-op state so op k+1 does not inherit op k's heap."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    shutil.rmtree(opdir, ignore_errors=True)


# ---------------------------------------------------------------- checks

def score(got: set, want: set, ok_extra=lambda p: False) -> tuple[float, float]:
    recall = len(got & want) / len(want) if want else 1.0
    good = sum(1 for p in got if p in want or ok_extra(p))
    precision = good / len(got) if got else 0.0
    return recall, precision


def read_parquet_dir(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


# ------------------------------------------------------------------- ops

def op_images(spark, inp: str, opdir: str, k: int):
    from dude_spark.config import JobConfig
    from dude_spark.pipeline import run_pipeline

    cfg = JobConfig(
        input_paths=(os.path.join(inp, "images"),),
        checkpoint_dir=os.path.join(opdir, "ckpt"),
        results_dir=os.path.join(opdir, "results"),
        detectors=DETECTORS,
        run_id=f"op{k}",
    )
    return run_pipeline(spark, cfg, resume=False)


def check_images(inp: str, res, truth: dict) -> tuple[bool, float, float]:
    from dude_spark.oracle import all_pairs

    assign = res.assignments.toPandas()
    want = {tuple(p) for p in truth["pairs"]}
    recall, precision = score(all_pairs(assign), want)
    with open(res.csv_path, "rb") as f:
        csv_ok = f.read(3) == b"\xef\xbb\xbf"
    ok = csv_ok and recall >= 0.99 and precision >= 0.99
    return ok, recall, precision


def op_docs(spark, inp: str, opdir: str, k: int):
    from dude_spark.curate import curate

    docs = spark.read.parquet(os.path.join(inp, "docs"))
    wd = os.path.join(opdir, "wd")
    rep = curate(
        spark, docs, wd, id_col="doc_id", text_col="text",
        source_col="source", resume=False, rows_per_shard=ROWS_PER_SHARD,
    )
    return rep, wd


def _grams(text: str) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i:i + NGRAM]) for i in range(len(toks) - NGRAM + 1)}


def check_docs(inp: str, out, truth: dict) -> tuple[bool, float, float]:
    import re

    from dude_spark.operators.pii import PII_KINDS
    from dude_spark.oracle import all_pairs

    rep, wd = out
    docs = read_parquet_dir(os.path.join(inp, "docs"))
    assign = read_parquet_dir(os.path.join(wd, "audits", "dedup_assignments"))
    # curate's audits carry its canonical (image_id, caption) columns
    rejected = set(read_parquet_dir(os.path.join(wd, "audits", "rejected")).image_id)
    manifest = read_parquet_dir(os.path.join(wd, "shards", "_shard_manifest"))

    def scrub(text: str) -> str:
        for _, pat, repl in PII_KINDS:
            text = re.sub(pat, repl, text)
        return text

    text = dict(zip(docs.doc_id, docs.text))

    def jaccard_ok(p) -> bool:
        a, b = _grams(scrub(text[p[0]])), _grams(scrub(text[p[1]]))
        return bool(a | b) and len(a & b) / len(a | b) >= JACCARD

    want = {tuple(p) for p in truth["pairs"]}
    recall, precision = score(all_pairs(assign), want, jaccard_ok)
    dropped = len(assign) - assign.cluster_id.nunique()
    kept = len(docs) - len(rejected) - dropped
    ok = (
        rep["shard_verification_failures"] == 0
        and int(manifest.n_rows.sum()) == kept
        and rejected == set(truth["rejected"])
        and recall >= 0.99
        and precision >= 0.99
    )
    return ok, recall, precision


OPS = {
    "images_cold": (op_images, check_images),
    "docs_curate": (op_docs, check_docs),
}


def run_ops(spark, workload: str, inp: str, truth: dict, seconds: float,
            rss: "proctree.PeakRss") -> list[dict]:
    """Closed loop: ops back to back until ``seconds`` have passed (at
    least one); each op is timed, checked, then its state released."""
    op, check = OPS[workload]
    samples = []
    t_loop = time.monotonic()
    while not samples or time.monotonic() - t_loop < seconds:
        k = len(samples)
        opdir = os.path.join(WORK, "ops", f"{workload}-{k}")
        shutil.rmtree(opdir, ignore_errors=True)
        rss.take()
        cpu0, t0 = proctree.cpu_seconds(), time.monotonic()
        sample = {"ok": False}
        try:
            out = op(spark, inp, opdir, k)
            sample["wall_s"] = time.monotonic() - t0
            sample["cpu_s"] = proctree.cpu_seconds() - cpu0
            sample["peak_rss_mb"] = rss.take()
            ok, sample["pair_recall"], sample["pair_precision"] = check(
                inp, out, truth
            )
            sample["ok"] = ok
        except Exception:
            traceback.print_exc()
        samples.append(sample)
        release(spark, opdir)
    return samples


def end_to_end(samples: list[dict], setup_s: float) -> dict:
    def med(key, unit):
        vals = [s[key] for s in samples if key in s]
        return {"value": statistics.median(vals) if vals else 0.0, "unit": unit,
                "samples": len(vals)}

    return {
        "wall_s": med("wall_s", "s"),
        "cpu_s": med("cpu_s", "s"),
        "setup_s": {"value": setup_s, "unit": "s", "samples": 1},
        "peak_rss_mb": med("peak_rss_mb", "MB"),
        "pair_recall": med("pair_recall", "ratio"),
        "pair_precision": med("pair_precision", "ratio"),
        "ok_frac": {"value": sum(s["ok"] for s in samples) / len(samples),
                    "unit": "ratio", "samples": len(samples)},
    }


# ------------------------------------------------------------------ main

def run_all(args) -> int:
    """Every workload in its own process; prints each one's result line
    and then one line that folds them, metric names prefixed."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            return p.returncode or 1
        res = json.loads(lines[-1])
        print(w, json.dumps(res))
        out["correct"] &= res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        out["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(out))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)

    if not os.path.isdir(os.path.join(ROOT, "dude_spark")):
        print(f"no dude_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import dude_spark from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for d in ("tmp", "spark-local", "inputs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    t_gen = time.monotonic()
    inp = gen.inputs(os.path.join(WORK, "inputs"), args.workload, args.seed,
                     SIZES[args.workload])
    with open(os.path.join(inp, "truth.json")) as f:
        truth = json.load(f)
    gen_s = time.monotonic() - t_gen

    log_dir = None
    if args.trace:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
    rss = proctree.PeakRss().start()
    t_session = time.monotonic()
    spark = start_session(log_dir)
    session_s = time.monotonic() - t_session
    try:
        warm_up(spark, args.workload)
        setup_s = time.monotonic() - T_START - gen_s
        samples = run_ops(spark, args.workload, inp, truth, args.seconds, rss)
        if args.trace:
            tracer, traced_ok = layers.traced_op(
                spark, args.workload, inp, os.path.join(WORK, "ops", "traced")
            )
    finally:
        stop_session(spark)
        rss.stop()

    e2e = end_to_end(samples, setup_s)
    failed = sum(not s["ok"] for s in samples)
    if args.trace:
        jobs = spans.fold_event_log(log_dir, tracer)
        spans.write_spans(
            os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"),
            tracer, jobs,
        )
        metrics = layers.per_layer(
            tracer, jobs, session_s, tracer.t1 - tracer.t0 - e2e["wall_s"]["value"]
        )
        failed += not traced_ok
        attempted = len(samples) + 1
    else:
        metrics = e2e
        attempted = len(samples)
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }
    print(json.dumps(e2e), file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
