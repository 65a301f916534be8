"""Benchmark harness — one JSON line of headline timings.

Measures (a) the flagship near-dup pipeline (all four detectors →
connected components → report) over a deterministically generated
images fixture scaled to the SF, reporting images/sec, and (b) the
oracle-gated document/embedding queries from __spark_entry__ at
$SPARK_GRAFT_SF_DIR.

Env knobs:
  SPARK_GRAFT_SF_DIR   input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] parallelism (default: the cores this
                       process may run on)
  SPARK_GRAFT_IMAGES_N override images-fixture row count
                       (default 200_000 × sf)

Output: {"metric": "images_per_sec_full_pipeline", "value": N,
         "unit": "images/sec", "queries": {name: sec, ...}, "sf": x,
         ...}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    n_images = int(os.environ.get("SPARK_GRAFT_IMAGES_N", str(max(500, int(200_000 * sf)))))

    import __spark_entry__ as entrymod
    from dude_spark.config import JobConfig
    from dude_spark.fixtures import write_fixture
    from dude_spark.pipeline import run_pipeline
    from dude_spark.session import get_spark

    spark = get_spark("dude_spark_bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="dude_bench_")
    timings: dict[str, float] = {}
    try:
        # -------- flagship: images near-dup pipeline (untimed generate)
        write_fixture(spark, work, n=n_images, partitions=cpus)
        # Untimed warm-up: fork the python-worker pool (a JVM-only query
        # would not — workers only spawn for Python stages) and touch
        # the scan path, so the timed reps measure the pipeline, not
        # process start-up.  Then best-of-2 full runs: single cold
        # samples on this shared VM swing ±30% with host weather
        # (BENCH.md round-3 cold-probe series: 28.4–39.3 s for
        # identical code), and the best-of is the standard way to
        # report a repeatable wall.
        warm = spark.read.parquet(f"{work}/images.parquet").limit(4096)
        warm = warm.repartition(cpus).select("image_id")
        warm.mapInPandas(lambda it: it, warm.schema).count()
        # Best-of-3 with EVERY wall persisted (round-3 VERDICT next #3):
        # single cold samples on this shared VM swing ±30% with host
        # weather (identical-code probes 28.4-39.3 s), so the artifact
        # of record carries its own weather evidence instead of a
        # point estimate the next round can't interpret.
        pipeline_samples: list[float] = []
        n_assigned = 0
        for rep in range(3):
            cfg = JobConfig(
                input_paths=(f"{work}/images.parquet",),
                checkpoint_dir=f"{work}/ckpt{rep}",
                results_dir=f"{work}/results{rep}",
                detectors=("exact", "minhash", "simhash", "suffix"),
                run_id=f"bench{rep}",
            )
            t0 = time.monotonic()
            result = run_pipeline(spark, cfg, resume=False)
            pipeline_samples.append(round(time.monotonic() - t0, 3))
            n_assigned = result.stages["components"].rows
        pipeline_s = min(pipeline_samples)
        timings["images_pipeline_full"] = round(pipeline_s, 3)

        # -------- oracle-gated queries on the driver tables, best of
        # TWO FULL PASSES (suite-order/JIT effects owned the round-3
        # corpus_summary "regression"; samples make weather visible).
        # The shared ngram-pair checkpoint memo is cleared per pass so
        # each pass re-pays the materialization exactly once (round-3
        # semantics) — a per-query repeat would time a memo hit (57 ms)
        # as if it were the query.
        passes: list[dict[str, float]] = []
        for _ in range(2):
            for _sp, memo_df in list(entrymod._NGRAM_PAIRS_MEMO.values()):
                try:
                    memo_df.unpersist()
                except Exception:
                    pass
            entrymod._NGRAM_PAIRS_MEMO.clear()
            walls: dict[str, float] = {}
            for name, fn in entrymod.queries().items():
                t0 = time.monotonic()
                fn(spark, sf_dir).count()
                walls[name] = round(time.monotonic() - t0, 3)
            passes.append(walls)
        query_samples = {n: [p[n] for p in passes] for n in passes[0]}
        for name, samples in query_samples.items():
            timings[name] = min(samples)

        print(
            json.dumps(
                {
                    "metric": "images_per_sec_full_pipeline",
                    "value": round(n_images / pipeline_s, 1),
                    "unit": "images/sec",
                    "samples": pipeline_samples,
                    "queries": timings,
                    "query_samples": query_samples,
                    "sf": sf,
                    "n_images": n_images,
                    "n_assignments": n_assigned,
                    "cpus": cpus,
                }
            )
        )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
