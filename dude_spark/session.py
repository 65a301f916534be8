"""SparkSession builder with the engine's standard configuration.

Centralizes the settings that matter at scale (AQE, skew-join handling,
Arrow batch sizing) so tests, bench, and spark-submit entrypoints all
run the same way.  The reference's `CPUs` / `BufSize` knobs
(/root/reference/internal/models/models.go:20-29, clamped in
internal/handlers/validation/resolver.go:54-82) map to `parallelism` /
`arrow_batch_rows` here.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from .config import ConfigError

# logical-plan node names that imply a shuffle boundary upstream; the
# match is anchored to the node-name position of an analyzed-plan line
# (tree-prefix chars then the operator), never free text in expressions
_SHUFFLE_NODE = re.compile(
    r"(?m)^[\s+:*!'-]*(?:Join|Aggregate|Window|Sort|Distinct|Deduplicate|"
    r"Repartition|RepartitionByExpression|Intersect|Except|GlobalLimit)\b"
)


def ensure_min_partitions(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Spread an under-partitioned input before CPU-heavy per-row work.

    Scan parallelism is set by the FILE layout, not by the work per
    row: a small table written as one row group (or one hot file)
    plans as a single input partition, and every downstream narrow
    stage — signature pandas UDFs, n-gram explodes — then runs on one
    core regardless of cluster size (measured at sf0.1: the 5000-doc
    documents.parquet is one row group, so the minhash signature UDF
    ran on 2 of 32 cores and a 260k-row n-gram explode took 11 s on
    one task).  The same lesson as verify._spread_for_python, one
    layer earlier: spread by WORK, not bytes.

    No-op when the plan already has >= the session's default
    parallelism partitions — at cluster scale a 100 TB scan has far
    more splits than cores and must NOT pay a pointless full shuffle;
    only degenerate layouts (tiny dimension tables, a single
    unsplittable row group) take the narrow repartition, whose cost is
    bounded by the projected input width.

    Call it on the NARROW projection (ids + the text/feature column),
    never on payload-bearing frames — `bytes` must not ride this
    shuffle either.

    Scan-rooted plans ONLY: a frame that already crossed a shuffle
    (join/aggregate/window/...) is returned untouched — AQE spreads
    shuffle outputs itself, and probing such a frame's partition count
    via ``df.rdd`` would finalize the adaptive plan, eagerly RUNNING
    the upstream exchange stages once for the probe and again for the
    real query (observed: streaming verify fns paying their semi-join
    key derivation twice per micro-batch).  On a narrow scan-rooted
    plan there is no exchange, so the probe runs no jobs.
    """
    analyzed = df._jdf.queryExecution().analyzed().toString()
    if _SHUFFLE_NODE.search(analyzed):
        return df
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _single_jvm(master: str) -> bool:
    """``local`` / ``local[N]`` / ``local[*]``: the driver JVM is the one
    executor, so its block manager lives exactly as long as the run.
    ``local-cluster`` is NOT single-JVM — it forks executor processes."""
    return master == "local" or master.startswith("local[")


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and cut its lineage — the engine's one pinning
    policy, derived from the master.

    Single-JVM masters get ``localCheckpoint``: blocks in the only
    executor's block manager, no file I/O.  Every other master
    (``local-cluster``, standalone, YARN, k8s) gets a reliable
    ``checkpoint`` under ``spark.checkpoint.dir`` (``get_spark``
    refuses such a session without one): a localCheckpoint block lives
    only on the executor that computed it, so losing that executor
    fails the next action with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, while
    checkpoint files on a shared filesystem survive it — the reliable
    checkpoints that cut lineage without giving up recovery (Zaharia et
    al., "Resilient Distributed Datasets", NSDI 2012).  ``eager=False``
    defers the materialization to the first action through the frame.
    """
    if _single_jvm(df.sparkSession.sparkContext.master):
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=eager)


def _driver_memory() -> str:
    """Half the machine's physical RAM, capped at 24g: in local mode the
    driver JVM is the executor too, and the Python workers need the
    other half — a heap larger than the box meets the OOM killer
    before it meets a GC."""
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    return f"{min(24, max(1, phys_gb // 2))}g"


def get_spark(
    app_name: str = "dude_spark",
    master: str | None = None,
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 1024,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for the dedup pipeline.

    Master resolution (round-1 ADVICE: never override spark-submit's
    master): an explicit ``master`` argument wins; otherwise, when the
    process was launched by spark-submit (detectable via the
    PYSPARK_GATEWAY_PORT env var PythonRunner sets on the driver), the
    builder sets NO master so ``--master``/``spark.master`` wins; only
    a bare ``python`` invocation falls back to ``local[N]``.

    Local-mode-only tuning (tmpfs shuffle dir, a driver heap of half
    the physical RAM up to 24g, shuffle partitions = parallelism) is
    applied only when a local master was resolved here — a cluster
    submission keeps its own ``--conf`` values.  Without a master or
    ``SPARK_GRAFT_CPUS`` the width is the cores this process may run on.

    A multi-executor master without ``spark.checkpoint.dir`` raises
    ConfigError before any job runs: ``pin`` checkpoints there.
    """
    under_spark_submit = master is None and "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_spark_submit:
        cpus = parallelism or int(
            os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        )
        master = f"local[{cpus}]"
    is_local = master is not None and master.startswith("local")
    if shuffle_partitions is None and is_local:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = int(master[6:-1])
        else:
            shuffle_partitions = 200

    # One BLAS thread per python worker: numpy's OpenBLAS pool defaults
    # to nproc THREADS PER WORKER, so N workers × N threads thrash the
    # moment any UDF touches BLAS (embedding matmuls) — measured 3×
    # aggregate slowdown at 32 procs (scripts/hw_control.py docstring).
    # Set in our env (local workers inherit it) AND executorEnv (cluster).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.executorEnv.OMP_NUM_THREADS", os.environ["OMP_NUM_THREADS"])
        .config(
            "spark.executorEnv.OPENBLAS_NUM_THREADS",
            os.environ["OPENBLAS_NUM_THREADS"],
        )
        .config("spark.executorEnv.MKL_NUM_THREADS", os.environ["MKL_NUM_THREADS"])
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescer floors partitions at minPartitionSize even
        # with parallelismFirst=true; at the default 1 MB a small-BYTE
        # but CPU-heavy stage (long-keyed pair shuffles, Python verify
        # kernels — 16 B/row says nothing about per-row cost) coalesces
        # to a handful of partitions and starves all but a few cores —
        # measured: a 100 s Python kernel on 3 of 32 cores, and the
        # same under-partitioning on JVM pair stages at n=600k.  64 KB
        # lets parallelismFirst actually reach defaultParallelism;
        # scheduling overhead for the extra tasks is microseconds
        # against the idle-core cost.  Same math on a 1000-executor
        # cluster, where defaultParallelism is huge and byte-floors
        # under-partition every CPU-bound stage.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # `bytes` rows can be large — cap Arrow batch row counts so a
        # batch of encoded images fits in python-worker memory
        # (reference analogue: BufSize bound, resolver.go:69-82).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.ui.enabled", "false")
        # reliable checkpoints (pin() on multi-executor masters) are
        # deleted once no frame references them
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    if is_local:
        # Shuffle/spill files on the RAM-backed tmpfs when present: on a
        # real cluster every added node brings its own local disks, so
        # per-slot shuffle bandwidth is constant as the cluster grows;
        # a single VM disk shared by all task slots is not — it caps
        # scaling at the device, not the code.  /dev/shm restores the
        # per-slot-constant model for local runs.
        builder = builder.config(
            "spark.local.dir",
            "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
        )
        # local mode: the driver JVM IS the executor — size it for the
        # whole working set (binary payload shuffles in verify joins).
        builder = builder.config("spark.driver.memory", _driver_memory())
        # G1 sizes regions from the max heap: below 16g it picks 2-4 MB
        # regions, and Spark's multi-MB buffers become humongous
        # allocations.  Measured on 4 cores: the pipeline + streaming
        # tests took 400-410 s at 7g/11g heaps, 345 s at 7g with 8 MB
        # regions, 347 s at 24g.
        builder = builder.config(
            "spark.driver.extraJavaOptions", "-XX:G1HeapRegionSize=8m"
        )
        # Shuffle-bytes diet (round-5 measurement): zstd cuts the
        # 4-detector pipeline's shuffle write ~25% vs lz4 (645→487 MB
        # at n=60k), and on the DRAM-bandwidth-saturated 32-wide leg
        # that buys wall time — interleaved same-window t32 A/B at
        # n=200k: zstd {46.4, 53.5, 44.9} s vs lz4 {81.0, 56.6, 50.1}
        # (every adjacent pairing, medians −18%) under an 0.828
        # hw ceiling — at the cost of ~9% extra compression CPU on the
        # bandwidth-unbound 8-core leg (medians 84.4 vs 77.4 s).  The
        # single-box scale proxy is the wide leg, so zstd is the local
        # default; override via SPARK_GRAFT_EXTRA_CONF.  Cluster
        # submissions keep their own --conf (network-bound shuffles
        # usually want compression even more).
        builder = builder.config("spark.io.compression.codec", "zstd")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # experiment hook: SPARK_GRAFT_EXTRA_CONF='{"spark.io.compression.
    # codec": "zstd", ...}' overrides any builder conf — lets pinned
    # benchmark subprocesses (scripts/scaling_bench.py workers) trial a
    # conf change without code edits; applied LAST so the experiment
    # wins.  Production clusters pass --conf to spark-submit instead.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json as _json

        for k, v in _json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    if not _single_jvm(sc.master) and sc.getCheckpointDir() is None:
        spark.stop()
        raise ConfigError(
            f"master {sc.master!r} runs several executors: set "
            "spark.checkpoint.dir to a path all of them can reach, e.g. "
            "--conf spark.checkpoint.dir=hdfs:///tmp/dude_spark-ckpt "
            "(pinned frames are checkpointed there)"
        )
    return spark
