"""Scale-safe global ranking — exact ntile without a global-order window.

``Window.orderBy(...)`` with no ``partitionBy`` forces every row through
ONE task (Spark plans it as a SinglePartition window exchange): correct
at any SF that fits one executor, a hard wall at 10^12 rows.  The
classic distributed alternative reproduces the exact same integers in
two narrow jobs (the same shape as operators/ids.py dense rank):

  1. range-repartition on the order columns (samples boundaries, no
     global sort), sort within partitions, pin the layout
     (``session.pin``; repartitionByRange resamples per action — without
     pinning, the count job and the enumerate job could disagree);
  2. count rows per partition (map-side combinable, #partitions rows to
     the driver), cumulate into per-partition rank offsets;
  3. one mapInPandas pass assigns rank = offset + local index, and the
     tile follows arithmetically from (rank, total, n_tiles) — the
     documented ntile split: the first ``total % n`` tiles get
     ``total // n + 1`` rows, the rest ``total // n``.

Reference analogue: none — DuDe has no ranking surface; this exists for
the analytics queries (__spark_entry__.q_length_deciles), any future
percentile/quantile operator, and as THE order-based primitive behind
operators/ids.encode_ids and operators/packing.pack_sequences (one
kernel: 0-based rank when unweighted, exclusive prefix sum when a
weight column is given — the per-partition pass swaps COUNT for SUM).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..session import pin


def with_global_rank(
    df: DataFrame, order_cols: Sequence[str], out_col: str = "rn",
    partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = 0-based global row number under
    ``ORDER BY *order_cols`` (ties broken by the caller including a
    unique column, exactly as a window's row_number would require).
    No single-partition exchange at any input size."""
    return _with_global_rank(df, order_cols, out_col, partitions)[0]


def _with_global_rank(
    df: DataFrame, order_cols: Sequence[str], out_col: str = "rn",
    partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """:func:`with_global_rank` plus the exact total row count — the
    per-partition count pass already knows it, so callers that need the
    scalar (ntile arithmetic) must not pay a second full pass through
    the Python rank kernel to re-derive it."""
    return _with_running(df, order_cols, out_col, partitions, weight_col=None)


def with_running_total(
    df: DataFrame, order_cols: Sequence[str], weight_col: str,
    out_col: str = "running", partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = the EXCLUSIVE prefix sum of ``weight_col``
    under ``ORDER BY *order_cols`` — exactly ``sum(w) OVER (ORDER BY ...
    ROWS UNBOUNDED PRECEDING) - w`` — with no single-partition window at
    any input size (same two-pass shape as :func:`with_global_rank`;
    the per-partition pass sums weights instead of counting rows).

    ``weight_col`` must be non-negative integers with no NULLs (checked
    inside the same per-partition aggregate, no extra pass) — the
    operator exists for token budgets, where a NULL weight is an
    upstream bug, not a zero."""
    return _with_running(df, order_cols, out_col, partitions, weight_col)[0]


def _with_running(
    df: DataFrame, order_cols: Sequence[str], out_col: str,
    partitions: int | None, weight_col: str | None,
) -> tuple[DataFrame, int]:
    """Shared two-pass kernel: 0-based row number (weight_col None) or
    exclusive weighted prefix sum; returns (df + out_col, grand total)."""
    cols = list(order_cols)
    if partitions:
        part = df.repartitionByRange(partitions, *[F.col(c) for c in cols])
    else:
        part = df.repartitionByRange(*[F.col(c) for c in cols])
    part = pin(part.sortWithinPartitions(*cols))
    aggs = [F.count("*").alias("n")]
    if weight_col is not None:
        w = F.col(weight_col).cast("long")
        aggs += [F.sum(w).alias("s"), F.min(w).alias("mn"),
                 F.count(w).alias("nw")]
    stats = (
        part.groupBy(F.spark_partition_id().alias("pid")).agg(*aggs).collect()
    )
    if weight_col is not None:
        bad_null = sum(r["n"] - r["nw"] for r in stats)
        mins = [r["mn"] for r in stats if r["mn"] is not None]
        if bad_null or (mins and min(mins) < 0):
            raise ValueError(
                f"weight column {weight_col!r} must be non-negative with "
                f"no NULLs ({bad_null} NULLs, min "
                f"{min(mins) if mins else 'n/a'})"
            )
    per_pid = {
        r["pid"]: ((r["s"] or 0) if weight_col is not None else r["n"])
        for r in stats
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(per_pid):
        offsets[pid] = acc
        acc += per_pid[pid]

    # fresh StructType — StructType.add MUTATES the df's cached schema
    # object, making Python think the input already has out_col
    schema = StructType(
        list(part.schema.fields) + [StructField(out_col, LongType())]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        nxt = offsets.get(TaskContext.get().partitionId(), 0)
        for pdf in batches:
            pdf = pdf.copy()
            if weight_col is None:
                n = len(pdf)
                pdf[out_col] = np.arange(nxt, nxt + n, dtype=np.int64)
                nxt += n
            else:
                wv = pdf[weight_col].to_numpy(dtype=np.int64)
                pdf[out_col] = nxt + np.cumsum(wv) - wv  # exclusive
                nxt += int(wv.sum())
            yield pdf

    return part.mapInPandas(assign, schema), acc


def ntile_exact(
    df: DataFrame, n_tiles: int, order_cols: Sequence[str],
    out_col: str = "tile",
) -> DataFrame:
    """Append ``out_col`` = the exact integer ``ntile(n_tiles) OVER
    (ORDER BY *order_cols)`` would produce (1-based), computed via
    :func:`with_global_rank` — bit-identical to the window at every
    size, single-partition-free at every size.

    ntile's documented split for ``total`` rows: ``rem = total %
    n_tiles`` tiles of size ``base + 1`` first (``base = total //
    n_tiles``), then tiles of size ``base``; when ``base == 0`` each of
    the first ``total`` tiles holds exactly one row.
    """
    # the rank pass's per-partition count job already knows the total —
    # a ranked.count() here would push the whole input through the
    # Python rank kernel a second time (MapInPandas may change
    # cardinality, so Spark cannot skip it for a count)
    ranked, n_total = _with_global_rank(df, order_cols, out_col="__rn")
    base, rem = divmod(n_total, n_tiles)
    rn = F.col("__rn")
    if base == 0:
        tile = rn + F.lit(1)
    else:
        cut = rem * (base + 1)  # rows living in the fat tiles
        # integer DIV, not float /: at 10^12 ranks a float64 quotient
        # can land 1 ulp under the integer and mis-tile the boundary row
        tile = (
            F.when(rn < cut, F.expr(f"__rn DIV {base + 1}"))
            .otherwise(rem + F.expr(f"(__rn - {cut}) DIV {base}"))
            + F.lit(1)
        )
    return ranked.withColumn(out_col, tile.cast("long")).drop("__rn")


def grouped_topk(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    k: int,
    n_salt: int = 32,
) -> DataFrame:
    """Exact top-k rows PER GROUP without a per-group window task.

    Keeps, for every distinct ``group_cols`` value, the ``k`` smallest
    rows under the ascending lexicographic order of ``order_cols``
    (negate a numeric column for descending; include a unique column
    for a total order — the same caller contract as
    :func:`with_global_rank`).  Appends 1-based ``rank``.

    The textbook ``row_number().over(partitionBy(group))`` filter
    streams a hot group's every row through ONE WindowExec task — the
    group_results lesson.  Here the group never meets a window:

      stage 1  groupBy(group, salt) where salt = pmod(xxhash64(all
               order cols), n_salt): collect, sort, SLICE to k.  A
               group of M rows puts ~M/n_salt in any one aggregation
               buffer, and Spark's partial aggregation merges slices
               map-side.
      stage 2  explode the per-salt survivors (≤ n_salt·k rows per
               group) and repeat the same agg keyed by group alone —
               the final buffer is bounded by n_salt·k regardless of
               group size.

    Both stages are ordinary combinable hash aggregates; correctness
    does not depend on the salt spread (any salt assignment yields the
    same global top-k because per-salt top-k over-approximates).
    Size ``n_salt`` ≈ hot-group-rows / target-buffer-rows at the
    operating SF; k·n_salt stays driver-irrelevant (nothing collects).
    """
    k = int(k)
    group = [F.col(c) for c in group_cols]
    payload = F.struct(
        *[F.col(c) for c in order_cols],
        F.struct(*[F.col(c) for c in df.columns]).alias("_row"),
    )
    topk = lambda col: F.slice(F.array_sort(col), 1, k)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(int(n_salt)))
    stage1 = (
        df.groupBy(*group, salt.alias("_salt"))
        .agg(topk(F.collect_list(payload)).alias("_top"))
        .select(*group, F.explode("_top").alias("_p"))
    )
    stage2 = (
        stage1.groupBy(*group)
        .agg(topk(F.collect_list("_p")).alias("_top"))
        .select(*group, F.posexplode("_top").alias("_rank0", "_p"))
    )
    return stage2.select(
        F.col("_p._row.*"),
        (F.col("_rank0") + 1).cast("long").alias("rank"),
    )


def grouped_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    quantiles_x1000: Sequence[int] = (100, 500, 900),
    out_prefix: str = "p",
) -> DataFrame:
    """Exact per-group quantile THRESHOLDS from a value histogram —
    one row per group: ``(group…, n_rows, p100, p500, p900, …)`` where
    ``p{q}`` is the smallest value v in the group with
    ``count(rows ≤ v) · 1000 ≥ q · n_rows`` (the discrete lower
    quantile; all-integer, so the DuckDB oracle hashes bit-for-bit).

    The curation use: per-domain cutoffs — "drop each source's bottom
    length decile", "cap quality at each language's p90" — where one
    GLOBAL threshold (length_deciles) misclassifies whole domains
    whose distributions sit above or below the corpus norm.

    Scale shape: rows reduce to a (group, value) HISTOGRAM first — one
    combinable count aggregate, so the window that follows runs over
    DISTINCT VALUES per group, never rows (10^9 docs with a 1-5000
    char-length range = ≤5000 window rows per group).  The group total
    is max(cum) — no second aggregate pass over rows.  Contract: the
    value should be integer-binned (lengths, per-milles, token counts
    — every signal this repo emits); quantize continuous scores first
    or the histogram degenerates toward row count.  NULL values are
    excluded from both counts and thresholds.
    """
    qs = [int(q) for q in quantiles_x1000]
    if not qs or any(not 0 < q <= 1000 for q in qs):
        raise ValueError(
            f"quantiles_x1000 must be in (0, 1000], got {quantiles_x1000}"
        )
    if len(set(qs)) != len(qs):
        raise ValueError(f"duplicate quantiles in {quantiles_x1000}")
    group = [F.col(c) for c in group_cols]
    v = F.col(value_col)
    hist = (
        df.where(v.isNotNull())
        .groupBy(*group, v)
        .agg(F.count("*").cast("long").alias("_c"))
    )
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("_cum", F.sum("_c").over(w_cum)).withColumn(
        # group total = max cum, from the SAME partition the cum window
        # already built — no second aggregate pass over the histogram
        "_n",
        F.max("_cum").over(Window.partitionBy(*group_cols)),
    )
    return cum.groupBy(*group).agg(
        F.max("_n").cast("long").alias("n_rows"),
        *[
            F.min(
                F.when(
                    F.col("_cum") * F.lit(1000) >= F.lit(q) * F.col("_n"), v
                )
            ).cast("long").alias(f"{out_prefix}{q}")
            for q in qs
        ],
    )
