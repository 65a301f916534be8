"""Cross-document boilerplate detection and span removal.

The C4 preprocessing step (Raffel et al. 2020: discard any
three-sentence span occurring more than once in the corpus),
re-expressed for a single-line caption/document corpus where the unit
is the n-TOKEN window: a span is boilerplate when the same n-gram
occurs in >= ``min_df`` distinct documents — headers, license lines,
templated prefixes; text that repeats verbatim ACROSS documents is
navigation/chrome, not content.

Two operators sharing one detection pass:

  boilerplate_ngrams   (gram, df) — every n-gram with document
                       frequency >= min_df; the diagnostic table an
                       operator inspects before committing to removal.
  strip_boilerplate    rewrite: drop every token covered by at least
                       one hot-gram occurrence, plus a per-doc audit
                       of how many tokens were removed (removal is
                       never silent — the filters/decontam rule).

Scale shape (all JVM, no Python workers, no driver collects):
  - detection shuffles xxhash64 LONGS of per-doc-distinct grams with
    map-side combine — one 8-byte-key exchange, the textdedup.py
    convention.  Hot-gram STRINGS are recovered by broadcast-joining
    the (small) hot hash set back against a map-side re-explode, so
    gram text never rides the wide shuffle.
  - removal broadcast-joins the hot hashes against an all-positions
    explode (map-side), so only MATCHING (doc, position) rows — i.e.
    actual boilerplate occurrences — move in the per-doc coverage
    aggregation; the rewrite itself is higher-order array functions
    (filter-with-index + exists) inside codegen.
  - hash-collision contract (shared with ngram_jaccard_pairs /
    verify_jaccard): a 64-bit collision can only ADD a false hot gram
    (over-removal of one window), probability ~|grams|^2 / 2^64.

Semantics notes: coverage counts EVERY occurrence of a hot gram (df
counts distinct docs, removal removes all instances, including
repeats within one doc); removal is single-pass — tokens adjacent
across a removed span may form NEW n-grams in the rewritten text,
exactly as C4's line removal can create new sentence adjacencies.
Docs shorter than n tokens are never touched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens, word_ngrams
from ..session import ensure_min_partitions, pin
from .candidates import pin_hot_keys

# hot-set size above which the broadcast hint is dropped and the probe
# joins as a shuffle join instead: boilerplate is small by definition,
# but a low min_df on a near-dup-heavy 10^12-doc corpus can flag tens
# of millions of grams — a broadcast that large belongs on the shuffle
# path (both sides big means the data movement is genuinely required).
# Every hot set here is pinned and counted by candidates.pin_hot_keys,
# which applies this cap; it is read at call time.
BROADCAST_HOT_CAP = 2_000_000


def _doc_grams(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, gram) — per-doc DISTINCT n-gram strings, scan spread."""
    return ensure_min_partitions(
        docs.select(F.col(id_col).alias("doc"), F.col(text_col))
    ).select(
        "doc",
        F.explode(
            F.array_distinct(word_ngrams(F.col(text_col), n))
        ).alias("gram"),
    )


def _hot_hashes(doc_grams: DataFrame, min_df: int) -> DataFrame:
    """(gh, df) for grams in >= min_df DISTINCT docs; the only wide
    shuffle, 8-byte keys.  countDistinct (not count(*)): _doc_grams'
    array_distinct dedupes within a row, but a corpus with the same
    doc id ingested twice — exactly the pre-dedup input this engine
    targets — would otherwise inflate df and let min_df=2 classify a
    duplicated doc's UNIQUE content as boilerplate."""
    return (
        doc_grams.select("doc", F.xxhash64("gram").alias("gh"))
        .groupBy("gh")
        .agg(F.countDistinct("doc").cast("long").alias("df"))
        .where(F.col("df") >= min_df)
    )


def boilerplate_ngrams(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """(gram, df): every n-token gram appearing in >= ``min_df``
    distinct documents, with its document frequency."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_df < 2:
        raise ValueError(
            f"min_df must be >= 2 (1 would flag every gram), got {min_df}"
        )
    doc_grams = _doc_grams(docs, id_col, text_col, n)
    # pinned: the count and the join's hot side read one detection
    # pass — without the pin each re-runs the whole explode→hash→
    # aggregate detection shuffle (measured 2.5× the single-pass wall
    # at sf0.1)
    _, hot, _ = pin_hot_keys(_hot_hashes(doc_grams, min_df), BROADCAST_HOT_CAP)
    # recover the strings map-side: re-explode, broadcast the hot hash
    # set, keep one row per (gram, df) — only hot gram strings shuffle
    # (through the distinct), and boilerplate is small by definition
    return (
        doc_grams.select("gram", F.xxhash64("gram").alias("gh"))
        .join(hot, "gh")
        .select("gram", "df")
        .distinct()
    )


def strip_boilerplate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_df: int = 2,
    hot_grams: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(stripped, audit): ``stripped`` is ``docs`` with ``text_col``
    rewritten — every token covered by any occurrence of a hot gram
    removed, survivors rejoined with single spaces (schema otherwise
    unchanged); ``audit`` is (id_col, removed_tokens) for every doc
    that lost tokens.

    ``hot_grams`` lets the inspect-then-remove workflow share ONE
    detection pass: pass ``boilerplate_ngrams``'s output (ideally
    re-read from storage so it is materialized — the CLI pattern) and
    detection is not recomputed; ``min_df`` is then ignored for
    detection (it was applied when the table was built)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_df < 2:
        raise ValueError(
            f"min_df must be >= 2 (1 would strip every doc), got {min_df}"
        )
    if hot_grams is not None:
        hot = hot_grams.select(F.xxhash64("gram").alias("gh"))
    else:
        hot = _hot_hashes(_doc_grams(docs, id_col, text_col, n), min_df)
    _, hot, _ = pin_hot_keys(hot.select("gh"), BROADCAST_HOT_CAP)

    # all window positions this time (coverage removes every
    # occurrence); the broadcast join filters map-side, so the
    # per-doc collect_set aggregation only ever sees hot matches
    positions = (
        ensure_min_partitions(
            docs.select(F.col(id_col).alias("__doc"), F.col(text_col))
        )
        .select(
            "__doc",
            F.posexplode(word_ngrams(F.col(text_col), n)).alias(
                "pos", "gram"
            ),
        )
        .select("__doc", "pos", F.xxhash64("gram").alias("gh"))
        .join(hot, "gh")
        .groupBy("__doc")
        .agg(F.collect_set("pos").alias("__starts"))
    )

    joined = docs.join(
        positions, F.col(id_col) == F.col("__doc"), "left"
    ).drop("__doc")
    starts = F.coalesce(
        F.col("__starts"), F.array().cast("array<int>")
    )

    def covered(_, i):
        return F.exists(starts, lambda s: (s <= i) & (i < s + F.lit(n)))

    # each column reads the token array once: the removed count is the
    # covered tokens, not len(tokens) - len(kept), so neither it nor
    # the audit filter pushed down onto it re-splits the document
    toks = tokens(F.col(text_col))
    rewritten = joined.withColumn(
        "__removed", F.size(F.filter(toks, covered)).cast("long")
    ).withColumn(
        text_col,
        F.when(F.col("__starts").isNull(), F.col(text_col)).otherwise(
            F.concat_ws(" ", F.filter(toks, lambda t, i: ~covered(t, i)))
        ),
    )
    stripped = rewritten.select(*docs.columns)
    audit = (
        rewritten.where(F.col("__removed") > 0)
        .select(F.col(id_col), F.col("__removed").alias("removed_tokens"))
    )
    return stripped, audit


def duplication_profile(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """(id_col, n_grams, dup_grams, dup_x1000) per document with at
    least one n-gram: how much of each document's DISTINCT n-gram set
    also occurs in >= ``min_df`` distinct documents corpus-wide.

    The per-document form of Lee et al. 2022's corpus duplication
    measurements ("Deduplicating Training Data Makes Language Models
    Better" reports the train-set fraction of duplicated 50-grams as
    a corpus statistic): ``boilerplate_ngrams`` answers "WHICH spans
    repeat", this answers "HOW MUCH of each doc is repeated material"
    — the ranking signal for dedup triage (dup_x1000 = 1000 → a full
    near-copy; ~0 → unique content) and the natural weight column for
    ``weighted_sample``'s quality-weighted downsampling.

    Semantics: grams are per-doc DISTINCT (a doc repeating its own
    phrase is ``repetition_signals``' business, not duplication); df
    counts DISTINCT docs, so with ``min_df=2`` a gram is "duplicated"
    iff at least one OTHER document contains it.  ``dup_x1000`` is
    TRUE integer division (the vocab_coverage ``div`` contract), so
    the DuckDB oracle replays the identical integer op.  Docs shorter
    than ``n`` tokens have no grams and are absent by contract.

    Scale shape: one explode→hash pass feeds (a) the df aggregate —
    map-side-combinable count over xxhash64 LONGS, the module's
    8-byte-key shuffle convention — and (b) the gram-keyed join that
    attaches df back to each (doc, gram); the per-doc rollup is then
    one combinable (count, conditional count) aggregate.  No windows,
    no Python workers, no driver collects.  A stopword-phrase hot
    gram skews the attach join's key (its build row fans out to every
    probe row) — per-key output equals input, so this is partition
    imbalance for AQE skew-split, never a blowup.  Hash-collision
    contract (shared with _hot_hashes): a 64-bit collision can only
    INFLATE a gram's df — one unique gram misclassified duplicated
    with probability ~|grams|²/2^64.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_df < 2:
        raise ValueError(
            f"min_df must be >= 2 (1 would mark every gram), got {min_df}"
        )
    # ONE explicit gh exchange serves BOTH consumers (plan-asserted
    # ReusedExchange in tests): hash(gh) partitioning satisfies the
    # distinct-rewrite's (gh, doc) clustering — a subset of the keys
    # clusters the superset — AND the attach join's gh requirement, so
    # the scan→explode→hash subtree executes exactly once and neither
    # consumer adds a second wide shuffle of the gram table.  (NOT a
    # pin: a lazy one truncates lineage mid-job and floods
    # the log with non-existent-accumulator errors from the
    # still-finishing pre-checkpoint stages; an eager one materializes
    # |grams| rows to executor disk that the reused exchange already
    # holds as shuffle blocks.)
    dg = (
        _doc_grams(docs, id_col, text_col, n)
        .select("doc", F.xxhash64("gram").alias("gh"))
        .repartition("gh")
    )
    df_tab = dg.groupBy("gh").agg(
        F.countDistinct("doc").cast("long").alias("df")
    )
    return (
        dg.join(df_tab, "gh")
        .groupBy("doc")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum((F.col("df") >= min_df).cast("long"))
            .cast("long")
            .alias("dup_grams"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_grams",
            "dup_grams",
            F.expr("dup_grams * 1000L div n_grams")
            .cast("long")
            .alias("dup_x1000"),
        )
    )


def strip_common_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 5,
    sep: str = "\n",
    text_out: str | None = None,
) -> DataFrame:
    """Cross-document duplicate-LINE removal — the CCNet/RefinedWeb
    nav-chrome pass at line granularity: drop every line occurring in
    >= ``min_df`` DISTINCT documents (cookie banners, menus, footers,
    share-bar text), keep everything else in original order, rebuild.
    Completes the line family: ``textdedup.dedup_lines`` removes
    repeats WITHIN a doc, this removes lines repeated ACROSS docs;
    ``boilerplate_ngrams`` is the token-window sibling for corpora
    without line structure.

    Returns (id, n_lines, n_removed, strip_fp) with strip_fp = md5 of
    the rebuilt text — the chunk_dedup/dedup_lines rewrite-oracle
    contract; ``text_out`` additionally materializes the rebuilt text.
    Blank/whitespace-only lines are NEVER hot (they would cross any
    df threshold instantly and collapse all formatting); a doc whose
    every line is hot rebuilds to '' (md5('')); NULL text → n_lines 0,
    md5(''), NULL rebuilt.

    Scale shape: df detection is one 8-byte-key combine shuffle over
    per-doc-distinct line hashes (countDistinct doc — the _hot_hashes
    double-ingest rationale); the hot set joins back broadcast-or-
    shuffle via ``candidates.pin_hot_keys``; the rewrite is the chunk_dedup
    explode → left_anti → per-doc rebuild, whose aggregation buffer
    is bounded by each doc's own line count.  Hash-collision
    contract as everywhere: a 64-bit collision can only remove one
    innocent line (~|lines|²/2^64); the driver oracle joins line
    STRINGS, so a hash-key defect cannot hide.
    """
    import re as _re

    if min_df < 2:
        raise ValueError(f"min_df must be >= 2, got {min_df}")
    base = docs.select(F.col(id_col).alias("_id"), F.col(text_col))
    # lazy checkpoint (the boilerplate_ngrams rationale, measured
    # there at 2.5x): `lines` feeds THREE consumers (the df detection
    # chain, the per-doc stats aggregate, the anti-join's probe side)
    # — without pinning, each consumer re-runs the scan -> split ->
    # explode from scratch
    lines = pin(
        ensure_min_partitions(base).select(
            "_id",
            F.posexplode(F.split(F.col(text_col), _re.escape(sep), -1)).alias(
                "_pos", "_line"
            ),
        ).withColumn("_lh", F.xxhash64("_line")),
        eager=False,
    )
    _, hot, _ = pin_hot_keys(
        lines.where(F.trim(F.col("_line")) != "")
        .select("_id", "_lh")
        .distinct()
        .groupBy("_lh")
        .agg(F.countDistinct("_id").cast("long").alias("_df"))
        .where(F.col("_df") >= min_df)
        .select("_lh"),
        BROADCAST_HOT_CAP,
    )
    kept = lines.join(hot, "_lh", "left_anti")
    stats = lines.groupBy("_id").agg(F.count("*").cast("long").alias("n_lines"))
    reb = kept.groupBy("_id").agg(
        F.count("*").cast("long").alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda e: e.getField("_line"),
            ),
            sep,
        ).alias("_rebuilt"),
    )
    out = (
        base.select("_id")
        .join(stats, "_id", "left")
        .join(reb, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines"),
            (
                F.coalesce(F.col("n_lines"), F.lit(0))
                - F.coalesce(F.col("_n_kept"), F.lit(0))
            ).cast("long").alias("n_removed"),
            F.md5(
                F.when(
                    F.coalesce(F.col("n_lines"), F.lit(0)) == 0, F.lit("")
                ).otherwise(F.coalesce(F.col("_rebuilt"), F.lit("")))
            ).alias("strip_fp"),
            *(
                [
                    F.when(
                        F.coalesce(F.col("n_lines"), F.lit(0)) > 0,
                        F.coalesce(F.col("_rebuilt"), F.lit("")),
                    ).alias(text_out)
                ]
                if text_out is not None
                else []
            ),
        )
    )
    return out
