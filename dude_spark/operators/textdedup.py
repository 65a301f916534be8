"""Exact text-dedup operators over a document table: n-gram Jaccard
pairs, asymmetric n-gram containment pairs, chunk-granularity corpus
dedup, and intra-document repeated-line removal.

The pair operators are the exact (non-probabilistic) siblings of D1
MinHash-LSH for corpora where candidate volume allows full
inverted-index joins: explode distinct word n-grams → self-join on
gram → count intersections → integer-arithmetic threshold filter.
Same blocking-then-verify shape as the reference's group-then-compare
(SURVEY.md §4 "Group-then-verify"), with the gram playing the bucket
role.

All-integer outputs (inter, union, a, b) so the DuckDB oracle hash in
``__spark_entry__`` matches bit-for-bit — Jaccard >= num/den is tested
as ``inter * den >= num * union`` with no floating point anywhere.

Scale levers: `max_gram_df` drops grams appearing in more than that
many documents (stopword-phrase hot keys — the skew analogue of the
candidates bucket cap); dropped grams are returned as a count, never
silently (SURVEY.md §2.2 rule).  At 10^12 docs this operator is the
wrong tool (candidate joins explode) — use D1 MinHash-LSH; this one is
the recall oracle at verification scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import _let, tokens, word_ngrams
from ..session import ensure_min_partitions
from .candidates import pin_hot_keys


def _doc_grams(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc, gram) — one row per distinct word n-gram per document,
    the inverted-index input shared by the jaccard and containment
    pair operators (the two MUST tokenize identically or a pair's
    counts diverge between them).

    Spreads an under-split scan first (one row group = one task for
    the tokenize/explode otherwise), then carries grams as xxhash64
    LONGS: the inverted-index self-join — the widest shuffle — moves
    8 bytes per gram instead of a ~n-word string.  Distinct-gram
    semantics are applied on the STRINGS (array_distinct before
    hashing); a 64-bit collision merging two grams of one pair shifts
    its counts with probability ~|grams|²/2^64 — immaterial (the same
    contract as verify_jaccard's hashed shingle sets).

    Ends in ONE explicit hash(gram) exchange (duplication_profile's
    ReusedExchange pattern, boilerplate.py:48-58): every consumer —
    self-join left AND right, the per-doc size aggregate, the
    hot-gram df count — reads those shuffle blocks instead of
    re-running the scan→tokenize→explode subtree, which is the
    dominant CPU of these operators and would otherwise execute once
    per consumer (3× at minimum).  The gram clustering satisfies the
    join and df-count requirements outright; the doc-keyed size agg
    re-exchanges 8+8-byte rows, paid once."""
    return ensure_min_partitions(
        docs.select(F.col(id_col).alias("doc"), F.col(text_col))
    ).select(
        "doc",
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("g"),
    ).select("doc", F.xxhash64("g").alias("gram")).repartition(F.col("gram"))


def _cut_hot_grams(
    grams: DataFrame, max_gram_df: int | None
) -> tuple[DataFrame, int]:
    """Drop grams whose document frequency exceeds ``max_gram_df``
    (stopword-phrase hot keys — the skew analogue of the candidates
    bucket cap); returns (grams, n_dropped).  Single-sourced for the
    jaccard and containment siblings so the cut's semantics (distinct
    -doc df, the eager count, the left_anti) can never diverge
    between them.  The hot table is pinned and counted once
    (``candidates.pin_hot_keys``) — the cut is never silent (SURVEY.md
    §2.2 rule) — and with no hot gram there is no anti-join at all."""
    if max_gram_df is None:
        return grams, 0
    _, hot, dropped = pin_hot_keys(
        grams.groupBy("gram")
        .agg(F.countDistinct("doc").alias("df"))
        .where(F.col("df") > max_gram_df)
        .select("gram")
    )
    if dropped:
        grams = grams.join(hot, "gram", "left_anti")
    return grams, dropped


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_num: int = 3,
    threshold_den: int = 10,
    max_gram_df: int | None = None,
) -> DataFrame:
    """(a, b, inter, union) for doc pairs with n-gram Jaccard >= num/den.

    a < b; inter/union are distinct-gram counts.  When `max_gram_df`
    is set, grams with document frequency above it are excluded from
    BOTH intersection and union (consistent semantics) — the returned
    DataFrame's ``.dropped_grams`` attribute reports how many.
    """
    grams, dropped = _cut_hot_grams(
        _doc_grams(docs, id_col, text_col, n), max_gram_df
    )
    sizes = grams.groupBy("doc").agg(F.count("*").alias("gsize"))
    left = grams.select(F.col("doc").alias("a"), "gram")
    right = grams.select(F.col("doc").alias("b"), "gram")
    inter = (
        left.join(right, "gram")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc").alias("a"), F.col("gsize").alias("sa")), "a")
        .join(sizes.select(F.col("doc").alias("b"), F.col("gsize").alias("sb")), "b")
        .withColumn("union", F.col("sa") + F.col("sb") - F.col("inter"))
        .where(F.col("inter") * threshold_den >= threshold_num * F.col("union"))
        .select("a", "b", "inter", "union")
    )
    out.dropped_grams = dropped  # type: ignore[attr-defined]
    return out


def chunk_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 10,
) -> DataFrame:
    """Chunk-granularity exact dedup (the tractable form of Lee et
    al. 2022's exact-substring dedup, and the batch analogue of
    CCNet's paragraph dedup for corpora without paragraph breaks):
    split every document into non-overlapping ``chunk_tokens``-token
    chunks, keep only each distinct chunk's FIRST corpus occurrence
    (min (doc_id, chunk_idx) — deterministic, append-stable for
    existing docs), and report the rebuilt per-document text.

    Returns (doc_id, n_chunks, n_kept, dedup_fp) — dedup_fp is the
    md5 of the kept chunks re-joined in document order (the PII-scrub
    rewrite-oracle trick: a full-text rewrite verified through one
    32-char column).  Documents whose every chunk appeared earlier
    collapse to md5('') with n_kept = 0; empty documents survive with
    n_chunks = 0.

    Scale shape: chunking is pure JVM (sequence + transform + slice
    over the token array bound once per row, no UDF); the dedup
    decision is ONE combinable min-struct aggregate keyed by
    xxhash64(chunk) — 8-byte shuffle keys, never the chunk text (a
    64-bit collision merges two distinct chunks with probability
    ~|chunks|²/2^64: the same documented contract as the gram hashing
    above).  The rebuild is a per-document aggregate
    whose buffer is bounded by that document's own chunk count.
    """
    w = int(chunk_tokens)

    def chunk_all(toks):
        n_chunks = F.ceil(F.size(toks) / F.lit(w)).cast("int")
        chunk_at = lambda i: F.array_join(F.slice(toks, i * w + 1, w), " ")
        return F.when(
            F.size(toks) > 0,
            F.transform(F.sequence(F.lit(0), n_chunks - 1), chunk_at),
        ).otherwise(F.array().cast("array<string>"))

    chunks = _let(tokens(F.col(text_col)), chunk_all)
    ex = ensure_min_partitions(
        docs.select(F.col(id_col).alias("doc"), F.col(text_col))
    ).select("doc", F.posexplode(chunks).alias("idx", "chunk"))
    ex = ex.withColumn("k", F.xxhash64("chunk"))
    first = ex.groupBy("k").agg(F.min(F.struct("doc", "idx")).alias("keeper"))
    flagged = ex.join(first, "k").withColumn(
        "keep", (F.col("doc") == F.col("keeper.doc")) & (F.col("idx") == F.col("keeper.idx"))
    )
    per_doc = flagged.groupBy("doc").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    # collect_list drops nulls, so the when() keeps
                    # only surviving chunks; array_sort on (idx, chunk)
                    # restores document order (idx is unique per doc)
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("idx", "chunk"))
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            )
        ).alias("dedup_fp"),
    )
    return (
        docs.select(F.col(id_col).alias("doc"))
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col("n_chunks"), F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("dedup_fp"), F.md5(F.lit(""))).alias("dedup_fp"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_num: int = 8,
    threshold_den: int = 10,
    max_gram_df: int | None = None,
) -> DataFrame:
    """(src, dst, inter, src_grams) — ORDERED pairs where at least
    num/den of src's distinct word n-grams also occur in dst: the
    asymmetric near-dup test Jaccard misses when lengths differ (a
    tweet quoted inside an article scores containment ≈ 1 but
    Jaccard ≈ |tweet|/|article| ≈ 0).  Emits both directions when
    both clear the threshold (mutual containment ≈ exact dup).

    All-integer filter — ``inter * den >= num * src_grams`` — so the
    DuckDB oracle hash matches bit-for-bit, like the jaccard sibling
    whose inverted index (``_doc_grams``) and ``max_gram_df``
    hot-gram cut (``_cut_hot_grams``, with the ``.dropped_grams``
    audit) this operator shares.  Same scale contract too: at 10^12 docs the
    candidate join explodes — use MinHash-LSH to propose candidates
    and this operator's math (via verify) to confirm; standalone it
    is the verification-scale tool.
    """
    grams, dropped = _cut_hot_grams(
        _doc_grams(docs, id_col, text_col, n), max_gram_df
    )
    sizes = grams.groupBy("doc").agg(F.count("*").alias("gsize"))
    left = grams.select(F.col("doc").alias("src"), "gram")
    right = grams.select(F.col("doc").alias("dst"), "gram")
    inter = (
        left.join(right, "gram")
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(
            sizes.select(F.col("doc").alias("src"), F.col("gsize").alias("src_grams")),
            "src",
        )
        .where(F.col("inter") * threshold_den >= threshold_num * F.col("src_grams"))
        .select("src", "dst", "inter", "src_grams")
    )
    out.dropped_grams = dropped  # type: ignore[attr-defined]
    return out


def dedup_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    text_out: str | None = None,
) -> DataFrame:
    """Intra-document repeated-line removal (the within-doc dedup
    pass web-curation pipelines run BEFORE corpus-level dedup —
    RefinedWeb/Dolma drop exact duplicate lines inside a page:
    navigation chrome, repeated headers, share-bar text): keep each
    distinct line's FIRST occurrence, preserve order, rebuild.

    Returns (doc_id, n_lines, n_kept, dedup_fp) — the exact output
    contract of ``chunk_dedup`` (dedup_fp = md5 of the rebuilt text,
    the rewrite-oracle trick), so the two compose with the same
    downstream audits; pass ``text_out`` to ALSO materialize the
    rebuilt text under that column (the corpus-rewrite form the CLI
    writes — kept out of the default projection so the oracle query
    never ships full text through the compare).  NULL text →
    n_lines 0 / md5('') / NULL rebuilt; empty text is one empty line
    (kept).  Later duplicates of an empty line collapse too — that
    is paragraph-gap normalization, and the contract.

    Scale shape: ZERO shuffle — split / filter-with-index /
    array_join are all JVM functions evaluated per row, so the
    operator rides the scan like the text-signal functions.  The
    first-occurrence test (one full-array array_position per line
    over the split bound once, no prefix-array copies) is O(L²)
    element compares in a document's line count — at 10^3 lines that
    is ~10^6 cheap compares per doc, noise next to tokenizing the
    same doc; a pathological 10^6-line document wants the explode →
    min(pos) → rebuild shuffle form instead (chunk_dedup's shape with
    doc_id in the key), which this module would grow behind a
    ``max_lines`` switch if such corpora show up.
    """
    lines, kept = _kept_lines(F.col(text_col), sep)
    cols = [
        F.col(id_col),
        F.coalesce(F.size(lines), F.lit(0)).cast("long").alias("n_lines"),
        F.coalesce(F.size(kept), F.lit(0)).cast("long").alias("n_kept"),
        F.md5(F.coalesce(F.array_join(kept, sep), F.lit(""))).alias("dedup_fp"),
    ]
    if text_out is not None:
        cols.append(F.array_join(kept, sep).alias(text_out))
    return docs.select(*cols)


def _kept_lines(text, sep: str):
    """(lines, kept) column pair: the split array and its
    first-occurrence filter — the single source of the line-dedup
    semantics for both the stats operator and the in-place rewrite.

    The filter keeps element i iff the FULL array's first occurrence
    of its value is at position i+1 (1-based) — equivalent to a
    prefix search, with no per-element prefix-array copies: one
    array_position scan per line, O(L²) element compares worst-case.
    The split is bound once (``_let``); captured in the lambda as an
    expression it would be re-split for every line."""
    import re as _re

    lines = F.split(text, _re.escape(sep), -1)
    kept = _let(
        lines,
        lambda ls: F.filter(ls, lambda x, i: F.array_position(ls, x) == i + 1),
    )
    return lines, kept


def dedup_lines_text(text, sep: str = "\n"):
    """Rebuilt-text Column with repeated lines removed (first
    occurrence kept, order preserved) — ``dedup_lines``'s rewrite as
    a bare expression, for in-place corpus rewrites
    (``df.withColumn(text_col, dedup_lines_text(...))``) that keep
    the rest of the schema without an id join; NULL text stays NULL.
    Zero shuffle: evaluates per row."""
    _, kept = _kept_lines(text, sep)
    return F.array_join(kept, sep)
