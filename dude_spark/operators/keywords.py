"""Corpus-statistics term scoring: TF-IDF top terms per document and
the rare-term (hapax) ratio — two curation signals computed from ONE
shared (doc, term, tf, df) statistic.

``tfidf_topk`` answers "what is this document about" with the k
highest-scoring terms per doc — the feature extraction step for
domain classification, topic-balanced sampling, and near-dup triage
("two docs share all top terms" is a cheap pre-filter).  The score is
the RATIONAL tf-idf ``tf * ((n_docs * 1000) div df)`` — an all-integer
contract (same integerization style as vocab_coverage's ``cov_x1000``)
so the DuckDB oracle hashes bit-for-bit: ``log`` is deliberately
absent because libm's ``log`` is not required to be correctly rounded
and a one-ulp divergence between the JVM and DuckDB would flip a
``floor`` at an integer boundary.  Rational idf preserves the signal's
shape (monotone decreasing in df, scaled by corpus size); callers who
want classic log-idf for ranking-quality reasons can post-multiply —
the expensive part, the distributed (tf, df) statistic, is identical.

``rare_term_ratio`` answers "is this document made of tokens this
corpus has never seen elsewhere" — the hapax-legomenon ratio, a
corpus-relative gibberish detector (OCR junk, mojibake, random-string
spam score near 1000; ordinary prose near 0).  It is the complement of
vocab_coverage's top-K membership signal: coverage asks "how much of
the doc is COMMON", this asks "how much is UNIQUE", and the two
disagree exactly on the mid-frequency band where both are cheap proxies
for perplexity (CCNet, Wenzek et al. 2020).

Scale shape (the point at 10^12 docs):

* ONE tokenize → (doc, term) count aggregate — the canonical word-count
  shuffle, map-side combinable.  The result is term-repartitioned and
  LAZILY pinned so every term-keyed consumer — the df
  aggregate AND the tf⋈df score join — reads one materialization
  instead of re-running scan→tokenize→explode (the consumers prune
  different columns, which defeats plain ReusedExchange — the
  duplication_profile lesson, boilerplate.py).
* df needs no countDistinct: the tf frame is already unique per
  (doc, term), so document frequency is a plain combinable count.
* Terms ride the shuffles as STRINGS, unlike the pair operators' hashed
  longs, because the top-k tie-break contract is ``score DESC, term
  ASC`` — the string must exist at rank time, and hashing it would make
  the user-facing ordering hash-defined.  If the vocabulary shuffle
  ever dominates, the id-dictionary seam (operators/ids.py) applies
  unchanged with the attach join moved before grouped_topk.
* Per-doc top-k goes through ``grouped_topk`` (functions/ranking.py) —
  two salted combinable aggregates, never a per-group window task, so
  a degenerate doc with 10^6 distinct terms is a bounded buffer, not a
  straggler.
* ``n_docs`` (docs with ≥1 token) attaches as a broadcast 1-row frame,
  never a driver collect.

Reference analogue: none — DuDe has no content statistics; this is
north-star LLM-pipeline scope (SURVEY.md §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ranking import grouped_topk
from ..session import pin
from .vocab import _tokens


def _term_stats(
    docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """((doc, term, tf, df), n_docs 1-row frame) — the shared statistic.

    tf counts token OCCURRENCES per (doc, term); df counts DOCUMENTS
    per term (a plain count over the per-doc-unique tf frame).  The tf
    frame is LAZILY pinned (the duplication_profile
    pattern, boilerplate.py): its consumers — the df aggregate, the
    score join's probe side, and the n_docs scalar — prune DIFFERENT
    column sets, so Catalyst pushes distinct projections into the
    exchange subtree and ReusedExchange never fires (measured: five
    scan→tokenize→explode executions of the same subtree without the
    checkpoint, one with).  Lazy, so building the frame costs nothing
    until the query's own first action materializes it once.
    """
    tf = pin(
        _tokens(docs, text_col, F.col(id_col).alias("doc"))
        .groupBy("doc", "token")
        .agg(F.count("*").cast("long").alias("tf"))
        .repartition(F.col("token")),
        eager=False,
    )
    df = tf.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    n_docs = tf.select(F.countDistinct("doc").alias("n_docs"))
    return tf.join(df, "token"), n_docs


def tfidf_topk(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_salt: int = 32,
) -> DataFrame:
    """(doc_id, term, tf, df, score, rank): the k top terms per doc by
    rational tf-idf ``score = tf * ((n_docs * 1000) div df)``, ties
    broken by term ASC, rank 1-based.

    Docs with no tokens are absent (they have no terms to rank).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    stats, n_docs = _term_stats(docs, id_col, text_col)
    scored = (
        stats.crossJoin(F.broadcast(n_docs))
        # true integer division (`div`): both engines compute the same
        # integer op — floor(double division) could round differently
        # at an exact-integer boundary past 2^53
        .withColumn("idf_x1000", F.expr("n_docs * 1000L div df"))
        .withColumn("score", (F.col("tf") * F.col("idf_x1000")).cast("long"))
        .withColumn("neg_score", -F.col("score"))
    )
    return grouped_topk(
        scored, ["doc"], ["neg_score", "token"], k=k, n_salt=n_salt
    ).select(
        F.col("doc").alias(id_col),
        F.col("token").alias("term"),
        "tf",
        "df",
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def rare_term_ratio(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 1,
) -> DataFrame:
    """(doc_id, n_tokens, n_terms, rare_x1000) per doc with ≥1 token:
    the per-mille of token occurrences whose term has corpus document
    frequency ≤ ``max_df`` (default 1 = strict hapax: the term occurs
    in no other document).

    rare_x1000 near 1000 flags corpus-relative junk; 0 means every
    token also appears elsewhere.  All-integer (`div`) contract.
    """
    if max_df < 1:
        raise ValueError(f"max_df must be >= 1, got {max_df}")
    stats, _ = _term_stats(docs, id_col, text_col)
    return (
        stats.groupBy("doc")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_terms"),
            F.sum(F.when(F.col("df") <= max_df, F.col("tf")).otherwise(F.lit(0)))
            .cast("long")
            .alias("rare"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_tokens",
            "n_terms",
            F.expr("rare * 1000L div n_tokens").cast("long").alias("rare_x1000"),
        )
    )
