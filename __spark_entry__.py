"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes the engine's operator surface over the driver's
parquet tables (`documents`, `embeddings`); each SQL-expressible query
has a DuckDB twin in `oracle_sql()` — the correctness gate runs both at
sf=0.01 and compares row counts + schema + order-insensitive value
hashes.  All query outputs are integers/strings (never floats) so the
value hash is exact across engines; every numeric column is cast to
long on the Spark side because DuckDB aggregates/len() return BIGINT.

Non-SQL-expressible entries (probabilistic LSH candidate generation,
approximate ANN) intentionally omit oracles → rows-only checks; their
exact-verification siblings (`ngram_jaccard_pairs`, `embedding_topk`)
ARE oracle-checked, so the underlying similarity math is still gated.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dude_spark.config import MinHashConfig, SimHashConfig, SuffixConfig
from dude_spark.detectors.minhash import minhash_buckets, minhash_signatures
from dude_spark.detectors.simhash import (
    pigeonhole_key_array,
    simhash_buckets,
    simhash_pairs_verified,
    simhash_signatures,
)
from dude_spark.detectors.suffix import suffix_buckets, suffix_signatures, verify_substring
from dude_spark.functions.embedding import ann_topk, brute_force_topk, cosine_dup_pairs
from dude_spark.functions.events import (
    asof_join,
    range_pairs,
    sessionize,
    sliding_window_stats,
    tumbling_window_stats,
)
from dude_spark.functions.ranking import grouped_topk, ntile_exact
from dude_spark.functions.splits import (
    deterministic_sample,
    hash_split,
    stratified_sample,
)
from dude_spark.functions.text import (
    bpe_token_count,
    tokens,
    lang_id,
    norm_fingerprint,
    punct_count,
    quality_signals,
    repetition_signals,
    stopword_count,
    token_count,
)
from dude_spark.operators.candidates import pairs_from_buckets
from dude_spark.operators.components import connected_components
from dude_spark.operators.decontam import contamination_pairs
from dude_spark.operators.report import select_representatives
from dude_spark.operators.pii import (
    EMAIL_RE as _PII_EMAIL,
    IP_RE as _PII_IP,
    PHONE_RE as _PII_PHONE,
    pii_signals,
    redact_text,
)
from dude_spark.operators.shards import shard_assignment
from dude_spark.operators.snapshot import snapshot_diff
from dude_spark.session import pin
from dude_spark.operators.boilerplate import boilerplate_ngrams
from dude_spark.operators.textdedup import (
    chunk_dedup,
    containment_pairs,
    dedup_lines,
    ngram_jaccard_pairs,
)
from dude_spark.operators.verify import (
    prefilter_minhash,
    verify_hamming,
    verify_jaccard,
)

STOPWORD_SQL = "('a','the','and','of','to','in')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _docs_as_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the documents table to the detector input surface:
    doc_id → image_id (string), text → caption."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("image_id"),
        F.col("text").alias("caption"),
    )


# ------------------------------------------------------------- queries

def q_exact_dup_groups(spark, sf_dir):
    """D0 semantics on documents: md5(text) groups with >1 member
    (group-by-fingerprint + singleton drop + min-id representative,
    ≅ reference hashing.go:321-382).

    The corpus has no byte-identical texts at any SF, which made the
    round-1 gate vacuous (green at 0 rows both sides — VERDICT r1
    "what's wrong" #2); a deterministic planted-dup slice (doc_id < 50
    re-keyed +100000) makes the grouping live: 50 two-member groups
    that a broken fingerprint/grouping would scramble."""
    docs = _docs(spark, sf_dir)
    planted = docs.where(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100000)
    )
    return (
        docs.unionByName(planted)
        .groupBy(F.md5(F.encode(F.col("text"), "UTF-8")).alias("fp"))
        .agg(
            F.count("*").cast("long").alias("group_size"),
            F.min("doc_id").cast("long").alias("rep_id"),
        )
        .where(F.col("group_size") > 1)
    )


def q_doc_fingerprint(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        norm_fingerprint(F.col("text")).alias("fp"),
    )


def q_token_stats(spark, sf_dir):
    t = F.col("text")
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        token_count(t).cast("long").alias("n_tokens"),
        stopword_count(t).cast("long").alias("stop_tokens"),
        punct_count(t).cast("long").alias("punct_chars"),
        F.length(t).cast("long").alias("n_chars_m"),
        bpe_token_count(t).cast("long").alias("bpe_tokens"),
    )


def q_doc_quality(spark, sf_dir):
    """Quality scoring for LLM training-data curation: Gopher-style
    integer signals + a first-match quality class per document
    (functions/text.quality_signals).  On this corpus the cascade is
    live at every SF: a mix of too_short / low_stopword / ok."""
    cols = quality_signals(F.col("text"))
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *[c.alias(name) for name, c in cols],
    )


def q_vocab_coverage(spark, sf_dir):
    """Corpus-adaptive quality (operators/vocab.vocab_coverage): the
    fraction of each doc's tokens inside the corpus's own top-K
    vocabulary — the integer-exact core of a CCNet-style perplexity
    filter (rank statistic, no log floats).  K=16 on this corpus: the
    driver documents table has only 31 distinct tokens, so any larger
    K covers everything and the gate goes vacuous (measured cov
    230–1000 at K=16 across all SFs — live everywhere, boundary ties
    included).  A planted gibberish slice (doc_id < 15 re-keyed
    +500000, text = one per-doc unique token ×4) pins the low end at
    exactly 0 — the junk-detection semantics the operator exists for.
    The oracle recomputes the deterministic (cnt DESC, token ASC)
    top-K and the coverage in SQL over the identical tokenization."""
    from dude_spark.operators.vocab import vocab_coverage

    docs = _docs(spark, sf_dir)
    gib = F.concat(F.lit("zzqx"), F.col("doc_id").cast("string"))
    planted = docs.where(F.col("doc_id") < 15).select(
        (F.col("doc_id") + F.lit(500000)).alias("doc_id"),
        F.concat_ws(" ", gib, gib, gib, gib).alias("text"),
    )
    base = docs.select("doc_id", "text").unionByName(planted)
    return vocab_coverage(base, k=16).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "in_vocab",
        "cov_x1000",
    )


def q_tfidf_terms(spark, sf_dir):
    """Per-doc top terms by rational tf-idf (operators/keywords.
    tfidf_topk): score = tf * ((n_docs * 1000) div df), all-integer so
    the oracle hashes bit-for-bit (log idf would hinge on libm ulps).
    The driver corpus has ~31 distinct tokens, so ties at equal score
    are common and the term-ASC tie-break is exercised live; k=3 makes
    rank boundaries live too.  The oracle replays the identical
    tokenization (trim/lower/\\s+) and the identical integer ops with
    a row_number window."""
    from dude_spark.operators.keywords import tfidf_topk

    return tfidf_topk(_docs(spark, sf_dir).select("doc_id", "text"), k=3).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "term",
        "tf",
        "df",
        "score",
        "rank",
    )


def q_rare_terms(spark, sf_dir):
    """Hapax/rare-term ratio (operators/keywords.rare_term_ratio): the
    per-mille of token occurrences whose term occurs in no other doc.
    The organic corpus shares a ~31-token vocabulary, so every organic
    doc scores 0 — two planted slices make the gate live at both ends:
    doc_id<15 re-keyed +500000 as pure per-doc-unique gibberish (must
    score exactly 1000) and doc_id in [15,30) re-keyed +600000 as the
    organic text plus ONE unique token (a mid-band ratio that moves
    with the doc's own length — a partial-junk mixture)."""
    from dude_spark.operators.keywords import rare_term_ratio

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    sid = F.col("doc_id").cast("string")
    gib = docs.where(F.col("doc_id") < 15).select(
        (F.col("doc_id") + F.lit(500000)).alias("doc_id"),
        F.concat(
            F.lit("qqgib"), sid, F.lit("x qqgib"), sid, F.lit("y qqgib"),
            sid, F.lit("x"),
        ).alias("text"),
    )
    mixed = docs.where((F.col("doc_id") >= 15) & (F.col("doc_id") < 30)).select(
        (F.col("doc_id") + F.lit(600000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qqsolo"), sid).alias("text"),
    )
    base = docs.unionByName(gib).unionByName(mixed)
    return rare_term_ratio(base, max_df=1).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "n_terms",
        "rare_x1000",
    )


def q_centroid_sim(spark, sf_dir):
    """Per-group centroid cosine (functions/embedding.
    centroid_similarity): each vector's integer per-mille cosine to
    its label-group centroid — the outlier/mislabel signal.  The
    whole contract is exact-integer by construction (quantize once,
    integer centroid sums, one closed-form IEEE expression at the
    end), so the oracle hashes bit-for-bit with no tolerance anywhere
    despite being a genuinely float-shaped computation.  Planted
    slice: vec_id < 10 re-keyed +700000 with the NEGATED embedding —
    an anti-aligned member whose sim is forced deep negative, pinning
    the outlier end of the gate."""
    from dude_spark.functions.embedding import centroid_similarity

    embs = _embs(spark, sf_dir).select("vec_id", "embedding", "label")
    planted = embs.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + F.lit(700000)).alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
        F.col("label"),
    )
    base = embs.unionByName(planted)
    return centroid_similarity(base).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("label").cast("long").alias("label"),
        "sim_x1000",
    )


def q_kmeans_clusters(spark, sf_dir):
    """Full-corpus distributed k-means (functions/clustering.
    kmeans_clusters): every row's final cluster and integer per-mille
    cosine to its centroid after 3 Lloyd rounds from the md5-ordered
    seed init, k=8.  The oracle (_kmeans_sql) replays the ENTIRE
    trajectory in SQL — an iterative float algorithm made
    hash-gateable by the exact-integer/closed-form-IEEE contract.  No
    planted slice is needed: any drift anywhere in any round moves
    assignments and sims and flips the hash."""
    from dude_spark.functions.clustering import kmeans_clusters

    return kmeans_clusters(_embs(spark, sf_dir), k=8, iters=3).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        "cluster",
        "sim_x1000",
    )


def q_semdedup_prune(spark, sf_dir):
    """SemDeDup end-to-end (functions/clustering.semdedup): k-means
    the embeddings (k=8, 2 Lloyd rounds), pair ONLY within clusters
    through the exhaustive salted grid, keep pairs with integer
    per-mille cosine >= 950, connect components, min-id
    representative.  Planted slice: vec_id < 10 re-keyed +800000 with
    the IDENTICAL embedding — same u vector, so each copy provably
    lands in its original's cluster and pairs at sim 1000ish; the 10
    planted components are live by construction (organic pairs at
    >= 950 may add more).  The oracle replays k-means, the
    within-cluster pair cosine, and the recursive closure — the
    strongest gate in the file: an error ANYWHERE in the three-stage
    composition flips it."""
    from dude_spark.functions.clustering import semdedup

    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    planted = embs.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + F.lit(800000)).alias("vec_id"), "embedding"
    )
    base = embs.unionByName(planted)
    return semdedup(base, k=8, iters=2, threshold_x1000=950).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("rep_id").cast("long").alias("rep_id"),
        "keep",
    )


def q_semdedup_new(spark, sf_dir):
    """Incremental SemDeDup (functions/clustering.semdedup_new):
    semantic dup pairs of a NEW batch against the ingested corpus —
    within-new + new-vs-known, never within-known; centroids fit on
    the KNOWN side only (a 10^9-row ingest doesn't retrain per
    batch).  New batch = vec_id < 50 re-keyed +900000 with identical
    embeddings (a re-crawled slice): 50 identity cross pairs live by
    construction.  cluster_cap is set high so the min-rep cut never
    fires here — the cut's semantics are pytest-gated on the shared
    pairs_vs_known kernel; this oracle gates the
    fit/assign/pair/cosine composition."""
    from dude_spark.functions.clustering import semdedup_new

    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    new = embs.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + F.lit(900000)).alias("vec_id"), "embedding"
    )
    out = semdedup_new(
        embs, new, k=8, iters=2, threshold_x1000=950, cluster_cap=100000
    )
    a, b = F.col("a").cast("long"), F.col("b").cast("long")
    return out.select(
        F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
    ).orderBy("a", "b")


def q_source_quantiles(spark, sf_dir):
    """Per-source exact length quantiles (functions/ranking.
    grouped_quantiles): the per-domain cutoff table ("drop each
    source's bottom length decile") a single global threshold can't
    express.  Rows reduce to a (source, n_chars) histogram before any
    window, so the window partitions are distinct values, never rows;
    thresholds are the all-integer discrete lower quantile, replayed
    identically by the oracle's cumulative-histogram SQL."""
    from dude_spark.functions.ranking import grouped_quantiles

    return grouped_quantiles(
        _docs(spark, sf_dir), ["source"], "n_chars", (100, 500, 900)
    ).select(
        "source",
        "n_rows",
        "p100",
        "p500",
        "p900",
    )


def q_novelty_scores(spark, sf_dir):
    """Corpus novelty vs a reference (operators/decontam.
    novelty_scores): the acquisition-triage inverse of contamination.
    New batch = three planted slices against the documents table as
    reference — verbatim re-keys (+1000000, novelty must be exactly
    0), organic text with a unique appended tail (+1100000, mid-band
    moving with doc length), and fully synthetic docs (+1200000, must
    score exactly 1000).  Spark probes xxhash64 gram keys; the oracle
    joins the gram STRINGS, so a hash-key defect cannot hide."""
    from dude_spark.operators.decontam import novelty_scores

    docs = _docs(spark, sf_dir)
    sid = F.col("doc_id").cast("string")
    verbatim = docs.select(
        (F.col("doc_id") + F.lit(1000000)).cast("string").alias("image_id"),
        F.col("text").alias("caption"),
    )
    tailed = docs.where(F.col("doc_id") < 40).select(
        (F.col("doc_id") + F.lit(1100000)).cast("string").alias("image_id"),
        F.concat(
            F.col("text"), F.lit(" zznovel"), sid,
            F.lit(" tail of fresh words"),
        ).alias("caption"),
    )
    fresh = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + F.lit(1200000)).cast("string").alias("image_id"),
        F.concat(
            F.lit("qqfresh document "), sid,
            F.lit(" sharing absolutely nothing with the reference "
                  "corpus gram space whatsoever"),
        ).alias("caption"),
    )
    new = verbatim.unionByName(tailed).unionByName(fresh)
    ref = docs.select(
        F.col("doc_id").cast("string").alias("image_id"),
        F.col("text").alias("caption"),
    )
    return novelty_scores(new, ref).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_grams",
        "novel",
        "novel_x1000",
    )


def q_common_line_strip(spark, sf_dir):
    """Cross-document duplicate-line removal (operators/boilerplate.
    strip_common_lines): docs with doc_id % 3 == 0 are staged with a
    shared nav line above and a shared footer line below their text —
    at min_df=5 both plants are hot in every SF and must strip, while
    organic single-line texts go hot only where the corpus genuinely
    repeats them ≥ 5× (the planted exact-dup groups — the operator
    demonstrating itself on the corpus's own duplication).  Rewrite
    oracle: md5 of the rebuilt text, DuckDB joining line STRINGS
    where Spark anti-joins xxhash64 keys."""
    from dude_spark.operators.boilerplate import strip_common_lines

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    staged = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("qqnav shared menu line\n"),
                F.col("text"),
                F.lit("\nqqfooter legal line"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return strip_common_lines(staged, min_df=5).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_lines",
        "n_removed",
        "strip_fp",
    )


def q_repetition(spark, sf_dir):
    """Gopher repetition filters (functions/text.repetition_signals):
    per-mille of chars under the top 2-gram and under duplicated
    5-grams, plus the repetitive/ok class — zero-shuffle JVM fold, no
    explode-groupBy.  Planted slice keeps the gate live: doc_id<20
    re-keyed +200000 with text rebuilt as its first token repeated
    60x, which scores 'repetitive' by construction."""
    docs = _docs(spark, sf_dir)
    planted = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + F.lit(200000)).alias("doc_id"),
        F.trim(
            F.repeat(
                F.concat(
                    F.split(F.trim(F.col("text")), r"\s+").getItem(0),
                    F.lit(" "),
                ),
                60,
            )
        ).alias("text"),
    )
    base = docs.select("doc_id", "text").unionByName(planted)
    cols = repetition_signals(F.col("text"))
    return base.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *[c.alias(name) for name, c in cols],
    )


def q_boilerplate(spark, sf_dir):
    """Cross-document boilerplate detection
    (operators/boilerplate.boilerplate_ngrams): 5-grams shared by >= 3
    distinct docs, with document frequency — the C4-style repeated-span
    diagnostic.  Naturally live on this corpus (74-550 hot grams per
    SF) plus a planted slice: 15 extra docs consisting solely of one
    marker sentence, whose gram must appear with df=15."""
    docs = _docs(spark, sf_dir)
    planted = docs.where(F.col("doc_id") < 15).select(
        (F.col("doc_id") + F.lit(300000)).alias("doc_id"),
        F.lit("corpus boilerplate marker sentence end").alias("text"),
    )
    base = docs.select("doc_id", "text").unionByName(planted)
    out = boilerplate_ngrams(base, n=5, min_df=3)
    return out.select("gram", F.col("df").cast("long").alias("df"))


def q_dup_profile(spark, sf_dir):
    """Per-document duplication profile
    (operators/boilerplate.duplication_profile): the fraction of each
    doc's distinct 5-grams occurring in >= 2 distinct docs — Lee et
    al. 2022's duplicated-gram measurement made per-document.
    Naturally live (the corpus' repeated spans) plus a planted slice:
    full copies of docs 0-9 under +400000 ids, which must score
    dup_x1000 = 1000 on BOTH sides of each copy."""
    from dude_spark.operators.boilerplate import duplication_profile

    docs = _docs(spark, sf_dir)
    planted = docs.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + F.lit(400000)).alias("doc_id"), "text"
    )
    base = docs.select("doc_id", "text").unionByName(planted)
    out = duplication_profile(base, n=5, min_df=2)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("dup_grams").cast("long").alias("dup_grams"),
        F.col("dup_x1000").cast("long").alias("dup_x1000"),
    )


def q_filter_reasons(spark, sf_dir):
    """Corpus quality filtering (operators/filters.rejection_reason):
    the first-match drop-reason per document — too_short /
    low_stopword / repetitive / lang_blocked / clean — with an
    en,de,fr,es allowlist so the language cut is live on this corpus
    (zh/el/ru docs exist at every SF).  Pure codegen cascade over the
    quality, repetition, and lang_id signals; the CLI `filter`
    subcommand routes rows on exactly this column."""
    from dude_spark.operators.filters import rejection_reason

    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce(
            rejection_reason(F.col("text"), ("en", "de", "fr", "es")),
            F.lit("clean"),
        ).alias("reason"),
    )


def q_pii_counts(spark, sf_dir):
    """PII scrub surface (operators/pii.py): per-doc email/phone/IP
    match counts plus an md5 of the REDACTED text — the fingerprint
    pins the full replacement semantics cross-engine, not just the
    counts.  The corpus carries no organic PII, so a planted slice
    (doc_id < 25 re-keyed +400000 with one of each marker appended)
    keeps every column of the gate live; the patterns are the regex
    subset with identical Java/RE2 semantics (module contract)."""
    docs = _docs(spark, sf_dir)
    planted = docs.where(F.col("doc_id") < 25).select(
        (F.col("doc_id") + F.lit(400000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_PII_TAIL)).alias("text"),
    )
    base = docs.select("doc_id", "text").unionByName(planted)
    t = F.col("text")
    return base.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *[c.cast("long").alias(name) for name, c in pii_signals(t)],
        F.md5(F.encode(redact_text(t), "UTF-8")).alias("redacted_fp"),
    )


_PII_TAIL = (
    " Contact alice@example.com or call +1 555-123-4567, server 10.0.0.1."
)


def q_lang_id(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        lang_id(F.col("text")).alias("pred_lang"),
    )


def q_ngram_pairs(spark, sf_dir):
    out = ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold_num=3, threshold_den=10)
    return out.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("inter").cast("long").alias("inter"),
        F.col("union").cast("long").alias("uni"),
    )


# Session-scoped memo of the checkpointed n-gram pair table: three
# queries (ngram_jaccard_pairs, dedup_assignments, dup_group_sizes)
# consume the same ~20 s deterministic chain, and re-deriving it per
# query is exactly the repeated work the pipeline's own stage
# checkpoints exist to avoid — this is a materialized shared stage,
# not a result cache (each query still runs its OWN downstream plan).
# Keyed by (session identity, sf_dir); the session ref in the value
# guards against id() reuse after a session is garbage-collected.
# Entries belonging to any OTHER session are evicted on insert — a
# process that builds a session per SF (bench loops, oracle sweeps)
# must not pin stopped sessions and their checkpointed blocks forever.
_NGRAM_PAIRS_MEMO: dict = {}


def _ngram_pairs_checkpointed(spark, sf_dir):
    key = (id(spark), sf_dir)
    hit = _NGRAM_PAIRS_MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    for k in [k for k, v in _NGRAM_PAIRS_MEMO.items() if v[0] is not spark]:
        _, old = _NGRAM_PAIRS_MEMO.pop(k)
        try:  # stopped sessions already dropped their blocks
            old.unpersist()
        except Exception:
            pass
    df = pin(q_ngram_pairs(spark, sf_dir))
    _NGRAM_PAIRS_MEMO[key] = (spark, df)
    return df


def q_dedup_assignments(spark, sf_dir):
    """Connected components over the n-gram near-dup edges — the CC
    operator gated against a recursive-SQL transitive closure."""
    pairs = _ngram_pairs_checkpointed(spark, sf_dir).select("a", "b")
    return connected_components(pairs).select(
        F.col("image_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_dup_group_sizes(spark, sf_dir):
    return (
        q_dedup_assignments(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.count("*").cast("long").alias("group_size"))
    )


def q_dedup_impact(spark, sf_dir):
    """Per-source dedup accounting (operators/report.dedup_impact)
    over the oracled CC assignments: which source is duplicate-heavy,
    and how many docs dedup_corpus would remove there — gated against
    the same recursive-SQL closure joined back to the corpus."""
    from dude_spark.operators.report import dedup_impact

    corpus = _docs(spark, sf_dir).select("doc_id", "source")
    assignments = q_dedup_assignments(spark, sf_dir)
    out = dedup_impact(corpus, assignments, id_col="doc_id", group_cols=("source",))
    return out.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("dup_members").cast("long").alias("dup_members"),
        F.col("removed").cast("long").alias("removed"),
        F.col("removed_x1000").cast("long").alias("removed_x1000"),
    )


def q_rep_selection(spark, sf_dir):
    """Quality-weighted representative selection
    (operators/report.select_representatives): per dup cluster keep
    the member with the most tokens, smallest doc_id on ties — the
    keep-the-best-duplicate curation policy, vs the reference's
    keep-first-seen (hashing.go:370).  Composes the oracled CC
    assignments with the token_stats scorer; the oracle replays the
    max-then-min-id argmax in SQL over the same recursive closure."""
    scores = _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).cast("long").alias("score")
    )
    reps = select_representatives(
        q_dedup_assignments(spark, sf_dir), scores, "score", id_col="doc_id"
    )
    return reps.select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("rep_id").cast("long").alias("rep_id"),
        F.col("rep_score").cast("long").alias("rep_score"),
    )


def q_deduped_docs(spark, sf_dir):
    """The dedup product artifact (operators/report.dedup_corpus): the
    documents table with non-representative near-duplicates removed —
    rows untouched by the detector pass through, each dup cluster
    keeps exactly its representative.  Composes the oracled CC
    assignments; the oracle is the corpus anti-joined against the
    recursive closure's non-rep members."""
    from dude_spark.operators.report import dedup_corpus

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang"
    )
    return dedup_corpus(docs, q_dedup_assignments(spark, sf_dir), id_col="doc_id")


def q_corpus_summary(spark, sf_dir):
    """Aggregation surface: per-(lang, source) corpus statistics —
    count, total chars, mean tokens (integerized ×1000 for exact
    cross-engine hashing).  Exercises multi-key groupBy + mixed aggs
    with map-side combine."""
    t = F.col("text")
    return (
        _docs(spark, sf_dir)
        .select("lang", "source", F.length(t).alias("chars"), token_count(t).alias("toks"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("chars").cast("long").alias("total_chars"),
            F.expr("sum(toks) * 1000 DIV count(*)").cast("long").alias(
                "mean_tokens_x1000"
            ),
        )
    )


def q_length_deciles(spark, sf_dir):
    """Window/ranking surface: documents bucketed into 10 equal-count
    length deciles with per-decile count and char bounds.  Uses
    ntile_exact (two-pass distributed rank, functions/ranking.py) —
    bit-identical to `ntile(10) OVER (ORDER BY chars, doc_id)` but with
    no single-partition global-order window (VERDICT r2 wrong #2)."""
    d = _docs(spark, sf_dir).select(
        F.col("doc_id"), F.length("text").alias("chars")
    )
    return (
        ntile_exact(d, 10, ("chars", "doc_id"), out_col="decile")
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("chars").cast("long").alias("min_chars"),
            F.max("chars").cast("long").alias("max_chars"),
        )
    )


def q_train_split(spark, sf_dir):
    """Deterministic identity-keyed train/val/test assignment
    (functions/splits.hash_split): md5-prefix hex compare, pure
    whole-stage-codegen map over the scan — no UDF, no shuffle, stable
    across re-runs / repartitioning / corpus appends.  The oracle runs
    the very same hex literals ('cccccccc', 'e6666666') in DuckDB."""
    out = hash_split(
        _docs(spark, sf_dir),
        id_col="doc_id",
        weights={"train": 0.8, "val": 0.1, "test": 0.1},
        seed="split",
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.col("split")
    )


def q_stable_sample(spark, sf_dir):
    """Identity-keyed ~25% sample (functions/splits.deterministic_sample):
    membership is a pure function of (seed, id), so incremental batches
    and different cluster sizes keep the same rows — unlike
    DataFrame.sample's per-partition RNG."""
    out = deterministic_sample(
        _docs(spark, sf_dir), 0.25, id_col="doc_id", seed="sample"
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"))


def q_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic sampling by language
    (functions/splits.stratified_sample) — corpus rebalancing:
    downsample 'en' to 50%, keep 'de' whole, 'el' to 25%, drop every
    unlisted language (sampleBy semantics).  Same hex-literal compare
    as the other split ops; oracle embeds the identical bounds."""
    out = stratified_sample(
        _docs(spark, sf_dir),
        {"en": 0.5, "de": 1.0, "el": 0.25},
        strata_col="lang",
        id_col="doc_id",
        seed="sample",
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.col("lang")
    )


def q_weighted_sample(spark, sf_dir):
    """Per-row-probability sampling (functions/splits.weighted_sample):
    keep each doc with probability min(1, n_chars/800) — the
    quality-weighted downsampling shape (here length as the stand-in
    score).  The per-row hex bound is floor(w * 2^32) rendered as
    8-char lowercase hex, ONE IEEE-double product both engines compute
    identically; the oracle embeds the same expression via printf.
    Long docs (w >= 1) exercise the 'g' keep-all branch at every SF."""
    from dude_spark.functions.splits import weighted_sample

    w = F.least(F.lit(1.0), F.col("n_chars").cast("double") / F.lit(800.0))
    out = weighted_sample(
        _docs(spark, sf_dir), w, id_col="doc_id", seed="wsample"
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def q_domain_mix(spark, sf_dir):
    """Token-weighted domain mixing (functions/splits.mix_corpus):
    downsample-only rebalancing of the en/de/fr slice to a 50/30/20
    TOKEN mixture — per-lang token mass → achievable scale → derived
    per-lang keep fractions → one stratified hex-compare pass.  The
    oracle recomputes the mass, the IEEE-double fraction math, and the
    hex bounds in SQL (printf('%08x', floor(f * 2^32))), so the kept
    set matches bit-for-bit."""
    from dude_spark.functions.splits import mix_corpus

    docs = _docs(spark, sf_dir).withColumn(
        "__toks", token_count(F.col("text"))
    )
    mixed, _ = mix_corpus(
        docs,
        {"en": 0.5, "de": 0.3, "fr": 0.2},
        strata_col="lang",
        id_col="doc_id",
        weight_col="__toks",
        seed="mix",
    )
    return mixed.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.col("lang")
    )


def q_domain_mix_epochs(spark, sf_dir):
    """Epoch-aware domain mixing (functions/splits.mix_corpus_epochs):
    rebalance the en/fr slice to a 30/70 TOKEN mixture where fr is the
    low-resource stratum — at max_repeat=3 the plan upsamples fr by
    integer epoch repeats (binding at 3×) and downsamples en, each
    epoch an independent deterministic sample.  The oracle replays the
    whole plan in SQL — mass, the IEEE-double N/m/repeat/fraction
    chain, the printf hex bound, generate_series epochs, and the
    epoch-salted md5 compare — so the kept (doc, epoch) set matches
    bit-for-bit."""
    from dude_spark.functions.splits import mix_corpus_epochs

    docs = _docs(spark, sf_dir).withColumn(
        "__toks", token_count(F.col("text"))
    )
    mixed, _ = mix_corpus_epochs(
        docs,
        {"en": 0.3, "fr": 0.7},
        strata_col="lang",
        id_col="doc_id",
        weight_col="__toks",
        seed="mixep",
        max_repeat=3,
    )
    return mixed.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("lang"),
        F.col("epoch").cast("long").alias("epoch"),
    )


def q_shard_assignment(spark, sf_dir):
    """Training-shard assignment (operators/shards.shard_assignment):
    exact 64-row shards numbered within each hash split, derived from
    the distributed global rank — bit-identical to `(row_number() OVER
    (PARTITION BY split ORDER BY doc_id) - 1) DIV 64` with no
    single-partition window at any size."""
    docs = hash_split(
        _docs(spark, sf_dir).select("doc_id"), id_col="doc_id"
    )
    out = shard_assignment(
        docs, rows_per_shard=64, id_col="doc_id", split_col="split"
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("split"),
        F.col("shard").cast("long").alias("shard"),
    )


def q_seq_packing(spark, sf_dir):
    """Concat-and-chunk sequence packing (operators/packing.py):
    which 1024-token training sequence does each doc start in, and at
    what offset — the exclusive token prefix sum in doc_id order,
    computed with NO global-order window (functions/ranking.
    with_running_total two-pass shape); DuckDB runs the literal
    window expression, so the integers must agree exactly."""
    from dude_spark.operators.packing import pack_sequences

    d = _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    out = pack_sequences(d, budget=1024)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("seq_id").cast("long").alias("seq_id"),
        F.col("seq_offset").cast("long").alias("seq_offset"),
    )


def q_budget_select(spark, sf_dir):
    """Token-budget corpus selection (operators/packing.budget_select):
    fill a 10,000-token budget with the highest-stopword-ratio docs
    first (stop_x1000 descending — the Gopher quality signal already
    oracle-gated by doc_quality — with doc_id as tiebreaker), keeping
    whole docs while the inclusive prefix sum stays within budget.
    Spark computes the prefix sum with the two-pass distributed shape
    (no global-order window); DuckDB runs the literal window, so both
    the kept set and every cum_tokens integer must agree exactly."""
    from dude_spark.operators.packing import budget_select

    cols = dict(quality_signals(F.col("text")))
    d = _docs(spark, sf_dir).select(
        "doc_id",
        cols["n_tokens"].alias("n_tokens"),
        (-cols["stop_x1000"]).alias("__negstop"),
    )
    out = budget_select(
        d, budget=10_000, token_col="n_tokens",
        order_cols=("__negstop", "doc_id"),
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def q_event_window_stats(spark, sf_dir):
    """Tumbling-window aggregation over the events table (the batch
    twin of a Structured-Streaming windowed agg): per (1-day window,
    event_type) — counts, distinct users, per-event-rounded value sum.
    One map-side-combinable hash aggregate (functions/events.py)."""
    return tumbling_window_stats(_events(spark, sf_dir))


def q_sliding_window_stats(spark, sf_dir):
    """Sliding-window aggregation (1-day windows every 6 hours) over
    the events table: each event replicates map-side into its 4
    overlapping windows, then one hash aggregate — the explicit
    overlap-factor cost model (functions/events.sliding_window_stats).
    Oracle enumerates the covering epoch-aligned starts per event with
    integer floor arithmetic (second-level membership is exact against
    Spark's microsecond window math — strict upper bound, see twin)."""
    return sliding_window_stats(_events(spark, sf_dir))


def q_user_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) per user.  Runs
    the TIME-SLICED (bucket_seconds=6 h) scale path — gap detection
    inside (user, bucket) window slices, boundary sessions stitched
    through the per-user bucket-summary carry — so the oracle gates
    the cross-bucket merge machinery, not just the plain per-user
    window (the asof_attribution convention).  Microsecond-exact
    interval comparison so any engine agrees."""
    return sessionize(_events(spark, sf_dir), bucket_seconds=6 * 3600)


def q_asof_attribution(spark, sf_dir):
    """As-of join (functions/events.asof_join): every click attached
    to the user's most recent prior view — the point-in-time-correct
    attribution join Spark has no operator for.  Runs the TIME-SLICED
    (bucket_seconds=1 day) scale path so the oracle gates the
    cross-bucket carry machinery, not just the plain window.  Nulls
    (clicks with no prior view) coalesce to -1 on both engines."""
    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(clicks, views, bucket_seconds=86400)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    r_us = F.unix_micros(F.col("r_ts").cast("timestamp"))
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        us.alias("click_ts_us"),
        F.coalesce(F.col("r_event_id"), F.lit(-1)).cast("long").alias("view_event_id"),
        F.coalesce(us - r_us, F.lit(-1)).cast("long").alias("gap_us"),
    )


def q_event_pairs_range(spark, sf_dir):
    """Interval self-join (functions/events.range_pairs): same-user
    event pairs within 30 minutes, via gap-width time binning — two
    equi-join probes per event, never a per-user cartesian; the
    DuckDB twin is the literal inequality join."""
    out = range_pairs(_events(spark, sf_dir), gap_seconds=1800)
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("gap_us").cast("long").alias("gap_us"),
    )


def q_chunk_dedup(spark, sf_dir):
    """Chunk-granularity exact dedup (operators/textdedup.chunk_dedup,
    Lee et al. 2022's tractable form): first-occurrence-wins over
    non-overlapping 10-token chunks, verified through the md5-of-
    rebuilt-text rewrite oracle (the PII-scrub trick).  Planted live
    slices: 30 full copies (collapse to n_kept=0) and 10 partial
    copies (first 20 tokens shared + a unique tail -> exactly the
    tail chunk survives), so a keeper-selection or rebuild defect
    shifts hashes immediately."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    copies = docs.where(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    partial = docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 40)).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(
            F.array_join(F.slice(tokens(F.col("text")), 1, 20), " "),
            F.lit(" zzchunktail"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return chunk_dedup(docs.unionByName(copies).unionByName(partial), chunk_tokens=10)


def q_line_dedup(spark, sf_dir):
    """Intra-document repeated-line removal
    (operators/textdedup.dedup_lines, the RefinedWeb/Dolma within-doc
    dedup pass): first occurrence of each line kept, order preserved,
    rewrite verified through md5 of the rebuilt text.  The corpus is
    single-line, so every doc_id % 5 == 0 doc is restaged as six
    lines with three planted duplicates (its own first 30 chars
    repeated, plus a doubled boilerplate line) — identically on both
    engines — and must come back n_lines=6 / n_kept=3; the rest are
    pass-through identities (n_kept == n_lines)."""
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .where(F.col("text").isNotNull())
    )
    la = F.substring(F.col("text"), 1, 30)
    lb = F.substring(F.col("text"), 31, 30)
    multi = F.concat_ws(
        "\n", la, lb, la, F.lit("boilerplate nav"), F.lit("boilerplate nav"), lb
    )
    staged = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, multi).otherwise(F.col("text")).alias("text"),
    )
    return dedup_lines(staged)


def q_containment_pairs(spark, sf_dir):
    """Asymmetric n-gram containment pairs
    (operators/textdedup.containment_pairs): src docs whose distinct
    3-grams are >= 8/10 contained in dst — the quote-inside-article
    near-dup Jaccard misses when lengths differ.  Planted live slice:
    every doc_id % 101 == 0 doc with >= 20 tokens spawns a +500000
    "quote" of its tokens 5..14, whose 8 grams are all contained in
    the source (containment 1.0) while pair Jaccard stays far below
    any threshold.  Integer-only filter, DuckDB twin is the literal
    ordered-pair gram join."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = tokens(F.col("text"))
    # +500000 keeps plant ids disjoint from real doc_ids at every
    # tested SF (5,000 docs at sf0.1; the driver runs sf0.01) — the
    # same offset convention as the chunk_dedup/snapshot_diff plants.
    # A corpus with >= 500,000 densely-numbered docs would collide,
    # and Spark (per-row array_distinct) vs DuckDB (cross-row
    # DISTINCT) would diverge on the merged id — these planted
    # queries are fixtures for the tested SFs, not operators.
    quotes = docs.where(
        (F.col("doc_id") % 101 == 0) & (F.size(toks) >= 20)
    ).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.array_join(F.slice(toks, 5, 10), " ").alias("text"),
    )
    return containment_pairs(
        docs.unionByName(quotes), threshold_num=8, threshold_den=10
    )


def q_top_docs_per_source(spark, sf_dir):
    """Exact top-3 longest docs per (lang, source)
    (functions/ranking.grouped_topk): salted two-level combinable
    aggregate — a hot group never streams through one WindowExec task
    (final buffer ≤ n_salt·k rows whatever the group size); descending
    order via negation, doc_id tiebreak for totality."""
    docs = _docs(spark, sf_dir).select(
        "lang", "source", "doc_id", "n_chars", (-F.col("n_chars")).alias("_neg")
    )
    out = grouped_topk(docs, ["lang", "source"], ["_neg", "doc_id"], k=3)
    return out.select(
        "lang",
        "source",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_snapshot_diff(spark, sf_dir):
    """Corpus snapshot diff (operators/snapshot.snapshot_diff): the
    queryable form of the reference's (size, mtime) incremental probe
    (hashing.go:73-88 semantics) — added/removed/changed ids between
    two corpus versions, fingerprints reduced to md5 BEFORE the
    full-outer join so payload never rides the shuffle.  The 'new'
    snapshot is derived deterministically: ids ≡0 (mod 97) removed,
    texts of ids ≡0 (mod 89) rewritten, 25 fresh ids appended."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    mutated = docs.where(F.col("doc_id") % 97 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 89 == 0, F.concat(F.col("text"), F.lit(" zzrev"))
        ).otherwise(F.col("text")),
    )
    added = docs.where(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 400000).alias("doc_id"), "text"
    )
    out = snapshot_diff(docs, mutated.unionByName(added))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "old_fp",
        "new_fp",
        "status",
    )


def q_embedding_topk(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 5)
    out = brute_force_topk(embs, queries, k=10)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
    )



def _canon_pairs(out):
    """Cast detector pair ids to long and canonicalize orientation:
    the detector surface orders ids as STRINGS ("134" < "87"), the
    oracles numerically — least/greatest after the cast makes both
    agree."""
    a, b = F.col("a").cast("long"), F.col("b").cast("long")
    return out.select(
        F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
    ).orderBy("a", "b")


def _plant_near_dups(
    docs: DataFrame, n: int = 10, offset: int = 200000, tail: str | None = " planted near dup tail"
) -> DataFrame:
    """Deterministic planted near-dup slice for the rows-only detector
    queries (VERDICT r2 missing #4): docs with id < n re-keyed +offset
    and lightly perturbed (a short appended tail keeps char-shingle
    Jaccard near 1 and the simhash Hamming distance small), so the
    output must contain ~n cross-pairs (id, id+offset).  Signatures are
    seed-deterministic, so whether each planted pair survives LSH
    banding is a fixed fact, not a coin flip — a recall collapse now
    shows up as a visible row-count drop in the rows-only gate.

    The re-key is only collision-free while every organic id is below
    ``offset``; at a corpus that big a planted id would shadow a real
    row and silently corrupt the very gate this hardens — so guard it
    LAZILY (an assert_true folded onto the planted branch: building
    the query runs no Spark job, and the query's own first action
    fires the check; the guard column must be referenced through a
    filter or Catalyst prunes it away unevaluated)."""
    guard = docs.agg(
        F.assert_true(
            F.coalesce(F.max(F.col("image_id").cast("long")), F.lit(-1))
            < F.lit(offset),
            F.lit(
                f"planted-dup offset {offset} collides with organic ids; "
                "raise the offset for this corpus size"
            ),
        ).alias("_guard")
    )
    cap = (
        F.col("caption") if tail is None
        else F.concat(F.col("caption"), F.lit(tail))
    )
    planted = (
        docs.where(F.col("image_id").cast("long") < n)
        .select(
            (F.col("image_id").cast("long") + offset).cast("string").alias("image_id"),
            cap.alias("caption"),
        )
        .crossJoin(F.broadcast(guard))
        .where(F.col("_guard").isNull())
        .drop("_guard")
    )
    return docs.unionByName(planted)


def q_minhash_pairs(spark, sf_dir):
    """D1 MinHash-LSH + exact-Jaccard verify on document text (rows-only:
    LSH candidate generation is probabilistic; the verify floor is the
    same integer-free contract tested exactly by ngram_jaccard_pairs).
    Includes the _plant_near_dups slice: at sf0.01 the output carries
    10 planted (id, id+200000) pairs on top of the corpus's organic
    near-dups."""
    docs = _plant_near_dups(_docs_as_images(spark, sf_dir))
    cfg = MinHashConfig()
    # eager pin of the UDF signatures: pairs_from_buckets
    # runs a skew-detection action plus the pairs action, and the
    # prefilter + verify re-read sigs — without a checkpoint each
    # action re-runs the signature UDF chain.  (A lazy persist() on
    # buckets was A/B-measured round 3 and LOST: its first-action
    # cache fill cost more than the checkpoint barrier in every
    # pairing — 46/42 s vs 32/31 s walls.)
    sigs = pin(minhash_signatures(docs, cfg))
    pairs, _ = pairs_from_buckets(
        minhash_buckets(sigs), bucket_cap=64, overcap_mode="exhaustive"
    )
    # sketch-estimate prefilter drops the LSH false-positive bulk
    # (119,731 → ~10^3 here) before the caption attach; survivors
    # still face the exact verify (operators/verify.py docs)
    pairs = prefilter_minhash(
        pairs, sigs, cfg.jaccard_threshold, cfg.num_hashes,
        cfg.prefilter_margin_sigmas,
    )
    out = verify_jaccard(pairs, docs, cfg.shingle_k, cfg.jaccard_threshold)
    return _canon_pairs(out)


def q_simhash_pairs(spark, sf_dir):
    """D2 SimHash (caption channel) on document text (rows-only).
    Includes the _plant_near_dups slice as EXACT re-keyed copies
    (tail=None): the caption channel runs at Hamming radius 1, where
    even a one-character edit on these docs flips 1-5 signature bits
    (measured), so any textual perturbation would make the plant
    probabilistic per-doc.  Hamming-0 plants deterministically gate the
    banding/bucketing/verify machinery; near-dup TOLERANCE is gated by
    tests/test_simhash.py recall over the planted fixture corpus."""
    docs = _plant_near_dups(_docs_as_images(spark, sf_dir), tail=None)
    cfg = SimHashConfig(use_phash=False)
    # eager checkpoint on SIGS: the Hamming verify re-reads the
    # signature table, so pinning the sig level serves all three
    # consumers (overcap collect, pairing, verify) with one UDF pass
    # (lazy persist A/B-measured round 3: never faster, see minhash)
    sigs = pin(simhash_signatures(docs, cfg))
    pairs, _ = pairs_from_buckets(
        simhash_buckets(sigs, cfg), bucket_cap=64, overcap_mode="exhaustive"
    )
    out = simhash_pairs_verified(pairs, sigs, cfg)
    return _canon_pairs(out)


def q_substring_pairs(spark, sf_dir):
    """D3 winnowing + shared-substring >= 32 chars on document text.

    DuckDB-oracle-gated since round 2: the winnowing guarantee
    (suffixarray.winnow, w = L - g + 1) plus the exact L-gram verify
    make the output EXACTLY the set of pairs sharing a >= 32-char
    substring, which DuckDB brute-forces as a distinct-32-gram
    self-join at sf0.01 (500 docs)."""
    docs = _docs_as_images(spark, sf_dir)
    cfg = SuffixConfig(min_match_len=32)
    sigs = pin(suffix_signatures(docs, cfg))
    pairs, _ = pairs_from_buckets(
        suffix_buckets(sigs), bucket_cap=64, overcap_mode="exhaustive"
    )
    out = verify_substring(pairs, docs, cfg)
    return _canon_pairs(out)


# 3 bits spread across distinct 8-bit segments (5, 23, 58) — within the
# radius-3 ball, so the pigeonhole guarantee makes every planted pair's
# recovery DETERMINISTIC, not probabilistic.
_HAMMING_MASK = (1 << 5) | (1 << 23) | (1 << 58)
_HAMMING_RADIUS = 3
_HAMMING_SEGMENTS = 8
_HAMMING_OFFSET = 300000


def q_hamming_pairs(spark, sf_dir):
    """Oracle-gated exercise of the D2 BUCKETING MACHINERY: pigeonhole
    segment-subset keys (pigeonhole_key_array — the same implementation
    D2 and the embedding LSH path share), exhaustive over-cap pairing,
    and the JVM `bit_count(a^b)` Hamming verify.

    The caption-simhash SIGNATURE is not SQL-expressible (custom token
    hashing), which is why `simhash_pairs` is rows-only; here the
    signature is replaced by a 64-bit value both engines derive
    identically from md5(text), so everything DOWNSTREAM of the
    signature UDF gets a DuckDB hash gate: radius-3 pigeonhole
    bucketing has exact recall (WWW'07 multi-table scheme), so the
    output must equal DuckDB's brute-force all-pairs
    `bit_count(xor) <= 3` self-join.  Planted rows (doc_id < 20
    re-keyed +300000, sig XOR a fixed 3-bit mask) guarantee the gate is
    live — 20 pairs at Hamming distance exactly 3 — on a corpus whose
    organic md5-derived sigs are ~32 bits apart."""
    docs = _docs(spark, sf_dir)
    hexs = F.md5(F.encode(F.col("text"), "UTF-8"))
    hi = F.conv(F.substring(hexs, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hexs, 9, 8), 16, 10).cast("long")
    base = docs.select(
        F.col("doc_id").cast("long").alias("image_id"),
        F.shiftleft(hi, 32).bitwiseOR(lo).alias("sig"),
    )
    # LAZY collision guard: building this query must not run a Spark
    # job (an eager max() collect here made queries() construction pay
    # a full documents scan).  assert_true folds into the output plan
    # as a 1-row broadcast and fires at ACTION time if the planted-id
    # offset ever collides with organic ids.
    guard = base.agg(
        F.assert_true(
            F.coalesce(F.max("image_id"), F.lit(-1)) < F.lit(_HAMMING_OFFSET),
            F.lit(
                f"planted-sig offset {_HAMMING_OFFSET} collides with "
                "organic doc ids; raise _HAMMING_OFFSET for this corpus"
            ),
        ).alias("_guard")
    )
    planted = base.where(F.col("image_id") < 20).select(
        (F.col("image_id") + _HAMMING_OFFSET).alias("image_id"),
        F.col("sig").bitwiseXOR(F.lit(_HAMMING_MASK)).alias("sig"),
    )
    sigs = base.unionByName(planted)
    buckets = sigs.select(
        "image_id",
        F.explode(
            pigeonhole_key_array(
                F.col("sig"), _HAMMING_SEGMENTS, _HAMMING_RADIUS, tag="hp"
            )
        ).alias("bucket"),
    )
    pairs, _ = pairs_from_buckets(
        buckets, bucket_cap=64, overcap_mode="exhaustive"
    )
    out = verify_hamming(pairs, sigs, _HAMMING_RADIUS)
    return (
        out.crossJoin(F.broadcast(guard))
        # the guard column must be REFERENCED or Catalyst prunes it
        # and assert_true never evaluates; when it passes it is NULL,
        # so this filter keeps every row
        .where(F.col("_guard").isNull())
        .select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            F.col("hamming").cast("long").alias("hamming"),
        )
    )


def q_decontam_pairs(spark, sf_dir):
    """Benchmark decontamination (operators/decontam.py): corpus docs
    sharing a >=32-char substring with a benchmark set, as (doc_id,
    bench_id) pairs.  The benchmark set is derived deterministically
    from the corpus itself — an 80-char slice of every 50th document —
    so each source doc is contaminated by its own slice BY
    CONSTRUCTION (a live gate: a recall collapse drops visible rows)
    and both engines build the identical benchmark.  Exactness is the
    winnowing guarantee + exact L-gram verify (same theorem as
    substring_pairs), so DuckDB's brute-force cross 32-gram join is an
    exact oracle."""
    docs = _docs(spark, sf_dir)
    corpus = _docs_as_images(spark, sf_dir)
    bench = docs.where(
        (F.col("doc_id") % 50 == 0) & (F.length("text") >= 150)
    ).select(
        F.col("doc_id").cast("string").alias("image_id"),
        F.substring("text", 21, 80).alias("caption"),
    )
    out = contamination_pairs(corpus, bench, SuffixConfig(min_match_len=32))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("bench_id").cast("long").alias("bench_id"),
    )


def q_contam_scores(spark, sf_dir):
    """Doc-level contamination fraction (operators/decontam.
    contamination_scores): how many of each doc's distinct 32-grams
    appear in the benchmark set, as integer-exact per-mille.  Same
    self-derived benchmark as decontam_pairs (an 80-char slice of
    every 50th doc), so the sliced docs score high BY CONSTRUCTION (a
    live gate — a broadcast-probe collapse zeroes visible n_hits) and
    both engines build the identical benchmark.  Spark probes xxhash64
    gram keys against the broadcast benchmark set; the oracle joins
    the gram STRINGS, so a hash-key defect cannot hide."""
    from dude_spark.operators.decontam import contamination_scores

    docs = _docs(spark, sf_dir)
    corpus = _docs_as_images(spark, sf_dir)
    bench = docs.where(
        (F.col("doc_id") % 50 == 0) & (F.length("text") >= 150)
    ).select(
        F.col("doc_id").cast("string").alias("image_id"),
        F.substring("text", 21, 80).alias("caption"),
    )
    out = contamination_scores(corpus, bench, gram_len=32)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.col("contam_x1000").cast("long").alias("contam_x1000"),
    )


def q_cross_dedup(spark, sf_dir):
    """Incremental BATCH dedup (operators/candidates.cross_corpus_pairs,
    the batch twin of the streaming micro-batch join): dedupe a new
    crawl against the already-ingested corpus — new-vs-known plus
    within-new pairs on exact text identity, never within-known.  The
    new batch is derived deterministically from the corpus itself:
    every 10th doc re-collected under a shifted id (live cross pairs BY
    CONSTRUCTION) plus two fresh copies of every 100th-mod-7 doc under
    a 'NEWDUP:' marker (live within-new pairs that cannot match known).
    Pairs normalize to (least, greatest) longs so orientation
    conventions (within-new a<b strings vs cross known→new) can't leak
    into the hash."""
    from dude_spark.operators.candidates import cross_corpus_pairs

    docs = _docs(spark, sf_dir)
    known = docs.select(
        F.col("doc_id").cast("string").alias("image_id"),
        F.col("text").alias("caption"),
    )
    re_crawl = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).cast("string").alias("image_id"),
        F.col("text").alias("caption"),
    )
    nd = docs.where(F.col("doc_id") % 100 == 7)
    new = re_crawl
    for off in (2_000_000, 3_000_000):
        new = new.unionByName(
            nd.select(
                (F.col("doc_id") + off).cast("string").alias("image_id"),
                F.concat(F.lit("NEWDUP:"), F.col("text")).alias("caption"),
            )
        )
    bucketize = lambda d: d.select(
        "image_id", F.sha2(F.col("caption"), 256).alias("bucket")
    )
    pairs, _overcap = cross_corpus_pairs(bucketize(known), bucketize(new))
    a, b = F.col("a").cast("long"), F.col("b").cast("long")
    return pairs.select(
        F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
    )


def q_embedding_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs (threshold 0.4 on this corpus's
    similarity scale) — exact all-pairs, DuckDB-oracle-gated."""
    out = cosine_dup_pairs(_embs(spark, sf_dir), threshold=0.4)
    return out.select(
        F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b")
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup decision (Abbas et al. 2023
    generalized to exact pairs at oracle scale): embedding-cosine
    near-dup pairs → connected components → keep only the lowest-id
    member of each semantic cluster.  One row per CLUSTERED vector
    (vectors in no pair are implicitly kept, the dedup_assignments
    convention); ``keep`` = 1 for the canonical representative.
    Composes q_embedding_dup_pairs with the CC operator; the oracle
    runs the same recursive-SQL transitive closure as
    dedup_assignments over the exact cosine pairs."""
    # CC runs several actions (distinct-count probe + the union-find
    # collect or star rounds); checkpoint the pair table so the cosine
    # scoring chain computes once, the _ngram_pairs_checkpointed pattern
    pairs = pin(q_embedding_dup_pairs(spark, sf_dir))
    assigns = connected_components(pairs)
    return assigns.select(
        F.col("image_id").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        (F.col("image_id") == F.col("cluster_id")).cast("long").alias("keep"),
    )


_ANN_OFFSET = 400000
_ANN_K = 10


def q_ann_topk(spark, sf_dir):
    """IVF ANN (rows-only: approximate by design; exact sibling
    q_embedding_topk is oracle-gated, and tests/test_embedding.py gates
    ANN∩exact overlap >= 0.8 on these same driver embeddings).

    Planted live slice (round-3 VERDICT next #9, mirroring
    _plant_near_dups): each query vector gets k EXACT duplicates
    (cosine 1.0) re-keyed above _ANN_OFFSET.  An identical vector is
    assigned to the same top cells the query probes first, so a
    correct index always surfaces >= k candidates per query and the
    output holds exactly |queries|·k rows; an IVF recall collapse
    (cell assignment diverging from probes) yields < k candidates for
    some query and visibly drops rows.  The id offset is guarded
    lazily like the other plants (assert_true folded into the plan,
    referenced through a filter so Catalyst cannot prune it)."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 5)
    guard = embs.agg(
        F.assert_true(
            F.coalesce(F.max(F.col("vec_id").cast("long")), F.lit(-1))
            < F.lit(_ANN_OFFSET),
            F.lit(
                f"planted ANN vec_id offset {_ANN_OFFSET} collides with "
                "organic ids; raise _ANN_OFFSET for this corpus"
            ),
        ).alias("_guard")
    )
    planted = (
        queries.select(
            "vec_id",
            "embedding",
            F.explode(F.sequence(F.lit(0), F.lit(_ANN_K - 1))).alias("i"),
        )
        .select(
            (
                F.lit(_ANN_OFFSET)
                + F.col("vec_id").cast("long") * _ANN_K
                + F.col("i")
            ).alias("vec_id"),
            "embedding",
            F.lit(None).cast("int").alias("label"),
        )
        .crossJoin(F.broadcast(guard))
        .where(F.col("_guard").isNull())
        .drop("_guard")
    )
    corpus = embs.unionByName(planted)
    out = ann_topk(corpus, queries, k=10, dim=64)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: near-dup dedup report over documents at sf0.001 —
    n-gram Jaccard pairs → connected components → cluster assignments
    with group sizes (the engine's core pipeline shape end-to-end)."""
    sf_dir = "/root/testdata/sf0.001"
    assigns = q_dedup_assignments(spark, sf_dir)
    sizes = assigns.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("group_size")
    )
    return assigns.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "group_size"
    ).orderBy("cluster_id", "doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order = driver-coverage rotation (SURVEY.md REGISTRY_ORDER).

    The driver evaluates the first 50 entries in dict order.  Queries are
    therefore ordered least-recently-driver-checked first: the 8 queries
    that CORRECTNESS_r04 dropped (led by contam_scores/cross_dedup_pairs,
    never driver-checked before round 5) lead, then the 50 r04-covered
    queries in their prior relative order.  Future rounds: rotate again —
    move whichever tail entries missed the latest CORRECTNESS artifact to
    the front.
    """
    return {
        # --- never driver-checked before round 5 ---
        "contam_scores": q_contam_scores,
        "cross_dedup_pairs": q_cross_dedup,
        # --- covered in r03 but dropped by the r04 50-query window ---
        "simhash_pairs": q_simhash_pairs,
        "substring_pairs": q_substring_pairs,
        "decontam_pairs": q_decontam_pairs,
        "hamming_pairs": q_hamming_pairs,
        "semantic_dedup": q_semantic_dedup,
        "ann_topk": q_ann_topk,
        # --- r04-covered queries, prior relative order ---
        "exact_dup_groups": q_exact_dup_groups,
        "doc_fingerprint": q_doc_fingerprint,
        "token_stats": q_token_stats,
        "doc_quality": q_doc_quality,
        "vocab_coverage": q_vocab_coverage,
        "tfidf_terms": q_tfidf_terms,
        "rare_terms": q_rare_terms,
        "centroid_sim": q_centroid_sim,
        "kmeans_clusters": q_kmeans_clusters,
        "semdedup_prune": q_semdedup_prune,
        "semdedup_new_pairs": q_semdedup_new,
        "source_quantiles": q_source_quantiles,
        "novelty_scores": q_novelty_scores,
        "common_line_strip": q_common_line_strip,
        "repetition": q_repetition,
        "filter_reasons": q_filter_reasons,
        "boilerplate_ngrams": q_boilerplate,
        "dup_profile": q_dup_profile,
        "lang_id": q_lang_id,
        "pii_counts": q_pii_counts,
        "ngram_jaccard_pairs": _ngram_pairs_checkpointed,
        "corpus_summary": q_corpus_summary,
        "length_deciles": q_length_deciles,
        "train_split": q_train_split,
        "stable_sample": q_stable_sample,
        "stratified_sample": q_stratified_sample,
        "weighted_sample": q_weighted_sample,
        "domain_mix": q_domain_mix,
        "domain_mix_epochs": q_domain_mix_epochs,
        "shard_assignment": q_shard_assignment,
        "seq_packing": q_seq_packing,
        "budget_select": q_budget_select,
        "event_window_stats": q_event_window_stats,
        "sliding_window_stats": q_sliding_window_stats,
        "user_sessions": q_user_sessions,
        "asof_attribution": q_asof_attribution,
        "event_pairs_range": q_event_pairs_range,
        "chunk_dedup": q_chunk_dedup,
        "line_dedup": q_line_dedup,
        "containment_pairs": q_containment_pairs,
        "top_docs_per_source": q_top_docs_per_source,
        "snapshot_diff": q_snapshot_diff,
        "dedup_assignments": q_dedup_assignments,
        "dup_group_sizes": q_dup_group_sizes,
        "dedup_impact": q_dedup_impact,
        "rep_selection": q_rep_selection,
        "deduped_docs": q_deduped_docs,
        "embedding_topk": q_embedding_topk,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "minhash_lsh_pairs": q_minhash_pairs,
    }


_NGRAM_PAIRS_SQL = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
),
grams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                   for i in range(1, len(t) - 1)]) AS gram
    FROM toks WHERE len(t) >= 3
  )
),
sizes AS (SELECT doc_id, count(*) AS gsize FROM grams GROUP BY doc_id),
inter AS (
  SELECT ga.doc_id AS a, gb.doc_id AS b, count(*) AS inter
  FROM grams ga JOIN grams gb ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id
  GROUP BY ga.doc_id, gb.doc_id
),
pairs AS (
  SELECT i.a, i.b, i.inter, sa.gsize + sb.gsize - i.inter AS uni
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.a
  JOIN sizes sb ON sb.doc_id = i.b
  WHERE i.inter * 10 >= 3 * (sa.gsize + sb.gsize - i.inter)
)
"""

def _kmeans_sql(k: int, iters: int, source: str = "embeddings") -> str:
    """DuckDB replay of the ENTIRE distributed k-means trajectory
    (functions/clustering.py) — init, every Lloyd round, final
    assignment — as one unrolled CTE chain.  Possible only because
    the operator's trajectory is exact-integer with closed-form IEEE
    renormalization: every sum here is over integers (order-free),
    every float expression mirrors the numpy ops token-for-token
    (int→double casts, sqrt, one divide), so the hash matches
    bit-for-bit with no tolerance on an ITERATIVE float-shaped
    algorithm.  HUGEINT carries Σ S_i² (the Python side uses
    bigints)."""
    ctes = ["""
q AS MATERIALIZED (
  SELECT vec_id,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
              AS BIGINT) AS qv,
         unnest(range(len(embedding))) AS idx
  FROM {src}
),
qn AS MATERIALIZED (SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS na2
       FROM q GROUP BY 1),
u AS MATERIALIZED (
  SELECT q.vec_id, q.idx,
         CASE WHEN n.na2 = 0 THEN 0
              ELSE CAST(floor((CAST(q.qv AS DOUBLE) * 1000000.0)
                              / sqrt(CAST(n.na2 AS DOUBLE))) AS BIGINT)
         END AS uv
  FROM q JOIN qn n USING (vec_id)
),
un AS MATERIALIZED (SELECT vec_id, CAST(sum(uv * uv) AS BIGINT) AS nu2
       FROM u GROUP BY 1),
seeds AS MATERIALIZED (
  SELECT vec_id,
         row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c
  FROM {src} QUALIFY c < {k}
),
c0 AS MATERIALIZED (SELECT s.c, u.idx, u.uv AS val FROM seeds s JOIN u USING (vec_id))
""".replace("{k}", str(k)).replace("{src}", source)]
    for t in range(iters + 1):
        ctes.append(f"""
n{t} AS MATERIALIZED (SELECT c, CAST(sum(val * val) AS BIGINT) AS ns2
         FROM c{t} GROUP BY c),
d{t} AS MATERIALIZED (SELECT u.vec_id, cc.c, CAST(sum(u.uv * cc.val) AS BIGINT) AS dot
         FROM u JOIN c{t} cc USING (idx) GROUP BY 1, 2),
a{t} AS MATERIALIZED (
  SELECT vec_id, c, dot FROM (
    SELECT d.vec_id, d.c, d.dot,
           row_number() OVER (
             PARTITION BY d.vec_id
             ORDER BY CASE WHEN n.ns2 = 0 THEN NULL
                      ELSE CAST(d.dot AS DOUBLE)
                           / sqrt(CAST(n.ns2 AS DOUBLE)) END
                      DESC NULLS LAST,
                      d.c ASC) AS rn
    FROM d{t} d JOIN n{t} n USING (c)
  ) WHERE rn = 1
)""")
        if t < iters:
            ctes.append(f"""
s{t} AS MATERIALIZED (SELECT a.c, u.idx, CAST(sum(u.uv) AS BIGINT) AS sv
         FROM a{t} a JOIN u USING (vec_id) GROUP BY 1, 2),
sn{t} AS MATERIALIZED (SELECT c, sum(CAST(sv AS HUGEINT) * sv) AS sns2
          FROM s{t} GROUP BY c),
c{t + 1} AS MATERIALIZED (
  SELECT s.c, s.idx,
         CAST(floor((CAST(s.sv AS DOUBLE) * 1000000.0)
                    / sqrt(CAST(n.sns2 AS DOUBLE))) AS BIGINT) AS val
  FROM s{t} s JOIN sn{t} n USING (c) WHERE n.sns2 > 0
  UNION ALL
  SELECT c.c, c.idx, c.val FROM c{t} c
  WHERE c.c NOT IN (SELECT c FROM sn{t} WHERE sns2 > 0)
)""")
    final = f"""
SELECT CAST(a.vec_id AS BIGINT) AS vec_id,
       CAST(a.c AS BIGINT) AS cluster,
       CAST(CASE WHEN un.nu2 = 0 OR n.ns2 = 0 THEN 0
            ELSE floor(CAST(1000 * a.dot AS DOUBLE)
                   / (sqrt(CAST(un.nu2 AS DOUBLE))
                      * sqrt(CAST(n.ns2 AS DOUBLE))))
            END AS BIGINT) AS sim_x1000
FROM a{iters} a JOIN un USING (vec_id) JOIN n{iters} n USING (c)
"""
    return "WITH " + ",".join(ctes) + final


def _semdedup_sql(
    k: int, iters: int, thr: int, source: str = "embeddings"
) -> str:
    """SemDeDup oracle: the full k-means trajectory (same core CTEs as
    _kmeans_sql over ``source``), then within-cluster exact-integer
    pair cosine >= thr, recursive transitive closure, min-id
    representative — the dedup_assignments closure pattern over pairs
    the k-means stage scoped."""
    core = _kmeans_sql(k, iters, source)
    core = core[: core.rindex("\nSELECT ")]  # drop the final SELECT
    T = iters
    return (
        "WITH RECURSIVE "
        + core.removeprefix("WITH ")
        + f""",
p AS MATERIALIZED (
  SELECT a1.vec_id AS a, a2.vec_id AS b
  FROM a{T} a1 JOIN a{T} a2
    ON a1.c = a2.c AND a1.vec_id < a2.vec_id
),
pd AS MATERIALIZED (
  SELECT p.a, p.b, CAST(sum(ua.uv * ub.uv) AS BIGINT) AS dot
  FROM p
  JOIN u ua ON ua.vec_id = p.a
  JOIN u ub ON ub.vec_id = p.b AND ua.idx = ub.idx
  GROUP BY 1, 2
),
sp AS MATERIALIZED (
  SELECT pd.a, pd.b
  FROM pd
  JOIN un na ON na.vec_id = pd.a
  JOIN un nb ON nb.vec_id = pd.b
  WHERE na.nu2 > 0 AND nb.nu2 > 0
    AND floor(CAST(1000 * pd.dot AS DOUBLE)
              / (sqrt(CAST(na.nu2 AS DOUBLE))
                 * sqrt(CAST(nb.nu2 AS DOUBLE)))) >= {thr}
),
und AS (SELECT a, b FROM sp UNION SELECT b AS a, a AS b FROM sp),
reach(src, dst) AS (
  SELECT a AS src, b AS dst FROM und
  UNION
  SELECT r.src, u2.b AS dst FROM reach r JOIN und u2 ON r.dst = u2.a
),
assigns AS (
  SELECT src AS vec_id, least(src, min(dst)) AS rep_id
  FROM reach GROUP BY src
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(rep_id AS BIGINT) AS rep_id,
       CAST(vec_id = rep_id AS BIGINT) AS keep
FROM assigns
"""
    )


def _semdedup_new_sql(k: int, iters: int, thr: int, new_src: str) -> str:
    """semdedup_new oracle: k-means fit on the KNOWN embeddings table
    (the _kmeans_sql core), assignment of the NEW rows (``new_src``)
    against the FINAL centroids, then cross (known×new, same cluster)
    plus within-new pairs filtered by the exact-integer per-mille
    cosine — never within-known.  The new side replays the identical
    quantization chain with its own CTE suffix."""
    core = _kmeans_sql(k, iters)
    core = core[: core.rindex("\nSELECT ")]  # drop the final SELECT
    T = iters
    return (
        core
        + f""",
nb0 AS MATERIALIZED (SELECT vec_id, embedding FROM {new_src}),
nq AS MATERIALIZED (
  SELECT vec_id,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
              AS BIGINT) AS qv,
         unnest(range(len(embedding))) AS idx
  FROM nb0
),
nqn AS MATERIALIZED (SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS na2
        FROM nq GROUP BY 1),
nu AS MATERIALIZED (
  SELECT nq.vec_id, nq.idx,
         CASE WHEN n.na2 = 0 THEN 0
              ELSE CAST(floor((CAST(nq.qv AS DOUBLE) * 1000000.0)
                              / sqrt(CAST(n.na2 AS DOUBLE))) AS BIGINT)
         END AS uv
  FROM nq JOIN nqn n USING (vec_id)
),
nun AS MATERIALIZED (SELECT vec_id, CAST(sum(uv * uv) AS BIGINT) AS nu2
        FROM nu GROUP BY 1),
nd AS MATERIALIZED (
  SELECT nu.vec_id, cc.c, CAST(sum(nu.uv * cc.val) AS BIGINT) AS dot
  FROM nu JOIN c{T} cc USING (idx) GROUP BY 1, 2
),
na AS MATERIALIZED (
  SELECT vec_id, c FROM (
    SELECT d.vec_id, d.c,
           row_number() OVER (
             PARTITION BY d.vec_id
             ORDER BY CASE WHEN n.ns2 = 0 THEN NULL
                      ELSE CAST(d.dot AS DOUBLE)
                           / sqrt(CAST(n.ns2 AS DOUBLE)) END
                      DESC NULLS LAST,
                      d.c ASC) AS rn
    FROM nd d JOIN n{T} n USING (c)
  ) WHERE rn = 1
),
cand AS MATERIALIZED (
  SELECT kk.vec_id AS a, nn.vec_id AS b
  FROM a{T} kk JOIN na nn ON kk.c = nn.c
  UNION ALL
  SELECT n1.vec_id AS a, n2.vec_id AS b
  FROM na n1 JOIN na n2 ON n1.c = n2.c AND n1.vec_id < n2.vec_id
),
uall AS MATERIALIZED (
  SELECT vec_id, idx, uv FROM u
  UNION ALL SELECT vec_id, idx, uv FROM nu
),
unall AS MATERIALIZED (
  SELECT vec_id, nu2 FROM un UNION ALL SELECT vec_id, nu2 FROM nun
),
cpd AS MATERIALIZED (
  SELECT cand.a, cand.b, CAST(sum(ua.uv * ub.uv) AS BIGINT) AS dot
  FROM cand
  JOIN uall ua ON ua.vec_id = cand.a
  JOIN uall ub ON ub.vec_id = cand.b AND ua.idx = ub.idx
  GROUP BY 1, 2
)
SELECT CAST(least(cpd.a, cpd.b) AS BIGINT) AS a,
       CAST(greatest(cpd.a, cpd.b) AS BIGINT) AS b
FROM cpd
JOIN unall za ON za.vec_id = cpd.a
JOIN unall zb ON zb.vec_id = cpd.b
WHERE za.nu2 > 0 AND zb.nu2 > 0
  AND floor(CAST(1000 * cpd.dot AS DOUBLE)
            / (sqrt(CAST(za.nu2 AS DOUBLE))
               * sqrt(CAST(zb.nu2 AS DOUBLE)))) >= {thr}
"""
    )


# exact cosine near-dup pairs over the embeddings table — shared CTE
# prefix for the embedding_dup_pairs and semantic_dedup oracles (ends
# after the epairs CTE so consumers append their own SELECT)
_EMB_PAIRS_SQL = """
WITH e AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS val,
         unnest(range(len(embedding))) AS idx
  FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM e GROUP BY vec_id),
dots AS (
  SELECT ea.vec_id AS a, eb.vec_id AS b, sum(ea.val * eb.val) AS dot
  FROM e ea JOIN e eb ON ea.idx = eb.idx AND ea.vec_id < eb.vec_id
  GROUP BY 1, 2
),
epairs AS (
  SELECT d.a, d.b
  FROM dots d
  JOIN norms na ON na.vec_id = d.a
  JOIN norms nb ON nb.vec_id = d.b
  WHERE round(d.dot / (na.nrm * nb.nrm), 9) >= 0.4
)
"""

_ASSIGN_SQL = _NGRAM_PAIRS_SQL + """,
und AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
reach(src, dst) AS (
  SELECT a AS src, b AS dst FROM und
  UNION
  SELECT r.src, u.b AS dst FROM reach r JOIN und u ON r.dst = u.a
),
assigns AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)
"""


def _lang_case_sql(col: str) -> str:
    """The lang_id cascade as SQL over ``col`` — single source for the
    lang_id oracle and the composites embedding it (filter_reasons)."""
    pad = f"' ' || lower({col}) || ' '"
    return f"""CASE
                WHEN regexp_matches({col}, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
                WHEN regexp_matches({col}, '[\\x{{0370}}-\\x{{03ff}}]') THEN 'el'
                WHEN regexp_matches({col}, '[\\x{{0400}}-\\x{{04ff}}]') THEN 'ru'
                WHEN regexp_matches({pad}, ' (der|und|das|ist) ') THEN 'de'
                WHEN regexp_matches({pad}, ' (le|les|une|est) ') THEN 'fr'
                WHEN regexp_matches({pad}, ' (el|los|las|una) ') THEN 'es'
                ELSE 'en'
              END"""


def _gram_ctes_sql(src: str) -> str:
    """The repetition gram-counting CTE chain (g2..d5) over a prior CTE
    ``src`` exposing (doc_id, t) — shared by the repetition and
    filter_reasons oracles so a fix lands in both."""
    return f"""g2 AS (
              SELECT doc_id,
                unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS gram
              FROM {src} WHERE len(t) >= 2
            ),
            c2 AS (SELECT doc_id, gram, count(*) AS cnt, length(gram) AS glen
                   FROM g2 GROUP BY doc_id, gram),
            t2 AS (SELECT doc_id, cnt, glen FROM c2
                   QUALIFY row_number() OVER (
                     PARTITION BY doc_id ORDER BY cnt DESC, glen DESC) = 1),
            g5 AS (
              SELECT doc_id,
                unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                        t[i+3] || ' ' || t[i+4]
                        for i in range(1, len(t) - 3)]) AS gram
              FROM {src} WHERE len(t) >= 5
            ),
            c5 AS (SELECT doc_id, gram, count(*) AS cnt, length(gram) AS glen
                   FROM g5 GROUP BY doc_id, gram),
            d5 AS (SELECT doc_id, sum(cnt * glen) AS dupc
                   FROM c5 WHERE cnt >= 2 GROUP BY doc_id)"""


def _rep_cols_sql(chars: str) -> str:
    """top2/dup5 per-mille projections over joined t2/d5 — the CASTs
    guard DuckDB's HUGEINT sum() (the corpus_summary lesson)."""
    return f"""CAST(CASE WHEN {chars} = 0 THEN 0
                     ELSE coalesce(t2.cnt * t2.glen, 0) * 1000 // {chars}
                     END AS BIGINT) AS top2_x1000,
                CAST(CASE WHEN {chars} = 0 THEN 0
                     ELSE coalesce(d5.dupc, 0) * 1000 // {chars}
                     END AS BIGINT) AS dup5_x1000"""


def oracle_sql() -> dict[str, str]:
    return {
        "exact_dup_groups": """
            WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, text
              FROM documents WHERE doc_id < 50
            )
            SELECT md5(text) AS fp, count(*) AS group_size, min(doc_id) AS rep_id
            FROM all_docs GROUP BY md5(text) HAVING count(*) > 1
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents
        """,
        "token_stats": f"""
            SELECT doc_id,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            t -> lower(t) IN {STOPWORD_SQL})) END AS stop_tokens,
              length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                AS punct_chars,
              length(text) AS n_chars_m,
              len(regexp_extract_all(text,
                  '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))
                AS bpe_tokens
            FROM documents
        """,
        "doc_quality": f"""
            WITH s AS (
              SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                  AS n_tokens,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                              t -> lower(t) IN {STOPWORD_SQL})) END AS stop,
                length(text) AS chars
              FROM documents
            ),
            r AS (
              SELECT doc_id, n_tokens,
                CASE WHEN n_tokens = 0 THEN 0
                     ELSE stop * 1000 // n_tokens END AS stop_x1000,
                CASE WHEN n_tokens = 0 THEN 0
                     ELSE chars * 10 // n_tokens END AS mwl_x10
              FROM s
            )
            SELECT doc_id, n_tokens, stop_x1000, mwl_x10,
              CASE WHEN n_tokens < 20 THEN 'too_short'
                   WHEN stop_x1000 < 80 THEN 'low_stopword'
                   ELSE 'ok' END AS quality
            FROM r
        """,
        # vocab_coverage: deterministic top-K vocabulary (cnt DESC,
        # token ASC) + per-doc coverage over the identical tokenization
        "vocab_coverage": """
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 500000 AS doc_id,
                     'zzqx' || CAST(doc_id AS VARCHAR) || ' zzqx'
                       || CAST(doc_id AS VARCHAR) || ' zzqx'
                       || CAST(doc_id AS VARCHAR) || ' zzqx'
                       || CAST(doc_id AS VARCHAR) AS text
              FROM documents WHERE doc_id < 15
            ),
            toks AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                       AS token
              FROM base WHERE length(trim(text)) > 0
            ),
            vocab AS (
              SELECT token FROM (
                SELECT token, count(*) AS cnt FROM toks GROUP BY token
              ) ORDER BY cnt DESC, token ASC LIMIT 16
            ),
            per AS (
              SELECT t.doc_id,
                     count(*) AS n_tokens,
                     sum(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END)
                       AS in_vocab
              FROM toks t LEFT JOIN vocab v ON t.token = v.token
              GROUP BY t.doc_id
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(in_vocab AS BIGINT) AS in_vocab,
                   CAST(in_vocab * 1000 // n_tokens AS BIGINT) AS cov_x1000
            FROM per
        """,
        # tfidf_terms: identical tokenization + identical integer ops
        # (rational idf via `//`); DuckDB's per-doc row_number IS the
        # textbook formulation grouped_topk replaces at scale
        "tfidf_terms": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                       AS term
              FROM documents WHERE length(trim(text)) > 0
            ),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
            ),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
            scored AS (
              SELECT tf.doc_id, tf.term, tf.tf, df.df,
                     tf.tf * ((SELECT n_docs FROM n) * 1000 // df.df)
                       AS score
              FROM tf JOIN df USING (term)
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id, term,
                   CAST(tf AS BIGINT) AS tf,
                   CAST(df AS BIGINT) AS df,
                   CAST(score AS BIGINT) AS score,
                   CAST(row_number() OVER (
                     PARTITION BY doc_id ORDER BY score DESC, term ASC
                   ) AS BIGINT) AS rank
            FROM scored
            QUALIFY rank <= 3
        """,
        # rare_terms: same planted slices (pure gibberish = 1000,
        # organic-plus-one-unique-token = mid band, organic = 0) and
        # the same all-integer per-mille
        "rare_terms": """
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 500000,
                     'qqgib' || CAST(doc_id AS VARCHAR) || 'x qqgib'
                       || CAST(doc_id AS VARCHAR) || 'y qqgib'
                       || CAST(doc_id AS VARCHAR) || 'x'
              FROM documents WHERE doc_id < 15
              UNION ALL
              SELECT doc_id + 600000,
                     text || ' qqsolo' || CAST(doc_id AS VARCHAR)
              FROM documents WHERE doc_id >= 15 AND doc_id < 30
            ),
            toks AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                       AS term
              FROM base WHERE length(trim(text)) > 0
            ),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
            ),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            per AS (
              SELECT tf.doc_id,
                     sum(tf.tf) AS n_tokens,
                     count(*) AS n_terms,
                     sum(CASE WHEN df.df <= 1 THEN tf.tf ELSE 0 END) AS rare
              FROM tf JOIN df USING (term)
              GROUP BY tf.doc_id
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(n_terms AS BIGINT) AS n_terms,
                   CAST(rare * 1000 // n_tokens AS BIGINT) AS rare_x1000
            FROM per
        """,
        # centroid_sim: identical quantization (floor(double·1e4)),
        # exact integer centroid sums (order-free), and the identical
        # closed-form IEEE expression — sqrt/mul/div/casts are all
        # correctly-rounded ops, so no tolerance is needed
        "centroid_sim": """
            WITH base AS (
              SELECT vec_id, embedding, label FROM embeddings
              UNION ALL
              SELECT vec_id + 700000,
                     list_transform(embedding, x -> -x), label
              FROM embeddings WHERE vec_id < 10
            ),
            q AS (
              SELECT vec_id, label,
                     CAST(floor(unnest(list_transform(embedding,
                            x -> CASE WHEN isnan(CAST(x AS DOUBLE))
                                      THEN 0.0
                                      ELSE CAST(x AS DOUBLE) END
                                 * 10000.0))) AS BIGINT) AS qv,
                     unnest(range(len(embedding))) AS idx
              FROM base
            ),
            cent AS (
              SELECT label, idx, CAST(sum(qv) AS BIGINT) AS s
              FROM q GROUP BY 1, 2
            ),
            dots AS (
              SELECT q.vec_id, q.label,
                     sum(CAST(q.qv AS HUGEINT) * c.s) AS dot,
                     CAST(sum(q.qv * q.qv) AS BIGINT) AS na2
              FROM q JOIN cent c ON q.label = c.label AND q.idx = c.idx
              GROUP BY 1, 2
            ),
            ns AS (
              SELECT label, sum(CAST(s AS HUGEINT) * s) AS ns2
              FROM cent GROUP BY 1
            )
            SELECT CAST(d.vec_id AS BIGINT) AS vec_id,
                   CAST(d.label AS BIGINT) AS label,
                   CAST(CASE WHEN d.na2 = 0 OR n.ns2 = 0 THEN 0
                        ELSE floor((CAST(d.dot AS DOUBLE) * 1000.0)
                               / (sqrt(CAST(d.na2 AS DOUBLE))
                                  * sqrt(CAST(n.ns2 AS DOUBLE))))
                        END AS BIGINT) AS sim_x1000
            FROM dots d JOIN ns n USING (label)
        """,
        # kmeans_clusters: full-trajectory replay, generated with the
        # same (k, iters) as the driver query
        "kmeans_clusters": _kmeans_sql(k=8, iters=3),
        # semdedup_prune: k-means + within-cluster pair cosine +
        # recursive closure, all replayed over the planted source
        "semdedup_prune": _semdedup_sql(
            k=8, iters=2, thr=950,
            source=(
                "(SELECT vec_id, embedding FROM embeddings"
                " UNION ALL"
                " SELECT vec_id + 800000, embedding FROM embeddings"
                " WHERE vec_id < 10)"
            ),
        ),
        # semdedup_new_pairs: k-means on the known side + new-side
        # assignment + cross/within-new pair cosine, replayed end to end
        "semdedup_new_pairs": _semdedup_new_sql(
            k=8, iters=2, thr=950,
            new_src=(
                "(SELECT vec_id + 900000 AS vec_id, embedding"
                " FROM embeddings WHERE vec_id < 50)"
            ),
        ),
        # source_quantiles: same histogram -> cumulative -> smallest
        # value crossing q*n, all integer
        "source_quantiles": """
            WITH h AS (
              SELECT source, n_chars AS v, count(*) AS c
              FROM documents GROUP BY 1, 2
            ),
            cum AS (
              SELECT source, v, c,
                     sum(c) OVER (PARTITION BY source ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) AS cum
              FROM h
            ),
            tot AS (SELECT source, max(cum) AS n FROM cum GROUP BY 1)
            SELECT cum.source,
                   CAST(max(n) AS BIGINT) AS n_rows,
                   CAST(min(CASE WHEN cum * 1000 >= 100 * n THEN v END)
                        AS BIGINT) AS p100,
                   CAST(min(CASE WHEN cum * 1000 >= 500 * n THEN v END)
                        AS BIGINT) AS p500,
                   CAST(min(CASE WHEN cum * 1000 >= 900 * n THEN v END)
                        AS BIGINT) AS p900
            FROM cum JOIN tot USING (source)
            GROUP BY cum.source
        """,
        # novelty_scores: oracle joins gram STRINGS where Spark probes
        # xxhash64 keys; same planted three-slice new batch
        "novelty_scores": """
            WITH newdocs AS (
              SELECT doc_id + 1000000 AS doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1100000,
                     text || ' zznovel' || CAST(doc_id AS VARCHAR)
                       || ' tail of fresh words'
              FROM documents WHERE doc_id < 40
              UNION ALL
              SELECT doc_id + 1200000,
                     'qqfresh document ' || CAST(doc_id AS VARCHAR)
                       || ' sharing absolutely nothing with the'
                       || ' reference corpus gram space whatsoever'
              FROM documents WHERE doc_id < 20
            ),
            ng AS (
              SELECT DISTINCT doc_id,
                     substring(text, CAST(i AS INT), 32) AS gram
              FROM newdocs, unnest(range(1, length(text) - 30)) AS t(i)
              WHERE length(text) >= 32
            ),
            rg AS (
              SELECT DISTINCT substring(text, CAST(i AS INT), 32) AS gram
              FROM documents, unnest(range(1, length(text) - 30)) AS t(i)
              WHERE length(text) >= 32
            )
            SELECT ng.doc_id AS doc_id,
                   count(*) AS n_grams,
                   count(*) - count(rg.gram) AS novel,
                   CAST((count(*) - count(rg.gram)) * 1000 // count(*)
                        AS BIGINT) AS novel_x1000
            FROM ng LEFT JOIN rg USING (gram)
            GROUP BY ng.doc_id
        """,
        # common_line_strip: DuckDB joins line STRINGS where Spark
        # anti-joins xxhash64 keys; same staged nav/footer plants
        "common_line_strip": """
            WITH staged AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0 THEN
                       'qqnav shared menu line' || chr(10) || text
                       || chr(10) || 'qqfooter legal line'
                     ELSE text END AS text
              FROM documents
            ),
            l AS (
              SELECT doc_id,
                     unnest(string_split(text, chr(10))) AS line,
                     generate_subscripts(string_split(text, chr(10)), 1)
                       AS ord
              FROM staged
            ),
            hot AS (
              SELECT line FROM (
                SELECT line, count(DISTINCT doc_id) AS df
                FROM l WHERE trim(line) <> '' GROUP BY line
              ) WHERE df >= 5
            ),
            kept AS (
              SELECT l.doc_id, l.line, l.ord FROM l
              WHERE l.line NOT IN (SELECT line FROM hot)
            ),
            reb AS (
              SELECT doc_id, count(*) AS n_kept,
                     md5(string_agg(line, chr(10) ORDER BY ord)) AS fp
              FROM kept GROUP BY doc_id
            ),
            cnt AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id)
            SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
                   CAST(coalesce(c.n_lines, 0) AS BIGINT) AS n_lines,
                   CAST(coalesce(c.n_lines, 0) - coalesce(r.n_kept, 0)
                        AS BIGINT) AS n_removed,
                   coalesce(r.fp, md5('')) AS strip_fp
            FROM staged s
            LEFT JOIN cnt c USING (doc_id)
            LEFT JOIN reb r USING (doc_id)
        """,
        # repetition: DuckDB groups by the true gram (unnest + GROUP BY);
        # Spark folds adjacency runs of the sorted gram array — same
        # multiset, same (count, len) tie-break, structurally equal.
        # CASTs guard DuckDB's HUGEINT sum() (the corpus_summary lesson).
        "repetition": f"""
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 200000 AS doc_id,
                     trim(repeat(regexp_split_to_array(trim(text), '\\s+')[1]
                                 || ' ', 60)) AS text
              FROM documents WHERE doc_id < 20
            ),
            toks AS (
              SELECT doc_id, length(text) AS chars,
                CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                     ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
              FROM base
            ),
            {_gram_ctes_sql("toks")},
            r AS (
              SELECT k.doc_id,
                {_rep_cols_sql("k.chars")}
              FROM toks k
              LEFT JOIN t2 USING (doc_id)
              LEFT JOIN d5 USING (doc_id)
            )
            SELECT doc_id, top2_x1000, dup5_x1000,
              CASE WHEN top2_x1000 > 200 OR dup5_x1000 > 150
                   THEN 'repetitive' ELSE 'ok' END AS repetition
            FROM r
        """,
        # filter_reasons: composes the doc_quality, repetition, and
        # lang_id twins into the first-match drop-reason cascade —
        # order (too_short, low_stopword, repetitive, lang_blocked) is
        # the operator contract (operators/filters.rejection_reason).
        "filter_reasons": f"""
            WITH s AS (
              SELECT doc_id, text, length(text) AS chars,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                  AS n_tokens,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                              t -> lower(t) IN {STOPWORD_SQL})) END AS stop,
                CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                     ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
              FROM documents
            ),
            {_gram_ctes_sql("s")},
            sig AS (
              SELECT s.doc_id,
                s.n_tokens,
                CASE WHEN s.n_tokens = 0 THEN 0
                     ELSE s.stop * 1000 // s.n_tokens END AS stop_x1000,
                {_rep_cols_sql("s.chars")},
                {_lang_case_sql("s.text")} AS lang
              FROM s
              LEFT JOIN t2 ON t2.doc_id = s.doc_id
              LEFT JOIN d5 ON d5.doc_id = s.doc_id
            )
            SELECT doc_id,
              CASE WHEN n_tokens < 20 THEN 'too_short'
                   WHEN stop_x1000 < 80 THEN 'low_stopword'
                   WHEN top2_x1000 > 200 OR dup5_x1000 > 150 THEN 'repetitive'
                   WHEN lang NOT IN ('en', 'de', 'fr', 'es') THEN 'lang_blocked'
                   ELSE 'clean' END AS reason
            FROM sig
        """,
        "lang_id": f"""
            SELECT doc_id, {_lang_case_sql("text")} AS pred_lang
            FROM documents
        """,
        # pii_counts: identical pattern strings by construction (the
        # SQL interpolates operators/pii.py's constants); the regex
        # subset used has equal Java/RE2 semantics, pinned by hashing
        # the redacted text itself
        "pii_counts": f"""
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 400000 AS doc_id,
                     text || '{_PII_TAIL}' AS text
              FROM documents WHERE doc_id < 25
            )
            SELECT doc_id,
              len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
              len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phones,
              len(regexp_extract_all(text, '{_PII_IP}')) AS n_ips,
              md5(regexp_replace(regexp_replace(regexp_replace(text,
                  '{_PII_EMAIL}', '<EMAIL>', 'g'),
                  '{_PII_PHONE}', '<PHONE>', 'g'),
                  '{_PII_IP}', '<IP>', 'g')) AS redacted_fp
            FROM base
        """,
        # boilerplate_ngrams: DuckDB brute-forces the same per-doc
        # distinct 5-grams and true-string GROUP BY; the Spark operator
        # shuffles xxhash64 longs and recovers strings via broadcast —
        # equal results under the documented collision contract.
        "boilerplate_ngrams": """
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 300000 AS doc_id,
                     'corpus boilerplate marker sentence end' AS text
              FROM documents WHERE doc_id < 15
            ),
            toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM base WHERE length(trim(text)) > 0
            ),
            g AS (
              SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id,
                  unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                          t[i+3] || ' ' || t[i+4]
                          for i in range(1, len(t) - 3)]) AS gram
                FROM toks WHERE len(t) >= 5
              )
            )
            SELECT gram, CAST(count(*) AS BIGINT) AS df
            FROM g GROUP BY gram HAVING count(*) >= 3
        """,
        # dup_profile: same per-doc distinct 5-gram CTE shape as
        # boilerplate_ngrams; df over gram STRINGS (the Spark operator
        # shuffles xxhash64 longs — equal under the documented
        # collision contract), // replaying Spark's integer `div`
        "dup_profile": """
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 400000 AS doc_id, text
              FROM documents WHERE doc_id < 10
            ),
            toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM base WHERE length(trim(text)) > 0
            ),
            g AS (
              SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id,
                  unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                          t[i+3] || ' ' || t[i+4]
                          for i in range(1, len(t) - 3)]) AS gram
                FROM toks WHERE len(t) >= 5
              )
            ),
            gdf AS (
              SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram
            )
            SELECT g.doc_id AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN gdf.df >= 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS dup_grams,
                   CAST((sum(CASE WHEN gdf.df >= 2 THEN 1 ELSE 0 END) * 1000)
                        // count(*) AS BIGINT) AS dup_x1000
            FROM g JOIN gdf USING (gram)
            GROUP BY g.doc_id
        """,
        "ngram_jaccard_pairs": _NGRAM_PAIRS_SQL + "SELECT a, b, inter, uni FROM pairs",
        "corpus_summary": """
            WITH d AS (
              SELECT lang, source, length(text) AS chars,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS toks
              FROM documents
            )
            SELECT lang, source, count(*) AS n_docs,
                   CAST(sum(chars) AS BIGINT) AS total_chars,
                   CAST((sum(toks) * 1000) // count(*) AS BIGINT)
                     AS mean_tokens_x1000
            FROM d GROUP BY lang, source
        """,
        "length_deciles": """
            WITH d AS (
              SELECT doc_id, length(text) AS chars,
                     ntile(10) OVER (ORDER BY length(text), doc_id) AS decile
              FROM documents
            )
            SELECT decile, count(*) AS n_docs,
                   min(chars) AS min_chars, max(chars) AS max_chars
            FROM d GROUP BY decile
        """,
        "train_split": """
            SELECT doc_id,
              CASE
                WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                     < 'cccccccc' THEN 'train'
                WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                     < 'e6666666' THEN 'val'
                ELSE 'test'
              END AS split
            FROM documents
        """,
        "stable_sample": """
            SELECT doc_id FROM documents
            WHERE substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < '40000000'
        """,
        # stratified_sample: unlisted strata get a NULL bound -> NULL
        # comparison -> dropped, in both engines ('g' sorts above every
        # hex char: the keep-everything bound)
        "stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < CASE lang WHEN 'en' THEN '80000000'
                              WHEN 'de' THEN 'g'
                              WHEN 'el' THEN '40000000' END
        """,
        # weighted_sample: per-row bound = floor(min(1, n_chars/800) *
        # 2^32) as 8-hex — the same IEEE-double product shape as
        # domain_mix's bounds, here per ROW instead of per stratum
        "weighted_sample": """
            SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
            FROM documents
            WHERE substring(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 8)
              < CASE WHEN CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
                         CAST(n_chars AS DOUBLE) / 800.0) * 4294967296.0)
                       AS BIGINT) >= 4294967296 THEN 'g'
                     ELSE printf('%08x',
                       CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
                         CAST(n_chars AS DOUBLE) / 800.0) * 4294967296.0)
                       AS BIGINT))
                END
        """,
        # domain_mix: mass → fractions → hex bounds, every float step
        # in the same IEEE-double expression shape as
        # splits.mix_fractions (see its docstring contract)
        "domain_mix": """
            WITH tok AS (
              SELECT doc_id, lang,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                END AS toks
              FROM documents WHERE lang IN ('en', 'de', 'fr')
            ),
            tot AS (
              SELECT lang, CAST(sum(toks) AS DOUBLE) AS t,
                     CAST(CASE lang WHEN 'en' THEN 0.5
                                    WHEN 'de' THEN 0.3
                                    ELSE 0.2 END AS DOUBLE) AS w
              FROM tok GROUP BY lang
            ),
            n AS (SELECT min(t / w) AS nn FROM tot),
            b AS (
              SELECT lang,
                CASE WHEN CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
                            w * (SELECT nn FROM n) / t) * 4294967296.0)
                          AS BIGINT) >= 4294967296 THEN 'g'
                     ELSE printf('%08x',
                            CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
                              w * (SELECT nn FROM n) / t) * 4294967296.0)
                            AS BIGINT))
                END AS bound
              FROM tot
            )
            SELECT d.doc_id, d.lang
            FROM documents d JOIN b ON d.lang = b.lang
            WHERE substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
                  < b.bound
        """,
        # domain_mix_epochs: the upsampling plan replayed step-for-step
        # in the same IEEE-double expression shapes as splits.mix_plan
        # (see its docstring contract), epochs via generate_series and
        # the epoch-salted md5 compare of _hex_key_epoch
        "domain_mix_epochs": """
            WITH tok AS (
              SELECT doc_id, lang,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                END AS toks
              FROM documents WHERE lang IN ('en', 'fr')
            ),
            tot AS (
              SELECT lang, CAST(sum(toks) AS DOUBLE) AS t,
                     CAST(CASE lang WHEN 'en' THEN 0.3
                                    ELSE 0.7 END AS DOUBLE) AS w
              FROM tok GROUP BY lang
            ),
            n AS (SELECT min(t * 3 / w) AS nn FROM tot),
            p AS (
              SELECT lang, t,
                     w * (SELECT nn FROM n) AS m
              FROM tot
            ),
            r AS (
              SELECT lang, t, m,
                     LEAST(3, CAST(ceil(m / t) AS BIGINT)) AS rep
              FROM p
            ),
            b AS (
              SELECT lang, rep,
                CASE WHEN CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
                            m / (t * rep)) * 4294967296.0)
                          AS BIGINT) >= 4294967296 THEN 'g'
                     ELSE printf('%08x',
                            CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
                              m / (t * rep)) * 4294967296.0)
                            AS BIGINT))
                END AS bound
              FROM r
            ),
            ser AS (SELECT unnest(generate_series(1, 3)) AS epoch),
            e AS (
              SELECT d.doc_id, d.lang, s.epoch, b.bound
              FROM documents d
              JOIN b ON d.lang = b.lang
              JOIN ser s ON s.epoch <= b.rep
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
                   CAST(epoch AS BIGINT) AS epoch
            FROM e
            WHERE substring(md5('mixep@' || CAST(epoch AS VARCHAR)
                    || ':' || CAST(doc_id AS VARCHAR)), 1, 8) < bound
        """,
        "shard_assignment": """
            WITH s AS (
              SELECT doc_id,
                CASE
                  WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                       < 'cccccccc' THEN 'train'
                  WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                       < 'e6666666' THEN 'val'
                  ELSE 'test'
                END AS split
              FROM documents
            )
            SELECT doc_id, split,
                   CAST((row_number() OVER (PARTITION BY split ORDER BY doc_id)
                         - 1) // 64 AS BIGINT) AS shard
            FROM s
        """,
        # seq_packing: DuckDB runs the literal global-order window the
        # Spark side deliberately avoids (with_running_total two-pass);
        # CASTs guard the HUGEINT sum (the corpus_summary lesson)
        "seq_packing": """
            WITH t AS (
              SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                  AS toks
              FROM documents
            ),
            c AS (
              SELECT doc_id,
                sum(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  - toks AS prefix
              FROM t
            )
            SELECT doc_id,
                   CAST(prefix // 1024 AS BIGINT) AS seq_id,
                   CAST(prefix % 1024 AS BIGINT) AS seq_offset
            FROM c
        """,
        # budget_select: DuckDB runs the literal quality-ordered
        # window the Spark side replaces with the two-pass prefix sum;
        # stop_x1000 replays the doc_quality oracle's integer math
        "budget_select": f"""
            WITH s AS (
              SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                  AS n_tokens,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                              t -> lower(t) IN {STOPWORD_SQL})) END AS stop
              FROM documents
            ),
            r AS (
              SELECT doc_id, n_tokens,
                CASE WHEN n_tokens = 0 THEN 0
                     ELSE stop * 1000 // n_tokens END AS stop_x1000
              FROM s
            ),
            c AS (
              SELECT doc_id, n_tokens,
                sum(n_tokens) OVER (ORDER BY stop_x1000 DESC, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
              FROM r
            )
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(cum AS BIGINT) AS cum_tokens
            FROM c WHERE cum <= 10000
        """,
        "event_window_stats": """
            SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS win_start,
                   event_type,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_value_x100
            FROM events
            GROUP BY 1, 2
        """,
        # sliding windows: the covering epoch-aligned starts per event
        # are the multiples of S=21600 in (t-L, t] with L=86400; floor
        # epoch first (DuckDB epoch() is a fractional DOUBLE and a
        # bare BIGINT cast ROUNDS) — second-level floor membership is
        # exact against Spark's microsecond window arithmetic because
        # starts are whole seconds and the upper bound is strict
        "sliding_window_stats": """
            WITH e AS (
              SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t,
                     event_type, user_id,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events
            ),
            x AS (
              SELECT unnest(range(((t - 86400) // 21600 + 1) * 21600,
                                  (t // 21600) * 21600 + 1,
                                  21600)) AS win_start,
                     event_type, user_id, v
              FROM e
            )
            SELECT CAST(win_start AS BIGINT) AS win_start, event_type,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   CAST(sum(v) AS BIGINT) AS sum_value_x100
            FROM x GROUP BY 1, 2
        """,
        "user_sessions": """
            WITH flagged AS (
              SELECT user_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            sessed AS (
              SELECT user_id, ts, value,
                sum(new_sess) OVER (
                  PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
                ) AS sess
              FROM flagged
            )
            SELECT user_id,
                   -- floor, not CAST: DuckDB double->BIGINT casts ROUND,
                   -- Spark unix_timestamp truncates seconds
                   CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
                   count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_value_x100
            FROM sessed GROUP BY user_id, sess
        """,
        # asof_attribution: the literal most-recent-prior-view join —
        # rn=1 over (ts DESC, event_id DESC) is the same total order as
        # Spark's (ts, side, id) carry-forward; -1 coalesces on both
        # engines so the unmatched-click rows hash identically
        "asof_attribution": """
            WITH c AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click'
            ),
            v AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'view'
            ),
            m AS (
              SELECT c.event_id, v.event_id AS vid, v.ts AS vts,
                     row_number() OVER (
                       PARTITION BY c.event_id
                       ORDER BY v.ts DESC, v.event_id DESC
                     ) AS rn
              FROM c JOIN v
                ON v.user_id = c.user_id AND v.ts <= c.ts
            )
            SELECT CAST(c.event_id AS BIGINT) AS event_id,
                   CAST(c.user_id AS BIGINT) AS user_id,
                   epoch_us(c.ts) AS click_ts_us,
                   CAST(coalesce(m.vid, -1) AS BIGINT) AS view_event_id,
                   CAST(coalesce(epoch_us(c.ts) - epoch_us(m.vts), -1) AS BIGINT)
                     AS gap_us
            FROM c LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
              USING (event_id)
        """,
        # event_pairs_range: the literal inequality self-join DuckDB
        # can afford at sf0.01 — Spark's binned equi-join must emit the
        # identical pair set (1800000000 us fits INT32's 2^31-1, no
        # overflow; strictly-after = (ts, event_id) lexicographic)
        "event_pairs_range": """
            SELECT CAST(a.user_id AS BIGINT) AS user_id,
                   CAST(a.event_id AS BIGINT) AS a,
                   CAST(b.event_id AS BIGINT) AS b,
                   epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
            FROM events a JOIN events b
              ON b.user_id = a.user_id
              AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
              AND epoch_us(b.ts) - epoch_us(a.ts) <= 1800000000
        """,
        # top_docs_per_source: DuckDB's per-group row_number IS the
        # hot-window anti-pattern Spark must avoid; fine at oracle
        # scale, and QUALIFY makes the intent explicit
        "top_docs_per_source": """
            SELECT lang, source,
                   CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(row_number() OVER (
                     PARTITION BY lang, source
                     ORDER BY n_chars DESC, doc_id
                   ) AS BIGINT) AS rank
            FROM documents
            QUALIFY rank <= 3
        """,
        # snapshot_diff: literal full-outer fingerprint compare over
        # the same deterministic mutation (remove %97, rewrite %89,
        # add 25); unchanged rows excluded on both engines
        "snapshot_diff": """
            WITH o AS (SELECT doc_id, md5('1' || text) AS fp FROM documents),
            n0 AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 89 = 0 THEN text || ' zzrev'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 97 <> 0
              UNION ALL
              SELECT doc_id + 400000, text FROM documents WHERE doc_id < 25
            ),
            n AS (SELECT doc_id, md5('1' || text) AS fp FROM n0),
            j AS (
              SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                     o.fp AS old_fp, n.fp AS new_fp
              FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   coalesce(old_fp, '') AS old_fp,
                   coalesce(new_fp, '') AS new_fp,
                   CASE WHEN old_fp IS NULL THEN 'added'
                        WHEN new_fp IS NULL THEN 'removed'
                        ELSE 'changed' END AS status
            FROM j
            WHERE old_fp IS NULL OR new_fp IS NULL OR old_fp <> new_fp
        """,
        # chunk_dedup: first-occurrence-wins via a per-chunk
        # row_number (oracle scale) vs Spark's combinable min-struct
        # aggregate; rebuilt text compared through md5 (rewrite
        # oracle).  Plants mirror q_chunk_dedup exactly: full copies
        # at +200000, 20-shared-tokens partials at +300000.
        "chunk_dedup": """
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 200000, text FROM documents WHERE doc_id < 30
              UNION ALL
              SELECT doc_id + 300000,
                     array_to_string(
                       (regexp_split_to_array(trim(text), '\\s+'))[1:20], ' ')
                       || ' zzchunktail' || CAST(doc_id AS VARCHAR)
              FROM documents WHERE doc_id >= 30 AND doc_id < 40
            ),
            toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
              FROM base WHERE length(trim(text)) > 0
            ),
            chunks AS (
              SELECT doc_id, i AS idx,
                     array_to_string(w[(i*10+1):((i+1)*10)], ' ') AS chunk
              FROM toks, LATERAL unnest(
                generate_series(0, CAST(ceil(len(w)/10.0) AS INT) - 1)
              ) AS u(i)
            ),
            flagged AS (
              SELECT doc_id, idx, chunk,
                     row_number() OVER (
                       PARTITION BY chunk ORDER BY doc_id, idx
                     ) AS rn
              FROM chunks
            ),
            agg AS (
              SELECT doc_id, count(*) AS n_chunks,
                     sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept,
                     md5(coalesce(
                       string_agg(CASE WHEN rn = 1 THEN chunk END,
                                  ' ' ORDER BY idx), '')) AS dedup_fp
              FROM flagged GROUP BY doc_id
            )
            SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
                   CAST(coalesce(a.n_chunks, 0) AS BIGINT) AS n_chunks,
                   CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
                   coalesce(a.dedup_fp, md5('')) AS dedup_fp
            FROM base b LEFT JOIN agg a USING (doc_id)
        """,
        # line_dedup: first-occurrence-per-line via min(ordinal) +
        # ordered string_agg rebuild (oracle scale) vs Spark's in-row
        # prefix-scan filter; the staged multi-line slice (doc_id%5)
        # is built identically on both engines
        "line_dedup": """
            WITH staged AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN
                       substring(text, 1, 30) || chr(10)
                       || substring(text, 31, 30) || chr(10)
                       || substring(text, 1, 30) || chr(10)
                       || 'boilerplate nav' || chr(10)
                       || 'boilerplate nav' || chr(10)
                       || substring(text, 31, 30)
                     ELSE text END AS text
              FROM documents WHERE text IS NOT NULL
            ),
            l AS (
              SELECT doc_id,
                     unnest(string_split(text, chr(10))) AS line,
                     generate_subscripts(string_split(text, chr(10)), 1) AS ord
              FROM staged
            ),
            f AS (
              SELECT doc_id, line, min(ord) AS ord
              FROM l GROUP BY doc_id, line
            ),
            agg AS (
              SELECT doc_id, count(*) AS n_kept,
                     md5(string_agg(line, chr(10) ORDER BY ord)) AS dedup_fp
              FROM f GROUP BY doc_id
            ),
            cnt AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id)
            SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
                   CAST(c.n_lines AS BIGINT) AS n_lines,
                   CAST(a.n_kept AS BIGINT) AS n_kept,
                   a.dedup_fp
            FROM staged s JOIN cnt c USING (doc_id) JOIN agg a USING (doc_id)
        """,
        # containment_pairs: literal ordered-pair gram join with the
        # integer filter inter*10 >= 8*src_grams; the +500000 quote
        # slice (tokens 5..14 of every doc_id%101 doc) is planted
        # identically on both engines
        "containment_pairs": """
            WITH base AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 500000,
                     array_to_string(
                       (regexp_split_to_array(trim(text), '\\s+'))[5:14], ' ')
              FROM documents
              WHERE doc_id % 101 = 0
                AND len(regexp_split_to_array(trim(text), '\\s+')) >= 20
            ),
            toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM base WHERE length(trim(text)) > 0
            ),
            grams AS (
              SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id,
                       unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                               for i in range(1, len(t) - 1)]) AS gram
                FROM toks WHERE len(t) >= 3
              )
            ),
            sizes AS (SELECT doc_id, count(*) AS gsize FROM grams GROUP BY doc_id),
            inter AS (
              SELECT gs.doc_id AS src, gd.doc_id AS dst, count(*) AS inter
              FROM grams gs
              JOIN grams gd ON gs.gram = gd.gram AND gs.doc_id <> gd.doc_id
              GROUP BY 1, 2
            )
            SELECT CAST(i.src AS BIGINT) AS src, CAST(i.dst AS BIGINT) AS dst,
                   CAST(i.inter AS BIGINT) AS inter,
                   CAST(s.gsize AS BIGINT) AS src_grams
            FROM inter i JOIN sizes s ON s.doc_id = i.src
            WHERE i.inter * 10 >= 8 * s.gsize
        """,
        "substring_pairs": """
            WITH g AS (
              SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 32) AS gram
              FROM documents, unnest(range(1, length(text) - 30)) AS t(i)
              WHERE length(text) >= 32
            )
            SELECT ga.doc_id AS a, gb.doc_id AS b
            FROM g ga JOIN g gb ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id
            GROUP BY 1, 2
        """,
        "decontam_pairs": """
            WITH bench AS (
              SELECT doc_id AS bench_id, substring(text, 21, 80) AS btext
              FROM documents WHERE doc_id % 50 = 0 AND length(text) >= 150
            ),
            cg AS (
              SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 32) AS gram
              FROM documents, unnest(range(1, length(text) - 30)) AS t(i)
              WHERE length(text) >= 32
            ),
            bg AS (
              SELECT DISTINCT bench_id,
                     substring(btext, CAST(i AS INT), 32) AS gram
              FROM bench, unnest(range(1, length(btext) - 30)) AS t(i)
              WHERE length(btext) >= 32
            )
            SELECT cg.doc_id AS doc_id, bg.bench_id AS bench_id
            FROM cg JOIN bg USING (gram)
            GROUP BY 1, 2
        """,
        # cross_dedup_pairs: the oracle builds the identical derived
        # new batch, joins kn x nw and nw x nw on text identity, and
        # never joins kn x kn (the operator's within-known exclusion)
        "cross_dedup_pairs": """
            WITH kn AS (
              SELECT doc_id AS id, md5(text) AS h FROM documents
            ),
            nw AS (
              SELECT doc_id + 1000000 AS id, md5(text) AS h
              FROM documents WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 2000000 AS id, md5('NEWDUP:' || text) AS h
              FROM documents WHERE doc_id % 100 = 7
              UNION ALL
              SELECT doc_id + 3000000 AS id, md5('NEWDUP:' || text) AS h
              FROM documents WHERE doc_id % 100 = 7
            )
            SELECT DISTINCT least(x.a0, x.b0) AS a, greatest(x.a0, x.b0) AS b
            FROM (
              SELECT k.id AS a0, n.id AS b0 FROM kn k JOIN nw n USING (h)
              UNION ALL
              SELECT n1.id AS a0, n2.id AS b0
              FROM nw n1 JOIN nw n2 USING (h) WHERE n1.id < n2.id
            ) x
        """,
        # contam_scores: same benchmark + gram CTEs as decontam_pairs;
        # the oracle joins gram STRINGS where Spark probes xxhash64
        # keys, and replays the vocab-coverage integer-div convention
        "contam_scores": """
            WITH bench AS (
              SELECT substring(text, 21, 80) AS btext
              FROM documents WHERE doc_id % 50 = 0 AND length(text) >= 150
            ),
            cg AS (
              SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 32) AS gram
              FROM documents, unnest(range(1, length(text) - 30)) AS t(i)
              WHERE length(text) >= 32
            ),
            bg AS (
              SELECT DISTINCT substring(btext, CAST(i AS INT), 32) AS gram
              FROM bench, unnest(range(1, length(btext) - 30)) AS t(i)
              WHERE length(btext) >= 32
            )
            SELECT cg.doc_id AS doc_id,
                   count(*) AS n_grams,
                   count(bg.gram) AS n_hits,
                   CAST(count(bg.gram) * 1000 // count(*) AS BIGINT)
                     AS contam_x1000
            FROM cg LEFT JOIN bg USING (gram)
            GROUP BY cg.doc_id
        """,
        "dedup_assignments": "WITH RECURSIVE " + _ASSIGN_SQL.lstrip().removeprefix("WITH")
        + "SELECT doc_id, cluster_id FROM assigns",
        "dup_group_sizes": "WITH RECURSIVE " + _ASSIGN_SQL.lstrip().removeprefix("WITH")
        + "SELECT cluster_id, count(*) AS group_size FROM assigns GROUP BY cluster_id",
        # dedup_impact: the same recursive closure LEFT-joined back to
        # the corpus and rolled up per source; // replays Spark's `div`
        "dedup_impact": "WITH RECURSIVE " + _ASSIGN_SQL.lstrip().removeprefix("WITH")
        + """
            SELECT d.source AS source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS dup_members,
                   CAST(sum(CASE WHEN a.doc_id IS NOT NULL
                                  AND a.cluster_id <> d.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS removed,
                   CAST((sum(CASE WHEN a.doc_id IS NOT NULL
                                   AND a.cluster_id <> d.doc_id
                              THEN 1 ELSE 0 END) * 1000) // count(*)
                        AS BIGINT) AS removed_x1000
            FROM documents d LEFT JOIN assigns a ON a.doc_id = d.doc_id
            GROUP BY d.source
        """,
        # rep_selection: argmax replayed as max-score-then-min-id over
        # the same recursive closure; score twin = token_stats' n_tokens
        "rep_selection": "WITH RECURSIVE " + _ASSIGN_SQL.lstrip().removeprefix("WITH")
        + """,
        scored AS (
          SELECT a.cluster_id, a.doc_id,
            CASE WHEN length(trim(d.text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(trim(d.text), '\\s+'))
            END AS s
          FROM assigns a JOIN documents d ON a.doc_id = d.doc_id
        ),
        best AS (SELECT cluster_id, max(s) AS bs FROM scored GROUP BY cluster_id)
        SELECT CAST(sc.cluster_id AS BIGINT) AS cluster_id,
               CAST(min(sc.doc_id) AS BIGINT) AS rep_id,
               CAST(min(sc.s) AS BIGINT) AS rep_score
        FROM scored sc
        JOIN best b ON sc.cluster_id = b.cluster_id AND sc.s = b.bs
        GROUP BY sc.cluster_id
        """,
        # deduped_docs: corpus minus the closure's non-rep members
        "deduped_docs": "WITH RECURSIVE " + _ASSIGN_SQL.lstrip().removeprefix("WITH")
        + """
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang
        FROM documents d
        WHERE d.doc_id NOT IN
              (SELECT doc_id FROM assigns WHERE doc_id != cluster_id)
        """,
        "hamming_pairs": f"""
            WITH base AS (
              SELECT doc_id AS id,
                CAST(CASE WHEN hi >= 2147483648
                     THEN hi::HUGEINT * 4294967296 + lo
                          - 18446744073709551616::HUGEINT
                     ELSE hi::HUGEINT * 4294967296 + lo END AS BIGINT) AS sig
              FROM (
                SELECT doc_id,
                  CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) AS hi,
                  CAST('0x' || substr(md5(text), 9, 8) AS BIGINT) AS lo
                FROM documents)
            ),
            aug AS (
              SELECT * FROM base
              UNION ALL
              SELECT id + {_HAMMING_OFFSET} AS id,
                     xor(sig, {_HAMMING_MASK}) AS sig
              FROM base WHERE id < 20
            )
            SELECT x.id AS a, y.id AS b,
                   CAST(bit_count(xor(x.sig, y.sig)) AS BIGINT) AS hamming
            FROM aug x JOIN aug y ON x.id < y.id
            WHERE bit_count(xor(x.sig, y.sig)) <= {_HAMMING_RADIUS}
        """,
        "embedding_dup_pairs": _EMB_PAIRS_SQL + "SELECT a, b FROM epairs",
        "semantic_dedup": "WITH RECURSIVE "
        + _EMB_PAIRS_SQL.lstrip().removeprefix("WITH")
        + """,
            und AS (SELECT a, b FROM epairs
                    UNION SELECT b AS a, a AS b FROM epairs),
            reach(src, dst) AS (
              SELECT a AS src, b AS dst FROM und
              UNION
              SELECT r.src, u.b AS dst FROM reach r JOIN und u ON r.dst = u.a
            )
            SELECT src AS vec_id,
                   least(src, min(dst)) AS cluster_id,
                   CAST(src = least(src, min(dst)) AS BIGINT) AS keep
            FROM reach GROUP BY src
        """,
        "embedding_topk": """
            WITH e AS (
              SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS val,
                     unnest(range(len(embedding))) AS idx
              FROM embeddings
            ),
            norms AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM e GROUP BY vec_id),
            q AS (SELECT * FROM e WHERE vec_id < 5),
            dots AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     sum(q.val * c.val) AS dot
              FROM q JOIN e c ON q.idx = c.idx AND c.vec_id <> q.vec_id
              GROUP BY 1, 2
            ),
            sims AS (
              SELECT d.query_id, d.neighbor_id,
                     round(d.dot / (nq.nrm * nc.nrm), 9) AS sim
              FROM dots d
              JOIN norms nq ON nq.vec_id = d.query_id
              JOIN norms nc ON nc.vec_id = d.neighbor_id
            )
            SELECT query_id, neighbor_id, rank FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (
                       PARTITION BY query_id ORDER BY sim DESC, neighbor_id
                     ) AS rank
              FROM sims
            ) WHERE rank <= 10
        """,
    }
