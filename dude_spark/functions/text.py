"""Text-analysis column functions: tokens, quality, language, fingerprint.

Pure JVM-side ``pyspark.sql.functions`` expressions — no Python worker
hop, so they run over 100 TB at JVM speed.  The token-array signals
use higher-order functions (``filter``/``transform``/``aggregate``),
which Spark evaluates interpreted: a plan holding them runs outside
whole-stage codegen.  Every function has an ANSI-SQL twin in
``__spark_entry__.oracle_sql`` (DuckDB) — outputs are integers/strings
only, never floats, so cross-engine value hashing is exact.

Tokens are bound once per row.  Spark re-evaluates an expression each
time it is referenced, and an expression captured inside a lambda once
per array element — ``element_at(tokens(text), i)`` inside a
``transform`` re-splits the document for every element of every gram,
quadratic in document length.  Projecting the tokens as a column does
not help: filter pushdown inlines the projection back into every
reference.  So every signal that reads the token array more than once
binds it with ``_let``, to a lambda variable inside the expression
itself, and callers that need several signals (``quality_signals``,
``repetition_signals``, ``operators.filters.rejection_reason``) bind
it once for all of them.

Design notes per function:
  token_count      whitespace tokenization; empty/blank text counts 0.
  punct_count      explicit character class [.,!?;:] — identical
                   semantics in Java regex and RE2 (POSIX classes like
                   [[:punct:]] differ between engines; avoided).
  stopword_count   higher-order filter over the token array (JVM
                   lambda, not a UDF); matches every ASCII case form
                   of STOPWORDS instead of lowercasing each token.
  lang_id          deterministic cascade: CJK / Greek / Cyrillic
                   script ranges, then padded-stopword votes for
                   de/fr/es, else 'en'.  Precedence order is part of
                   the function contract (a text matching two rules
                   gets the earlier rule's language).
  norm_fingerprint md5 of lowercase + whitespace-collapsed text — the
                   document-fingerprint primitive (exact-dedup key
                   robust to spacing/case).
  word_ngrams      array of space-joined n-grams of the token array —
                   candidate unit for n-gram Jaccard dedup.
"""

from __future__ import annotations

from collections.abc import Callable
from itertools import product

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = ("a", "the", "and", "of", "to", "in")

# Every ASCII case form of STOPWORDS ("the" → "the", "thE", ... "THE").
# ``t.isin(*_STOPWORD_FORMS)`` equals ``lower(t).isin(*STOPWORDS)``: of
# all non-ASCII code points, only two lowercase to anything holding an
# ASCII letter — U+0130 'İ' to 'i' + U+0307 (two code points) and the
# Kelvin sign U+212A to 'k' (in no stopword).  It skips the per-token
# case mapping, whose first call in a JVM also pays ~2 s of ICU
# initialisation.
_STOPWORD_FORMS = tuple(
    "".join(form)
    for word in STOPWORDS
    for form in product(*[(c.lower(), c.upper()) for c in word])
)

# script-range detection shared by both regex engines (Java + RE2)
_CJK = "[\\x{4e00}-\\x{9fff}]"
_GREEK = "[\\x{0370}-\\x{03ff}]"
_CYRILLIC = "[\\x{0400}-\\x{04ff}]"


def _let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(v)`` with ``v`` bound to ``value``, evaluated once per row.

    Spark evaluates an expression at every reference — inside a lambda,
    once per array element — but a lambda variable only once, so the
    value rides through a one-element ``transform``."""
    return F.element_at(F.transform(F.array(value), body), 1)


def tokens(text: Column) -> Column:
    """Whitespace token array; blank text → empty array."""
    return F.when(
        F.length(F.trim(text)) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(text), r"\s+"))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def punct_count(text: Column) -> Column:
    """Occurrences of sentence punctuation [.,!?;:]."""
    return F.length(text) - F.length(F.regexp_replace(text, "[.,!?;:]", ""))


def _stopword_count(toks: Column) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*_STOPWORD_FORMS)))


def stopword_count(text: Column) -> Column:
    """Tokens that are stopwords (case-insensitive match)."""
    return _stopword_count(tokens(text))


# GPT-2-style pre-tokenizer pattern, simplified to the alternation-only
# subset shared by Java regex and RE2 (no lookarounds): contractions,
# optionally-space-prefixed letter runs, digit runs, symbol runs.
BPE_TOKEN_PATTERN = "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"


def bpe_token_count(text: Column) -> Column:
    """Subword-ish token count under BPE_TOKEN_PATTERN — the cheap
    proxy for LLM token budgeting over a corpus (counts pre-tokenizer
    pieces, not merges)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0))


def lang_id(text: Column) -> Column:
    """Deterministic heuristic language ID (cascade, first match wins)."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return (
        F.when(text.rlike(_CJK), F.lit("zh"))
        .when(text.rlike(_GREEK), F.lit("el"))
        .when(text.rlike(_CYRILLIC), F.lit("ru"))
        .when(padded.rlike(" (der|und|das|ist) "), F.lit("de"))
        .when(padded.rlike(" (le|les|une|est) "), F.lit("fr"))
        .when(padded.rlike(" (el|los|las|una) "), F.lit("es"))
        .otherwise(F.lit("en"))
    )


def norm_fingerprint(text: Column) -> Column:
    """md5 hex of lower(text) with runs of whitespace collapsed to one
    space and outer whitespace trimmed."""
    return F.md5(
        F.encode(F.regexp_replace(F.trim(F.lower(text)), r"\s+", " "), "UTF-8")
    )


# quality_signals thresholds (Gopher-style filters, Rae et al. 2021
# §A.1.1 — length, stopword-ratio, and word-length cuts, integerized):
# docs under MIN_TOKENS are fragments; a stopword ratio under
# MIN_STOP_X1000 (per mille) marks keyword-list/gibberish text.
QUALITY_MIN_TOKENS = 20
QUALITY_MIN_STOP_X1000 = 80


def _quality(toks: Column, text: Column) -> Column:
    """quality_signals' struct over a bound token array."""
    n_tok = F.size(toks)
    chars = F.length(text)
    zero = F.lit(0).cast("long")
    stop_x1000 = F.when(n_tok == 0, zero).otherwise(
        F.floor(_stopword_count(toks) * 1000 / n_tok).cast("long")
    )
    mwl_x10 = F.when(n_tok == 0, zero).otherwise(
        F.floor(chars * 10 / n_tok).cast("long")
    )
    quality = (
        F.when(n_tok < QUALITY_MIN_TOKENS, F.lit("too_short"))
        .when(stop_x1000 < QUALITY_MIN_STOP_X1000, F.lit("low_stopword"))
        .otherwise(F.lit("ok"))
    )
    return F.struct(
        n_tok.cast("long").alias("n_tokens"),
        stop_x1000.alias("stop_x1000"),
        mwl_x10.alias("mwl_x10"),
        quality.alias("quality"),
    )


def quality_signals(text: Column) -> list[tuple[str, Column]]:
    """Integerized document-quality signals + class, Gopher-style:
    ``n_tokens``, ``stop_x1000`` (stopword per-mille of tokens),
    ``mwl_x10`` (mean word length ×10, chars/token incl. separators),
    and ``quality`` ∈ {too_short, low_stopword, ok} — a first-match
    cascade like lang_id, so precedence is part of the contract.

    All arithmetic is integer floor-division on non-negative values, so
    the DuckDB twin (``//``) hashes identically.  Each signal is a
    field of one struct built from the token array bound once
    (``_let``)."""
    q = _let(tokens(text), lambda toks: _quality(toks, text))
    names = ("n_tokens", "stop_x1000", "mwl_x10", "quality")
    return [(name, q[name]) for name in names]


# repetition_signals thresholds (Gopher repetition filters, Rae et al.
# 2021 §A.1.1 Table A1, integerized per-mille): a doc whose single most
# frequent 2-gram covers > 20% of its characters, or whose duplicated
# 5-grams cover > 15%, is boilerplate/loop junk.
REP_TOP2_MAX_X1000 = 200
REP_DUP5_MAX_X1000 = 150


def _gram_run_stats(grams: Column) -> Column:
    """Fold a per-doc gram array into struct(best_cnt, best_len, dup):
    the (count, char-length) of the most frequent gram — ties broken by
    longer gram, which leaves the count*len product unambiguous — and
    the total characters inside grams occurring ≥ 2 times.

    Runs row-local in the JVM: ``array_sort`` groups equal grams into
    adjacent runs, then one ``aggregate`` fold walks the sorted array
    counting run lengths.  Zero shuffle, zero Python —
    per-doc n-gram counting without the explode → groupBy(doc, gram)
    shuffle, which at 100 TB would move ~n× the corpus text through an
    exchange for a purely row-local statistic.
    """
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best_cnt"),
        F.lit(0).cast("long").alias("best_len"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc: Column, x: Column) -> Column:
        same = F.coalesce(x == acc["prev"], F.lit(False))
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        xlen = F.length(x).cast("long")
        dup = acc["dup"] + (
            F.when(run == 2, 2 * xlen)
            .when(run > 2, xlen)
            .otherwise(F.lit(0).cast("long"))
        )
        better = (run > acc["best_cnt"]) | (
            (run == acc["best_cnt"]) & (xlen > acc["best_len"])
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best_cnt"]).alias("best_cnt"),
            F.when(better, xlen).otherwise(acc["best_len"]).alias("best_len"),
            dup.alias("dup"),
        )

    return F.aggregate(
        F.array_sort(grams),
        init,
        step,
        lambda acc: F.struct(
            acc["best_cnt"].alias("best_cnt"),
            acc["best_len"].alias("best_len"),
            acc["dup"].alias("dup"),
        ),
    )


def _repetition(toks: Column, text: Column) -> Column:
    """repetition_signals' struct over a bound token array; both folds
    are bound too, as the struct reads each more than once."""
    chars = F.length(text)
    zero = F.lit(0).cast("long")
    empty = F.coalesce(chars, F.lit(0)) == 0

    def signals(top: Column, dup: Column) -> Column:
        top_pm = F.when(empty, zero).otherwise(
            F.floor(top["best_cnt"] * top["best_len"] * 1000 / chars).cast("long")
        )
        dup_pm = F.when(empty, zero).otherwise(
            F.floor(dup["dup"] * 1000 / chars).cast("long")
        )
        flag = F.when(
            (top_pm > REP_TOP2_MAX_X1000) | (dup_pm > REP_DUP5_MAX_X1000),
            F.lit("repetitive"),
        ).otherwise(F.lit("ok"))
        return F.struct(
            top_pm.alias("top2_x1000"),
            dup_pm.alias("dup5_x1000"),
            flag.alias("repetition"),
        )

    return _let(
        _gram_run_stats(_ngrams(toks, 2)),
        lambda top: _let(
            _gram_run_stats(_ngrams(toks, 5)), lambda dup: signals(top, dup)
        ),
    )


def repetition_signals(text: Column) -> list[tuple[str, Column]]:
    """Gopher-style repetition signals, integerized:
    ``top2_x1000`` — per-mille of characters covered by the most
    frequent 2-gram (count × gram chars, incl. joining spaces;
    overlapping occurrences counted fully — a deterministic
    simplification of Gopher's char attribution, monotone in
    repetition); ``dup5_x1000`` — per-mille covered by all
    5-grams occurring ≥ 2 times; ``repetition`` ∈
    {repetitive, ok} under REP_*_MAX_X1000.  The n values are fixed
    because the output names and thresholds are calibrated to them
    (Gopher's 2-gram/5-gram cuts); other n's would need their own.

    Degenerate docs: blank text or fewer than n tokens → 0 (no grams).
    Like the rest of this module: integer outputs only, pure JVM
    expressions, and an exact ANSI-SQL twin (DuckDB groups by the true
    gram; the fold groups by adjacency after a sort — same multiset,
    same tie-break, no hashing involved, so equality is structural).
    Both folds read one token array, bound once (``_let``).
    """
    r = _let(tokens(text), lambda toks: _repetition(toks, text))
    return [(name, r[name]) for name in ("top2_x1000", "dup5_x1000", "repetition")]


def _ngrams(toks: Column, n: int) -> Column:
    """word_ngrams over a bound token array."""
    size = F.size(toks)
    return F.when(
        size >= n,
        F.transform(
            F.sequence(F.lit(0), size - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Array of space-joined word n-grams (< n tokens → empty array).

    Built from sequence+transform+slice — all JVM higher-order
    functions, no UDF.  The token array is bound once (``_let``): the
    gram lambda reads a lambda variable, not a re-split document.
    """
    return _let(tokens(text), lambda toks: _ngrams(toks, n))
