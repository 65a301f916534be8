"""Corpus quality filtering — the curation stage between dedup /
decontamination and shard writing.

An LLM training corpus drops documents for a REASON, and the reason is
part of the pipeline's audit surface (the same no-silent-removal rule
as decontaminate's flagged table and the candidates over-cap records):
``filter_corpus`` returns the clean corpus AND a rejected table tagging
every dropped row with the first matching rejection reason:

  too_short     n_tokens < QUALITY_MIN_TOKENS          (fragment)
  low_stopword  stopword per-mille < QUALITY_MIN_STOP  (keyword spam)
  repetitive    top-2-gram / dup-5-gram char coverage over the
                REP_*_MAX_X1000 cuts                   (loop junk)
  lang_blocked  lang_id(text) not in allowed_langs     (optional)

The cascade is FIRST-MATCH, same contract as quality_signals/lang_id:
a too-short doc reports too_short even if it is also repetitive, so
reason counts are a partition of the rejected set.

Scale shape: every signal is a pure JVM Column expression
(functions/text.py — quality, repetition fold, language cascade), so
both outputs are map-only filters over the scan with ZERO shuffle and
zero Python.  The condition holds higher-order functions, so its
Filter runs interpreted, outside whole-stage codegen; the cascade
binds the document's token array once (``functions.text._let``) and
every signal reads that binding, so a document is split once per
evaluation.  The binding lives inside the expression because filter
pushdown inlines a projected token column back into each reference.
Writing both outputs re-evaluates the scan twice; at 10^12 rows that
is two map-only passes (or persist the tagged frame once if the
storage tier makes scans expensive — the operator takes no position,
it just never shuffles).

Reference analogue: none in DuDe (files are never content-filtered);
thresholds follow the Gopher data-quality cuts (Rae et al. 2021
§A.1.1), integerized in functions/text.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import _let, _quality, _repetition, lang_id, tokens


def rejection_reason(
    text: Column, allowed_langs: Sequence[str] | None = None
) -> Column:
    """First-match rejection reason, or NULL for a clean document.

    NULL text is rejected as too_short explicitly: without the guard
    every signal evaluates to NULL and the cascade would fall through
    to clean — the one document that must never reach the training
    corpus silently would.

    The whole cascade reads one token array, bound once per row.
    """
    if allowed_langs is not None and not allowed_langs:
        raise ValueError(
            "allowed_langs must be None (no language cut) or name "
            "at least one language"
        )

    def cascade(toks: Column) -> Column:
        quality = _quality(toks, text)["quality"]
        repetition = _repetition(toks, text)["repetition"]
        reason = (
            F.when(text.isNull(), F.lit("too_short"))
            .when(quality != "ok", quality)
            .when(repetition == "repetitive", F.lit("repetitive"))
        )
        if allowed_langs is not None:
            reason = reason.when(
                ~lang_id(text).isin(*allowed_langs), F.lit("lang_blocked")
            )
        return reason.otherwise(F.lit(None).cast("string"))

    return _let(tokens(text), cascade)


def filter_corpus(
    docs: DataFrame,
    text_col: str = "caption",
    allowed_langs: Sequence[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(clean, rejected): clean keeps the input schema unchanged;
    rejected is the dropped rows plus a ``reason`` column.  Together
    they partition the input (every row lands in exactly one).

    Each frame evaluates the cascade once per row.  ``rejected`` keeps
    the row and its reason through one explode of the 0-or-1-element
    array of non-NULL reasons: a ``where`` on a projected reason is
    pushed below the projection and would evaluate the cascade twice."""
    if "reason" in docs.columns:
        raise ValueError(
            "input column 'reason' collides with the rejected table's "
            "reason column; rename it first"
        )
    reason = rejection_reason(F.col(text_col), allowed_langs)
    clean = docs.where(reason.isNull())
    rejected = docs.select(
        "*", F.explode(F.array_compact(F.array(reason))).alias("reason")
    )
    return clean, rejected
