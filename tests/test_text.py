"""Edge-case gates for functions/text.quality_signals (the bulk of the
text surface is oracle-gated end-to-end in test_entry_oracle)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dude_spark.functions.text import (
    QUALITY_MIN_STOP_X1000,
    QUALITY_MIN_TOKENS,
    quality_signals,
)


def _score(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    cols = quality_signals(F.col("text"))
    out = df.select("text", *[c.alias(n) for n, c in cols]).collect()
    return {r["text"]: r for r in out}

def test_quality_signals_edge_cases(spark):
    ok_text = "the cat sat on the mat and looked to a bird of prey in town " * 2
    rows = _score(
        spark,
        ["", "   ", "one two three", ok_text,
         "alpha beta gamma delta " * 10],
    )
    # empty/blank: zero tokens, zero ratios, too_short (cascade order)
    for t in ("", "   "):
        r = rows[t]
        assert (r["n_tokens"], r["stop_x1000"], r["mwl_x10"]) == (0, 0, 0)
        assert r["quality"] == "too_short"
    assert rows["one two three"]["quality"] == "too_short"
    r = rows[ok_text]
    assert r["n_tokens"] >= QUALITY_MIN_TOKENS
    assert r["stop_x1000"] >= QUALITY_MIN_STOP_X1000
    assert r["quality"] == "ok"
    assert rows["alpha beta gamma delta " * 10]["quality"] == "low_stopword"


def test_repetition_signals_known_values(spark):
    """Hand-computed cases for the sorted-array fold.

    "x y x y x": bigrams {x y:2, y x:2} (tie on count AND length, so
    the count*len product is unambiguous) -> top covers 2*3 of 9 chars
    = 666 pm; the single 5-gram is unique -> dup5 = 0; flagged.
    A 40-distinct-token doc has top bigram count 1 -> tiny fraction.
    """
    from dude_spark.functions.text import repetition_signals

    distinct = " ".join(f"word{i:02d}" for i in range(40))
    spam = "lorem ipsum " * 30
    df = spark.createDataFrame(
        [("x y x y x",), (distinct,), (spam.strip(),), ("",), ("solo",)],
        ["text"],
    )
    import pyspark.sql.functions as F

    cols = repetition_signals(F.col("text"))
    rows = {
        r["text"]: r
        for r in df.select("text", *[c.alias(n) for n, c in cols]).collect()
    }
    r = rows["x y x y x"]
    assert (r["top2_x1000"], r["dup5_x1000"]) == (666, 0)
    assert r["repetition"] == "repetitive"
    r = rows[distinct]
    # top bigram occurs once: 13 chars of 279 -> 46 pm, no dup 5-grams
    assert r["top2_x1000"] < 100 and r["dup5_x1000"] == 0
    assert r["repetition"] == "ok"
    r = rows[spam.strip()]
    # every 5-gram repeats -> dup5 far over threshold
    assert r["dup5_x1000"] > 500 and r["repetition"] == "repetitive"
    # degenerate: blank and sub-n docs produce zero grams, class ok
    for t in ("", "solo"):
        assert (rows[t]["top2_x1000"], rows[t]["dup5_x1000"]) == (0, 0)
        assert rows[t]["repetition"] == "ok"


def test_repetition_signals_plan_is_shuffle_and_python_free(spark, tmp_path):
    """The whole point of the fold formulation: per-doc n-gram counting
    without explode->groupBy.  The executed plan over a parquet scan
    must contain no Exchange and no Python eval."""
    import pyspark.sql.functions as F

    from dude_spark.functions.text import repetition_signals

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i} tok{i+1} end") for i in range(64)],
        "doc_id long, text string",
    ).write.parquet(p)
    df = spark.read.parquet(p)
    cols = repetition_signals(F.col("text"))
    out = df.select("doc_id", *[c.alias(n) for n, c in cols])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert out.where(F.col("top2_x1000") > 0).count() == 64


def test_repetition_fold_matches_bruteforce_reference(spark):
    """Differential armor for the sorted-array fold: several hundred
    seeded-random docs (skewed vocab, repeats, multi-space, unicode,
    degenerate) must score identically to a brute-force Counter
    reference of the same definition."""
    import random
    from collections import Counter

    from dude_spark.functions.text import repetition_signals

    rng = random.Random(1234)
    vocab = ["a", "bb", "ccc", "tok", "αβ", "x" * 7, "the", "zz"]

    def make_doc():
        n = rng.randint(0, 40)
        toks = [rng.choice(vocab) for _ in range(n)]
        if n and rng.random() < 0.4:  # inject a repeated run
            seg = toks[: rng.randint(1, min(6, n))]
            toks = toks + seg * rng.randint(1, 3)
        sep = "  " if rng.random() < 0.2 else " "
        return sep.join(toks)

    docs = [make_doc() for _ in range(300)] + ["", "   ", "solo"]

    def ref(text):
        toks = text.split()
        chars = len(text)

        def stats(n):
            if len(toks) < n:
                return 0, 0
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            c = Counter(grams)
            best_cnt = max(c.values())
            best_len = max(len(g) for g, k in c.items() if k == best_cnt)
            dup = sum(k * len(g) for g, k in c.items() if k >= 2)
            return best_cnt * best_len, dup

        top, _ = stats(2)
        _, dup = stats(5)
        if chars == 0:
            return 0, 0
        return top * 1000 // chars, dup * 1000 // chars

    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)], ["i", "text"])
    cols = repetition_signals(F.col("text"))
    got = {
        r["i"]: (r["top2_x1000"], r["dup5_x1000"])
        for r in df.select("i", *[c.alias(n) for n, c in cols]).collect()
    }
    for i, t in enumerate(docs):
        assert got[i] == ref(t), (i, repr(t), got[i], ref(t))


# Unicode and case edge rows for the stopword match, with the values
# the lowercase-then-match implementation gave: 'İ' lowercases to two
# code points and the Kelvin sign (\u212a) to 'k', so neither makes a
# stopword; Greek 'ΤΗΕ' and dotless 'ı' are not ASCII.  20-token rows
# (_FILLER is 14 non-stopwords) reach the low_stopword/ok cut, where
# one miscounted stopword flips the class.
_FILLER = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
)
_STOPWORD_EDGES = {
    # text: (stopword_count, n_tokens, stop_x1000, quality, reason)
    "İn the ıN THE tHe": (3, 5, 600, "too_short", "too_short"),
    "ΤΗΕ the ǅ": (1, 3, 333, "too_short", "too_short"),
    "\u212a": (0, 1, 0, "too_short", "too_short"),
    "AND aNd Of oF": (4, 4, 1000, "too_short", "too_short"),
    "": (0, 0, 0, "too_short", "too_short"),
    "   ": (0, 0, 0, "too_short", "too_short"),
    f"İn ıN \u212a ǅ ΤΗΕ {_FILLER} THE": (
        1, 20, 50, "low_stopword", "low_stopword"
    ),
    f"İn ıN \u212a ǅ tHe {_FILLER} aNd": (2, 20, 100, "ok", None),
}


def test_stopword_case_forms_match_lowercase_semantics(spark):
    from dude_spark.functions.text import stopword_count
    from dude_spark.operators.filters import rejection_reason

    df = spark.createDataFrame(
        [(t,) for t in [*_STOPWORD_EDGES, None]], "text string"
    )
    t = F.col("text")
    cols = quality_signals(t)
    got = {
        r["text"]: tuple(r)[1:]
        for r in df.select(
            "text",
            stopword_count(t).alias("stop"),
            *[c.alias(n) for n, c in cols],
            rejection_reason(t).alias("reason"),
        ).collect()
    }
    for text, (stop, n_tok, stop_pm, quality, reason) in _STOPWORD_EDGES.items():
        r = got[text]
        assert (r[0], r[1], r[2], r[4], r[5]) == (
            stop, n_tok, stop_pm, quality, reason
        ), text
    # NULL text: NULL signals, quality falls through to ok, and the
    # filter's explicit guard rejects it
    assert got[None] == (None, None, None, None, "ok", "too_short")
