"""Text-analysis operators for large-scale training-data pipelines.

All hot paths are JVM-side built-in expressions (codegen'd, no Python);
the one genuinely non-relational op (winnowing fingerprints) is an
Arrow-batched pandas UDF.  Each op mirrors exactly into ANSI SQL so the
DuckDB oracle can re-derive it (see ``__spark_entry__``).

These extend the reference's capability surface the way a 100 TB corpus
pipeline needs (the reference processes documents one file at a time
and has no corpus-level analysis at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# ---------------------------------------------------------------------------
# Language ID — n-gram/marker heuristic
# ---------------------------------------------------------------------------
# Marker word lists per language (frozen; tiny on purpose — the heuristic,
# not the lists, is the operator).  Scores = marker-token occurrences.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "une"),
    "de": ("der", "die", "und", "das", "ein"),
}


def _tokens(col):
    return F.filter(F.split(F.lower(col), " "), lambda x: x != F.lit(""))


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, per-language marker scores of ``text``, predicted lang).

    Prediction = argmax score, ties broken by language code ascending —
    a total order, so deterministic across engines.
    """
    toks = _tokens(F.col("text"))

    def marker_score(markers):
        # NB: the lambda must be unary — pyspark passes the element index
        # to binary lambdas
        return F.size(F.filter(toks, lambda x: x.isin(*markers)))

    scored = docs.select(
        "doc_id",
        *[
            marker_score(markers).alias(f"score_{lang}")
            for lang, markers in sorted(LANG_MARKERS.items())
        ],
    )
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit(None).cast("string")
    # first lang (ascending) reaching the max wins
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    return scored.withColumn("pred_lang", pred)


# ---------------------------------------------------------------------------
# Quality scoring — length / punctuation / stopword ratios
# ---------------------------------------------------------------------------
STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def quality_score(docs: DataFrame) -> DataFrame:
    """Per-doc quality features of ``text`` + a blended [0,1] score.

    All arithmetic is per-row double math (no aggregation), so results
    are bit-identical across engines; the blended score is rounded to
    6 dp for hash-stable comparison.
    """
    text = F.col("text")
    toks = _tokens(text)
    n_words = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    n_chars = F.length(text)
    n_punct = F.length(F.regexp_replace(F.lower(text), r"[a-z0-9\s]", ""))
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_chars.alias("n_chars_text"),
        n_stop.alias("n_stopwords"),
        n_punct.alias("n_punct"),
        F.round(
            F.when(
                n_words > 0,
                F.least(n_words.cast("double") / 100.0, F.lit(1.0)) * 0.5
                + (n_stop.cast("double") / n_words.cast("double")) * 0.5,
            ).otherwise(F.lit(0.0)),  # empty doc: ANSI mode would raise on /0
            6,
        ).alias("quality"),
    )


# ---------------------------------------------------------------------------
# Token counting — whitespace + BPE-ish regex
# ---------------------------------------------------------------------------
# the BPE-ish segmentation: letter runs, digit runs, single other glyphs
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, whitespace and BPE-ish token counts of ``text``)."""
    text = F.col("text")
    return docs.select(
        "doc_id",
        F.size(_tokens(text)).alias("ws_tokens"),
        F.regexp_count(F.lower(text), F.lit(BPE_RE)).alias("bpe_tokens"),
    )


def _gopher(text):
    """Gopher-rule-style quality signals (the published corpus-filter
    family: mean word length, duplicate-n-gram fraction, symbol and
    numeric ratios) — all JVM-side array expressions, zero UDF.

    Columns (all ratios rounded to 6 dp, /0-guarded for ANSI mode):
      n_words, mean_word_len, frac_dup_2grams (1 − distinct/total
      bigrams — the repetition signal), frac_numeric_tokens,
      frac_long_tokens (len > 10), keep (the gate: 3 ≤ mean_word_len
      ≤ 12 AND frac_dup_2grams < 0.5) — as (signal columns, keep)."""
    toks = _tokens(text)
    n = F.size(toks)
    mean_len = F.when(
        n > 0,
        F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
        ).cast("double")
        / n.cast("double"),
    ).otherwise(F.lit(0.0))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - 2, F.lit(0))),
        lambda i: F.concat_ws("\x01", F.slice(toks, i + 1, 2)),
    )
    n_grams = n - 1  # valid when n >= 2
    frac_dup = F.when(
        n >= 2,
        F.lit(1.0)
        - F.size(F.array_distinct(grams)).cast("double")
        / n_grams.cast("double"),
    ).otherwise(F.lit(0.0))
    frac_numeric = F.when(
        n > 0,
        F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$"))).cast("double")
        / n.cast("double"),
    ).otherwise(F.lit(0.0))
    frac_long = F.when(
        n > 0,
        F.size(F.filter(toks, lambda t: F.length(t) > 10)).cast("double")
        / n.cast("double"),
    ).otherwise(F.lit(0.0))
    mean_r = F.round(mean_len, 6)
    dup_r = F.round(frac_dup, 6)
    return [
        n.alias("n_words"),
        mean_r.alias("mean_word_len"),
        dup_r.alias("frac_dup_2grams"),
        F.round(frac_numeric, 6).alias("frac_numeric_tokens"),
        F.round(frac_long, 6).alias("frac_long_tokens"),
    ], (mean_r >= 3.0) & (mean_r <= 12.0) & (dup_r < 0.5)


def gopher_keep():
    """The Gopher gate over ``text`` as a Column (the one definition of
    the rule)."""
    return _gopher(F.col("text"))[1]


def gopher_quality(docs: DataFrame) -> DataFrame:
    """(doc_id, the :func:`_gopher` signals over ``text``, keep)."""
    signals, keep = _gopher(F.col("text"))
    return docs.select("doc_id", *signals, keep.alias("keep"))


# ---------------------------------------------------------------------------
# Document fingerprinting
# ---------------------------------------------------------------------------

def fingerprint_md5(docs: DataFrame) -> DataFrame:
    """Whole-doc content fingerprint over normalized text (exact-dup key)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


# Winnowing (rolling-hash) fingerprints — Stanford MOSS scheme:
# k-gram rolling hashes, minimum per sliding window of w hashes.
WINNOW_K = 8
WINNOW_W = 4
_B = 1000003
_MOD = (1 << 61) - 1


def _winnow_one(text: str) -> list[int]:
    k, w = WINNOW_K, WINNOW_W
    s = " ".join(text.lower().split())
    n = len(s)
    if n < k:
        return []
    # polynomial rolling hash over chars
    hashes = []
    h = 0
    power = pow(_B, k - 1, _MOD)
    for i, ch in enumerate(s):
        h = (h * _B + ord(ch)) % _MOD
        if i >= k:
            h = (h - ord(s[i - k]) * power * _B) % _MOD
        if i >= k - 1:
            hashes.append(h)
    # winnow: min of each window, dedup consecutive picks
    out: list[int] = []
    last_pick = -1
    for i in range(0, len(hashes) - w + 1):
        window = hashes[i : i + w]
        m = min(window)
        j = i + max(idx for idx, v in enumerate(window) if v == m)
        if j != last_pick:
            out.append(m)
            last_pick = j
    return out


def fingerprint_winnow(docs: DataFrame) -> DataFrame:
    """(doc_id, n_fingerprints, min_fp, max_fp) of ``text`` via
    winnowing — the rolling-hash scheme; pandas-UDF (Arrow-batched) since
    rolling state is inherently sequential per doc."""
    import pandas as pd

    # NB: no type hints — a struct-returning scalar pandas UDF yields a
    # pd.DataFrame, a signature the PySpark 4 type-hint prober rejects
    @F.pandas_udf("struct<n_fp:int, min_fp:long, max_fp:long>")
    def winnow(texts):
        rows = []
        for t in texts:
            fps = _winnow_one(t or "")
            rows.append(
                {
                    "n_fp": len(fps),
                    "min_fp": min(fps) if fps else None,
                    "max_fp": max(fps) if fps else None,
                }
            )
        return pd.DataFrame(rows)

    return docs.select("doc_id", winnow(F.col("text")).alias("w")).select(
        "doc_id", "w.n_fp", "w.min_fp", "w.max_fp"
    )
