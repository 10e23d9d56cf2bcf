"""Text analysis for the training-data pipeline: language-ID, quality
scoring, token counting, fingerprinting.

Generalizes the reference's content-stats operator (SURVEY.md §2.2 P5,
`/root/reference/crawler/models/article_models.py:46-61` — word/char/
paragraph counts) and whitespace cleaning (§2.9 C10,
`base_template.py:335-345`) into the document-pipeline functions a 100 TB
corpus needs. Everything here is a built-in column expression — JVM-side,
whole-stage-codegen'd, no Python — with a DuckDB SQL mirror for the
driver's oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# -- cleaning (reference C10) -------------------------------------------------


def clean_whitespace(text: Column | str) -> Column:
    """``re.sub(r'\\s+',' ')`` + trim — reference base_template.py:335-345."""
    return F.trim(F.regexp_replace(_c(text), "\\s+", " "))


def clean_whitespace_sql(e: str) -> str:
    return f"trim(regexp_replace({e}, '\\s+', ' ', 'g'))"


# -- token counting -----------------------------------------------------------

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-alnum marks
_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def word_count(text: Column | str) -> Column:
    """Whitespace token count (reference token estimate base, §2.9 C16).

    Counted as spaces+1 over the collapsed text (identical to
    ``size(split(t, ' '))`` because clean_whitespace leaves exactly one
    space between words) — length arithmetic instead of materializing a
    words array per row just to take its size (guide §4.1: prefer
    built-ins that avoid per-row allocation)."""
    t = clean_whitespace(text)
    return F.when(t == "", F.lit(0)).otherwise(
        F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1
    )


def word_count_sql(e: str) -> str:
    t = clean_whitespace_sql(e)
    return f"CASE WHEN {t} = '' THEN 0 ELSE len(string_split({t}, ' ')) END"


def token_count(text: Column | str) -> Column:
    """BPE-ish regex token count — regexp_count, NOT
    size(regexp_extract_all(...)): the match count is identical (no pattern
    here matches empty) but counting skips materializing every matched
    substring into a per-row array (measured ~2x on count-only columns)."""
    return F.regexp_count(_c(text), F.lit(_TOKEN_RE))


def token_count_sql(e: str) -> str:
    return f"len(regexp_extract_all({e}, '{_TOKEN_RE}'))"


# -- quality scoring ----------------------------------------------------------

_STOPWORDS_EN = "\\b(the|and|of|to|in|a|is|for|on|that)\\b"


def quality_features(text: Column | str) -> dict[str, Column]:
    """Deterministic quality features: length, punctuation ratio, stopword
    ratio, mean word length, alpha ratio."""
    t = _c(text)
    n = F.length(t).cast("double")
    words = word_count(t).cast("double")
    # regexp_count == size(regexp_extract_all(...)) for these non-empty-match
    # patterns, without allocating an array of every match (for the
    # single-char classes that was one string per character of the doc)
    punct = F.regexp_count(t, F.lit("[.,;:!?]")).cast("double")
    stop = F.regexp_count(F.lower(t), F.lit(_STOPWORDS_EN)).cast("double")
    alpha = F.regexp_count(t, F.lit("[A-Za-z]")).cast("double")
    safe_n = F.greatest(n, F.lit(1.0))
    safe_w = F.greatest(words, F.lit(1.0))
    return {
        "n_chars": n,
        "n_words": words,
        "punct_ratio": punct / safe_n,
        "stopword_ratio": stop / safe_w,
        "mean_word_len": n / safe_w,
        "alpha_ratio": alpha / safe_n,
    }


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality score (heuristic, deterministic):
    rewards stopword presence and moderate word length; penalizes
    punctuation soup and very short docs."""
    f = quality_features(text)
    len_term = F.least(f["n_words"] / F.lit(100.0), F.lit(1.0))
    stop_term = F.least(f["stopword_ratio"] * 4.0, F.lit(1.0))
    punct_term = F.greatest(F.lit(1.0) - f["punct_ratio"] * 5.0, F.lit(0.0))
    alpha_term = f["alpha_ratio"]
    return ((len_term + stop_term + punct_term + alpha_term) / 4.0).alias("quality")


def quality_score_sql(e: str) -> str:
    wc = word_count_sql(e)
    punct = f"len(regexp_extract_all({e}, '[.,;:!?]'))::DOUBLE"
    stop = f"len(regexp_extract_all(lower({e}), '{_STOPWORDS_EN}'))::DOUBLE"
    alpha = f"len(regexp_extract_all({e}, '[A-Za-z]'))::DOUBLE"
    n = f"length({e})::DOUBLE"
    safe_n = f"greatest({n}, 1.0)"
    safe_w = f"greatest(({wc})::DOUBLE, 1.0)"
    len_term = f"least(({wc})::DOUBLE / 100.0, 1.0)"
    stop_term = f"least({stop} / {safe_w} * 4.0, 1.0)"
    punct_term = f"greatest(1.0 - {punct} / {safe_n} * 5.0, 0.0)"
    alpha_term = f"{alpha} / {safe_n}"
    return f"(({len_term}) + ({stop_term}) + ({punct_term}) + ({alpha_term})) / 4.0"


# -- language identification (n-gram/stopword heuristic) -----------------------

_LANG_MARKERS = {
    "en": "\\b(the|and|is|of|to|was|that|with)\\b",
    "de": "\\b(der|die|das|und|ist|nicht|ein|mit)\\b",
    "fr": "\\b(le|les|des|est|une|dans|pour|que)\\b",
    "es": "\\b(el|los|las|una|por|con|para|como)\\b",
}


def lang_id(text: Column | str) -> Column:
    """Heuristic language-ID: argmax of per-language stopword hit counts,
    'und' (undetermined) when no marker fires."""
    t = F.lower(_c(text))
    scores = {
        lang: F.regexp_count(t, F.lit(pat))
        for lang, pat in _LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # CASE evaluated in fixed lang order → deterministic tie-breaking
    for lang in reversed(list(_LANG_MARKERS)):
        out = F.when(scores[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best == 0, F.lit("und")).otherwise(out)


def lang_id_sql(e: str) -> str:
    t = f"lower({e})"
    scores = {
        lang: f"len(regexp_extract_all({t}, '{pat}'))" for lang, pat in _LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "".join(
        f" WHEN {scores[lang]} = {best} THEN '{lang}'" for lang in _LANG_MARKERS
    )
    return f"CASE WHEN {best} = 0 THEN 'und'{whens} ELSE 'und' END"


# -- fingerprinting -----------------------------------------------------------


def doc_fingerprint(text: Column | str) -> Column:
    """64-bit document fingerprint over normalized text (portable across
    Spark/DuckDB/Python via md5, see hashing.portable_hash64)."""
    from .hashing import portable_hash64

    return portable_hash64(F.lower(clean_whitespace(text)))


def doc_fingerprint_sql(e: str) -> str:
    from .hashing import portable_hash64_sql

    return portable_hash64_sql(f"lower({clean_whitespace_sql(e)})")


def split_words(text: Column | str) -> Column:
    """Lowercased, whitespace-normalized word array — the shared first step
    of the shingle family. Callers should materialize THIS in its own
    projection (``df.select(..., split_words(text).alias("_w"))``) and build
    shingles from the column: the word array is referenced three times
    inside ``shingles_from_words`` (size, degenerate join, slice loop), so
    inlining the split re-runs the regex+split per reference — Catalyst's
    CollapseProject guard keeps a non-cheap multiply-referenced alias
    materialized, which measured ~2x on the exploded-shingle stage."""
    return F.split(F.lower(clean_whitespace(text)), " ")


def shingles_from_words(words: Column | str, k: int = 3) -> Column:
    """Word k-shingles from a pre-split word-array column (see
    split_words): transform over an index range → slice+join."""
    w = _c(words)
    n = F.size(w)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n < k, F.array(F.array_join(w, " "))).otherwise(
        F.transform(idx, lambda i: F.array_join(F.slice(w, i + 1, k), " "))
    )


def shingles(text: Column | str, k: int = 3) -> Column:
    """Word k-shingles as an array<string> (input to MinHash/Jaccard dedup).

    One-expression convenience form; hot callers should two-step via
    split_words + shingles_from_words (see split_words docstring).
    """
    return shingles_from_words(split_words(text), k)
