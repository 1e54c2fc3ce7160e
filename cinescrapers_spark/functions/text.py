"""Text scalar functions: postcode extraction, HTML unescape, and the
training-data-pipeline text analysis suite (language-ID heuristic, quality
scoring, token counting).

Postcode semantics clone ``/root/reference/src/cinescrapers/utils.py:28-47``
(regex + uppercase + space insertion); invalid input returns NULL here
instead of raising — Spark's _corrupt-routing replaces pydantic exceptions
(SURVEY §1.3).
"""

from __future__ import annotations

import html
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from cinescrapers_spark.functions.udf import lazy_pandas_udf

UK_POSTCODE_RE = r"\b[A-Z]{1,2}[0-9R][0-9A-Z]?\s?[0-9][A-Z]{2}\b"
_UK_POSTCODE_COMPILED = re.compile(UK_POSTCODE_RE)


def extract_uk_postcode_py(text: str) -> str | None:
    """Reference-exact except error handling: ref raises on no-match
    (utils.py:47); we return None (NULL)."""
    if text is None:
        return None
    m = _UK_POSTCODE_COMPILED.search(text.upper())
    if not m:
        return None
    pc = m.group(0)
    if " " not in pc:
        pc = pc[:-3] + " " + pc[-3:]
    return pc


@lazy_pandas_udf("string")
def extract_uk_postcode_udf(text: pd.Series) -> pd.Series:
    up = text.str.upper()
    pc = up.str.extract(f"({UK_POSTCODE_RE})", expand=False)
    no_space = pc.notna() & ~pc.str.contains(" ", na=False)
    pc.loc[no_space] = pc.loc[no_space].str[:-3] + " " + pc.loc[no_space].str[-3:]
    return pc


@lazy_pandas_udf("string")
def html_unescape_udf(s: pd.Series) -> pd.Series:
    # entity decode for embedded-JSON extractors (ref arzner/scrape.py:25-27)
    return s.map(lambda x: None if x is None else html.unescape(x))


# --------------------------------------------------------------------------
# Training-data text analysis (engine extensions; run over `documents`)
# --------------------------------------------------------------------------

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deterministic, dependency-free.
_LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "fr": ["le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "für", "auf"],
    "es": ["el", "la", "los", "y", "de", "que", "es", "en", "una", "por"],
}


def lang_id_col(text: Column) -> Column:
    """Stopword-vote language ID, pure column expressions (JVM-side).

    Tokenize on non-letters, count hits per language's stopword list, argmax;
    'und' (undetermined) when no stopword hits at all.
    """
    words = F.split(F.lower(text), r"[^a-zà-ÿ]+")
    scores = []
    for lang, stops in _LANG_STOPWORDS.items():
        stop_arr = F.array(*[F.lit(s) for s in stops])
        score = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score_col(text: Column) -> Column:
    """Heuristic document quality in [0,1]: length band, alpha ratio,
    stopword presence, punctuation-run penalty. Pure column expr."""
    n = F.length(text).cast("double")
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("double")
    stop_hits = F.size(
        F.filter(
            F.split(F.lower(text), r"[^a-z]+"),
            lambda w: F.array_contains(
                F.array(*[F.lit(s) for s in _LANG_STOPWORDS["en"]]), w
            ),
        )
    ).cast("double")
    words = F.size(F.split(F.trim(text), r"\s+")).cast("double")
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    stop_ratio = F.when(words > 0, F.least(stop_hits / words * 4, F.lit(1.0))).otherwise(
        F.lit(0.0)
    )
    return F.round((len_score + alpha_ratio + stop_ratio) / F.lit(3.0), 6)


def token_count_col(text: Column) -> Column:
    """BPE-ish token count without a tokenizer dep: count word-piece-like
    units (runs of letters capped at 4 chars count ceil(len/4), digits and
    punctuation count 1 each). Pure column expr."""
    letters = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("double")
    nonword = F.length(F.regexp_replace(text, r"[A-Za-z\s]", "")).cast("double")
    return (F.ceil(letters / F.lit(4.0)) + nonword).cast("long")
