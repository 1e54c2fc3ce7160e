"""Text-analysis plans over ``documents`` (SURVEY §2.8 scalar surface +
training-data extensions): token counts, quality scores, language ID,
fingerprints, postcode/regex extraction, title normalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cinescrapers_spark.plans import load, table_num_rows
from cinescrapers_spark.functions.text import (
    UK_POSTCODE_RE,
    lang_id_col,
    quality_score_col,
    token_count_col,
)
from cinescrapers_spark.functions.titles import normalize_title_udf

_EN_STOPS = ("the", "and", "of", "to", "is", "in", "that", "it", "was", "for")


# Below this many documents the mapInArrow python stage's FIXED cost
# (worker fork + Arrow serialization setup, ~0.3 s measured) exceeds what
# its faster per-row kernels save, and the plain JVM expression wins
# (same-host A/B: 5k docs/sf0.1 JVM 0.31 s vs Arrow 0.54 s; 50k docs/sf1.0
# Arrow 0.58 s vs JVM 0.95 s — linear fit crosses over ~2e4 docs).
# Unknown layouts count as huge, so production defaults to the Arrow shape.
TOKEN_ARROW_MIN_ROWS = 20_000


def q_token_count(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-ish token count (``token_count_col`` semantics), round-6 shape:
    one ``mapInArrow`` stage running the two character-class counts
    through pyarrow's RE2 kernels instead of two JVM ``regexp_replace``
    string rebuilds (guide §4.2 — hand whole Arrow batches to vectorized
    native code). The char classes are written out explicitly
    (``\\t\\n\\x0b\\f\\r `` = Java's ``\\s``) so the counts are identical;
    measured 0.96 s → 0.54 s at sf1.0 with byte-identical output, and the
    scan is spread when the file layout caps it at one task (§2.5).
    Scale-adaptive (the round brief's "must hold at both sizes"): below
    ``TOKEN_ARROW_MIN_ROWS`` documents the python stage's fixed cost
    dominates and the identical-output JVM expression is used instead."""
    if table_num_rows(sf, "documents") < TOKEN_ARROW_MIN_ROWS:
        return load(spark, sf, "documents").select(
            "doc_id", token_count_col(F.col("text")).alias("n_tokens"), "n_chars"
        )

    import pyarrow as pa

    def run(batches):
        import pyarrow.compute as pc

        for b in batches:
            text = b.column("text")
            letters = pc.count_substring_regex(text, "[A-Za-z]")
            nonword = pc.count_substring_regex(text, "[^A-Za-z\\t\\n\\x0b\\f\\r ]")
            nt = pc.add(
                pc.cast(
                    pc.ceil(pc.divide(pc.cast(letters, pa.float64()), 4.0)),
                    pa.int64(),
                ),
                pc.cast(nonword, pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id"), nt, b.column("n_chars")],
                ["doc_id", "n_tokens", "n_chars"],
            )

    docs = load(spark, sf, "documents", spread=True).select(
        "doc_id", "text", "n_chars"
    )
    return docs.mapInArrow(run, "doc_id long, n_tokens long, n_chars long")


def q_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    return load(spark, sf, "documents", spread=True).select(
        "doc_id", quality_score_col(F.col("text")).alias("quality")
    )


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    return load(spark, sf, "documents", spread=True).select(
        "doc_id", lang_id_col(F.col("text")).alias("lang_pred")
    )


def q_word_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source word statistics — explode+agg text profiling."""
    docs = load(spark, sf, "documents", spread=True)
    words = docs.select(
        "source",
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != "")
        ).alias("word"),
    )
    return words.groupBy("source").agg(
        F.count("*").alias("n_words"),
        F.countDistinct("word").alias("n_distinct_words"),
        F.round(F.avg(F.length("word")), 4).alias("avg_word_len"),
    )


def q_stopword_ratio(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents", spread=True)
    words = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != "")
    stops = F.array(*[F.lit(s) for s in _EN_STOPS])
    hits = F.size(F.filter(words, lambda w: F.array_contains(stops, w)))
    return docs.select(
        "doc_id",
        F.round(hits.cast("double") / F.size(words), 6).alias("stop_ratio"),
    )


def q_normalize_titles(spark: SparkSession, sf: str) -> DataFrame:
    """Title-normalization UDF over a string column (92-regex first-match
    pipeline — not SQL-expressible; rows-only driver check, golden-pair
    pytest gates exactness)."""
    # spread: the 92-regex pandas UDF is the cost; a single-file part
    # table would otherwise run it on one task (measured 8.3 s -> 1.0 s
    # at sf1.0)
    return load(spark, sf, "part", spread=True).select(
        "p_partkey", F.col("p_name").alias("title"), normalize_title_udf("p_name").alias("norm_title")
    )


def q_postcode_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Regex extraction with NULL routing (ref utils.py:28-47 semantics) —
    applied to document text; almost all NULL, which is the point (the
    _corrupt-routing path)."""
    pc = F.regexp_extract(F.upper(F.col("text")), UK_POSTCODE_RE, 0)
    return load(spark, sf, "documents").select(
        "doc_id", F.when(pc == "", None).otherwise(pc).alias("postcode")
    )


ORACLES = {
    "q_token_count": r"""
        SELECT doc_id,
               CAST(ceil(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / 4.0)
                    + length(regexp_replace(text, '[A-Za-z\s]', '', 'g')) AS BIGINT)
                 AS n_tokens,
               n_chars
        FROM documents""",
    "q_quality_score": r"""
        SELECT doc_id,
               round((
                 least(length(text) / 500.0, 1.0)
               + CASE WHEN length(text) > 0
                      THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                           * 1.0 / length(text)
                      ELSE 0.0 END
               + CASE WHEN len(string_split_regex(trim(text), '\s+')) > 0
                      THEN least(
                        len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                            x -> x IN ('the','and','of','to','is','in','that','it','was','for')))
                        * 1.0 / len(string_split_regex(trim(text), '\s+')) * 4, 1.0)
                      ELSE 0.0 END
               ) / 3.0, 6) AS quality
        FROM documents""",
    "q_lang_id": """
        WITH s AS (
          SELECT doc_id,
            len(list_filter(string_split_regex(lower(text), '[^a-zà-ÿ]+'),
                x -> x IN ('the','and','of','to','is','in','that','it','was','for'))) AS s_en,
            len(list_filter(string_split_regex(lower(text), '[^a-zà-ÿ]+'),
                x -> x IN ('le','la','les','et','des','est','une','dans','que','pour'))) AS s_fr,
            len(list_filter(string_split_regex(lower(text), '[^a-zà-ÿ]+'),
                x -> x IN ('der','die','und','das','ist','nicht','ein','mit','für','auf'))) AS s_de,
            len(list_filter(string_split_regex(lower(text), '[^a-zà-ÿ]+'),
                x -> x IN ('el','la','los','y','de','que','es','en','una','por'))) AS s_es
          FROM documents)
        SELECT doc_id,
          CASE WHEN greatest(s_de*4+0, s_en*4+1, s_es*4+2, s_fr*4+3) < 4
                    AND s_de=0 AND s_en=0 AND s_es=0 AND s_fr=0 THEN 'und'
               ELSE CASE greatest(s_de*4+0, s_en*4+1, s_es*4+2, s_fr*4+3) % 4
                      WHEN 0 THEN 'de' WHEN 1 THEN 'en'
                      WHEN 2 THEN 'es' ELSE 'fr' END
          END AS lang_pred
        FROM s""",
    "q_word_stats": """
        SELECT source, count(*) AS n_words,
               count(DISTINCT word) AS n_distinct_words,
               round(avg(length(word)), 4) AS avg_word_len
        FROM (
          SELECT source, u.word AS word
          FROM documents,
               LATERAL unnest(list_filter(
                 string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))
                 AS u(word))
        GROUP BY source""",
    "q_stopword_ratio": """
        SELECT doc_id,
               round(len(list_filter(
                       list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   x -> x <> ''),
                       w -> w IN ('the','and','of','to','is','in','that','it','was','for')))
                     * 1.0
                     / len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                       x -> x <> '')), 6) AS stop_ratio
        FROM documents""",
    "q_postcode_extract": r"""
        SELECT doc_id,
               nullif(regexp_extract(upper(text),
                 '\b[A-Z]{1,2}[0-9R][0-9A-Z]?\s?[0-9][A-Z]{2}\b', 0), '') AS postcode
        FROM documents""",
    # q_normalize_titles: 92-regex first-match — not SQL-expressible, rows-only.
    "q_cache_keys": """
        SELECT doc_id,
               rtrim(replace(replace(to_base64(encode(
                   '/doc/' || source || '/' || CAST(doc_id AS VARCHAR))),
                 '+', '-'), '/', '_'), '=') AS cache_key
        FROM documents""",
}

def q_cache_keys(spark, sf):
    """Round-trippable urlsafe-b64 cache keys (the reference's API response
    cache, rapidapi/scrape.py:38-44) derived per document — JVM-side base64
    byte-compatible with Python's urlsafe_b64encode."""
    from cinescrapers_spark.functions.hashing import encode_cache_path

    docs = load(spark, sf, "documents")
    path = F.concat(
        F.lit("/doc/"), F.col("source"), F.lit("/"), F.col("doc_id").cast("string")
    )
    return docs.select("doc_id", encode_cache_path(path).alias("cache_key"))


QUERIES = {
    name: (fn, ORACLES.get(name))
    for name, fn in [
        ("q_token_count", q_token_count),
        ("q_quality_score", q_quality_score),
        ("q_lang_id", q_lang_id),
        ("q_word_stats", q_word_stats),
        ("q_stopword_ratio", q_stopword_ratio),
        ("q_normalize_titles", q_normalize_titles),
        ("q_postcode_extract", q_postcode_extract),
        ("q_cache_keys", q_cache_keys),
    ]
}
