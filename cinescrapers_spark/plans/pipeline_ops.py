"""Training-data pipeline operators, batch 2 — the remaining dedup /
fingerprint / tokenizer families from the round brief:

* word n-gram (shingle) Jaccard near-dup — order-sensitive variant of the
  token-set Jaccard in ``plans/dedup.py``: two docs with the same words in
  a different order are NOT duplicates here.  Shingles are built JVM-side
  with an index lambda (``transform(toks, (x, i) -> ...)``); the DuckDB
  oracle mirrors it with ``list_transform``'s 1-based index lambda.
* embedding-cosine near-dup — pairs whose cosine clears a threshold,
  blocked by ``label`` (the coarse-quantizer cell standing in for an LSH
  bucket).  Exact within the block; the ANN plans in ``plans/similarity.py``
  (hyperplane LSH / IVF) are the recall-measured scale path for the
  unblocked problem.
* winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03) —
  k-gram rolling hashes, min per sliding window, distinct minima as the
  doc's fingerprint set.  All JVM-side (``sequence``/``slice``/
  ``array_min``); pytest verifies byte-equality against a pure-Python
  winnower built on the same xxhash64.
* BPE-ish token counting — a GPT-2-style pretokenizer regex (contractions /
  letter runs / digit runs / punctuation runs, each with an optional
  leading space) next to the whitespace count from ``functions/text.py``.

Reference analogue: the per-scraper content hashing + ShowTime identity
keys (``/root/reference/src/cinescrapers/__main__.py:218-220,425-428``)
generalized to corpus-scale fingerprinting.  At 100 TB every query here is
a narrow-column groupBy/band-join: shingle/fingerprint arrays never travel
through a shuffle wider than (doc_id, hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cinescrapers_spark.plans import load
from cinescrapers_spark.plans.dedup import (
    TOKEN_SPLIT,
    _ordered_tokens,
    blocked_pairs,
    hash_set,
    jaccard_pairs,
)

NGRAM_N = 3
# 3-gram Jaccard is much stricter than token-set Jaccard (word order and
# multiplicity count), so the near-dup regime on the synthetic corpus sits
# lower than the token-set θ=0.8.
NGRAM_THRESHOLD = 0.5

# The synthetic embeddings are near-uniform on the unit sphere (within-label
# cosine tops out ≈0.47 at sf0.01), so the "near-dup" regime for this corpus
# starts here; real CLIP-style embeddings would use ~0.95.
EMBED_NEAR_THRESHOLD = 0.35

WINNOW_K = 4  # tokens per k-gram
WINNOW_W = 5  # k-gram hashes per winnowing window


def shingles(toks_col):
    """Word n-grams (n = NGRAM_N) as space-joined strings, JVM-side, in
    text order, repeats kept.

    transform's index lambda is 0-based and element_at is 1-based, so the
    shingle starting at 0-based position i is
    (x=toks[i], toks[i+1], ..., toks[i+n-1]) = element_at(i+2 .. i+n).
    """
    n = NGRAM_N
    size = F.size(toks_col)
    heads = F.slice(toks_col, 1, F.greatest(size - (n - 1), F.lit(0)))
    return F.transform(
        heads,
        lambda x, i: F.concat_ws(
            " ", x, *[F.element_at(toks_col, i + F.lit(j + 1)) for j in range(1, n)]
        ),
    )


def q_dedup_ngram(spark: SparkSession, sf: str) -> DataFrame:
    """Word 3-gram Jaccard near-dup pairs within ``source``.

    Ground-truth shape (blocked self-join) like q_dedup_jaccard; the LSH
    banding plan in plans/dedup.py applies unchanged at scale by minhashing
    the shingle set instead of the token set.

    The token array is materialized as its own projection stage before the
    shingle transform: shingles read toks via element_at, and binding toks
    to a column keeps CollapseProject from inlining the split per element
    (O(n) split re-evaluations otherwise).

    The pairs are verified over the shingles' ``hash_set`` by
    ``jaccard_pairs`` at θ = NGRAM_THRESHOLD, and the shingle pipeline is
    spread (guide §2.5)."""
    docs = (
        load(spark, sf, "documents", spread=True)
        .select("doc_id", "source", _ordered_tokens(F.col("text")).alias("toks"))
        .select("doc_id", "source", hash_set(shingles(F.col("toks"))).alias("thash"))
        .withColumn("ntoks", F.size("thash"))
        .filter(F.col("ntoks") >= 1)
    )
    return jaccard_pairs(
        blocked_pairs(docs, "source"),
        ["source", "doc_a", "doc_b"],
        NGRAM_THRESHOLD,
        "ngram_jaccard",
    )


def q_dedup_embed_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ θ) within a label block.

    The label is the blocking key (at scale: an IVF cell / LSH bucket, cf.
    q_ann_ivf) so the self-join is per-block quadratic, never corpus-wide.
    Double-cast before any arithmetic keeps the fold bit-identical to the
    DuckDB oracle's list_cosine_similarity.

    Round 6: each side's L2 norm is computed once per ROW before the
    blocked self-join instead of per pair inside ``cosine`` — the pair
    loop does one array pass (the dot) instead of three, bit-identical
    (same fold, same multiply, same >0 guard); the vector scan is spread
    (guide §2.5).
    """
    from cinescrapers_spark.plans.similarity import _as_double, dot, l2norm

    emb = load(spark, sf, "embeddings", spread=True).select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("v")
    )
    emb = emb.select("vec_id", "label", "v", l2norm(F.col("v")).alias("nn"))
    a, b = emb.alias("a"), emb.alias("b")
    den = F.col("a.nn") * F.col("b.nn")
    cos = F.when(den > 0, dot(F.col("a.v"), F.col("b.v")) / den).otherwise(
        F.lit(0.0)
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.label").alias("label"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= EMBED_NEAR_THRESHOLD)
    )


def kgram_hashes(toks_col):
    """k-gram rolling hashes (k = WINNOW_K):
    h[i] = xxhash64(space-joined toks[i..i+k-1]).

    ``toks_col`` must be a bound column (not an inline expression) — the
    slice per index reads it once per element.
    """
    k = WINNOW_K
    n = F.size(toks_col)
    # sequence(1, 0) would generate DESCENDING [1, 0] — guard short docs
    return F.when(n < k, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks_col, i, k))),
        )
    )


def winnow_minima(kgrams_col):
    """Winnowing selection: distinct minima of each w-wide (w = WINNOW_W)
    sliding window over the k-gram hash array (a tail window shorter than
    w still contributes — slice past the end returns the remainder — so
    every doc with ≥1 k-gram has ≥1 fingerprint).  ``kgrams_col`` must be
    bound."""
    w = WINNOW_W
    nk = F.size(kgrams_col)
    return F.when(nk <= 0, F.array().cast("array<bigint>")).otherwise(
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(nk - (w - 1), F.lit(1))),
                    lambda j: F.array_min(F.slice(kgrams_col, j, w)),
                )
            )
        )
    )


def doc_winnow(spark: SparkSession, sf: str) -> DataFrame:
    """documents → (doc_id, source, fps sorted bigint[]) — shared by the
    registry query and the pytest equivalence gate.

    Staged projections (text → toks → kgrams → fps) keep each array bound
    to a column: referencing an inline expression from a per-element lambda
    makes Catalyst re-evaluate it per element (the naive single-expression
    form was measured ~50× slower at sf0.01).
    """
    docs = load(spark, sf, "documents", spread=True)
    return (
        docs.select(
            "doc_id", "source", _ordered_tokens(F.col("text")).alias("toks")
        )
        .select("doc_id", "source", kgram_hashes(F.col("toks")).alias("kg"))
        .select("doc_id", "source", winnow_minima(F.col("kg")).alias("fps"))
    )


def q_fingerprint_winnow(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc winnowing fingerprint profile (rows-only: xxhash64 has no
    DuckDB twin; pytest holds the fps sets byte-equal to a pure-Python
    winnower built on the same hash)."""
    fps = doc_winnow(spark, sf)
    return fps.select(
        "doc_id",
        F.size("fps").alias("n_fingerprints"),
        F.try_element_at("fps", F.lit(1)).alias("fp_min"),
    )


# GPT-2-style pretokenizer over lowercased text: contraction suffixes,
# letter runs, digit runs, other-symbol runs — each with an optional leading
# space.  RE2 (DuckDB) and java.util.regex agree on this subset (no
# lookaround, no \p classes).
BPE_PATTERN = r" ?(?:'(?:s|t|re|ve|ll|d|m)|[a-z]+|[0-9]+|[^a-z0-9\s']+)"


def q_token_count_bpe(spark: SparkSession, sf: str) -> DataFrame:
    """Token counts: whitespace split vs the BPE-ish pretokenizer regex."""
    docs = load(spark, sf, "documents", spread=True)
    low = F.lower(F.col("text"))
    ws = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != ""))
    bpe = F.size(F.regexp_extract_all(low, F.lit(BPE_PATTERN), F.lit(0)))
    return docs.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
    )


def q_split_hash(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test split by key hash — the training-data
    splitting op: bucket = last hex char of md5(doc_id), 14/1/1 of 16
    buckets. Hash-of-key (not rand()) makes the split REPRODUCIBLE and
    append-stable: re-runs, retries, and corpus growth never move an
    existing document across splits, and the split is computable anywhere
    without a lookup table. Pure column expressions; the only shuffle is
    the final count aggregation."""
    docs = load(spark, sf, "documents")
    c = F.substring(F.md5(F.col("doc_id").cast("string")), 32, 1)
    split = (
        F.when(c == "f", "test").when(c == "e", "val").otherwise("train")
    )
    return (
        docs.select(split.alias("split"), "source")
        .groupBy("split", "source")
        .agg(F.count("*").alias("n_docs"))
    )


_NGRAM_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT}'),
                         x -> x <> '') AS toks
      FROM documents),
    s AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
               toks[1:greatest(len(toks) - {NGRAM_N - 1}, 0)],
               (x, i) -> x || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS sh
      FROM t)
    SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0 /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
             AS ngram_jaccard
    FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(a.sh) >= 1 AND len(b.sh) >= 1
      AND round(len(list_intersect(a.sh, b.sh)) * 1.0 /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
          >= {NGRAM_THRESHOLD}"""

ORACLES = {
    "q_dedup_ngram": _NGRAM_ORACLE,
    "q_dedup_embed_cosine": f"""
        WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings)
        SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 4)
              >= {EMBED_NEAR_THRESHOLD}""",
    "q_token_count_bpe": f"""
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x <> '')) AS INT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(lower(text),
                    ' ?(?:''(?:s|t|re|ve|ll|d|m)|[a-z]+|[0-9]+|[^a-z0-9\\s'']+)'))
                    AS INT) AS n_bpe_tokens
        FROM documents""",
    "q_split_hash": """
        SELECT CASE substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)
                 WHEN 'f' THEN 'test' WHEN 'e' THEN 'val' ELSE 'train'
               END AS split,
               source, count(*) AS n_docs
        FROM documents
        GROUP BY 1, 2""",
    # q_fingerprint_winnow: xxhash64 — rows-only; pytest equivalence.
}

QUERIES = {
    name: (fn, ORACLES.get(name))
    for name, fn in [
        ("q_dedup_ngram", q_dedup_ngram),
        ("q_dedup_embed_cosine", q_dedup_embed_cosine),
        ("q_fingerprint_winnow", q_fingerprint_winnow),
        ("q_token_count_bpe", q_token_count_bpe),
        ("q_split_hash", q_split_hash),
    ]
}
