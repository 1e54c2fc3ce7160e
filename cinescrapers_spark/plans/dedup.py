"""Deduplication plans — exact, token-set Jaccard, MinHash+LSH, SimHash.

The reference's dedup story is content-addressed hashing + upsert-by-id
(SURVEY §2.4 "URL-seen membership", __main__.py:218-220,330-344). Here it
generalizes to the training-data dedup suite over ``documents``:

* exact dedup: hash-groupBy on a canonicalized-text digest (md5 so the
  DuckDB oracle matches byte-for-byte);
* near-dup, exact metric: token-set Jaccard self-join within `source`
  (the oracle-checkable ground truth);
* near-dup, scale path: MinHash signatures + LSH banding — candidates come
  from band-bucket joins (shuffle ∝ rows×bands, never O(n²)), then exact
  Jaccard verification on the candidates only. Banding is approximate:
  every pair it returns is a true pair, but it can miss one. Measured
  against the exact self-join: 2 of 5,977 pairs missed on the perfbench
  analytics tables of seed 33 (1 of 6,415 and 1 of 5,883 on two of ten
  other seeds), none at sf0.1 or on the synthetic 10× set;
* SimHash: 64-bit fingerprint, hamming-bucket grouping.

Every near-dup plan here, in ``pipeline_ops.py`` and in ``incremental.py``
builds its token hashes with ``hash_set`` and verifies pairs with
``jaccard_pairs``. All token/array work is JVM-side (split/array_*
built-ins); no plan here runs Python code.
"""

from __future__ import annotations

from math import gcd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cinescrapers_spark.plans import load

JACCARD_THRESHOLD = 0.8
TOKEN_SPLIT = "[^a-z0-9]+"

# MinHash config: 16 hash functions, 8 bands × 2 rows.
# Pr[candidate | j=0.8] per band = 0.8² = .64; miss prob (1-.64)^8 ≈ 3e-4.
MINHASH_K = 16
LSH_BANDS = 8
LSH_ROWS = 2
# Pair generation inside one band bucket is quadratic in bucket size: a
# boilerplate-heavy corpus (one near-identical template in millions of docs)
# creates mega-buckets that turn the band join into n². Buckets above this
# cap are excluded from pair generation (their pairs usually surface via
# another band; lsh_oversized_buckets reports what was skipped — no silent
# truncation). Testdata buckets are tiny, so the cap never fires there.
LSH_BUCKET_CAP = 1000
BAND_KEYS = ["source", "band_id", "band_hash"]


def _ordered_tokens(col):
    """Lowercased alphanumeric tokens in text order (shingles and k-grams
    need the sequence)."""
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT), lambda x: x != "")


def _tokens(col):
    """The token set the set-Jaccard plans compare."""
    return F.array_distinct(_ordered_tokens(col))


def hash_set(arr):
    """array<string> → its distinct xxhash64 values, sorted. Every plan
    that compares token or shingle sets compares these: two distinct
    elements of one pair's union collide with p ≈ |union|²/2⁶⁴ (< 1e-9 at
    10⁵ tokens per doc), so the Jaccard over hashes is the Jaccard over
    the strings, at 8 B per element."""
    return F.array_sort(F.array_distinct(F.transform(arr, lambda t: F.xxhash64(t))))


def verify_sides(tt: DataFrame, *keys: str) -> list[DataFrame]:
    """(doc_id, thash, ntoks, *keys) → the two inputs of a ``jaccard_pairs``
    join: (doc_a, ha, na, *keys) and (doc_b, hb, nb, *keys)."""
    return [
        tt.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("thash").alias(f"h{s}"),
            F.col("ntoks").alias(f"n{s}"),
            *keys,
        )
        for s in "ab"
    ]


def blocked_pairs(tt: DataFrame, key: str) -> DataFrame:
    """Every pair of ``tt`` rows that share ``key``, doc_a < doc_b, as
    ``verify_sides`` rows: the blocked all-pairs candidate set."""
    a, b = verify_sides(tt, key)
    return a.join(b, key).filter(F.col("doc_a") < F.col("doc_b"))


def jaccard_pairs(
    pairs: DataFrame, keep: list, theta: float = JACCARD_THRESHOLD,
    name: str = "jaccard",
) -> DataFrame:
    """The one Jaccard verify: rows of ``pairs`` (sets ``ha``/``hb``, sizes
    ``na``/``nb``) whose round(J, 4) ≥ θ, projected to ``keep`` + ``name``.

    A size-ratio prune skips the intersect for pairs that cannot pass:
    |∩| ≤ min(na, nb) gives J ≤ min/max, and the lowest J that rounds up to
    θ is θ − 0.00005, so the integer test min·10⁵ ≥ max·(θ·10⁵ − 6) never
    drops a pair the θ filter keeps. The fraction is reduced so θ = 0.8
    reads 50000/39997."""
    num, den = round(theta * 100000) - 6, 100000
    g = gcd(num, den)
    ratio_ok = (
        F.least("na", "nb").cast("long") * (den // g)
        >= F.greatest("na", "nb").cast("long") * (num // g)
    )
    inter = F.size(F.array_intersect(F.col("ha"), F.col("hb"))).cast("double")
    union = (F.col("na") + F.col("nb")).cast("double") - inter
    return (
        pairs.filter(ratio_ok)
        .select(*keep, F.round(inter / union, 4).alias(name))
        .filter(F.col(name) >= theta)
    )


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup census: distinct canonical-text digests vs total rows."""
    docs = load(spark, sf, "documents")
    canon = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select(F.md5(canon).alias("fp")).agg(
        F.countDistinct("fp").alias("n_unique"), F.count("*").alias("n_total")
    )


def q_dedup_exact_groups(spark: SparkSession, sf: str) -> DataFrame:
    """Representative-per-duplicate-group (keep min doc_id), like the
    reference's ON CONFLICT(id) upsert keeping one row per identity."""
    docs = load(spark, sf, "documents")
    canon = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        docs.select(F.md5(canon).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("group_size"))
        .filter(F.col("group_size") > 1)
    )


def q_dedup_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs within source (ground truth).

    Self-join over ``doc_token_table`` blocked on `source` (bounded
    groups), quadratic per source: the exact answer the LSH plans below
    approximate."""
    pairs = blocked_pairs(doc_token_table(spark, sf), "source")
    return jaccard_pairs(pairs, ["source", "doc_a", "doc_b"])


LONG_MAX = (1 << 63) - 1


def minhash_signature(tokens_col):
    """k-permutation MinHash over a token array (k = MINHASH_K), all
    JVM-side: sig[i] = min over tokens of xxhash64(token, seed=i).

    One traversal folds a k-wide running-min accumulator (zip_with/least).
    A NULL token array yields a NULL signature; an EMPTY one yields LONG_MAX
    sentinels, so all empty docs share one signature and their 0-token
    candidate pairs go to verification."""
    init = F.array_repeat(F.lit(LONG_MAX).cast("long"), MINHASH_K)
    return F.aggregate(
        tokens_col,
        init,
        lambda acc, t: F.zip_with(
            acc,
            F.array(*[F.xxhash64(t, F.lit(i)) for i in range(MINHASH_K)]),
            lambda a, b: F.least(a, b),
        ),
    )


def _bands(docs: DataFrame) -> DataFrame:
    """documents(doc_id, source, toks) → one row per (doc, band) with the
    band's hash — the LSH banding shuffle key."""
    sig = docs.withColumn("sig", minhash_signature(F.col("toks")))
    return sig.select(
        "doc_id",
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            *[F.col("sig")[b * LSH_ROWS + r] for r in range(LSH_ROWS)]
                        ).alias("band_hash"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "source", "band.band_id", "band.band_hash")


def oversized(bands: DataFrame, cap: int) -> DataFrame:
    """Band buckets holding more than ``cap`` rows: (source, band_id,
    band_hash, bucket_size)."""
    return (
        bands.groupBy(*BAND_KEYS)
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > cap)
    )


def lsh_candidate_pairs(docs: DataFrame, dedup: bool = True) -> DataFrame:
    """documents(doc_id, source, toks) → candidate id-pairs via LSH banding.

    Shuffle key = (source, band_id, band_hash): rows agreeing on one full
    band collide in a bucket; pairs are generated per bucket. Cost is
    rows × bands, never O(n²) — this is the 100 TB plan shape.

    Only (doc_id, band) rows travel through the band shuffle and the pair
    dedup — token arrays stay home and are re-joined by the verifier
    (shipping arrays through an 8× explode was a measured 50× slowdown at
    sf0.1).

    Buckets over ``LSH_BUCKET_CAP`` are left out of pair generation
    (mega-bucket skew kill) and reported by ``lsh_oversized_buckets``.
    Mega-buckets are rare by construction, so the cap is a broadcast LEFT
    ANTI join against the (usually EMPTY) oversized set: the bands rows
    stream through the anti probe with no exchange and no sort. (A
    bucket-groupBy + in-bucket combination expression was measured as the
    alternative shape and lost to the broadcast self-join — 6.5 s vs 2.9 s
    at sf1.0.)
    """
    bands = _bands(docs)
    big = oversized(bands, LSH_BUCKET_CAP)
    bands = bands.join(F.broadcast(big), BAND_KEYS, "left_anti")
    a = bands.alias("a")
    b = bands.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.source").alias("source"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    # full-row dedup (the projection IS the pair key): a subset
    # dropDuplicates compiles to first()-aggregates that trip
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND when composed under
    # exceptAll/intersectAll in Spark 4.1.2. ``dedup=False`` lets a
    # caller that verifies candidates anyway (q_dedup_minhash_lsh) skip
    # this exchange entirely and dedup its (much smaller) verified
    # output instead — band-duplicate candidates cost ~18% extra
    # verify probes but save a full shuffle of the candidate set.
    return out.dropDuplicates() if dedup else out


def lsh_oversized_buckets(docs: DataFrame) -> DataFrame:
    """The buckets the cap excluded from pair generation — surface these as
    a metric next to any capped LSH run (coverage must never silently
    shrink). Columns: source, band_id, band_hash, bucket_size."""
    return oversized(_bands(docs), LSH_BUCKET_CAP)


SCRATCH_BUCKETS = 32


def doc_token_table(spark: SparkSession, sf: str) -> DataFrame:
    """Scratch layout for shuffle-free dedup verification: ``documents``
    re-materialized as (doc_id, source, thash: sorted array<bigint>, ntoks),
    BUCKETED BY doc_id (VERDICT r2 #3 — the LSH verify stage previously
    re-joined the raw corpus twice, two full-corpus shuffles at 100 TB).

    * bucketed-by-doc_id: both verify joins key on doc_id, so the corpus
      side of each join reads its buckets in place with NO exchange — only
      the skinny candidate rows shuffle (∝ near-dup density, not corpus
      size). At 100 TB this is the layout you'd write documents in anyway.
    * token HASHES, not strings (``hash_set``): the pair-shuffle payload
      is 8 B/token.

    Created once per (session, sf) via saveAsTable and reused by every
    subsequent dedup query in the session (bench warm runs and the grouped
    variant hit the cached layout — Spark's bucketing metadata only
    attaches to catalog tables, which is why this is a table, not a
    parquet path).
    """
    import hashlib
    import shutil
    from urllib.parse import urlparse

    name = "docs_thash_" + hashlib.md5(sf.encode()).hexdigest()[:10]
    if not spark.catalog.tableExists(name):
        # the catalog is session-scoped but the warehouse dir persists: a
        # stale location from a previous session must be cleared before
        # saveAsTable (regeneration is deterministic and one scan)
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(f"{wh}/{name.lower()}", ignore_errors=True)
        # Hash-repartition by the bucket key before the bucketed write:
        # tokenize+hash+sort runs cluster-wide instead of at the input
        # file layout's parallelism, and each task holds exactly the rows
        # of its buckets, so the table lands as one file per bucket
        # (guide §6 — bucketed writes want hash-clustered input, else
        # every task writes nbuckets small files).
        docs = (
            load(spark, sf, "documents")
            .repartition(SCRATCH_BUCKETS, "doc_id")
            .select(
                "doc_id",
                "source",
                hash_set(_tokens(F.col("text"))).alias("thash"),
            )
            .withColumn("ntoks", F.size("thash"))
        )
        (
            docs.write.bucketBy(SCRATCH_BUCKETS, "doc_id")
            .sortBy("doc_id")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name)
        )
    return spark.table(name)


def q_dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-verified: candidates from band
    buckets, then the exact Jaccard ≥ θ filter (``jaccard_pairs``). Every
    pair returned is in q_dedup_jaccard; banding can miss a pair that
    q_dedup_jaccard keeps (see the module docstring for the measured
    misses; the band config puts the miss probability at θ = 0.8 near
    3e-4 per pair).

    Banding runs over the raw string tokens (identical candidate set and
    recall to the canonical minhash family); verification joins the
    doc_id-bucketed token-hash layout (``doc_token_table``) so neither
    verify join shuffles the corpus."""
    docs = load(spark, sf, "documents", spread=True).select(
        "doc_id", "source", _tokens(F.col("text")).alias("toks")
    )
    # dedup=False: a candidate that collided in k bands is verified k
    # times (mean k ≈ 1.2 here) and deduplicated AFTER the θ filter —
    # the post-filter survivor set is far smaller than the candidate
    # set, so this trades ~18% extra hash-probe/intersect work for
    # skipping a full exchange of every candidate row (measured
    # 3.4 s → 2.6 s at sf1.0; identical output).
    cand = lsh_candidate_pairs(docs, dedup=False)
    ta, tb = verify_sides(doc_token_table(spark, sf))
    pairs = cand.join(ta, "doc_a").join(tb, "doc_b")
    return jaccard_pairs(pairs, ["source", "doc_a", "doc_b"]).dropDuplicates()


def q_dedup_minhash_lsh_grouped(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with EXACT-DUPLICATE COLLAPSE first —
    the 100 TB plan shape. Same pairs as q_dedup_minhash_lsh wherever no
    band bucket passes LSH_BUCKET_CAP (where one does, the collapse shrinks
    it and this plan finds more); like it, it can miss a pair that
    q_dedup_jaccard keeps.

    Boilerplate corpora hold large clusters of token-identical documents;
    every member of a cluster lands in the same bucket of EVERY band, so
    the band join generates |cluster|²×bands candidate pairs for
    information one representative carries. Collapsing token-set-identical
    docs first (group key = source + sorted token set) runs the banding
    over one representative per group, then expands:

    * cross-group pairs: rep-pair jaccard applies to every member pair
      (identical token sets ⇒ identical jaccard);
    * within-group pairs: jaccard 1.0 ≥ θ by construction.

    The group key is the sorted token array ITSELF (Spark group/join keys
    support arrays), not a 64-bit hash of it: at the 10^9-doc regime a
    birthday-bound xxhash64 collision would silently merge two distinct
    documents and emit false jaccard=1.0 pairs (ADVICE r2). Exactness costs
    nothing here — the grouping shuffle already carried the token arrays
    for the representative min(struct(doc_id, toks)).

    Candidate volume drops from Σ|cluster|²×bands to distinct²-level; the
    quadratic member expansion only materializes OUTPUT rows (pairs that
    are genuinely near-dups). Oracle: the exact-Jaccard pairs SQL, like
    q_dedup_minhash_lsh.

    On THIS testdata the win is modest (5,000 docs hold only 413 exact
    dups → candidates 554k → 460k, wall parity) — the collapse pays off on
    boilerplate corpora where exact-dup clusters dominate (template pages,
    mirrored sites), which is the common-crawl regime the 100 TB target
    implies. Both plans stay registered; pick by corpus shape."""
    # text IS NOT NULL + coalesce: the membership join below keys on the
    # COMPUTED gkey; a nullable key makes the optimizer infer
    # isnotnull(<whole tokenize+sort expression>) and push it below the
    # spread exchange (the q_dedup_simhash_band pathology — the heavy
    # expression would run twice, once single-threaded). A null text never
    # produced a joinable gkey, so the pair set is unchanged.
    docs = (
        load(spark, sf, "documents", spread=True)
        .filter(F.col("text").isNotNull())
        .select("doc_id", "source", _tokens(F.col("text")).alias("toks"))
    )
    keyed = docs.withColumn(
        "gkey", F.coalesce(F.array_sort("toks"), F.array())
    )
    groups = keyed.groupBy("source", "gkey").agg(
        F.min(F.col("doc_id")).alias("rep_doc_id")
    )
    reps = groups.select(
        "source",
        "gkey",
        F.col("rep_doc_id").alias("doc_id"),
        F.col("gkey").alias("toks"),
    )
    membership = keyed.join(
        groups.select("source", "gkey", F.col("rep_doc_id").alias("rep_id")),
        ["source", "gkey"],
    ).select("source", "rep_id", "doc_id", F.size("toks").alias("ntoks"))

    cand = lsh_candidate_pairs(reps.select("doc_id", "source", "toks"))
    ta, tb = verify_sides(
        reps.select("doc_id", hash_set(F.col("toks")).alias("thash")).withColumn(
            "ntoks", F.size("thash")
        )
    )
    rep_pairs = jaccard_pairs(
        cand.join(ta, "doc_a").join(tb, "doc_b"),
        ["source", F.col("doc_a").alias("rep_a"), F.col("doc_b").alias("rep_b")],
    )

    ma = membership.select(
        "source", F.col("rep_id").alias("rep_a"), F.col("doc_id").alias("da")
    )
    mb = membership.select(
        "source", F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("db")
    )
    cross = (
        rep_pairs.join(ma, ["source", "rep_a"])
        .join(mb, ["source", "rep_b"])
        .select(
            "source",
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )
    # within-group pairs: identical token sets ⇒ jaccard 1.0 ≥ θ (empty
    # token sets excluded — 0/0 is NaN in the ungrouped plan, never a pair)
    mm = membership.filter(F.col("ntoks") >= 1)
    within = (
        mm.alias("x")
        .join(
            mm.alias("y"),
            (F.col("x.source") == F.col("y.source"))
            & (F.col("x.rep_id") == F.col("y.rep_id"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.source").alias("source"),
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


def simhash64(hashes):
    """64-bit SimHash of a ``hash_set`` token-hash array, JVM-side:
    bit_j(sig) = 1 iff #(hashes with bit j set) * 2 > n.

    One ``aggregate`` traversal folds the array into 64 bit-counters, then
    a constant 64-element pass assembles the fingerprint. ``hashes`` must
    be a bound column: it is read twice."""
    zeros = F.array_repeat(F.lit(0).cast("long"), 64)
    counts = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[F.shiftright(h, j).bitwiseAND(F.lit(1)) for j in range(64)]),
            lambda a, b: a + b,
        ),
    )
    n = F.size(hashes).cast("long")
    # bit j contributes 2^j when set; j=63 is the sign bit of a signed long
    powers = F.array(
        *[F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long") for j in range(64)]
    )
    return F.aggregate(
        F.zip_with(
            counts,
            powers,
            lambda c, p: F.when(c * 2 > n, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a.bitwiseOR(b),
    )


def q_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash fingerprint groups: documents sharing an identical 64-bit
    simhash (hamming-0 bucket; banding over bit-ranges generalizes to k>0)."""
    docs = load(spark, sf, "documents", spread=True).select(
        "doc_id", hash_set(_tokens(F.col("text"))).alias("h")
    )
    sims = docs.select("doc_id", simhash64(F.col("h")).alias("simhash"))
    return (
        sims.groupBy("simhash")
        .agg(F.count("*").alias("group_size"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("group_size") > 1)
    )


SIMHASH_BANDS = 4  # 16 bits per band; pigeonhole: hamming ≤ 3 ⇒ ≥1 equal band
SIMHASH_MAX_HAMMING = 3


def q_dedup_simhash_band(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs at hamming ≤ 3 — the hamming>0 generalization
    of q_dedup_simhash: candidates from banded bucket joins, exact
    bit_count(xor) filter verifies. Complete for hamming ≤ 3 by
    construction; pytest checks against the brute-force hamming pairs.
    Rows-only (bit-level ops; no SQL oracle).

    Round 6 banding (same output, collision-proof buckets): 4×16-bit
    bands put two RANDOM fingerprints in the same bucket with p = 4/2¹⁶ —
    a birthday blowup of ~n²/2¹⁴ candidate pairs (measured 50 s at sf1.0:
    50k docs → ~76M candidates, all junk). The classic block-permutation
    scheme (Manku et al.) keys on TRIPLES of 6 blocks instead: any pair
    within hamming 3 leaves ≥ 3 of the 6 blocks intact (pigeonhole), so
    keying every C(6,3) = 20 block-triple (~32 intact bits per key) is
    still complete, while random collisions drop to ~n²·20/2³². 5× the
    band rows, ~2000× fewer junk candidates; the exact verify filter is
    unchanged, so the pair set is identical. Measured 49.7 s → see
    OPTIMIZATION_r06.md."""
    import itertools

    # text IS NOT NULL up front (pushed to the parquet scan) + coalesce
    # makes the simhash key NON-NULLABLE — otherwise the optimizer infers
    # isnotnull(<whole simhash expression>) from the join keys below and
    # pushes it BELOW the spread repartition: the 64-wide fold would run
    # TWICE per side, once single-threaded before the exchange (measured
    # 44 s for the self-join alone at sf1.0; same pair set — a null-text
    # doc has a null fingerprint and never joined anyway)
    docs = (
        load(spark, sf, "documents", spread=True)
        .filter(F.col("text").isNotNull())
        .select("doc_id", hash_set(_tokens(F.col("text"))).alias("h"))
    )
    sims = docs.select(
        "doc_id",
        F.coalesce(simhash64(F.col("h")), F.lit(0)).alias("simhash"),
    )
    # 6 blocks: 4×11 bits + 2×10 bits, offsets over the 64-bit fingerprint
    widths = [11, 11, 11, 11, 10, 10]
    offs = [0, 11, 22, 33, 44, 54]

    def blk(j):
        return F.shiftright(F.col("simhash"), offs[j]).bitwiseAND(
            F.lit((1 << widths[j]) - 1)
        )

    combos = list(itertools.combinations(range(6), 3))
    reps = sims.select("simhash").distinct()
    bands = reps.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("band_id"),
                        (
                            blk(i)
                            .bitwiseOR(F.shiftleft(blk(j), 16))
                            .bitwiseOR(F.shiftleft(blk(k), 32))
                        ).alias("band_val"),
                    )
                    for ci, (i, j, k) in enumerate(combos)
                ]
            )
        ).alias("band"),
    ).select("simhash", "band.band_id", "band.band_val")
    # IDENTICAL-FINGERPRINT COLLAPSE (the decisive move on a clustered
    # corpus): a 2,525-doc identical-fingerprint cluster makes every
    # banded self-join over DOCS enumerate its ~3.2M pairs once per
    # matching band — ~20× the output volume through the join and the
    # dedup (measured 50 s at sf1.0 either banding). Distinct
    # fingerprints are banded instead (each cluster weighs 1), and the
    # output pairs are enumerated exactly once by output-sized hash
    # joins: within-cluster pairs from a simhash self-equi-join
    # (hamming 0), cross-cluster pairs from the rep-pair set expanded
    # through two membership joins (hamming = the reps' hamming).
    a = bands.alias("a")
    b = bands.alias("b")
    ham = F.bit_count(F.col("s_a").bitwiseXOR(F.col("s_b")))
    rep_pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .select(
            F.col("a.simhash").alias("s_a"), F.col("b.simhash").alias("s_b")
        )
        .dropDuplicates(["s_a", "s_b"])
        .filter(ham <= SIMHASH_MAX_HAMMING)
    )
    docs_sims = sims.select("doc_id", "simhash")
    within = (
        docs_sims.alias("x")
        .join(
            docs_sims.alias("y"),
            (F.col("x.simhash") == F.col("y.simhash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(0).alias("hamming"),
        )
    )
    cross = (
        rep_pairs.withColumn("hamming", ham)
        .join(
            docs_sims.select(
                F.col("simhash").alias("s_a"), F.col("doc_id").alias("da")
            ),
            "s_a",
        )
        .join(
            docs_sims.select(
                F.col("simhash").alias("s_b"), F.col("doc_id").alias("db")
            ),
            "s_b",
        )
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    return within.unionByName(cross)


CC_MAX_ITERS = 20  # label propagation rounds; near-dup clusters are shallow


def q_dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup CONNECTED-COMPONENTS collapse: the operation a real
    training-data pipeline runs AFTER pair generation — transitive
    closure of the near-dup relation, one canonical id (the component's
    min doc_id) per document, so an A~B~C chain dedupes to ONE keeper
    even when A~C was never itself a pair.

    Spark-first iterative min-label propagation over the symmetric edge
    list: each round every node takes min(own label, neighbors' labels);
    converges in O(component diameter) rounds (near-dup families are
    shallow — the cap is an assert, not a truncation). Each round
    ``localCheckpoint``s to truncate the lineage a loop of joins would
    otherwise stack (the classic iterative-algorithm failure mode on a
    real cluster). At 100 TB the same loop runs with the edge list
    bucketed by node and the alternative large-star/small-star variant
    kicks in for power-law components; the corpus is never touched —
    input is the (tiny) pair set from the bucketed LSH plan.

    Oracle: transitive closure as a recursive CTE over the exact-Jaccard
    pair SQL (DuckDB WITH RECURSIVE), min reachable id per node."""
    pairs = q_dedup_minhash_lsh(spark, sf).select("doc_a", "doc_b")
    return connected_components(pairs)


def connected_components(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) edge list → (doc_id, component_id) via iterative
    min-label propagation (see q_dedup_components for the scale notes)."""
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(CC_MAX_ITERS):
        nbr = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("component_id").alias("nbr_comp"),
                ),
                "doc_b",
            )
            .groupBy("doc_a")
            .agg(F.min("nbr_comp").alias("min_nbr"))
            .withColumnRenamed("doc_a", "doc_id")
        )
        new = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component_id"),
                    F.coalesce(F.col("min_nbr"), F.col("component_id")),
                ).alias("component_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.component_id") != F.col("o.component_id"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"near-dup components did not converge in {CC_MAX_ITERS} rounds"
        )
    return labels


_JACCARD_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, source,
             list_distinct(list_filter(
               string_split_regex(lower(text), '{TOKEN_SPLIT}'), x -> x <> '')) AS toks
      FROM documents)
    SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.toks, b.toks)) * 1.0 /
                 (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 4)
             AS jaccard
    FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
          (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
          >= {JACCARD_THRESHOLD}"""

ORACLES = {
    "q_dedup_exact": r"""
        SELECT count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
                 AS n_unique,
               count(*) AS n_total
        FROM documents""",
    "q_dedup_exact_groups": r"""
        SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
               min(doc_id) AS keep_doc_id, count(*) AS group_size
        FROM documents GROUP BY 1 HAVING count(*) > 1""",
    "q_dedup_jaccard": _JACCARD_ORACLE,
    # LSH output is exact-verified, so it holds only pairs of the exact SQL,
    # but banding can miss one: this oracle fails on inputs where it does
    # (2 of 5,977 pairs on the perfbench analytics tables of seed 33; none
    # on sf0.001, sf0.01, sf0.1 or the synthetic 10× set).
    "q_dedup_minhash_lsh": _JACCARD_ORACLE,
    "q_dedup_minhash_lsh_grouped": _JACCARD_ORACLE,
    # transitive closure over the exact pair set: min reachable doc_id
    "q_dedup_components": f"""
        WITH RECURSIVE pr AS (SELECT * FROM ({_JACCARD_ORACLE})),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pr
          UNION ALL SELECT doc_b, doc_a FROM pr),
        nodes AS (SELECT DISTINCT a AS n FROM edges),
        walk(n, m) AS (
          SELECT n, n FROM nodes
          UNION
          SELECT e.b, w.m FROM walk w JOIN edges e ON e.a = w.n)
        SELECT n AS doc_id, MIN(m) AS component_id FROM walk GROUP BY n""",
    # q_dedup_simhash: no SQL equivalent (bit-level majority votes) — rows-only.
}

QUERIES = {
    name: (fn, ORACLES.get(name))
    for name, fn in [
        ("q_dedup_exact", q_dedup_exact),
        ("q_dedup_exact_groups", q_dedup_exact_groups),
        ("q_dedup_jaccard", q_dedup_jaccard),
        ("q_dedup_minhash_lsh", q_dedup_minhash_lsh),
        ("q_dedup_minhash_lsh_grouped", q_dedup_minhash_lsh_grouped),
        ("q_dedup_components", q_dedup_components),
        ("q_dedup_simhash", q_dedup_simhash),
        ("q_dedup_simhash_band", q_dedup_simhash_band),
    ]
}
