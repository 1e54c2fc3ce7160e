"""Near-dup stress bench: the MinHash-LSH dedup pipeline at 10^6 documents
(the sf0.1 `documents` table is 5,000 rows — fine for oracle-checked
correctness, far too small to evidence the 100 TB plan shape; this is the
dedup counterpart of the 10M-URL crawl stress run).

Corpus: DISTRIBUTED deterministic generator (a driver-side list of 10^6
token arrays would itself be the bottleneck — same rationale as
`crawl/frontier.synthetic_seed_df`). `spark.range(n)` → every doc belongs
to a 10-doc family; family f's base document is 120 vocabulary words
derived from xxhash64(f, j); replica r of the family drops each token
independently with probability 2r% (drop decisions from xxhash64(id, j)).
All token/text derivation is Spark SQL expressions — zero Python in the
data path.

Known structure ⇒ the run is an exactness AUDIT, not just a timing: true
near-dups only exist inside 10-doc families (inter-family token overlap
is negligible at |vocab| = 50k), so the exact ground truth is the
family-blocked all-pairs Jaccard — 45 pairs per family, computable at any
scale as one equi-join. The JSON reports true recall =
|LSH-verified pairs| / |ground-truth pairs with J ≥ θ|; the 8×2 banding
predicts ≥ 1-(1-θ²)^8 ≈ 0.9997 at the threshold and higher above it.

Pipeline under test (identical code paths to q_dedup_minhash_lsh):
  1. corpus materialization: doc_id-BUCKETED token-hash table — the
     production storage layout the verify joins read in place;
  2. `lsh_candidate_pairs` (band shuffle + bucket-cap skew kill);
  3. exact-Jaccard verification (``jaccard_pairs``: round(J, 4) ≥ θ)
     joining the bucketed table twice (candidate rows shuffle; the corpus
     does not). The ground truth goes through the same verify.

Usage: python tools/bench_dedup.py --cpus 4 --docs 1000000
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FAMILY_SIZE = 10
BASE_TOKENS = 120
VOCAB = 50_000


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--theta", type=float, default=0.8)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from cinescrapers_spark.plans.dedup import (
        SCRATCH_BUCKETS,
        blocked_pairs,
        connected_components,
        hash_set,
        jaccard_pairs,
        lsh_candidate_pairs,
        lsh_oversized_buckets,
        verify_sides,
    )
    from cinescrapers_spark.session import get_spark

    spark = get_spark(
        app_name=f"bench-dedup-{args.docs}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus * 2,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # ---- distributed corpus: doc_id, source, toks --------------------------
    fam = F.floor(F.col("id") / FAMILY_SIZE)
    rep = F.col("id") % FAMILY_SIZE  # replica index → drop prob 2r%
    base = F.transform(
        F.sequence(F.lit(0), F.lit(BASE_TOKENS - 1)),
        lambda j: F.concat(F.lit("w"), F.pmod(F.xxhash64(fam, j), F.lit(VOCAB))),
    )
    # keep token j unless xxhash64(id, j, salt) % 100 < 2·rep
    toks = F.array_distinct(
        F.filter(
            F.zip_with(
                base,
                F.sequence(F.lit(0), F.lit(BASE_TOKENS - 1)),
                lambda w, j: F.when(
                    F.pmod(F.xxhash64(F.col("id"), j, F.lit(7)), F.lit(100))
                    >= 2 * rep,
                    w,
                ),
            ),
            lambda w: w.isNotNull(),
        )
    )
    docs = (
        spark.range(args.docs)
        .select(
            F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
            F.pmod(fam, F.lit(16)).cast("string").alias("source"),
            toks.alias("toks"),
            fam.cast("long").alias("fam"),
        )
    )

    # ---- stage 1: corpus materialization (production bucketed layout) -----
    t0 = time.time()
    table = "dedup_stress_thash"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # the catalog is session-scoped but spark-warehouse/ persists: clear a
    # stale location from a previous run before saveAsTable
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
    (
        docs.select("doc_id", "fam", hash_set(F.col("toks")).alias("thash"))
        .withColumn("ntoks", F.size("thash"))
        .write.bucketBy(SCRATCH_BUCKETS, "doc_id")
        .sortBy("doc_id")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )
    wall_corpus = round(time.time() - t0, 2)

    # ---- stage 2: LSH candidates (band shuffle, capped buckets) ------------
    t0 = time.time()
    cand = lsh_candidate_pairs(docs.select("doc_id", "source", "toks"))
    n_cand = cand.count()
    wall_cand = round(time.time() - t0, 2)
    n_oversized = lsh_oversized_buckets(docs.select("doc_id", "source", "toks")).count()

    # ---- stage 3: exact verification against the bucketed table ------------
    t0 = time.time()
    tt = spark.table(table)
    ta, tb = verify_sides(tt)
    verified = jaccard_pairs(
        cand.join(ta, "doc_a").join(tb, "doc_b"), ["doc_a", "doc_b"], args.theta
    ).select("doc_a", "doc_b")
    n_pairs = verified.count()
    wall_verify = round(time.time() - t0, 2)

    # ---- exactness audit: family-blocked ground truth ----------------------
    # true near-dups only exist inside families; the blocked all-pairs
    # Jaccard (45 pairs/family) IS the exact answer at this corpus shape
    t0 = time.time()
    truth = (
        jaccard_pairs(blocked_pairs(tt, "fam"), ["doc_a", "doc_b"], args.theta)
        .select("doc_a", "doc_b")
        .cache()
    )
    n_truth = truth.count()
    n_found = truth.join(verified, ["doc_a", "doc_b"], "left_semi").count()
    wall_truth = round(time.time() - t0, 2)
    recall = round(n_found / n_truth, 5) if n_truth else None

    # ---- stage 4: connected-components collapse over the verified pairs ----
    # distributed exactness audit (no driver union-find at 10^6 docs):
    # (a) both endpoints of every verified edge carry the same label;
    # (b) no component spans two families (inter-family overlap is
    # negligible by construction, so a spanning label = a propagation bug)
    t0 = time.time()
    verified = verified.cache()
    comp = connected_components(verified).cache()
    n_nodes = comp.count()
    n_comp = comp.select("component_id").distinct().count()
    ca = comp.select(
        F.col("doc_id").alias("doc_a"), F.col("component_id").alias("ca")
    )
    cb = comp.select(
        F.col("doc_id").alias("doc_b"), F.col("component_id").alias("cb")
    )
    cc_violations = (
        verified.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter(F.col("ca") != F.col("cb"))
        .count()
    )
    cc_spanning = (
        comp.join(tt.select("doc_id", "fam"), "doc_id")
        .groupBy("component_id")
        .agg(F.countDistinct("fam").alias("nf"))
        .filter(F.col("nf") > 1)
        .count()
    )
    wall_cc = round(time.time() - t0, 2)

    total = round(wall_corpus + wall_cand + wall_verify + wall_cc, 2)
    print(
        json.dumps(
            {
                "docs": args.docs,
                "families": args.docs // FAMILY_SIZE,
                "wall_corpus_materialize_sec": wall_corpus,
                "wall_candidates_sec": wall_cand,
                "wall_verify_sec": wall_verify,
                "total_wall_sec": total,
                "docs_per_sec": round(args.docs / total, 1),
                "candidate_pairs": n_cand,
                "verified_pairs": n_pairs,
                "oversized_buckets": n_oversized,
                "ground_truth_pairs": n_truth,
                "true_recall_at_theta": recall,
                "wall_ground_truth_audit_sec": wall_truth,
                "wall_components_sec": wall_cc,
                "cc_docs_in_pairs": n_nodes,
                "cc_components": n_comp,
                "cc_edge_label_violations": cc_violations,
                "cc_family_spanning_components": cc_spanning,
            }
        )
    )
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
