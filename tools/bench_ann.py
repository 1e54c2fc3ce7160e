"""ANN stress bench: IVF similarity search at 10^6 vectors with an exact
brute-force recall audit (the embeddings table is 5k rows at sf0.1 — the
ANN counterpart of the dedup/crawl stress runs).

Corpus: DISTRIBUTED deterministic generator — `spark.range(n)`, 256
well-separated cluster centers derived from xxhash64(cluster, dim), each
point = its center + bounded per-coordinate noise; every expression is
Spark SQL (zero Python in the data path). Queries are the first
`--queries` ids, drawn with the same noise around their own cluster's
center, so every query has a dense true neighborhood.

Audited: recall@k of `ivf_topk` (label-seeded centroids + Lloyd
refinement, nprobe-cell probing, exact in-cell re-rank — the identical
code path behind q_ann_ivf) against the exact brute-force top-k computed
by `partitioned_topk` over ALL candidates for the same queries. On a
clustered corpus with nprobe=3 of 256 cells the audit should report
recall ≈ 1 while scanning ~nprobe/256 of the corpus per query.

Usage: python tools/bench_ann.py --cpus 4 --vectors 1000000
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_CLUSTERS = 256
DIM = 64
NOISE = 0.25  # per-coordinate, vs unit-scale centers


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--vectors", type=int, default=1_000_000)
    ap.add_argument("--queries", type=int, default=100)
    ap.add_argument("--topk", type=int, default=10)
    ap.add_argument("--nprobe", type=int, default=3)
    ap.add_argument("--incremental", action="store_true",
                    help="also feed the corpus to IncrementalIVFIndex in 4 "
                         "batches and audit its recall with the same "
                         "brute-force ground truth")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from cinescrapers_spark.plans.similarity import (
        _as_double,
        cosine,
        ivf_topk,
        partitioned_topk,
    )
    from cinescrapers_spark.session import get_spark

    spark = get_spark(
        app_name=f"bench-ann-{args.vectors}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus * 2,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # ---- distributed clustered corpus: vec_id, label, embedding ------------
    cluster = F.pmod(F.xxhash64(F.col("id"), F.lit(11)), F.lit(N_CLUSTERS))
    dims = F.sequence(F.lit(0), F.lit(DIM - 1))
    unit = lambda h: (F.pmod(h, F.lit(2001)) - 1000) / 1000.0  # noqa: E731
    emb_expr = F.transform(
        dims,
        lambda d: unit(F.xxhash64(cluster, d)) + NOISE * unit(F.xxhash64(F.col("id"), d, F.lit(3))),
    )
    emb = (
        spark.range(args.vectors)
        .select(
            F.col("id").alias("vec_id"),
            cluster.cast("string").alias("label"),
            emb_expr.alias("embedding"),
        )
        .cache()
    )
    emb.count()  # materialize once so IVF and audit read the same cache

    # ---- IVF under test -----------------------------------------------------
    t0 = time.time()
    ivf = ivf_topk(
        emb,
        nprobe=args.nprobe,
        k=args.topk,
        n_queries=args.queries,
        vectorized_assign=True,
    ).cache()
    n_ivf = ivf.count()
    wall_ivf = round(time.time() - t0, 2)

    # ---- exact brute-force ground truth ------------------------------------
    t0 = time.time()
    q = emb.filter(F.col("vec_id") < args.queries).select(
        F.col("vec_id").alias("q_id"), _as_double(F.col("embedding")).alias("q_emb")
    )
    c = emb.filter(F.col("vec_id") >= args.queries).select(
        "vec_id", _as_double(F.col("embedding")).alias("emb")
    )
    scored = c.join(F.broadcast(q)).select(
        "q_id", "vec_id", cosine(F.col("emb"), F.col("q_emb")).alias("cos_raw")
    )
    exact = partitioned_topk(
        scored, ["q_id"], [F.desc("cos_raw"), F.asc("vec_id")], args.topk
    ).select("q_id", "vec_id")
    n_exact = exact.count()
    wall_exact = round(time.time() - t0, 2)

    n_hit = exact.join(ivf.select("q_id", "vec_id"), ["q_id", "vec_id"], "left_semi").count()
    recall = round(n_hit / n_exact, 5) if n_exact else None

    # ---- persisted incremental index (same audit) ---------------------------
    inc_fields: dict = {}
    if args.incremental:
        import shutil
        import tempfile

        from cinescrapers_spark.plans.incremental_ivf import IncrementalIVFIndex

        workdir = tempfile.mkdtemp(prefix="ivf-stress-")
        try:
            idx = IncrementalIVFIndex(workdir, lloyd_iters=2)
            cand_full = emb.filter(F.col("vec_id") >= args.queries)
            batch_walls = []
            for t in range(1, 5):
                tb = time.time()
                idx.add_batch(
                    cand_full.filter(F.pmod("vec_id", F.lit(4)) == t - 1),
                    tick=t,
                )
                batch_walls.append(round(time.time() - tb, 2))
            tq = time.time()
            queries_df = emb.filter(F.col("vec_id") < args.queries).select(
                F.col("vec_id").alias("q_id"), "embedding"
            )
            inc = idx.search(
                queries_df, k=args.topk, nprobe=args.nprobe
            ).cache()
            inc.count()
            wall_inc_search = round(time.time() - tq, 2)
            n_hit_inc = exact.join(
                inc.select("q_id", "vec_id"), ["q_id", "vec_id"], "left_semi"
            ).count()
            inc_fields = {
                "inc_batch_walls_sec": batch_walls,
                "inc_search_wall_sec": wall_inc_search,
                "inc_recall_at_k": (
                    round(n_hit_inc / n_exact, 5) if n_exact else None
                ),
            }
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    print(
        json.dumps(
            {
                **inc_fields,
                "vectors": args.vectors,
                "dim": DIM,
                "clusters": N_CLUSTERS,
                "queries": args.queries,
                "topk": args.topk,
                "nprobe": args.nprobe,
                "wall_ivf_sec": wall_ivf,
                "wall_bruteforce_audit_sec": wall_exact,
                "ivf_rows": n_ivf,
                "exact_rows": n_exact,
                "recall_at_k": recall,
                "scan_fraction_per_query": round(args.nprobe / N_CLUSTERS, 4),
            }
        )
    )
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
