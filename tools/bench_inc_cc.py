"""Incremental connected-components stress: 10^6 documents arriving in
batches, per-batch walls measured as the corpus grows (VERDICT r5 #1's
acceptance evidence: the round-6 Bloom/range run pruning makes the
per-batch endpoint resolve O(batch + touched runs), so walls must stay
FLAT while the stored corpus quadruples — the CC counterpart of the
incremental-IVF add_batch walls).

Corpus shape: documents arrive in ``--batches`` equal batches; every
10-doc family is connected by a chain (d_i ~ d_{i+1}) plus a star from
its min doc (17 edges/family, all within one batch), and every 100th
family of the PREVIOUS batch receives one extra late edge in the next
batch — the cross-run lookup the pruning has to serve (it must read that
one old run, and only that one). Ground truth: components = families,
canonical label = the family's min doc_id — checked distributed at the
end against the full-batch ``connected_components`` over all edges.

Reported per batch: wall seconds, live runs vs runs the bloom probe kept
(the pruning evidence), edges folded.

Usage: python tools/bench_inc_cc.py --cpus 4 --docs 1000000
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FAMILY_SIZE = 10
LATE_EVERY = 100


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--workdir", type=str, default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from cinescrapers_spark.plans.dedup import connected_components
    from cinescrapers_spark.plans.incremental_cc import IncrementalComponents
    from cinescrapers_spark.session import get_spark

    spark = get_spark(
        app_name=f"bench-inc-cc-{args.docs}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus * 2,
    )
    spark.sparkContext.setLogLevel("ERROR")

    n_fam = args.docs // FAMILY_SIZE
    fam_per_batch = n_fam // args.batches
    workdir = args.workdir or tempfile.mkdtemp(prefix="inc_cc_stress_")
    idx = IncrementalComponents(workdir)

    def family_edges(fam_lo: int, fam_hi: int):
        """All 17 in-family edges for families [fam_lo, fam_hi)."""
        base = F.col("id") * FAMILY_SIZE
        combos = [(i, i + 1) for i in range(FAMILY_SIZE - 1)] + [
            (0, j) for j in range(2, FAMILY_SIZE)
        ]
        pairs = F.array(
            *[
                F.struct(
                    (base + a).alias("doc_a"), (base + b).alias("doc_b")
                )
                for a, b in combos
            ]
        )
        return (
            spark.range(fam_lo, fam_hi)
            .select(F.explode(pairs).alias("p"))
            .select("p.doc_a", "p.doc_b")
        )

    def late_edges(prev_lo: int, prev_hi: int):
        base = F.col("id") * FAMILY_SIZE
        return (
            spark.range(prev_lo, prev_hi)
            .filter(F.col("id") % LATE_EVERY == 0)
            .select(
                (base + 3).alias("doc_a"), (base + 7).alias("doc_b")
            )
        )

    batch_walls = []
    runs_live = []
    runs_kept = []
    n_edges_per_batch = []
    for k in range(args.batches):
        lo, hi = k * fam_per_batch, (k + 1) * fam_per_batch
        edges = family_edges(lo, hi)
        if k > 0:
            edges = edges.unionByName(
                late_edges((k - 1) * fam_per_batch, lo)
            )
        n_edges = edges.count()
        # pruning evidence, measured OUTSIDE the timed wall: which live
        # runs would the endpoint-resolve actually read for this batch?
        entries = idx._live_entries(idx.nodes_table, k)  # ticks are 1-based
        if entries:
            ids = (
                edges.select(F.col("doc_a").alias("doc_id"))
                .unionByName(edges.select(F.col("doc_b").alias("doc_id")))
                .distinct()
            )
            kept = idx._prune_by_bloom(spark, entries, ids)
        else:
            kept = []
        runs_live.append(len(entries))
        runs_kept.append(len(kept))
        t0 = time.time()
        idx.add_pairs(edges, tick=k + 1)
        batch_walls.append(round(time.time() - t0, 2))
        n_edges_per_batch.append(n_edges)
        print(
            f"# batch {k + 1}: wall={batch_walls[-1]}s edges={n_edges} "
            f"runs_live={len(entries)} runs_read={len(kept)}",
            file=sys.stderr,
            flush=True,
        )

    # ---- exactness audit: equals full-batch CC over ALL edges -------------
    t0 = time.time()
    all_edges = family_edges(0, n_fam)
    for k in range(1, args.batches):
        all_edges = all_edges.unionByName(
            late_edges((k - 1) * fam_per_batch, k * fam_per_batch)
        )
    want = connected_components(all_edges).withColumnRenamed(
        "component_id", "want"
    )
    got = idx.labels(spark)
    joined = got.join(want, "doc_id", "full_outer")
    mismatches = joined.filter(
        F.col("component_id").isNull()
        | F.col("want").isNull()
        | (F.col("component_id") != F.col("want"))
    ).count()
    n_docs_labeled = got.count()
    n_components = got.select("component_id").distinct().count()
    # planted truth: component == family, label == family's min doc id
    planted_violations = got.filter(
        F.col("component_id") != (F.floor(F.col("doc_id") / FAMILY_SIZE) * FAMILY_SIZE)
    ).count()
    wall_audit = round(time.time() - t0, 2)

    print(
        json.dumps(
            {
                "docs": args.docs,
                "families": n_fam,
                "batches": args.batches,
                "edges_per_batch": n_edges_per_batch,
                "inc_batch_walls_sec": batch_walls,
                "runs_live_per_batch": runs_live,
                "runs_read_per_batch": runs_kept,
                "docs_labeled": n_docs_labeled,
                "components": n_components,
                "label_mismatches_vs_full_batch": mismatches,
                "planted_truth_violations": planted_violations,
                "wall_audit_sec": wall_audit,
            }
        ),
        flush=True,
    )
    if not args.workdir:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
