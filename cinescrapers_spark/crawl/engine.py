"""The crawl loop: schedule → fetch → expand → dedup → commit, per tick.

This is the reference's refresh loop (``__main__.py:497-548``: staleness
select → fan-out scrape → upsert) re-expressed as iterative dataflow over
snapshot tables:

    frontier_{t+1} = frontier_t[fetched-marks] ∪ (outlinks(fetch(sched_t)) ∖ seen)

Frontier storage is **merge-on-read** (the Iceberg MOR / LSM shape): each
tick writes only its CHANGES — a marks delta (per-fetch state updates) and
an adds delta (new unseen rows) — and the full table is reconstructed on
read as ``base ∪ adds`` patched by latest-wins marks. The seen set commits
the same way (per-tick runs of fresh keys, crawl/seen.py). A compaction
every ``compact_every`` ticks folds deltas into a new base checkpoint.
Per-tick write cost is O(changes), not O(frontier) — the property that
survives a 10^10-row frontier.

Crash safety: every per-tick commit is **idempotent per (tick, table)** and
every per-tick read is **as-of the parent tick**, so a tick interrupted
between commits is simply re-run — it recomputes byte-identical deltas
(deterministic schedule + deterministic fetch model) and each table skips
the commits that already landed. Resumable from ANY point, not just tick
boundaries (north_rule resumability; tested by killing mid-tick). So the
commits run in order on one thread: marks, seen run + adds (one
``SeenSet.admit``), image seen run + images (another).

Per-tick metrics (scheduled/failed/items/links) are recovered driver-side
from the written marks parquet via pyarrow footers+columns — scheduling a
Spark aggregation job per tick was measured per-tick overhead.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cinescrapers_spark.crawl.frontier import (
    DEFAULT_SALTS,
    MAX_RETRIES,
    STALENESS_TICKS,
    init_frontier,
    schedule_tick,
)
from cinescrapers_spark.crawl.harvest import ImageHarvester
from cinescrapers_spark.crawl.seen import SeenSet
from cinescrapers_spark.crawl.snapshots import SnapshotTable
from cinescrapers_spark.schemas import FRONTIER
from cinescrapers_spark.sources.pages import (
    fetch_parse_expand_udf,
    fetch_parse_harvest_udf,
)

_FRONTIER_COLS = [f.name for f in FRONTIER.fields]


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        hosts: DataFrame,
        num_shards: int = 64,
        n_salts: int = DEFAULT_SALTS,
        tick_seconds: float = 60.0,
        max_per_tick: int = 25,
        light_metrics: bool = False,
        compact_every: int = 8,
        staleness_ticks: int = STALENESS_TICKS,
        max_retries: int = MAX_RETRIES,
        max_depth: int | None = None,
        harvest_images: bool = False,
    ):
        self.spark = spark
        self.workdir = workdir
        self.hosts = hosts
        self.n_salts = n_salts
        self.tick_seconds = tick_seconds
        self.max_per_tick = max_per_tick
        # light_metrics drops the discovered-count job from the hot path
        # (bench mode); full mode keeps the exact dedup_dropped metric
        self.light_metrics = light_metrics
        self.compact_every = compact_every
        self.staleness_ticks = staleness_ticks
        self.max_retries = max_retries
        self.max_depth = max_depth
        # robots dimension: disallow-prefix filter applied before scheduling
        self.robots = (
            hosts.select("host", "robots_disallow")
            if "robots_disallow" in hosts.columns
            else None
        )
        self.base_table = SnapshotTable(os.path.join(workdir, "frontier"))
        self.adds_table = SnapshotTable(os.path.join(workdir, "frontier_adds"))
        self.marks_table = SnapshotTable(os.path.join(workdir, "frontier_marks"))
        self.seen = SeenSet(
            SnapshotTable(os.path.join(workdir, "seen_shards")), num_shards=num_shards
        )
        # image+caption payload harvest (north_rule axis B): parsed cards →
        # dedup-before-fetch → input_hint-shaped images table, per tick
        self.harvester = (
            ImageHarvester(workdir, num_shards=min(16, num_shards))
            if harvest_images
            else None
        )
        self.metrics_path = os.path.join(workdir, "metrics.jsonl")

    # -- lifecycle -------------------------------------------------------------
    def bootstrap(self, raw_seed_urls: DataFrame) -> dict:
        """Tick 0: canonicalize seeds, build base snapshot 0, register
        every frontier URL in the seen set."""
        frontier = init_frontier(
            self.spark, raw_seed_urls, self.hosts, tick=0, n_salts=self.n_salts
        )
        frontier = frontier.cache()
        n = frontier.count()
        self.seen.add(frontier.select("url_hash"), tick=0)
        self.base_table.commit(
            frontier, tick=0, metrics={"seeded": n}, row_count=n, idempotent=True
        )
        frontier.unpersist()
        return {"tick": 0, "seeded": n}

    def _max_tick(self, table: SnapshotTable, default: int = 0) -> int:
        latest = table.latest()
        return latest["tick"] if latest else default

    def current_tick(self) -> int:
        """Last COMPLETE tick: the min across the three per-tick tables —
        a crash between commits leaves a partial tick, which re-runs."""
        if self.base_table.latest() is None:
            return -1  # not bootstrapped
        ticks = [
            self._max_tick(self.marks_table),
            self._max_tick(self.adds_table),
            self._max_tick(self.seen.table),
        ]
        if self.harvester is not None:
            ticks.append(self._max_tick(self.harvester.table))
            ticks.append(self._max_tick(self.harvester.seen.table))
        return min(ticks)

    # -- merge-on-read reconstruction -------------------------------------------
    def _entries_upto(self, table: SnapshotTable, lo: int, hi: int) -> list[dict]:
        return [e for e in table.manifest() if lo < e["tick"] <= hi]

    def frontier_at(self, tick: int) -> DataFrame:
        """Reconstruct the frontier state as of the END of ``tick``:
        newest base ≤ tick, plus adds deltas, patched by latest-wins marks."""
        bases = [e for e in self.base_table.manifest() if e["tick"] <= tick]
        if not bases:
            raise FileNotFoundError("no base snapshot — bootstrap first")
        base_entry = bases[-1]
        rows = self.base_table.read(self.spark, snapshot_id=base_entry["snapshot_id"])
        add_entries = self._entries_upto(self.adds_table, base_entry["tick"], tick)
        if add_entries:
            adds = self.spark.read.parquet(
                *[self.adds_table.snapshot_dir(e["snapshot_id"]) for e in add_entries]
            )
            rows = rows.unionByName(adds.select(*_FRONTIER_COLS))
        mark_entries = self._entries_upto(self.marks_table, base_entry["tick"], tick)
        if mark_entries:
            marks = self.spark.read.parquet(
                *[self.marks_table.snapshot_dir(e["snapshot_id"]) for e in mark_entries]
            ).select("m_hash", "m_state", "m_last_fetch_tick", "m_retries", "m_tick")
            w = Window.partitionBy("m_hash").orderBy(F.desc("m_tick"))
            latest = (
                marks.withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") == 1)
                .drop("__r")
            )
            rows = (
                rows.join(latest, rows.url_hash == latest.m_hash, "left")
                .withColumn("state", F.coalesce("m_state", "state"))
                .withColumn(
                    "last_fetch_tick", F.coalesce("m_last_fetch_tick", "last_fetch_tick")
                )
                .withColumn("retries", F.coalesce("m_retries", "retries"))
                .select(*_FRONTIER_COLS)
            )
        return rows

    def frontier(self) -> DataFrame:
        return self.frontier_at(self.current_tick())

    def _frontier_row_count(self, tick: int | None = None) -> int:
        bases = self.base_table.manifest()
        if tick is not None:
            bases = [e for e in bases if e["tick"] <= tick]
        base = bases[-1]
        adds = self._entries_upto(
            self.adds_table, base["tick"], tick if tick is not None else 10**9
        )
        return base["row_count"] + sum(e["row_count"] for e in adds)

    # -- one tick ----------------------------------------------------------------
    def tick(self) -> dict:
        """Run the next tick; returns its metrics dict. Every read is as-of
        tick-1 and every commit is idempotent per (tick, table), so a
        partially-committed tick re-runs to the identical result."""
        t = self.current_tick() + 1
        t0 = time.time()
        timings: dict[str, float] = {}
        frontier = self.frontier_at(t - 1)

        # 1. politeness-scheduled fetch set (deterministic top-budget per
        #    host) + fetch+parse+expand in ONE fused Arrow kernel
        sched = schedule_tick(
            frontier,
            t,
            tick_seconds=self.tick_seconds,
            max_per_tick=self.max_per_tick,
            staleness_ticks=self.staleness_ticks,
            robots=self.robots,
            max_depth=self.max_depth,
        )
        harvest = self.harvester is not None
        kernel = fetch_parse_harvest_udf if harvest else fetch_parse_expand_udf
        extra = [F.col("__f.cards").alias("__cards")] if harvest else []
        fetched = (
            sched.withColumn("__f", kernel(F.col("url_norm")))
            .select(
                "url_hash",
                "retries",
                "depth",
                F.col("__f.ok").alias("__ok"),
                F.col("__f.outlinks").alias("__outlinks"),
                F.col("__f.n_items").alias("__n_items"),
                *extra,
            )
            .cache()
        )

        # 2. marks delta: absolute per-URL state after this fetch, plus the
        #    per-URL item/link/card counts the tick metrics need (read back
        #    driver-side from the written parquet — no aggregation job)
        # state machine: success resets the retry counter; failure
        # increments it and drops the row out permanently at MAX_RETRIES
        # (the reference's retry taxonomy, exceptions.py:1-12, generalized)
        marks = fetched.select(
            F.col("url_hash").alias("m_hash"),
            F.when(F.col("__ok"), F.lit("fetched"))
            .when(
                F.col("retries") + 1 >= self.max_retries, F.lit("failed_permanent")
            )
            .otherwise(F.lit("failed"))
            .alias("m_state"),
            F.lit(t).alias("m_last_fetch_tick"),
            F.when(F.col("__ok"), F.lit(0))
            .otherwise(F.col("retries") + 1)
            .alias("m_retries"),
            F.lit(t).alias("m_tick"),
            F.col("__n_items").alias("m_items"),
            F.size("__outlinks").alias("m_links"),
            (F.size("__cards") if harvest else F.lit(0)).alias("m_cards"),
        )
        tj = time.time()
        marks_info = self.marks_table.commit(
            marks, tick=t, row_count=-1, idempotent=True
        )
        timings["sched_fetch_marks"] = time.time() - tj
        # marks stats are a pure driver-side pyarrow pass over the written
        # parquet — run them on a thread UNDER the probe/commit stages
        # (the main thread spends that window blocked on py4j with the GIL
        # released); joined before metrics assembly. A flat ~1-2s leaves
        # the tick's critical path at every cluster width.
        stats_box: dict = {}

        def _stats() -> None:
            try:
                stats_box["v"] = self._marks_stats(marks_info.snapshot_id)
            except BaseException as e:  # re-raised at join
                stats_box["err"] = e

        stats_thread = threading.Thread(target=_stats, daemon=True)
        stats_thread.start()

        # discoveries inherit parent depth + 1 (BFS shortest-path depth;
        # duplicates keep the min via the seen-cogroup dedup)
        discovered = fetched.select(
            F.explode("__outlinks").alias("url"),
            (F.col("depth") + 1).alias("depth"),
        )

        # 3. frontier-shape the discoveries WITH the groupBy dedup: its
        #    map-side partial combine collapses within-tick duplicates
        #    (10-20× on boilerplate pagination links) BEFORE the rows ever
        #    shuffle, so the seen-probe cogroup receives ~distinct narrow
        #    rows instead of the raw explode (its own in-kernel dedup stays
        #    as the cross-partition backstop). Measured: tick-3 probe step
        #    at 8 cores 58 s → see BASELINE.md §D.2; skipping the groupBy
        #    to "save a shuffle" priced the exchange but not the
        #    duplication volume it removes.
        new_rows = init_frontier(
            self.spark,
            discovered,
            self.hosts,
            tick=t,
            n_salts=self.n_salts,
            already_canonical=True,
        )
        if not self.light_metrics:
            new_rows = new_rows.cache()
            n_discovered = new_rows.select("url_norm").distinct().count()
        # light_metrics: n_discovered = raw link count, filled in after the
        # stats thread joins (no extra Spark job)

        # 4. seen admit against state as-of t-1: one cogroup shuffle yields
        #    both the unseen rows and this tick's run blobs (touched shards
        #    only — O(new keys) write); the run commit fills the cache
        # 5. adds commit from the cached unseen rows. Both commits are
        #    idempotent per (tick, table) and every read is as-of t-1, so
        #    they run in order: a crash between them re-runs to the same
        #    bytes. row_count comes from the written footers (no job).
        tj = time.time()
        with self.seen.admit(new_rows, t) as (unseen, n_new):
            timings["probe_cogroup"] = time.time() - tj
            tj = time.time()
            self.adds_table.commit(
                unseen.select(*_FRONTIER_COLS),
                tick=t,
                row_count=-2,
                idempotent=True,
            )
        timings["run_and_adds_commit"] = time.time() - tj

        # 5b. image+caption harvest (axis B payload): explode this tick's
        #     parsed cards, dedup against the image seen-set, acquire only
        #     the fresh ones, commit as the tick's images run; the card
        #     count (image_candidates) comes from the marks stats
        harvest_metrics = {}
        if harvest:
            tj = time.time()
            cards = fetched.filter(F.col("__ok")).select(
                F.explode("__cards").alias("c")
            ).select(
                F.col("c.img").alias("url"), F.col("c.caption").alias("caption")
            )
            harvest_metrics = self.harvester.harvest_tick(cards, tick=t)
            timings["harvest"] = time.time() - tj

        stats_thread.join()
        if "err" in stats_box:
            raise stats_box["err"]
        (n_sched, n_fail, n_items, n_links, n_cards), partition_stats = stats_box["v"]
        if harvest:
            harvest_metrics["image_candidates"] = n_cards
        if self.light_metrics:
            n_discovered = n_links  # raw link count stands in (no extra job)

        metrics = {
            "tick": t,
            "scheduled": n_sched,
            "fetch_failed": n_fail,
            "parsed_items": n_items,
            "raw_links": n_links,
            "discovered": n_discovered,
            "new_unseen": n_new,
            "dedup_dropped": n_discovered - n_new,
            "sched_and_dedup_urls": n_sched + n_links,
            "frontier_rows": self._frontier_row_count(),
            # per-partition fetch/parse counters (north_rule "per-partition
            # lineage + metrics"): one entry per marks part-file, which maps
            # 1:1 to the fetch task that produced it
            "partitions": partition_stats,
            **harvest_metrics,
        }

        # 6. periodic compaction: fold deltas into fresh base checkpoints
        #    (frontier AND seen set) — amortized O(frontier / compact_every)
        if self.compact_every and t % self.compact_every == 0:
            tj = time.time()
            compacted = self.frontier_at(t)
            self.base_table.commit(
                compacted,
                tick=t,
                metrics={"compaction": True},
                row_count=self._frontier_row_count(),
                tag="compaction",
                idempotent=True,
            )
            self.seen.compact(self.spark, tick=t)
            if self.harvester is not None:
                self.harvester.seen.compact(self.spark, tick=t)
            timings["compaction"] = time.time() - tj
            metrics["compacted"] = True

        metrics["wall_sec"] = round(time.time() - t0, 3)
        metrics["timings"] = {k: round(v, 3) for k, v in timings.items()}
        with open(self.metrics_path, "a") as f:
            f.write(json.dumps(metrics) + "\n")
        fetched.unpersist()
        if not self.light_metrics:
            new_rows.unpersist()
        return metrics

    def _marks_stats(
        self, snapshot_id: int
    ) -> tuple[tuple[int, int, int, int, int], list[dict]]:
        """((n_scheduled, n_failed, n_items, n_links, n_cards), per-partition
        stats) from the written marks parquet, summed driver-side — marks
        are one row per scheduled URL and each part-file is one fetch
        task's output, so per-file counters ARE the per-partition metrics."""
        import pyarrow.parquet as pq

        snap_dir = self.marks_table.snapshot_dir(snapshot_id)
        n = nf = ni = nl = nc = 0
        parts = []
        for f in sorted(
            glob.glob(os.path.join(snap_dir, "**", "*.parquet"), recursive=True)
        ):
            tbl = pq.read_table(
                f, columns=["m_state", "m_items", "m_links", "m_cards"]
            )
            states = tbl.column("m_state").to_pylist()
            pf = sum(1 for s in states if s.startswith("failed"))
            pi = int(sum(x or 0 for x in tbl.column("m_items").to_pylist()))
            pl = int(sum(x or 0 for x in tbl.column("m_links").to_pylist()))
            n += tbl.num_rows
            nf += pf
            ni += pi
            nl += pl
            nc += int(sum(x or 0 for x in tbl.column("m_cards").to_pylist()))
            if tbl.num_rows:
                parts.append(
                    {
                        "file": os.path.relpath(f, snap_dir),
                        "fetched": tbl.num_rows - pf,
                        "failed": pf,
                        "items": pi,
                        "links": pl,
                    }
                )
        return (n, nf, ni, nl, nc), parts

    def run(self, n_ticks: int) -> list[dict]:
        out = []
        for _ in range(n_ticks):
            m = self.tick()
            out.append(m)
            if m["scheduled"] == 0:  # empty-schedule termination
                break
        return out

    # -- introspection ------------------------------------------------------------
    def scheduled_set(self, tick: int) -> DataFrame:
        """Recompute the (deterministic) schedule of a given tick from that
        tick's parent state — used by equivalence tests and resume audits;
        identical output to what the tick actually fetched."""
        parent = self.frontier_at(tick - 1)
        return schedule_tick(
            parent,
            tick,
            tick_seconds=self.tick_seconds,
            max_per_tick=self.max_per_tick,
            staleness_ticks=self.staleness_ticks,
            robots=self.robots,
            max_depth=self.max_depth,
        )
