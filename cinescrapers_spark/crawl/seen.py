"""Partitioned URL-seen set: bloom pre-filter + exact sorted-hash authority,
stored as an LSM of per-shard segment runs.

Generalizes the reference's seen-checks — ``filepath.exists()`` on a hashed
URL before fetching (``/root/reference/src/cinescrapers/__main__.py:218-220``)
and ``ON CONFLICT(id)`` upsert (``:330-344``) — to 10^10 keys.

Design (SURVEY §4.3):

* identity = ``xxhash64(url_norm)`` (64-bit, JVM-computed);
* shard key = ``pmod(url_hash, P)`` — the SAME hash partitioning is used for
  the shard state and the candidate shuffle, so probe and state colocate
  (one shuffle of the candidates, zero shuffle of the state);
* per shard segment: a Bloom filter (``plans/bloom.IntBloom``, sized from
  the segment's own key count; fast negative, never authoritative) in
  front of a SORTED uint64 array probed by binary search — exact membership
  over the 64-bit hashes, FPR=0 on the authoritative path (a filter-only
  design would let false positives silently drop URLs, which the
  "URL-seen membership must match the reference" gate forbids);
* probe and insert run inside ``cogroup().applyInPandas`` — Arrow-batched,
  no per-row Python, state in/out as binary blobs;
* **storage is merge-on-read**: each tick commits a *run* — one blob per
  TOUCHED shard holding only that tick's fresh keys — so per-tick write
  bytes are O(new keys), not O(total keys) (a full-state rewrite per tick
  is ~92 GB at 10^10 keys — 8 B of key + 1.25 B of Bloom each — and would
  dominate tick wall-clock).
  Probes union the newest base with the runs after it; ``compact`` folds
  base+runs into a fresh base, mirroring the frontier's MOR compaction;
* every commit is idempotent per (tick, kind) → a crashed tick re-runs
  against the state *as of its parent tick* and re-commits safely;
* ``SeenSet.admit`` is the one entry point for a tick's candidates (crawl
  adds, image harvest, bootstrap): probe as of the parent tick, commit the
  run, yield the unseen rows and the fresh-key count.

At 10^10 URLs / P=4096 shards: ~2.44M hashes/shard = 19.5 MB exact +
3.05 MB Bloom (10 bits/key, ≈0.8% false positives) in the compacted
base — comfortably an executor-memory object; P scales linearly with the
frontier.
"""

from __future__ import annotations

import glob
import json
import os
import struct
from collections.abc import Iterator
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cinescrapers_spark.crawl.snapshots import SnapshotTable
from cinescrapers_spark.plans.bloom import IntBloom

SHARD_SCHEMA = "shard_id int, data binary, n_keys long"

# SEEN2: the bloom bytes are ``IntBloom`` bits. A SEEN1 blob (the earlier
# k=4 filter) probed with this scheme would give false negatives — seen
# URLs silently re-fetched — so it is refused, not read.
_MAGIC = b"SEEN2"


# --------------------------------------------------------------------------
# shard blob codec: [magic][n_bloom_bytes][bloom bits][n_keys][sorted u64 keys]
# zero bloom bytes = no pre-filter (probe the keys exactly)
# --------------------------------------------------------------------------
def encode_shard(keys: np.ndarray, bloom: np.ndarray) -> bytes:
    return (
        _MAGIC
        + struct.pack("<q", len(bloom))
        + bloom.tobytes()
        + struct.pack("<q", len(keys))
        + keys.tobytes()
    )


def decode_shard(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    if bytes(blob[:5]) != _MAGIC:
        raise ValueError(f"not a {_MAGIC.decode()} seen-shard blob: {bytes(blob[:5])!r}")
    off = 5
    (nb,) = struct.unpack_from("<q", blob, off)
    off += 8
    bloom = np.frombuffer(blob, dtype=np.uint8, count=nb, offset=off).copy()
    off += nb
    (nk,) = struct.unpack_from("<q", blob, off)
    off += 8
    keys = np.frombuffer(blob, dtype=np.uint64, count=nk, offset=off).copy()
    return keys, bloom


def exact_member(keys: np.ndarray, h: np.ndarray) -> np.ndarray:
    """Exact membership of hashes ``h`` in the sorted key array ``keys``."""
    if not len(keys):
        return np.zeros(len(h), dtype=bool)
    idx = np.clip(np.searchsorted(keys, h), 0, len(keys) - 1)
    return keys[idx] == h


def _membership(blobs: list[bytes], h: np.ndarray) -> np.ndarray:
    """Exact membership of hashes ``h`` across a list of segment blobs
    (base + runs): bloom rejects per segment, binary search settles."""
    seen = np.zeros(len(h), dtype=bool)
    for blob in blobs:
        keys, bloom = decode_shard(blob)
        todo = np.flatnonzero(~seen)
        if not len(todo):
            break
        if len(bloom):
            todo = todo[IntBloom(bloom).contains(h[todo])]
        seen[todo[exact_member(keys, h[todo])]] = True
    return seen


class SeenSet:
    """Sharded seen-set backed by a SnapshotTable of binary shard blobs,
    committed as per-tick runs with periodic base compaction."""

    def __init__(self, table: SnapshotTable, num_shards: int = 64):
        self.table = table
        self.P = num_shards

    # -- column helpers -------------------------------------------------------
    @staticmethod
    def hash_col(url_norm_col):
        return F.xxhash64(url_norm_col)

    def shard_col(self, url_hash_col):
        return F.pmod(url_hash_col, F.lit(self.P)).cast("int")

    # -- state selection (merge-on-read) ---------------------------------------
    def _entries_as_of(self, as_of: int | None) -> list[dict]:
        """Newest base with tick ≤ as_of plus the runs after it (≤ as_of).
        as_of=None means 'latest'."""
        entries = self.table.manifest()
        if as_of is not None:
            entries = [e for e in entries if e["tick"] <= as_of]
        bases = [e for e in entries if e.get("metrics", {}).get("kind") == "base"]
        floor = bases[-1]["tick"] if bases else -1
        picked = ([bases[-1]] if bases else []) + [
            e
            for e in entries
            if e.get("metrics", {}).get("kind") != "base" and e["tick"] > floor
        ]
        return picked

    def _state_df(self, spark: SparkSession, as_of: int | None = None) -> DataFrame:
        entries = self._entries_as_of(as_of)
        if not entries:
            return spark.createDataFrame([], SHARD_SCHEMA)
        dirs = [self.table.snapshot_dir(e["snapshot_id"]) for e in entries]
        return spark.read.schema(SHARD_SCHEMA).parquet(*dirs)

    # -- probe ----------------------------------------------------------------
    def filter_unseen(
        self,
        candidates: DataFrame,
        hash_col: str = "url_hash",
        as_of: int | None = None,
    ) -> DataFrame:
        """Return candidate rows whose hash is NOT in the seen set (as of
        the given tick; latest by default).

        One shuffle: candidates are hash-partitioned by shard_id and
        cogrouped with their state segments (base + runs); inside each
        group blooms reject definite-news cheaply, then binary search
        settles the rest exactly.
        """
        spark = candidates.sparkSession
        shards = self._state_df(spark, as_of)
        cand = candidates.withColumn("__shard", self.shard_col(F.col(hash_col)))
        out_schema = cand.schema
        hname = hash_col

        def probe(key, cdf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
            if len(cdf) == 0 or len(sdf) == 0:
                return cdf
            h = cdf[hname].to_numpy().astype(np.uint64)
            seen = _membership(list(sdf["data"]), h)
            return cdf[~seen]

        unseen = (
            cand.groupBy("__shard")
            .cogroup(shards.groupBy("shard_id"))
            .applyInPandas(probe, schema=out_schema)
        )
        return unseen.drop("__shard")

    # -- admit: probe + insert in one cogroup ---------------------------------
    @contextmanager
    def admit(
        self, candidates: DataFrame, tick: int, hash_col: str = "url_hash"
    ) -> Iterator[tuple[DataFrame, int]]:
        """Admit this tick's candidates: probe them against the state as of
        ``tick - 1`` and commit the fresh keys as this tick's run, in ONE
        cogroup pass. Yields ``(unseen, n_fresh)``: the unseen candidate
        rows (one per fresh hash) and how many keys the run added.

        The run commit (idempotent per tick) is the job that fills the
        cached cogroup, so ``unseen`` reads from the cache; the cache is
        dropped on exit, exception or not. Every read is as of the parent
        tick, so a tick that crashes after its run landed re-runs to the
        byte-identical ``unseen`` — callers commit their own payload of it
        inside the block, idempotently, and need no other ordering."""
        fused = self._probe_and_add(candidates, tick, hash_col)
        try:
            unseen = fused.select(*[f"`{c}`" for c in candidates.columns])
            run = fused.filter(F.col("data").isNotNull()).select(
                "shard_id", "data", "n_keys"
            )
            total = self._commit_shards(run, tick)
            yield unseen, total - self.total_keys_as_of(tick - 1)
        finally:
            fused.unpersist()

    def add(self, new_urls: DataFrame, tick: int, hash_col: str = "url_hash") -> None:
        """Register new hashes as this tick's run (touched shards only —
        O(new keys))."""
        with self.admit(new_urls, tick, hash_col):
            pass

    def _probe_and_add(
        self, candidates: DataFrame, tick: int, hash_col: str
    ) -> DataFrame:
        """ONE cogroup pass against the state as of ``tick - 1`` that both
        filters the candidates AND builds this tick's run blobs (fresh keys
        only, per touched shard). Output is the unseen candidate rows; the
        first row of each touched shard also carries that shard's run blob
        in ``shard_id``/``data``/``n_keys`` (null ``data`` elsewhere).

        Within-batch duplicates (the same URL discovered on two pages this
        tick) collide in their shard and are deduped here, keeping the
        lexicographically-first exemplar row — the reference model's
        ``min(url)`` rule (reference_model.py _add_urls).

        Returns the CACHED cogroup output."""
        spark = candidates.sparkSession
        shards = self._state_df(spark, as_of=tick - 1)
        cand = candidates.withColumn("__shard", self.shard_col(F.col(hash_col)))
        out_schema = (
            "shard_id int, data binary, n_keys long, "
            + ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
            )
        )
        cand_cols = list(candidates.columns)
        out_cols = ["shard_id", "data", "n_keys"] + cand_cols
        hname = hash_col
        # exemplar rule for within-batch duplicates: min (depth, url) per
        # hash — BFS shortest-path depth first, then the lexicographic url
        # (mirrors the reference model's _add_urls); caption joins the key
        # for the image-harvest instance (two pages captioning the same
        # poster differently must resolve deterministically)
        sort_keys = [hname] + [
            c for c in ("depth", "url", "caption") if c in cand_cols
        ]

        def fused(key, cdf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame(columns=out_cols)
            if not len(cdf):
                return empty
            cdf = (
                cdf.drop(columns=["__shard"])
                .sort_values(sort_keys)
                .drop_duplicates(subset=[hname])
            )
            h = cdf[hname].to_numpy().astype(np.uint64)
            seen = _membership(list(sdf["data"]), h) if len(sdf) else np.zeros(
                len(h), dtype=bool
            )
            fresh_rows = cdf[~seen]
            if not len(fresh_rows):
                return empty
            fresh = np.sort(fresh_rows[hname].to_numpy().astype(np.uint64))
            blob = encode_shard(fresh, IntBloom.build(fresh).bits)
            return fresh_rows.assign(
                shard_id=int(key[0]),
                data=[blob] + [None] * (len(fresh) - 1),
                n_keys=len(fresh),
            )[out_cols]

        return (
            cand.groupBy("__shard")
            .cogroup(shards.groupBy("shard_id"))
            .applyInPandas(fused, schema=out_schema)
            .cache()
        )

    def _commit_shards(self, new_shards: DataFrame, tick: int) -> int:
        """Write this tick's run snapshot (idempotent per tick); return the
        total key count as of this tick. Runs hold only fresh keys, so
        total = total(tick-1) + run size, both read from parquet footers /
        the manifest — no Spark job. The total lands on the run's manifest
        entry in a second write, so a re-run after a crash between the two
        finds the run committed and stashes its total then."""
        info = self.table.commit(
            new_shards,
            tick=tick,
            row_count=-1,
            tag="run",
            metrics={"kind": "run"},
            idempotent=True,
        )
        if "total_keys" in info.metrics:
            return int(info.metrics["total_keys"])
        total = self.total_keys_as_of(tick - 1) + self._sum_keys_from_snapshot(
            info.snapshot_id
        )
        self._stash_total(info.snapshot_id, total)
        return total

    def compact(self, spark: SparkSession, tick: int) -> None:
        """Fold base+runs into a fresh base snapshot (idempotent per tick).
        Probe cost and manifest length reset; run history before the base
        is subsumed. Mirrors the frontier's compaction cadence."""
        if self.table.entry_for(tick, tag="base") is not None:
            return
        state = self._state_df(spark, as_of=tick)

        def merge_all(key, sdf):
            parts = [decode_shard(b)[0] for b in sdf["data"]]
            keys = (
                np.unique(np.concatenate(parts))
                if parts
                else np.empty(0, dtype=np.uint64)
            )
            return pd.DataFrame(
                {
                    "shard_id": [int(key[0])],
                    "data": [encode_shard(keys, IntBloom.build(keys).bits)],
                    "n_keys": [len(keys)],
                }
            )

        merged = state.groupBy("shard_id").applyInPandas(merge_all, schema=SHARD_SCHEMA)
        total = self.total_keys_as_of(tick)
        self.table.commit(
            merged,
            tick=tick,
            row_count=-1,
            tag="base",
            metrics={"kind": "base", "total_keys": total},
        )

    def _stash_total(self, snapshot_id: int, total: int) -> None:
        """Record the running total on the run's manifest entry, so later
        ticks read it without a Spark job."""
        entries = self.table.manifest()
        entry = next(e for e in entries if e["snapshot_id"] == snapshot_id)
        entry["metrics"]["total_keys"] = total
        tmp = self.table._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entries, f, indent=1, default=str)
        os.replace(tmp, self.table._manifest_path())

    def _sum_keys_from_snapshot(self, snapshot_id: int) -> int:
        import pyarrow.parquet as pq

        total = 0
        for f in glob.glob(
            os.path.join(self.table.snapshot_dir(snapshot_id), "**", "*.parquet"),
            recursive=True,
        ):
            t = pq.read_table(f, columns=["n_keys"])
            total += int(t.column("n_keys").to_pandas().sum() or 0)
        return total

    def total_keys_as_of(self, as_of: int) -> int:
        entries = [e for e in self.table.manifest() if e["tick"] <= as_of]
        for e in reversed(entries):
            if "total_keys" in e.get("metrics", {}):
                return int(e["metrics"]["total_keys"])
        return 0

    def total_keys(self, spark: SparkSession = None) -> int:
        latest = self.table.latest()
        if latest is None:
            return 0
        return self.total_keys_as_of(latest["tick"])
