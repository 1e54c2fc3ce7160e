"""Image+caption harvest stage — the payload half of the crawl graft.

north_rule: the frontier crawls *over Iceberg tables of image + caption
pairs*. Each tick's parsed listing cards carry (caption, poster-image URL);
this stage turns them into rows of the input_hint table shape

    (image_id string, bytes binary, w int, h int, fmt string,
     caption string, phash long)

with the three properties that matter at 10^10 scale:

* **dedup BEFORE fetch** — candidate (url, caption) pairs are probed
  against a second ``SeenSet`` instance (same bloom+exact LSM as the URL
  frontier) so an image referenced from thousands of listing pages is
  fetched and decoded exactly once, and the probe shuffle carries only
  url+caption strings, never pixel payloads;
* **Arrow-batched acquisition** — the fetch+decode runs in ``mapInPandas``
  over the *unseen* rows only. The sandbox has no network, so the "fetch"
  is the deterministic ``synth_image`` generator (a pure function of the
  image URL — the stand-in the whole fetch model uses,
  ``sources/pages.py``); production swaps one function;
* **idempotent per-tick commits** — ``SeenSet.admit`` commits the image
  seen run first, then the rows land as this tick's run in a
  ``SnapshotTable`` (O(new images) write; same MOR/lineage story as the
  frontier). Both reads are as of the parent tick, so a tick that crashes
  between the two commits re-harvests to a byte-identical run and each
  commit dedups on (tick, table).

Per-row invariants (input_hint): decoded pixels match the generator's
ground truth at PSNR ≥ 40 dB for the lossy codec / exactly for ppm;
caption equality with the page card; phash equality — gated by
tests/test_harvest.py.

Reference analogue: thumbnail fetch+cache keyed by hashed image URL
(``/root/reference/src/cinescrapers/thumbnails.py`` via
``__main__.py:218-250``: skip when the content-addressed file exists).
"""

from __future__ import annotations

import os
import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cinescrapers_spark.crawl.seen import SeenSet
from cinescrapers_spark.crawl.snapshots import SnapshotTable
from cinescrapers_spark.schemas import IMAGES

CARD_SCHEMA = "url string, caption string, url_hash long"


def _harvest_formats() -> tuple[str, ...]:
    """Corpus codec mix for the synthetic fetch stand-in. The default
    reproduces the historical byte-exact fixtures; set
    CINESCRAPERS_HARVEST_FORMATS=qimg,ppm,png,jpeg,jpeg_prog to exercise
    the entropy codecs (incl. progressive JPEG) through the full harvest
    path (bench use)."""
    return tuple(
        os.environ.get("CINESCRAPERS_HARVEST_FORMATS", "qimg,ppm,png").split(",")
    )


def synth_pixels(image_url: str):
    """Deterministic ground-truth pixels for an image URL — the sandbox's
    stand-in for GET+decode. Pure function of the URL (seeded RNG), reusing
    the structured generator the images table uses (gradient + object blob
    + border, non-square sizes)."""
    from cinescrapers_spark.images.table import SIZES, make_pixels

    rng = random.Random(image_url)
    w = rng.choice(SIZES)
    h = rng.choice(SIZES)
    arr = make_pixels(rng, w, h)
    r = rng.random()
    formats = _harvest_formats()
    fmt = formats[min(int(r * len(formats)), len(formats) - 1)]
    return arr, w, h, fmt


def synth_image_row(image_url: str, caption: str) -> dict:
    """One harvested row in the input_hint shape."""
    from cinescrapers_spark.functions.hashing import get_hashed_py
    from cinescrapers_spark.images.codecs import encode_image
    from cinescrapers_spark.images.ops import phash64

    arr, w, h, fmt = synth_pixels(image_url)
    return {
        "image_id": get_hashed_py(image_url),
        "bytes": encode_image(arr, fmt),
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption,
        "phash": phash64(arr),
    }


class ImageHarvester:
    """Per-tick image+caption acquisition over the crawl's parsed cards."""

    def __init__(self, workdir: str, num_shards: int = 16):
        self.table = SnapshotTable(os.path.join(workdir, "images"))
        self.seen = SeenSet(
            SnapshotTable(os.path.join(workdir, "images_seen")),
            num_shards=num_shards,
        )

    def harvest_tick(self, cards: DataFrame, tick: int) -> dict:
        """cards(url, caption) for this tick → admit against the image
        seen-set as-of tick-1 (its run commits first) → synthesize/fetch
        ONLY the unseen → commit as this tick's images run, idempotently.
        Returns {'new_images': n}."""
        cand = cards.withColumn("url_hash", SeenSet.hash_col(F.col("url"))).select(
            "url", "caption", "url_hash"
        )
        cols = [f.name for f in IMAGES.fields]

        # AQE rightly coalesces the (url, caption) shuffle to ~1 partition
        # (it is a few MB of strings) — but the EXPENSIVE work is the
        # acquisition kernel DOWNSTREAM of it (~1.3 ms of CPU per image on
        # one core for the qimg,ppm,png,jpeg,jpeg_prog mix), so a serial
        # stage would cap harvest throughput at one core (measured: 2→8
        # cores gained nothing). Re-widen cheaply before the kernel: the
        # repartition shuffles strings, never pixels.
        width = cards.sparkSession.sparkContext.defaultParallelism

        def acquire(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                yield pd.DataFrame(
                    [
                        synth_image_row(u, c)
                        for u, c in zip(pdf["url"], pdf["caption"])
                    ]
                )[cols]

        with self.seen.admit(cand, tick) as (unseen, n_new):
            rows = (
                unseen.select("url", "caption")
                .repartition(width)
                .mapInPandas(acquire, schema=IMAGES)
            )
            self.table.commit(
                rows,
                tick=tick,
                row_count=-2,
                tag="run",
                metrics={"kind": "run"},
                idempotent=True,
            )
        return {"new_images": n_new}

    def read(self, spark: SparkSession, as_of: int | None = None) -> DataFrame:
        """The harvested images table: union of all runs ≤ as_of (rows are
        append-only and pre-deduped by the seen probe — no merge needed)."""
        entries = [
            e
            for e in self.table.manifest()
            if as_of is None or e["tick"] <= as_of
        ]
        if not entries:
            return spark.createDataFrame([], IMAGES)
        return spark.read.schema(IMAGES).parquet(
            *[self.table.snapshot_dir(e["snapshot_id"]) for e in entries]
        )
