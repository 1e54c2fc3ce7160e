"""Image+caption harvest gates (north_rule axis B over axis A):

1. the harvested table equals — byte for byte — what the single-threaded
   reference model harvests under the same seeds and politeness budget
   (caption equality + content-addressed identity);
2. per-row input_hint invariants: decoded pixels match the generator's
   ground truth (PSNR ≥ 40 dB for the lossy codec, exact for ppm), phash
   matches a recompute;
3. dedup-before-fetch: no duplicate image_id across ticks;
4. resumability: stop/re-instantiate mid-run, or crash a tick between
   its image-seen and images commits → identical table;
5. the harvest stage does not perturb the crawl itself.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cinescrapers_spark.crawl.engine import CrawlEngine
from cinescrapers_spark.crawl.frontier import synthetic_seed_urls
from cinescrapers_spark.crawl.harvest import synth_image_row, synth_pixels
from cinescrapers_spark.crawl.reference_model import ReferenceCrawl
from cinescrapers_spark.dims import hosts_df
from cinescrapers_spark.functions.hashing import get_hashed_py
from cinescrapers_spark.images.codecs import decode_image, psnr
from cinescrapers_spark.images.ops import phash64

N_TICKS = 3
N_SEEDS = 120


def _engine(spark, path, hosts, **kw):
    return CrawlEngine(
        spark, str(path), hosts, num_shards=8, tick_seconds=30.0,
        max_per_tick=8, harvest_images=True, **kw,
    )


@pytest.fixture(scope="module")
def harvest_pair(spark, tmp_path_factory):
    hosts = hosts_df(spark, extra_hosts=["megacinema.example.com"])
    host_rows = hosts.collect()
    host_info = {r.host: (r.host_rank, r.crawl_delay) for r in host_rows}
    robots = {r.host: list(r.robots_disallow or []) for r in host_rows}
    seeds = synthetic_seed_urls(N_SEEDS, seed=13, mega_host_frac=0.4)
    raw = spark.createDataFrame(seeds)

    eng = _engine(spark, tmp_path_factory.mktemp("harvest"), hosts)
    eng.bootstrap(raw)
    em = eng.run(N_TICKS)

    ref = ReferenceCrawl(
        host_info, tick_seconds=30.0, max_per_tick=8, robots=robots, harvest=True
    )
    ref.bootstrap([s["url"] for s in seeds])
    rm = ref.run(N_TICKS)
    return eng, em, ref, rm


def test_harvest_matches_reference_byte_for_byte(spark, harvest_pair):
    eng, em, ref, rm = harvest_pair
    got = {
        r["image_id"]: (
            bytes(r["bytes"]), r["w"], r["h"], r["fmt"], r["caption"], r["phash"]
        )
        for r in eng.harvester.read(spark).collect()
    }
    assert ref.images, "reference harvested nothing — fixture too small"
    want = {}
    for img_url, caption in ref.images.items():
        row = synth_image_row(img_url, caption)
        want[row["image_id"]] = (
            row["bytes"], row["w"], row["h"], row["fmt"], row["caption"],
            row["phash"],
        )
    assert got == want
    # per-tick new-image and card-reference counts match too
    assert [m.get("new_images") for m in em] == [m["new_images"] for m in rm]
    assert [m.get("image_candidates") for m in em] == [
        m["image_candidates"] for m in rm
    ]


def test_harvest_row_invariants(spark, harvest_pair):
    """input_hint per-row invariant: PSNR ≥ 40 dB (lossy) / exact (ppm)
    against the generator ground truth; phash recompute equality."""
    eng, *_ = harvest_pair
    # image_id → url mapping via the reference's harvested urls
    _, _, ref, _ = harvest_pair
    by_id = {get_hashed_py(u): u for u in ref.images}
    rows = eng.harvester.read(spark).collect()
    assert rows
    for r in rows:
        url = by_id[r["image_id"]]
        truth, w, h, fmt = synth_pixels(url)
        assert (r["w"], r["h"], r["fmt"]) == (w, h, fmt)
        decoded = decode_image(bytes(r["bytes"]), fmt)
        assert decoded.shape == truth.shape
        if fmt in ("ppm", "png"):  # lossless formats: byte-exact pixels
            assert np.array_equal(decoded, truth)
        else:
            assert psnr(truth, decoded) >= 40.0
        assert phash64(truth) == r["phash"]


def test_harvest_dedup_across_ticks(spark, harvest_pair):
    eng, *_ = harvest_pair
    imgs = eng.harvester.read(spark)
    assert imgs.count() == imgs.select("image_id").distinct().count()
    runs = eng.harvester.table.manifest()
    assert len(runs) == N_TICKS  # one idempotent run per tick
    assert all(e["metrics"].get("kind") == "run" for e in runs)
    # the image seen-set grew alongside (dedup-before-fetch was live)
    assert eng.harvester.seen.total_keys(spark) == imgs.count()


def test_harvest_resume_equivalence(spark, tmp_path):
    hosts = hosts_df(spark, extra_hosts=["megacinema.example.com"])
    seeds = synthetic_seed_urls(80, seed=23)
    raw = spark.createDataFrame(seeds)

    a = _engine(spark, tmp_path / "a", hosts)
    a.bootstrap(raw)
    a.run(3)

    b1 = _engine(spark, tmp_path / "b", hosts)
    b1.bootstrap(raw)
    b1.run(1)
    b2 = _engine(spark, tmp_path / "b", hosts)  # fresh instance, same workdir
    assert b2.current_tick() == 1
    b2.run(2)

    ta = {tuple(r) for r in a.harvester.read(spark).collect()}
    tb = {tuple(r) for r in b2.harvester.read(spark).collect()}
    assert ta == tb
    assert ta


def test_harvest_torn_tick_resume(spark, tmp_path):
    """Crash tick 2 inside the harvest, after the image-seen run landed and
    before the images run: the tick stays incomplete, and a fresh engine
    re-runs it to the uninterrupted table — the posters already marked
    seen are re-acquired, because every read is as of the parent tick."""
    hosts = hosts_df(spark, extra_hosts=["megacinema.example.com"])
    seeds = synthetic_seed_urls(80, seed=37)
    raw = spark.createDataFrame(seeds)

    a = _engine(spark, tmp_path / "a", hosts)
    a.bootstrap(raw)
    a.run(2)

    b = _engine(spark, tmp_path / "b", hosts)
    b.bootstrap(raw)
    b.run(1)
    real_commit = b.harvester.table.commit

    def boom(*args, **kwargs):
        raise RuntimeError("simulated crash before the images commit")

    b.harvester.table.commit = boom
    with pytest.raises(RuntimeError):
        b.tick()
    b.harvester.table.commit = real_commit
    assert b.harvester.seen.table.entry_for(2, tag="run") is not None
    assert b.harvester.table.latest()["tick"] == 1
    assert b.current_tick() == 1

    b2 = _engine(spark, tmp_path / "b", hosts)
    b2.run(1)
    assert b2.current_tick() == 2
    ta = {tuple(r) for r in a.harvester.read(spark).collect()}
    tb = {tuple(r) for r in b2.harvester.read(spark).collect()}
    assert ta == tb and ta
    assert b2.harvester.seen.total_keys() == len(tb)


def test_harvest_survives_seen_compaction(spark, tmp_path):
    """With compact_every=2 the image seen-set folds its runs into a base
    mid-run; dedup must keep filtering across the fold (no re-harvest) and
    the final table must equal the no-compaction run's."""
    hosts = hosts_df(spark, extra_hosts=["megacinema.example.com"])
    seeds = synthetic_seed_urls(80, seed=31)
    raw = spark.createDataFrame(seeds)

    a = _engine(spark, tmp_path / "a", hosts, compact_every=2)
    a.bootstrap(raw)
    a.run(4)

    b = _engine(spark, tmp_path / "b", hosts, compact_every=0)
    b.bootstrap(raw)
    b.run(4)

    ta = {tuple(r) for r in a.harvester.read(spark).collect()}
    tb = {tuple(r) for r in b.harvester.read(spark).collect()}
    assert ta == tb and ta
    # post-compaction key count still equals the table (nothing re-added)
    assert a.harvester.seen.total_keys(spark) == len(ta)


def test_harvest_does_not_perturb_crawl(spark, tmp_path):
    hosts = hosts_df(spark, extra_hosts=["megacinema.example.com"])
    seeds = synthetic_seed_urls(80, seed=29)
    raw = spark.createDataFrame(seeds)

    on = _engine(spark, tmp_path / "on", hosts)
    on.bootstrap(raw)
    m_on = on.run(2)

    off = CrawlEngine(
        spark, str(tmp_path / "off"), hosts, num_shards=8,
        tick_seconds=30.0, max_per_tick=8,
    )
    off.bootstrap(raw)
    m_off = off.run(2)

    f_on = {
        (r.url_norm, r.state, r.last_fetch_tick) for r in on.frontier().collect()
    }
    f_off = {
        (r.url_norm, r.state, r.last_fetch_tick) for r in off.frontier().collect()
    }
    assert f_on == f_off
    for a, b in zip(m_on, m_off):
        assert a["scheduled"] == b["scheduled"]
        assert a["new_unseen"] == b["new_unseen"]
