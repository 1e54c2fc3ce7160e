"""Crawl-semantics tests (SURVEY §5.2): the Spark engine's per-tick
schedule, URL-seen membership, and final frontier must equal the
single-threaded Python reference model under the same seed list and
politeness budget. Plus seen-set unit behavior and snapshot resume."""

import numpy as np
import pytest

from cinescrapers_spark.crawl.engine import CrawlEngine
from cinescrapers_spark.crawl.frontier import synthetic_seed_urls
from cinescrapers_spark.crawl.reference_model import ReferenceCrawl
from cinescrapers_spark.crawl.seen import SeenSet, decode_shard, encode_shard
from cinescrapers_spark.crawl.snapshots import SnapshotTable
from cinescrapers_spark.dims import hosts_df
from cinescrapers_spark.plans.bloom import BITS_PER_KEY, N_HASHES, IntBloom

N_TICKS = 3
N_SEEDS = 300


def test_shard_codec_roundtrip():
    rng = np.random.default_rng(1)
    keys = np.sort(rng.integers(0, 2**64 - 1, 20_000, dtype=np.uint64))
    bloom = IntBloom.build(keys)
    assert bloom.m == 8 * len(bloom.bits) == len(keys) * BITS_PER_KEY
    k2, b2 = decode_shard(encode_shard(keys, bloom.bits))
    assert np.array_equal(keys, k2)
    assert np.array_equal(bloom.bits, b2)
    # no false negatives, ever — and int64/uint64 views of a key probe alike
    assert IntBloom(b2).contains(keys).all()
    assert IntBloom(b2).contains(keys.view(np.int64)).all()
    probe = rng.integers(0, 2**64 - 1, 200_000, dtype=np.uint64)
    fresh = probe[~np.isin(probe, keys)]
    design = (1 - np.exp(-N_HASHES / BITS_PER_KEY)) ** N_HASHES  # ≈0.82%
    fpr = IntBloom(b2).contains(fresh).mean()
    assert fpr < 1.5 * design, f"measured fpr {fpr:.4%}, design {design:.4%}"


def test_seen1_blob_refused():
    """A blob of the earlier filter layout must not be probed with this
    hash scheme (false negatives would re-fetch seen URLs)."""
    keys = np.arange(1, 6, dtype=np.uint64)
    blob = encode_shard(keys, IntBloom.build(keys).bits)
    assert np.array_equal(decode_shard(blob)[0], keys)
    with pytest.raises(ValueError, match="SEEN2"):
        decode_shard(b"SEEN1" + blob[5:])


def test_bloom_sidecar_layout_checked(tmp_path):
    """A sidecar whose m is not its whole bit array (the earlier sizing
    rule) is refused on load rather than probed with the wrong modulus."""
    ids = np.arange(-50, 50, dtype=np.int64)
    IntBloom.build(ids).save(str(tmp_path / "ok.npz"))
    assert IntBloom.load(str(tmp_path / "ok.npz")).contains(ids).all()
    bits = IntBloom.build(ids).bits
    np.savez(str(tmp_path / "old.npz"), bits=bits, m=8 * len(bits) - 3, k=N_HASHES)
    with pytest.raises(ValueError, match="layout"):
        IntBloom.load(str(tmp_path / "old.npz"))


def test_seen_set_probe_insert(spark, tmp_path):
    from pyspark.sql import functions as F

    seen = SeenSet(SnapshotTable(str(tmp_path / "shards")), num_shards=8)
    df1 = spark.range(0, 500).select(F.xxhash64("id").alias("url_hash"))
    assert seen.filter_unseen(df1).count() == 500  # empty set: all unseen
    seen.add(df1, tick=0)
    assert seen.filter_unseen(df1).count() == 0  # now all seen (exact)
    df2 = spark.range(250, 750).select(F.xxhash64("id").alias("url_hash"))
    assert seen.filter_unseen(df2).count() == 250  # overlap handled exactly
    seen.add(df2, tick=1)
    assert seen.total_keys(spark) == 750


@pytest.fixture(scope="module")
def crawl_pair(spark, tmp_path_factory):
    """Run engine and reference model on identical input; return both."""
    hosts = hosts_df(spark, extra_hosts=["megacinema.example.com"])
    host_rows = hosts.collect()
    host_info = {r.host: (r.host_rank, r.crawl_delay) for r in host_rows}
    robots = {r.host: list(r.robots_disallow or []) for r in host_rows}
    seeds = synthetic_seed_urls(N_SEEDS, seed=7, mega_host_frac=0.5)
    raw = spark.createDataFrame(seeds)

    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("crawl")),
        hosts,
        num_shards=16,
        tick_seconds=30.0,
        max_per_tick=10,
    )
    eng.bootstrap(raw)
    eng_metrics = eng.run(N_TICKS)

    ref = ReferenceCrawl(host_info, tick_seconds=30.0, max_per_tick=10, robots=robots)
    ref.bootstrap([s["url"] for s in seeds])
    ref_metrics = ref.run(N_TICKS)
    return eng, eng_metrics, ref, ref_metrics


def test_crawl_schedule_matches_reference(spark, crawl_pair):
    eng, em, ref, rm = crawl_pair
    for t in range(1, N_TICKS + 1):
        got = sorted(r.url_norm for r in eng.scheduled_set(t).collect())
        assert got == ref.schedules[t - 1], f"tick {t} schedule diverges"


def test_crawl_metrics_match_reference(crawl_pair):
    eng, em, ref, rm = crawl_pair
    for e, r in zip(em, rm):
        assert e["scheduled"] == r["scheduled"]
        assert e["fetch_failed"] == r["fetch_failed"]
        assert e["new_unseen"] == r["new_unseen"]


def test_final_frontier_matches_reference(spark, crawl_pair):
    eng, _, ref, _ = crawl_pair
    got = {
        (r.url_norm, r.state, r.last_fetch_tick, r.depth)
        for r in eng.frontier().collect()
    }
    want = {
        (r.url_norm, r.state, r.last_fetch_tick, r.depth)
        for r in ref.frontier.values()
    }
    assert got == want
    # discoveries must actually deepen (depth column is live, not const 0)
    assert any(d > 0 for *_rest, d in got)


def test_seen_membership_matches_reference(spark, crawl_pair):
    eng, _, ref, _ = crawl_pair
    assert eng.seen.total_keys(spark) == len(ref.seen)
    # spot probe: every reference-seen hash must be seen by the engine
    from pyspark.sql import functions as F

    probes = spark.createDataFrame(
        [(h,) for h in sorted(ref.seen)[:500]], "url_hash long"
    )
    assert eng.seen.filter_unseen(probes).count() == 0


def test_resume_equivalence(spark, tmp_path):
    """Kill after tick k, resume from snapshot: final frontier identical to
    an uninterrupted run (north_rule resumability)."""
    hosts = hosts_df(spark, extra_hosts=["megacinema.example.com"])
    seeds = synthetic_seed_urls(150, seed=11)
    raw = spark.createDataFrame(seeds)

    a = CrawlEngine(spark, str(tmp_path / "a"), hosts, num_shards=8,
                    tick_seconds=30.0, max_per_tick=10)
    a.bootstrap(raw)
    a.run(4)

    b = CrawlEngine(spark, str(tmp_path / "b"), hosts, num_shards=8,
                    tick_seconds=30.0, max_per_tick=10)
    b.bootstrap(raw)
    b.run(2)
    # "restart": a brand-new engine object over the same workdir picks up
    # from the latest snapshots
    b2 = CrawlEngine(spark, str(tmp_path / "b"), hosts, num_shards=8,
                     tick_seconds=30.0, max_per_tick=10)
    assert b2.current_tick() == 2
    b2.run(2)

    fa = {(r.url_norm, r.state, r.last_fetch_tick) for r in a.frontier().collect()}
    fb = {(r.url_norm, r.state, r.last_fetch_tick) for r in b2.frontier().collect()}
    assert fa == fb
    assert a.seen.total_keys(spark) == b2.seen.total_keys(spark)


def test_robots_disallow_filters_schedule(spark, crawl_pair):
    """No scheduled URL may fall under its host's disallow prefixes, and
    the seed mix must actually contain disallowed URLs (fixture sanity)."""
    eng, _, ref, _ = crawl_pair
    robots = ref.robots or {}
    frontier_urls = [r.url_norm for r in eng.frontier().collect()]
    blocked_in_frontier = [
        u for u in frontier_urls
        if any(
            u.split("://", 1)[1][len(u.split("://", 1)[1].split("/", 1)[0]):]
            .startswith(p)
            for p in robots.get(u.split("://", 1)[1].split("/", 1)[0], [])
        )
    ]
    assert blocked_in_frontier, "fixture has no robots-blocked URLs to test"
    for t in range(1, N_TICKS + 1):
        for r in eng.scheduled_set(t).collect():
            host = r.url_norm.split("://", 1)[1].split("/", 1)[0]
            path = r.url_norm.split("://", 1)[1][len(host):]
            assert not any(
                path.startswith(p) for p in robots.get(host, [])
            ), f"scheduled a robots-blocked URL: {r.url_norm}"


def test_retry_backoff_and_permanent_dropout(spark, tmp_path):
    """Failures back off exponentially and drop out after MAX_RETRIES, in
    lockstep with the reference model (staleness_ticks=1 to see retries)."""
    from cinescrapers_spark.crawl.frontier import MAX_RETRIES

    hosts = hosts_df(spark, extra_hosts=["megacinema.example.com"])
    host_rows = hosts.collect()
    host_info = {r.host: (r.host_rank, r.crawl_delay) for r in host_rows}
    robots = {r.host: list(r.robots_disallow or []) for r in host_rows}
    seeds = synthetic_seed_urls(60, seed=3)
    eng = CrawlEngine(spark, str(tmp_path / "c"), hosts, num_shards=8,
                      tick_seconds=30.0, max_per_tick=10, staleness_ticks=1,
                      compact_every=4, max_retries=2)
    eng.bootstrap(spark.createDataFrame(seeds))
    em = eng.run(10)

    ref = ReferenceCrawl(host_info, tick_seconds=30.0, max_per_tick=10,
                         staleness_ticks=1, max_retries=2, robots=robots)
    ref.bootstrap([s["url"] for s in seeds])
    rm = ref.run(len(em))
    for e, r in zip(em, rm):
        assert (e["scheduled"], e["fetch_failed"], e["new_unseen"]) == (
            r["scheduled"], r["fetch_failed"], r["new_unseen"]
        ), f"tick {e['tick']} diverged"
    got = {
        (r.url_norm, r.state, r.retries) for r in eng.frontier().collect()
    }
    want = {(r.url_norm, r.state, r.retries) for r in ref.frontier.values()}
    assert got == want
    # the fail-y synthetic fetch (1 in 10 URLs) must actually have produced
    # a permanent drop-out for the assertion to mean anything
    n_perm = sum(1 for _, s, _ in got if s == "failed_permanent")
    n_retrying = sum(1 for _, s, r in got if s == "failed" and r >= 1)
    assert n_perm > 0, "fixture produced no permanent drop-outs"
    assert n_retrying > 0, "fixture produced no retry activity"
    assert MAX_RETRIES == 4  # default unchanged; test shrinks it to 2


def test_mid_tick_crash_resume(spark, tmp_path):
    """Kill BETWEEN commits of one tick (after marks+seen, before adds):
    the re-run must land the identical final state — the torn-commit case
    where discoveries are already marked seen but absent from the frontier."""
    hosts = hosts_df(spark, extra_hosts=["megacinema.example.com"])
    seeds = synthetic_seed_urls(150, seed=11)

    a = CrawlEngine(spark, str(tmp_path / "a"), hosts, num_shards=8,
                    tick_seconds=30.0, max_per_tick=10)
    a.bootstrap(spark.createDataFrame(seeds))
    a.run(3)

    b = CrawlEngine(spark, str(tmp_path / "b"), hosts, num_shards=8,
                    tick_seconds=30.0, max_per_tick=10)
    b.bootstrap(spark.createDataFrame(seeds))
    b.run(1)
    # crash tick 2 after the marks and seen-run commits, before adds
    real_commit = b.adds_table.commit

    def boom(*args, **kwargs):
        raise RuntimeError("simulated crash before adds commit")

    b.adds_table.commit = boom
    with pytest.raises(RuntimeError):
        b.tick()
    b.adds_table.commit = real_commit
    assert b.marks_table.latest()["tick"] == 2  # marks landed
    assert b.seen.table.latest()["tick"] == 2   # seen run landed
    assert b.current_tick() == 1                # tick 2 incomplete

    # restart: a brand-new engine over the same workdir re-runs tick 2
    b2 = CrawlEngine(spark, str(tmp_path / "b"), hosts, num_shards=8,
                     tick_seconds=30.0, max_per_tick=10)
    assert b2.current_tick() == 1
    b2.run(2)

    fa = {(r.url_norm, r.state, r.last_fetch_tick) for r in a.frontier().collect()}
    fb = {(r.url_norm, r.state, r.last_fetch_tick) for r in b2.frontier().collect()}
    assert fa == fb, "mid-tick crash resume diverged from uninterrupted run"
    assert a.seen.total_keys() == b2.seen.total_keys()


def test_seen_run_resumes_after_crash_before_total(spark, tmp_path):
    """A seen run's total_keys lands on its manifest entry in a second
    write after the run commit. A crash between the two must leave a tick
    that re-runs: the re-admit finds the run, stashes the total and yields
    the same unseen rows and fresh-key count."""
    from pyspark.sql import functions as F

    seen = SeenSet(SnapshotTable(str(tmp_path / "s")), num_shards=4)
    seen.add(spark.range(0, 100).select(F.xxhash64("id").alias("url_hash")), tick=0)
    cand = spark.range(50, 200).select(F.xxhash64("id").alias("url_hash"))

    def boom(*args):
        raise RuntimeError("simulated crash before the total is stashed")

    seen._stash_total = boom
    with pytest.raises(RuntimeError):
        seen.add(cand, tick=1)
    del seen._stash_total
    assert "total_keys" not in seen.table.entry_for(1, tag="run")["metrics"]

    with seen.admit(cand, 1) as (unseen, n_fresh):
        assert n_fresh == 100
        assert unseen.count() == 100
    assert seen.total_keys() == 200
    assert len(seen.table.manifest()) == 2  # the run was not written twice


def test_seen_run_commits_are_o_changes(spark, tmp_path):
    """Per-tick seen-set write bytes must scale with NEW keys, not total
    keys (the O(changes) LSM property): a tiny run over a huge existing
    state writes tiny bytes; compaction folds runs into one base."""
    from pyspark.sql import functions as F

    seen = SeenSet(SnapshotTable(str(tmp_path / "s")), num_shards=4)
    big = spark.range(0, 50_000).select(F.xxhash64("id").alias("url_hash"))
    seen.add(big, tick=0)
    small = spark.range(50_000, 50_100).select(F.xxhash64("id").alias("url_hash"))
    seen.add(small, tick=1)
    assert seen.total_keys() == 50_100

    def run_bytes(tick):
        e = seen.table.entry_for(tick, tag="run")
        return sum(f["bytes"] for f in e["lineage"])

    b0, b1 = run_bytes(0), run_bytes(1)
    assert b1 < b0 / 20, (
        f"tick-1 run wrote {b1}B over a 50k-key state — not O(changes) "
        f"(bootstrap run was {b0}B)"
    )

    # compaction: one base subsumes the runs; probes stay exact
    seen.compact(spark, tick=2)
    assert seen.table.entry_for(2, tag="base") is not None
    # every segment's bloom is sized from its own keys: ≤ 2 B/key + 8 B
    for r in seen._state_df(spark).collect():
        keys, bits = decode_shard(r.data)
        assert len(bits) <= 2 * len(keys) + 8
        assert IntBloom(bits).contains(keys).all()
    assert seen.filter_unseen(big.union(small)).count() == 0
    probe = spark.range(60_000, 60_050).select(F.xxhash64("id").alias("url_hash"))
    assert seen.filter_unseen(probe).count() == 50
    assert seen.total_keys() == 50_100


def test_depth_cap_lockstep(spark, tmp_path):
    """max_depth bounds the crawl like the reference's page caps
    (barbican/scrape.py:25); engine and model agree on depths and on what
    a depth-capped schedule contains."""
    hosts = hosts_df(spark, extra_hosts=["megacinema.example.com"])
    host_rows = hosts.collect()
    host_info = {r.host: (r.host_rank, r.crawl_delay) for r in host_rows}
    robots = {r.host: list(r.robots_disallow or []) for r in host_rows}
    seeds = synthetic_seed_urls(80, seed=21)
    eng = CrawlEngine(spark, str(tmp_path / "d"), hosts, num_shards=8,
                      tick_seconds=30.0, max_per_tick=10, max_depth=1)
    eng.bootstrap(spark.createDataFrame(seeds))
    em = eng.run(3)
    ref = ReferenceCrawl(host_info, tick_seconds=30.0, max_per_tick=10,
                         max_depth=1, robots=robots)
    ref.bootstrap([s["url"] for s in seeds])
    rm = ref.run(3)
    for e, r in zip(em, rm):
        assert (e["scheduled"], e["new_unseen"]) == (r["scheduled"], r["new_unseen"])
    got = {(r.url_norm, r.depth) for r in eng.frontier().collect()}
    want = {(r.url_norm, r.depth) for r in ref.frontier.values()}
    assert got == want
    # depth-2 rows exist in the frontier but were never scheduled
    assert any(d == 2 for _, d in got)
    for t in range(1, 4):
        assert all(r.depth <= 1 for r in eng.scheduled_set(t).collect())
