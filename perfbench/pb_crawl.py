"""The ``crawl`` and ``harvest`` workloads: CrawlEngine ticks over a host
fleet and seed list made from the run's seed, checked against the
single-threaded ``ReferenceCrawl``.

Every outlink and every poster of a page stays on the page's host, so the
crawl splits exactly by host: the reference replays only a fixed sample of
hosts (always the mega-domain), fed those hosts' seeds with the same host
attributes, robots rules and per-tick budgets, and is compared with the
engine restricted to the same hosts. Three invariants are checked over all
hosts.

Each ``gallery`` host is seeded with one fixed listing page and nothing
else, so that page is fetched in the first tick whatever the seed. The
posters on those pages are the harvest pixel sample: the same rows on every
run, covering every codec of the mix.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import statistics
import sys
import time

import pb_spark

# (extra fleet hosts, seed URLs, per-host budget per tick)
SIZES = {
    "crawl": (300, 6000, 10),
    "harvest": (16, 800, 10),
}
SMALL = (6, 120, 3)
MEGA = "megacinema.example.com"
GALLERIES = [f"gallery-{j}.example.com" for j in range(4)]
SAMPLE_EVERY = 20  # every 20th fleet host joins the reference sample
SEED_PATHS = 400  # /whats-on/pageN paths seeds draw from (the fetch model's)
TICK_SECONDS = 60.0
COMPACT_EVERY = 2  # one compaction inside the two measured ticks
NOMINAL_TICK_S = 10.0
MAX_TICKS = 4  # a fetched page is due again after 5 ticks; stay below


def fleet(n_extra: int) -> list[str]:
    return [MEGA] + GALLERIES + [f"host-{i}.example.com" for i in range(n_extra)]


def sampled_hosts(n_extra: int) -> list[str]:
    return [MEGA] + GALLERIES + [
        f"host-{i}.example.com" for i in range(0, n_extra, SAMPLE_EVERY)
    ]


def gallery_page(host: str) -> str:
    """The first /whats-on/pageN of ``host`` that the fetch model serves."""
    from cinescrapers_spark.sources.pages import fetch_ok

    n = 0
    while not fetch_ok(f"https://{host}/whats-on/page{n}"):
        n += 1
    return f"https://{host}/whats-on/page{n}"


def seed_urls(seed: int, n_urls: int, hosts: list[str]) -> list[str]:
    """Raw seed URLs: 30% on the mega-domain, the rest spread over the
    ``host-N`` fleet, 5% on a robots-disallowed path, and a
    quarter in raw forms the canonicaliser must fold (upper-case host,
    tracking parameters, scheme-relative)."""
    rng = random.Random(seed)
    spread = [h for h in hosts if h.startswith("host-")]
    urls = [gallery_page(h) for h in GALLERIES]
    for _ in range(n_urls):
        host = MEGA if rng.random() < 0.3 else spread[rng.randrange(len(spread))]
        path = f"/whats-on/page{rng.randrange(SEED_PATHS)}"
        if rng.random() < 0.05:
            path = f"/private/page{rng.randrange(50)}"
        style = rng.random()
        if style < 0.1:
            url = f"https://{host.upper()}{path}"
        elif style < 0.2:
            url = f"https://{host}{path}?utm_source=feed&utm_campaign=x"
        elif style < 0.25:
            url = f"//{host}{path}"
        else:
            url = f"https://{host}{path}"
        urls.append(url)
    return urls


def _table_bytes(workdir: str) -> dict[str, tuple[int, int]]:
    """table → (files, bytes) under the engine's work dir."""
    out = {}
    for table in os.listdir(workdir):
        n = size = 0
        for root, _, files in os.walk(os.path.join(workdir, table)):
            for f in files:
                n += 1
                size += os.path.getsize(os.path.join(root, f))
        out[table] = (n, size)
    return out


def run(spark, rdir, workload, seed, seconds, tracer, t_start, small=False, tamper=None) -> dict:
    """Set up, run the measured ticks, check. ``tamper(engine)``, when
    given, corrupts the engine's output before the checks (self-test)."""
    import pandas as pd

    from cinescrapers_spark.crawl.engine import CrawlEngine
    from cinescrapers_spark.dims import hosts_df

    harvest = workload == "harvest"
    n_extra, n_seeds, budget = SMALL if small else SIZES[workload]
    n_ticks = min(MAX_TICKS, max(2, math.ceil(seconds / NOMINAL_TICK_S)))
    wd = os.path.join(rdir, "engine")

    with tracer.span("setup.inputs"):
        hosts = hosts_df(spark, extra_hosts=fleet(n_extra), seed=seed)
        raw = seed_urls(seed, n_seeds, fleet(n_extra))
        raw_df = spark.createDataFrame(pd.DataFrame({"url": raw, "discovered_tick": 0}))
    eng = CrawlEngine(
        spark,
        wd,
        hosts,
        num_shards=16,
        tick_seconds=TICK_SECONDS,
        max_per_tick=budget,
        light_metrics=True,
        compact_every=COMPACT_EVERY,
        harvest_images=harvest,
    )
    # bootstrap is the warm-up: it is the run's first Spark work with the
    # canonicaliser's Python UDF and the seen-set cogroup
    with tracer.span("setup.warmup"):
        eng.bootstrap(raw_df)
    setup_s = time.time() - t_start

    ticks: list[dict] = []
    steps = []
    disk = {}
    with tracer.span("measure"):
        for _ in range(n_ticks):
            before = _table_bytes(wd) if tracer.enabled else {}
            with tracer.span("step", tick=len(ticks) + 1):
                c0, t0 = pb_spark.tree_cpu_s(), time.time()
                m = eng.tick()
                wall = time.time() - t0
                cpu = pb_spark.tree_cpu_s() - c0
            if tracer.enabled:
                after = _table_bytes(wd)
                disk[m["tick"]] = {
                    t: (n - before.get(t, (0, 0))[0], b - before.get(t, (0, 0))[1])
                    for t, (n, b) in after.items()
                }
            ticks.append(m)
            # harvest: the payload is the image stage; crawl: the page
            # fetch+parse stage (schedule, fused kernel, marks commit)
            stage = "harvest" if harvest else "sched_fetch_marks"
            payload = m["timings"][stage]
            steps.append({
                "core": wall - payload, "payload": payload, "cpu": cpu, "units": m["sched_and_dedup_urls"],
            })
            print("tick " + json.dumps(steps[-1]), file=sys.stderr)

    if tamper is not None:
        tamper(eng)
    with tracer.span("check"):
        import pb_checks

        failures, attempted, failed, checked = pb_checks.check_crawl(
            spark, eng, hosts.collect(), raw, sampled_hosts(n_extra), GALLERIES,
            budgets=[budget] * n_ticks,
            tick_seconds=TICK_SECONDS, harvest=harvest, ticks=ticks,
        )
    # Timed in CPU seconds of the whole process tree, which CPU steal on a
    # shared VM does not stretch (see README). The engine times its stages
    # in wall seconds only, so the harvest stage gets the share of the
    # tick's CPU that it has of the tick's wall time.
    res = {
        "e2e": {
            "setup_s": setup_s,
            "core_s": statistics.median(s["cpu"] for s in steps),
            "payload_s": statistics.median(
                s["cpu"] * s["payload"] / (s["core"] + s["payload"]) for s in steps
            ),
            "rate_per_s": sum(s["units"] for s in steps) / sum(s["cpu"] for s in steps),
        },
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
    }
    if tracer.enabled:
        res["layers"] = crawl_layers(eng, ticks, disk, checked, harvest)
    shutil.rmtree(wd, ignore_errors=True)
    return res


def _live_runs(manifest: list[dict]) -> int:
    """Seen-set runs a probe reads: the newest base and the runs after it."""
    bases = [i for i, e in enumerate(manifest) if e.get("metrics", {}).get("kind") == "base"]
    return len(manifest) - (bases[-1] if bases else 0)


def crawl_layers(eng, ticks, disk, checked, harvest) -> dict:
    """Per-tick layer table for the measured ticks, from the engine's own
    tick metrics and the bytes each tick left on disk."""
    from cinescrapers_spark.images.codecs import encode_image
    from cinescrapers_spark.images.ops import phash64

    measured = ticks

    def med(vals):
        vals = list(vals)
        return statistics.median(vals) if vals else 0.0

    out = {
        "engine.other_s": med(m["wall_sec"] - sum(m["timings"].values()) for m in measured),
        "frontier.sched_fetch_s": med(m["timings"]["sched_fetch_marks"] for m in measured),
        "sources.pages_fetched": sum(m["scheduled"] - m["fetch_failed"] for m in measured),
        "sources.links_extracted": sum(m["raw_links"] for m in measured),
        "seen.probe_s": med(m["timings"]["probe_cogroup"] for m in measured),
        "seen.new_keys": sum(m["new_unseen"] for m in measured),
        "seen.useful_ratio": sum(m["new_unseen"] for m in measured) / max(1, sum(m["raw_links"] for m in measured)),
        "seen.runs_live": _live_runs(eng.seen.table.manifest()),
        "snapshots.commit_s": med(m["timings"]["run_and_adds_commit"] for m in measured),
        "snapshots.bytes_written": med(sum(b for _, b in d.values()) for d in disk.values()),
        "snapshots.files_written": med(sum(n for n, _ in d.values()) for d in disk.values()),
        "snapshots.compaction_s": sum(m["timings"].get("compaction", 0.0) for m in measured),
        "snapshots.bytes_rewritten": sum(
            d.get("frontier", (0, 0))[1] for t, d in disk.items()
            if any(m["tick"] == t and m.get("compacted") for m in measured)
        ),
        "ticks": [
            {k: m[k] for k in ("tick", "wall_sec", "scheduled", "fetch_failed", "raw_links", "new_unseen", "timings")}
            | {k: m[k] for k in ("new_images", "image_candidates") if k in m}
            for m in ticks
        ],
    }
    if harvest:
        h_s = sum(m["timings"]["harvest"] for m in measured)
        n_new = sum(m["new_images"] for m in measured)
        n_cand = sum(m["image_candidates"] for m in measured)
        out.update(
            {
                "harvest.s": med(m["timings"]["harvest"] for m in measured),
                "harvest.candidates": n_cand,
                "harvest.new_images": n_new,
                "harvest.dedup_factor": n_cand / n_new if n_new else 0.0,
                "harvest.ms_per_image": 1000.0 * h_s / n_new if n_new else 0.0,
            }
        )
        # codec and phash cost on this run's own posters, one core
        by_fmt: dict[str, list] = {}
        for url, (arr, fmt) in checked.items():
            by_fmt.setdefault(fmt, []).append(arr)
        t_ph = []
        for fmt, arrs in sorted(by_fmt.items()):
            times, sizes = [], []
            for arr in arrs[:8]:
                t0 = time.perf_counter()
                data = encode_image(arr, fmt)
                times.append(time.perf_counter() - t0)
                sizes.append(len(data))
                t0 = time.perf_counter()
                phash64(arr)
                t_ph.append(time.perf_counter() - t0)
            out[f"images.encode_ms.{fmt}"] = 1000.0 * statistics.median(times)
            out[f"images.bytes_per_image.{fmt}"] = statistics.fmean(sizes)
        out["images.phash_ms"] = 1000.0 * statistics.median(t_ph)
    return out
