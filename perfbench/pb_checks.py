"""Output checks for the crawl and harvest workloads.

Each check compares engine output with something computed apart from the
engine: the single-threaded ``ReferenceCrawl`` on the sampled hosts, plain
counting over the collected frontier, and the ground-truth pixels
``synth_pixels`` gives for a poster URL. ``check_crawl`` returns the list of
failures (any failure makes the run incorrect), the number of operations
attempted and failed, and the ground truth of the pixel sample.
"""

from __future__ import annotations

import math

LOSSY = ("qimg", "jpeg", "jpeg_prog")
PSNR_FLOOR_DB = 40.0


def _host(url_norm: str) -> str:
    return url_norm.split("://", 1)[1].split("/", 1)[0]


def reference_replay(host_rows, raw, sample, budgets, tick_seconds, harvest):
    """ReferenceCrawl over the seeds of ``sample`` only, with the engine's
    host attributes, robots rules and per-tick budgets."""
    from cinescrapers_spark.crawl.reference_model import ReferenceCrawl
    from cinescrapers_spark.functions.urls import canonicalize_url_py

    rows = [r for r in host_rows if r.host in sample]
    ref = ReferenceCrawl(
        {r.host: (r.host_rank, r.crawl_delay) for r in rows},
        tick_seconds=tick_seconds,
        max_per_tick=budgets[0],
        robots={r.host: list(r.robots_disallow or []) for r in rows},
        harvest=harvest,
    )
    seeds = []
    for u in raw:
        c = canonicalize_url_py(u)
        if c is not None and _host(c) in sample:
            seeds.append(u)
    ref.bootstrap(seeds)
    per_tick = []
    for b in budgets:
        ref.max_per_tick = b
        per_tick.append(ref.tick())
    return ref, per_tick


def frontier_checks(fr, ref, ref_ticks, sample, host_rows, budgets, tick_seconds):
    """Per-tick schedule, failures and new URLs on the sampled hosts, the
    final frontier and seen membership there, and the budget/robots/
    uniqueness invariants over all hosts. ``fr`` is the engine's final
    frontier as pandas. Each URL is fetched at most once in the run, so its
    ``last_fetch_tick`` names the tick that scheduled it."""
    failures = []
    fs = fr[fr["host"].isin(sample)]
    fetched_at = fs["last_fetch_tick"]
    for t in range(1, len(budgets) + 1):
        at_t = fs[fetched_at == t]
        if sorted(at_t["url_norm"]) != ref.schedules[t - 1]:
            failures.append(f"tick {t}: scheduled set on sampled hosts differs from the reference")
        n_fail = int(at_t["state"].str.startswith("failed").sum())
        if n_fail != ref_ticks[t - 1]["fetch_failed"]:
            failures.append(f"tick {t}: {n_fail} fetch failures, reference {ref_ticks[t - 1]['fetch_failed']}")
        n_new = int((fs["discovered_tick"] == t).sum())
        if n_new != ref_ticks[t - 1]["new_unseen"]:
            failures.append(f"tick {t}: {n_new} new URLs, reference {ref_ticks[t - 1]['new_unseen']}")
    if set(fs["url_hash"]) != ref.seen:
        failures.append("seen membership on sampled hosts differs from the reference")
    got = {
        (u, s, None if math.isnan(lf) else int(lf), int(d))
        for u, s, lf, d in zip(fs["url_norm"], fs["state"], fs["last_fetch_tick"].astype(float), fs["depth"])
    }
    want = {(r.url_norm, r.state, r.last_fetch_tick, r.depth) for r in ref.frontier.values()}
    if got != want:
        failures.append(f"final frontier on sampled hosts differs from the reference ({len(got ^ want)} rows)")

    if not fr["url_hash"].is_unique:
        failures.append("a url_hash appears twice in the frontier")
    delay = {r.host: r.crawl_delay for r in host_rows}
    robots = {r.host: list(r.robots_disallow or []) for r in host_rows}
    done = fr[fr["last_fetch_tick"].notna()]
    per = done.groupby(["host", "last_fetch_tick"]).size()
    for (host, t), n in per.items():
        cap = min(budgets[int(t) - 1], int(tick_seconds // delay.get(host, 1.0)))
        if n > cap:
            failures.append(f"host {host} scheduled {n} URLs in tick {int(t)}, budget {cap}")
            break
    for u, h in zip(done["url_norm"], done["host"]):
        path = u.split("://", 1)[1][len(h):]
        if any(path.startswith(p) for p in robots.get(h, [])):
            failures.append(f"robots-disallowed URL fetched: {u}")
            break
    return failures


def pixel_checks(rows, gallery_posters):
    """Decoded pixels, size, format and phash of each sampled poster
    against ``synth_pixels``. Returns (failures, rows below the PSNR floor,
    {url: (pixels, fmt)})."""
    import numpy as np

    from cinescrapers_spark.crawl.harvest import synth_pixels
    from cinescrapers_spark.images.codecs import decode_image, psnr
    from cinescrapers_spark.images.ops import phash64

    failures, below, truth = [], 0, {}
    for url, image_id in gallery_posters.items():
        r = rows.get(image_id)
        if r is None:
            failures.append(f"gallery poster {url} was not harvested")
            continue
        arr, w, h, fmt = synth_pixels(url)
        truth[url] = (arr, fmt)
        if (r["w"], r["h"], r["fmt"]) != (w, h, fmt):
            failures.append(f"{url}: stored {r['w']}x{r['h']} {r['fmt']}, expected {w}x{h} {fmt}")
            continue
        decoded = decode_image(bytes(r["bytes"]), fmt)
        if decoded.shape != arr.shape:
            failures.append(f"{url}: decoded shape {decoded.shape}, expected {arr.shape}")
        elif fmt in LOSSY:
            if psnr(arr, decoded) < PSNR_FLOOR_DB:
                below += 1
        elif not np.array_equal(decoded, arr):
            failures.append(f"{url}: lossless {fmt} pixels differ")
        if int(r["phash"]) != phash64(arr):
            failures.append(f"{url}: stored phash differs from phash64 of the ground truth")
    fmts = {f for _, f in truth.values()}
    if fmts != {"qimg", "ppm", "png", "jpeg", "jpeg_prog"}:
        failures.append(f"pixel sample covers formats {sorted(fmts)}, not all five")
    return failures, below, truth


def gallery_posters(galleries) -> dict[str, str]:
    """poster URL → image_id for every poster on the gallery hosts' seeded
    pages: the fixed harvest pixel sample."""
    from cinescrapers_spark.functions.hashing import get_hashed_py
    from cinescrapers_spark.sources.pages import parse_cards

    import pb_crawl

    out = {}
    for h in galleries:
        for _, img in parse_cards(pb_crawl.gallery_page(h)):
            out[img] = get_hashed_py(img)
    return dict(sorted(out.items()))


def check_crawl(spark, eng, host_rows, raw, sample, galleries, budgets, tick_seconds, harvest, ticks):
    sample = set(sample)
    ref, ref_ticks = reference_replay(host_rows, raw, sample, budgets, tick_seconds, harvest)
    frontier = eng.frontier()
    fr = frontier.select(
        "url_norm", "url_hash", "host", "state", "last_fetch_tick", "discovered_tick", "depth"
    ).toPandas()
    failures = frontier_checks(fr, ref, ref_ticks, sample, host_rows, budgets, tick_seconds)
    attempted = len(ticks) + 3 * len(budgets) + 5
    if len(ticks) != len(budgets):
        failures.append(f"{len(ticks)} ticks ran, {len(budgets)} expected")
    if eng.seen.total_keys(spark) != len(fr):
        failures.append(f"seen set holds {eng.seen.total_keys(spark)} keys, frontier {len(fr)} URLs")
    if eng.seen.filter_unseen(frontier.select("url_hash")).count() != 0:
        failures.append("a frontier url_hash is missing from the seen set")
    if not harvest:
        return failures, attempted, 0, {}

    from cinescrapers_spark.functions.hashing import get_hashed_py
    from cinescrapers_spark.sources.pages import FILM_SPACE

    images = eng.harvester.read(spark)
    ids = images.select("image_id", "caption").toPandas()
    if not ids["image_id"].is_unique:
        failures.append("an image_id was harvested twice")
    universe = {
        get_hashed_py(f"https://{h}/img/{k}.jpg") for h in sample for k in range(FILM_SPACE)
    }
    got = {(i, c) for i, c in zip(ids["image_id"], ids["caption"]) if i in universe}
    want = {(get_hashed_py(u), c) for u, c in ref.images.items()}
    if got != want:
        failures.append(f"harvested images on sampled hosts differ from the reference ({len(got ^ want)} rows)")
    posters = gallery_posters(galleries)
    from pyspark.sql import functions as F

    sel = images.filter(F.col("image_id").isin(list(posters.values()))).toPandas()
    rows = {r["image_id"]: r for r in sel.to_dict("records")}
    px_fail, below, truth = pixel_checks(rows, posters)
    failures += px_fail
    return failures, attempted + 1 + len(posters), below, truth

