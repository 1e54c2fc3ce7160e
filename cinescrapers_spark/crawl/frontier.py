"""Frontier table: generation, priority scoring, politeness scheduling.

Generalizes the reference's staleness-driven refresh scheduler
(``/root/reference/src/cinescrapers/__main__.py:34-35,497-548``: run a
source iff MAX(last_updated) older than 5 days) and its per-site page caps
(``scrapers/bfi/scrape.py:117`` Semaphore(25); pagination bounds
``barbican/scrape.py:25``) into a web-scale priority scheduler:

* ``priority = host_rank × recency_score`` (north_star formula); recency
  generalizes MAX_STALENESS — never-fetched URLs score 1.0, recently
  fetched decay toward 0 and recover as ticks pass, failures back off
  exponentially and drop out permanently after MAX_RETRIES;
* politeness budget per host per tick =
  ``min(max_per_tick, tick_seconds / crawl_delay)`` (robots crawl-delay);
* robots disallow prefixes filter the frontier before selection
  (north_rule "enforcing robots.txt");
* selection = top-budget per host by ``(priority DESC, url_hash ASC)`` —
  a total order, so the schedule is a pure function of the frontier
  snapshot (determinism is a schema property, SURVEY §7.3);
* skew kill + single shuffle: selection runs as a NARROW partial top-k
  per input partition (Arrow kernel, no exchange — any partition emits at
  most budget rows per host it holds, bounding mega-domains at the
  source), then ONE per-host window over the ≤ partitions×budget
  survivors. The partial pass never drops a row the global pass would
  keep (a member of the host-global top-B is in its own partition's
  top-B), so the result is exactly the declared total order — the same
  argument as plans/similarity.partitioned_topk.
"""

from __future__ import annotations

import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cinescrapers_spark.schemas import FRONTIER

STALENESS_TICKS = 5  # mirrors MAX_STALENESS = 5 days (ref __main__.py:34-35)
MAX_RETRIES = 4      # failures beyond this never reschedule (failed_permanent)
DEFAULT_SALTS = 8


# --------------------------------------------------------------------------
# synthetic frontier (bench + tests; FIXTURES.md §2)
# --------------------------------------------------------------------------
def synthetic_seed_urls(
    n_urls: int,
    seed: int = 42,
    mega_host_frac: float = 0.5,
    n_extra_hosts: int = 0,
) -> list[dict]:
    """Deterministic raw seed URLs over the 27 cinema hosts (+ optional
    synthetic hosts for web-scale-shaped benches) + one mega-domain taking
    ``mega_host_frac`` of all URLs (skew fixture). Raw forms include
    uppercase hosts, tracking params, scheme-relative and duplicate
    variants — canonicalizer fodder — plus a robots-disallowed slice."""
    from cinescrapers_spark.dims import seed_hosts

    rng = random.Random(seed)
    hosts = seed_hosts() + [f"host-{i}.example.com" for i in range(n_extra_hosts)]
    mega = "megacinema.example.com"
    rows = []
    for i in range(n_urls):
        if rng.random() < mega_host_frac:
            host = mega
        else:
            host = hosts[rng.randrange(len(hosts))]
        path = f"/whats-on/page{rng.randrange(max(2, n_urls // 20))}"
        if rng.random() < 0.05:  # robots-disallowed slice (dims.py prefixes)
            path = f"/private/page{rng.randrange(50)}"
        url = f"https://{host}{path}"
        style = rng.random()
        if style < 0.1:
            url = url.replace("https://", "https://", 1).replace(host, host.upper())
        elif style < 0.2:
            url += "?utm_source=feed&utm_campaign=x"
        elif style < 0.25:
            url = "//" + url.split("://", 1)[1]
        rows.append({"url": url, "discovered_tick": 0})
    return rows


def synthetic_seed_df(
    spark: SparkSession,
    n_urls: int,
    seed: int = 42,
    mega_host_frac: float = 0.3,
    n_extra_hosts: int = 0,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed twin of ``synthetic_seed_urls`` for web-scale inputs: the
    same URL *distribution* (mega-domain share, host fleet, path space,
    robots-disallowed slice, raw-form variants) generated JVM-side from
    ``spark.range`` — a 10M+-row seed list must never be a driver-side
    Python list (3 GB of dicts) shipped through createDataFrame. Every
    derived value hashes (id, seed, salt), so the output is a pure function
    of (n_urls, seed) independent of partitioning.

    Not byte-identical to the Python generator (different RNG); tests that
    compare against the single-threaded reference model keep using
    ``synthetic_seed_urls`` — this one feeds benches and stress runs.
    """
    from cinescrapers_spark.dims import seed_hosts

    hosts = seed_hosts() + [f"host-{i}.example.com" for i in range(n_extra_hosts)]
    mega = "megacinema.example.com"
    n_parts = partitions or spark.sparkContext.defaultParallelism * 2
    df = spark.range(0, n_urls, numPartitions=n_parts)

    def bucket(salt: int, mod: int):
        return F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)), F.lit(mod))

    host_arr = F.array(*[F.lit(x) for x in hosts])
    host = F.when(
        bucket(1, 10_000) < int(mega_host_frac * 10_000), F.lit(mega)
    ).otherwise(
        F.element_at(host_arr, (bucket(2, len(hosts)) + 1).cast("int"))
    )
    path = F.when(
        bucket(4, 10_000) < 500,  # 5% robots-disallowed slice (dims prefixes)
        F.concat(F.lit("/private/page"), bucket(6, 50)),
    ).otherwise(
        F.concat(F.lit("/whats-on/page"), bucket(3, max(2, n_urls // 20)))
    )
    style = bucket(5, 100)
    url = (
        F.when(style < 10, F.concat(F.lit("https://"), F.upper(host), path))
        .when(
            style < 20,
            F.concat(
                F.lit("https://"), host, path,
                F.lit("?utm_source=feed&utm_campaign=x"),
            ),
        )
        .when(style < 25, F.concat(F.lit("//"), host, path))
        .otherwise(F.concat(F.lit("https://"), host, path))
    )
    return df.select(url.alias("url"), F.lit(0).alias("discovered_tick"))


def init_frontier(
    spark: SparkSession,
    raw_urls: DataFrame,
    hosts: DataFrame,
    tick: int = 0,
    n_salts: int = DEFAULT_SALTS,
    base_url: str | None = None,
    already_canonical: bool = False,
) -> DataFrame:
    """raw urls(url [,discovered_tick][,depth]) → canonical frontier rows,
    one per url_norm, keeping the joint-min (depth, raw url) exemplar.

    ``already_canonical=True`` skips the canonicalizer UDF for inputs that
    come out of the fused fetch kernel (``sources/pages.py``
    ``fetch_parse_expand_udf``, whose outlinks are already canonical) —
    one less Python eval stage on the per-tick hot path."""
    from cinescrapers_spark.functions.urls import canonicalize_url_udf, url_host

    if already_canonical:
        canon = raw_urls.withColumn("url_norm", F.col("url"))
    else:
        canon = raw_urls.withColumn(
            "url_norm", canonicalize_url_udf(F.col("url"), F.lit(base_url))
        ).filter(F.col("url_norm").isNotNull())
    tick_col = (
        F.min("discovered_tick") if "discovered_tick" in raw_urls.columns else F.lit(tick)
    )
    depth_in = (
        F.col("depth") if "depth" in raw_urls.columns else F.lit(0)
    )
    # one frontier row per canonical URL; exemplar = JOINT min
    # (depth, url) — BFS shortest-path depth first, then the
    # lexicographic raw form (the reference model's _add_urls rule;
    # independent min(url)/min(depth) could stitch the url of one
    # duplicate to the depth of another). groupBy gives map-side
    # partial combine, so duplicate-heavy discovery batches collapse
    # BEFORE any shuffle — at a 10-20× within-tick duplication factor
    # (boilerplate pagination links) this is the difference between
    # shuffling 14M rows and 1M into the seen-probe cogroup.
    dedup_df = canon.groupBy("url_norm").agg(
        F.min(F.struct(depth_in.alias("d"), F.col("url").alias("u"))).alias(
            "__e"
        ),
        tick_col.alias("discovered_tick"),
    ).select(
        "url_norm",
        F.col("__e.u").alias("url"),
        "discovered_tick",
        F.col("__e.d").alias("__depth"),
    )
    f = (
        dedup_df.withColumn("url_hash", F.xxhash64("url_norm"))
        .withColumn("host", url_host(F.col("url_norm")))
        .withColumn(
            "host_salt", F.pmod(F.col("url_hash"), F.lit(n_salts)).cast("int")
        )
        .join(
            F.broadcast(hosts.select("host", "host_rank", "crawl_delay")),
            "host",
            "left",
        )
        .withColumn("host_rank", F.coalesce("host_rank", F.lit(0.5)))
        .withColumn("crawl_delay", F.coalesce("crawl_delay", F.lit(1.0)))
        .withColumn("priority", F.lit(0.0))
        .withColumn("last_fetch_tick", F.lit(None).cast("int"))
        .withColumn("state", F.lit("pending"))
        .withColumn("retries", F.lit(0))
        .withColumn("depth", F.col("__depth").cast("int"))
        .withColumn("discovered_tick", F.col("discovered_tick").cast("int"))
        .drop("__depth")
    )
    return f.select(*[c.name for c in FRONTIER.fields])


# --------------------------------------------------------------------------
# priority + scheduling
# --------------------------------------------------------------------------
def recency_score(tick: int, staleness_ticks: int = STALENESS_TICKS):
    """1.0 for never-fetched; after a fetch, 0 until the staleness window
    has passed, then back to 1.0 — the reference's binary staleness
    predicate (__main__.py:519-524) as a column expression. Failures wait
    staleness × 2^retries (exponential backoff) and a row that has failed
    MAX_RETRIES times is permanently out."""
    age = F.lit(tick) - F.col("last_fetch_tick")
    wait = F.lit(staleness_ticks) * F.pow(
        F.lit(2.0), F.least(F.col("retries"), F.lit(16)).cast("double")
    )
    return (
        F.when(F.col("state") == "failed_permanent", 0.0)
        .when(F.col("last_fetch_tick").isNull(), 1.0)
        .when(age >= wait, 1.0)
        .otherwise(0.0)
    )


def with_priority(
    frontier: DataFrame, tick: int, staleness_ticks: int = STALENESS_TICKS
) -> DataFrame:
    return frontier.withColumn(
        "priority",
        F.round(F.col("host_rank") * recency_score(tick, staleness_ticks), 9),
    )


def host_budget_col(tick_seconds: float = 60.0, max_per_tick: int = 25):
    """Politeness budget per host per tick (crawl-delay + hard cap)."""
    return F.least(
        F.lit(max_per_tick),
        F.floor(F.lit(tick_seconds) / F.col("crawl_delay")).cast("int"),
    )


def _url_path(url_norm_col):
    return F.regexp_replace(url_norm_col, r"^[a-z][a-z0-9+.-]*://[^/]*", "")


def apply_robots(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Filter frontier rows whose URL path matches a robots disallow prefix
    for their host (north_rule; SURVEY §2.10 'filter frontier by prefix
    match before scheduling'). ``robots``: (host, robots_disallow array)."""
    r = F.broadcast(
        robots.select("host", F.col("robots_disallow").alias("__disallow"))
    )
    path = _url_path(F.col("url_norm"))
    blocked = F.exists(
        F.coalesce(F.col("__disallow"), F.array()),
        lambda p: F.startswith(path, p),
    )
    return (
        frontier.join(r, "host", "left").filter(~blocked).drop("__disallow")
    )


def schedule_tick(
    frontier: DataFrame,
    tick: int,
    tick_seconds: float = 60.0,
    max_per_tick: int = 25,
    staleness_ticks: int = STALENESS_TICKS,
    robots: DataFrame | None = None,
    max_depth: int | None = None,
) -> DataFrame:
    """Select this tick's fetch set: eligible rows (priority>0: pending or
    stale, not permanently failed, not robots-blocked, within the crawl
    depth cap — the reference's keep-first-N-pages bounds,
    barbican/scrape.py:25), top-budget per host in ONE shuffle via
    partial-then-global top-k."""
    scored = with_priority(frontier, tick, staleness_ticks).filter(
        F.col("priority") > 0
    )
    if max_depth is not None:
        scored = scored.filter(F.col("depth") <= max_depth)
    if robots is not None:
        scored = apply_robots(scored, robots)
    scored = scored.withColumn(
        "__budget", host_budget_col(tick_seconds, max_per_tick)
    )
    schema = scored.schema

    def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # narrow pre-pass: at most budget rows per host leave any batch —
        # a mega-domain never funnels its full row set into the window
        for pdf in batches:
            if not len(pdf):
                yield pdf
                continue
            pdf = pdf.sort_values(
                ["host", "priority", "url_hash"],
                ascending=[True, False, True],
                kind="mergesort",
            )
            rank = pdf.groupby("host", sort=False).cumcount()
            yield pdf[rank < pdf["__budget"]]

    survivors = scored.mapInPandas(partial_topk, schema=schema)
    w_host = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url_hash"))
    return (
        survivors.withColumn("__r", F.row_number().over(w_host))
        .filter(F.col("__r") <= F.col("__budget"))
        .drop("__r", "__budget")
    )
