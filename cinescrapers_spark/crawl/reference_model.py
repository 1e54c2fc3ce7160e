"""Single-threaded reference model of the crawl semantics.

The correctness gate (BASELINE.json north_rule) requires the Spark engine's
crawl ordering and URL-seen membership to match the reference under the
same seed list + politeness budget. The reference itself can't be run here
(live sites), so this model encodes its semantics — seen-check before fetch
(``__main__.py:218-220``), staleness-gated scheduling (``:509-524``),
per-host cap (``bfi/scrape.py:117``) — in plain Python with the SAME
deterministic total order the engine declares: per host, fetch the
top-budget URLs by (priority DESC, url_hash ASC).

Equality of this model's per-tick schedules, seen set, and final frontier
with the Spark engine's is asserted in tests/test_crawl.py.
"""

from __future__ import annotations

import ctypes
from dataclasses import dataclass, field

from cinescrapers_spark.crawl.frontier import MAX_RETRIES, STALENESS_TICKS
from cinescrapers_spark.functions.urls import canonicalize_url_py
from cinescrapers_spark.sources.pages import fetch_and_parse


def xxhash64_spark(s: str) -> int:
    """Spark-compatible xxhash64(string, seed=42) → signed 64-bit.

    Implements XXH64 over the UTF-8 bytes with Spark SQL's default seed 42
    (org.apache.spark.sql.catalyst.expressions.XxHash64).
    """
    P1 = 0x9E3779B185EBCA87
    P2 = 0xC2B2AE3D27D4EB4F
    P3 = 0x165667B19E3779F9
    P4 = 0x85EBCA77C2B2AE63
    P5 = 0x27D4EB2F165667C5
    M = (1 << 64) - 1

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & M

    data = s.encode("utf-8")
    n = len(data)
    seed = 42
    if n >= 32:
        v1 = (seed + P1 + P2) & M
        v2 = (seed + P2) & M
        v3 = seed
        v4 = (seed - P1) & M
        i = 0
        while i <= n - 32:
            for vi in range(4):
                lane = int.from_bytes(data[i : i + 8], "little")
                if vi == 0:
                    v1 = (rotl((v1 + lane * P2) & M, 31) * P1) & M
                elif vi == 1:
                    v2 = (rotl((v2 + lane * P2) & M, 31) * P1) & M
                elif vi == 2:
                    v3 = (rotl((v3 + lane * P2) & M, 31) * P1) & M
                else:
                    v4 = (rotl((v4 + lane * P2) & M, 31) * P1) & M
                i += 8
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & M
        for v in (v1, v2, v3, v4):
            h = ((h ^ (rotl((v * P2) & M, 31) * P1) & M) * P1 + P4) & M
    else:
        h = (seed + P5) & M
        i = 0
    h = (h + n) & M
    while i <= n - 8:
        lane = int.from_bytes(data[i : i + 8], "little")
        h = ((rotl(h ^ (rotl((lane * P2) & M, 31) * P1) & M, 27) * P1) + P4) & M
        i += 8
    if i <= n - 4:
        lane = int.from_bytes(data[i : i + 4], "little")
        h = ((rotl(h ^ (lane * P1) & M, 23) * P2) + P3) & M
        i += 4
    while i < n:
        h = (rotl(h ^ (data[i] * P5) & M, 11) * P1) & M
        i += 1
    h ^= h >> 33
    h = (h * P2) & M
    h ^= h >> 29
    h = (h * P3) & M
    h ^= h >> 32
    return ctypes.c_int64(h).value


@dataclass
class RefUrl:
    url: str
    url_norm: str
    url_hash: int
    host: str
    host_rank: float
    crawl_delay: float
    discovered_tick: int
    last_fetch_tick: int | None = None
    state: str = "pending"
    retries: int = 0
    depth: int = 0


@dataclass
class ReferenceCrawl:
    """Pure-Python crawl with identical semantics to CrawlEngine."""

    host_info: dict[str, tuple[float, float]]  # host -> (rank, delay)
    tick_seconds: float = 60.0
    max_per_tick: int = 25
    default_rank: float = 0.5
    default_delay: float = 1.0
    staleness_ticks: int = STALENESS_TICKS
    max_retries: int = MAX_RETRIES
    max_depth: int | None = None
    robots: dict[str, list[str]] | None = None  # host -> disallow prefixes
    harvest: bool = False  # collect image+caption pairs per tick
    frontier: dict[str, RefUrl] = field(default_factory=dict)  # by url_norm
    seen: set[int] = field(default_factory=set)
    schedules: list[list[str]] = field(default_factory=list)  # url_norms per tick
    images: dict[str, str] = field(default_factory=dict)  # image_url -> caption
    tick_no: int = 0

    def _add_urls(
        self, raw_urls: list[str | tuple[str, int]], tick: int
    ) -> int:
        new = 0
        batch: dict[str, tuple[int, str]] = {}
        for item in raw_urls:
            u, depth = item if isinstance(item, tuple) else (item, 0)
            cn = canonicalize_url_py(u)
            if cn is None:
                continue
            # exemplar = min (depth, url): BFS shortest-path depth first,
            # then lexicographic url (engine-kernel parity)
            if cn not in batch or (depth, u) < batch[cn]:
                batch[cn] = (depth, u)
        for cn, (depth, u) in batch.items():
            h = xxhash64_spark(cn)
            if h in self.seen:
                continue
            host = cn.split("://", 1)[1].split("/", 1)[0]
            rank, delay = self.host_info.get(host, (self.default_rank, self.default_delay))
            self.frontier[cn] = RefUrl(
                u, cn, h, host, rank, delay, tick, depth=depth
            )
            self.seen.add(h)
            new += 1
        return new

    def bootstrap(self, raw_urls: list[str]) -> int:
        return self._add_urls(raw_urls, 0)

    def _priority(self, r: RefUrl, tick: int) -> float:
        """Mirror frontier.recency_score: staleness window with exponential
        failure backoff and permanent drop-out (engine parity)."""
        if r.state == "failed_permanent":
            return 0.0
        if r.last_fetch_tick is None:
            return round(r.host_rank * 1.0, 9)
        wait = self.staleness_ticks * (2.0 ** min(r.retries, 16))
        if tick - r.last_fetch_tick >= wait:
            return round(r.host_rank * 1.0, 9)
        return 0.0

    def _robots_blocked(self, r: RefUrl) -> bool:
        if not self.robots:
            return False
        path = r.url_norm.split("://", 1)[1]
        path = path[len(r.host):]
        return any(path.startswith(p) for p in self.robots.get(r.host, []))

    def tick(self) -> dict:
        self.tick_no += 1
        t = self.tick_no
        by_host: dict[str, list[tuple[float, int, RefUrl]]] = {}
        for r in self.frontier.values():
            if self.max_depth is not None and r.depth > self.max_depth:
                continue
            p = self._priority(r, t)
            if p > 0 and not self._robots_blocked(r):
                by_host.setdefault(r.host, []).append((p, r.url_hash, r))
        scheduled: list[RefUrl] = []
        for host, rows in by_host.items():
            rank, delay = self.host_info.get(
                host, (self.default_rank, self.default_delay)
            )
            budget = min(self.max_per_tick, int(self.tick_seconds // delay))
            rows.sort(key=lambda x: (-x[0], x[1]))
            scheduled.extend(r for _, _, r in rows[:budget])
        self.schedules.append(sorted(r.url_norm for r in scheduled))

        discovered: list[tuple[str, int]] = []
        card_batch: dict[str, str] = {}  # image_url -> min caption this tick
        n_cards = 0  # card references on pages that fetched OK
        n_fail = 0
        for r in scheduled:
            ok, links, _n_items = fetch_and_parse(r.url_norm)
            if ok:
                r.state = "fetched"
                r.retries = 0  # success resets the backoff (engine parity)
                discovered.extend((u, r.depth + 1) for u in links)
                if self.harvest:
                    from cinescrapers_spark.sources.pages import parse_cards

                    cards = parse_cards(r.url_norm)
                    n_cards += len(cards)
                    for caption, img in cards:
                        # exemplar = min (url, caption) within the tick,
                        # first tick wins across ticks (engine-kernel parity)
                        if img not in card_batch or caption < card_batch[img]:
                            card_batch[img] = caption
            else:
                r.retries += 1
                r.state = (
                    "failed_permanent" if r.retries >= self.max_retries else "failed"
                )
                n_fail += 1
            r.last_fetch_tick = t
        n_new = self._add_urls(discovered, t)
        n_new_images = 0
        if self.harvest:
            for img in sorted(card_batch):
                if img not in self.images:
                    self.images[img] = card_batch[img]
                    n_new_images += 1
        out = {
            "tick": t,
            "scheduled": len(scheduled),
            "fetch_failed": n_fail,
            "new_unseen": n_new,
        }
        if self.harvest:
            out["new_images"] = n_new_images
            out["image_candidates"] = n_cards
        return out

    def run(self, n_ticks: int) -> list[dict]:
        return [self.tick() for _ in range(n_ticks)]
