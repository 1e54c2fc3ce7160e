"""Synthetic fetch model — the sandbox stand-in for HTTP.

The reference fetches listing pages with a browser and expands pagination
in while-loops (``/root/reference/src/cinescrapers/scrapers/bertha/scrape.py:19-30``,
``barbican/scrape.py:21-28``). Here a "fetch" is a pure function of the
canonical URL: a deterministic hash decides whether the URL resolves and
which same-host outlinks the page exposes. The SAME function drives the
Spark engine (inside an Arrow-batched UDF) and the single-threaded Python
reference model, so crawl-equivalence tests compare semantics, not RNG.
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd

from cinescrapers_spark.functions.udf import lazy_pandas_udf

FAIL_MOD = 10          # 1 in 10 URLs "404"s
OUTLINKS_PER_PAGE = 3
PATH_SPACE = 400       # distinct /whats-on/pageN paths per host
FILM_SPACE = 300       # distinct /film/k detail pages per host
CARD_LINK_STRIDE = 3   # every 3rd parsed card link joins the frontier


def _h(s: str) -> int:
    return int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "big")


def fetch_ok(url_norm: str) -> bool:
    return _h("ok:" + url_norm) % FAIL_MOD != 0


def page_outlinks(url_norm: str) -> list[str]:
    """Deterministic same-host outlinks for a fetched page (raw forms —
    they go through the canonicalizer like any discovered URL)."""
    if not fetch_ok(url_norm):
        return []
    host = url_norm.split("://", 1)[1].split("/", 1)[0]
    out = []
    for i in range(OUTLINKS_PER_PAGE):
        n = _h(f"link:{url_norm}:{i}") % PATH_SPACE
        out.append(f"https://{host}/whats-on/page{n}")
    return out


_FILLER = (
    "<nav><ul>" + "".join(f"<li><a href='/menu/{i}'>item {i}</a></li>" for i in range(40))
    + "</ul></nav><p>"
    + "Lorem listing filler text with dates like 1998-08-12 and prices. " * 40
    + "</p>"
)


def synth_body(url_norm: str, n_cards: int = 40) -> str:
    """Deterministic ~20 KB listing-page body for a fetched URL — the
    sandbox's stand-in for the network payload, sized like a real listing
    page so the parse stage has realistic per-URL CPU cost. Card markup
    matches the paginated_cards extractor family."""
    host = url_norm.split("://", 1)[1].split("/", 1)[0]
    h = _h("body:" + url_norm)
    cards = []
    for j in range(n_cards):
        # film id bounded to FILM_SPACE per host so the crawl URL universe
        # is finite (seen-set convergence is observable)
        k = ((h >> (j % 48)) & 0xFFFF ^ (j * 2654435761 & 0xFFFF)) % FILM_SPACE
        cards.append(
            f'<div class="card"><h3>Film {k}</h3>'
            f'<a href="https://{host}/film/{k}" datetime="1998-08-{1 + k % 27:02d}T'
            f'{10 + j % 12}:30:00">book</a>'
            f'<img src="https://{host}/img/{k}.jpg"></div>'
            f"<p>Synopsis {k}: a deterministic synopsis line for film {k}.</p>"
        )
    return "<html><body>" + _FILLER + "".join(cards) + _FILLER + "</body></html>"


_CARD_FIELDS = re.compile(
    r'<div class="card"><h3>(?P<title>[^<]*)</h3>'
    r'<a href="(?P<link>[^"]*)" datetime="(?P<dt>[^"]*)">.*?'
    r'(?:<img src="(?P<img>[^"]*)">)?</div>'
)


def _fetch_parse_full(
    url_norm: str,
) -> tuple[bool, list[str], int, list[tuple[str, str]]]:
    """One pass over the body: (ok, canonical outlinks, item count, cards)
    where cards = (caption, image_url) per card with a poster <img>."""
    from cinescrapers_spark.functions.urls import canonicalize_url_py

    if not fetch_ok(url_norm):
        return False, [], 0, []
    body = synth_body(url_norm)
    n_items = 0
    cards: list[tuple[str, str]] = []
    raw_links = list(page_outlinks(url_norm))
    for i, m in enumerate(_CARD_FIELDS.finditer(body)):
        n_items += 1
        if i % CARD_LINK_STRIDE == 0:
            raw_links.append(m.group("link"))
        if m.group("img"):
            cards.append((m.group("title"), m.group("img")))
    links = []
    for raw in raw_links:
        c = canonicalize_url_py(raw)
        if c is not None:
            links.append(c)
    return True, links, n_items, cards


def fetch_and_parse(url_norm: str) -> tuple[bool, list[str], int]:
    """Full per-URL fetch model: resolve → body → parse fields → outlinks.
    Returns (ok, canonical outlinks, parsed item count). The parse is real
    regex work over a realistic ~20 KB body, and parsed card links join the
    discovered set (every CARD_LINK_STRIDE-th, like a crawler following
    detail pages) alongside the pagination outlinks. Shared verbatim by
    the Spark engine (inside the Arrow kernel) and the single-threaded
    reference model — semantics live in exactly one place."""
    ok, links, n_items, _ = _fetch_parse_full(url_norm)
    return ok, links, n_items


@lazy_pandas_udf("struct<ok: boolean, outlinks: array<string>, n_items: int>")
def fetch_parse_expand_udf(url_norm: pd.Series) -> pd.DataFrame:
    rows = [fetch_and_parse(u) for u in url_norm]
    return pd.DataFrame(rows, columns=["ok", "outlinks", "n_items"])


def parse_cards(url_norm: str) -> list[tuple[str, str]]:
    """(caption, image_url) per parsed card with a poster image — the
    image+caption pair source for the harvest stage (north_rule: crawl over
    image + caption pairs). Same body + regex as fetch_and_parse, so
    len(parse_cards) ≤ n_items with equality when every card has an <img>."""
    return _fetch_parse_full(url_norm)[3]


@lazy_pandas_udf(
    "struct<ok: boolean, outlinks: array<string>, n_items: int, "
    "cards: array<struct<caption: string, img: string>>>"
)
def fetch_parse_harvest_udf(url_norm: pd.Series) -> pd.DataFrame:
    """Fused fetch+parse+harvest kernel: fetch_and_parse's exact outputs
    (the crawl-equivalence contract) PLUS the per-card image+caption pairs,
    in one pass over the body per URL."""
    rows = [_fetch_parse_full(u) for u in url_norm]
    return pd.DataFrame(rows, columns=["ok", "outlinks", "n_items", "cards"])
