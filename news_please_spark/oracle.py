"""Pure-Python crawl oracle (SURVEY.md §5.2).

Single-threaded transcription of the reference's crawl semantics
(link expansion reference newsplease/helper_classes/parse_crawler.py:90-120,
request dedup on enqueue = scrapy RFPDupeFilter, per-domain politeness
budget = CONCURRENT_REQUESTS_PER_DOMAIN, reference
newsplease/config/config.cfg:354) recast as the engine's deterministic
total order:

  * crawl proceeds in WAVES; each wave every host fetches at most
    `budget` frontier URLs (the lowest by (disc_key, url));
  * fetched URLs get global `seq` by sorting the wave's fetch set by
    (depth, disc_key, url);
  * children of fetched pages pass filters F2/F3/F4/F11, are deduped
    against the URL-seen set *at enqueue time*, and enter the frontier
    with disc_key = (parent_seq + 1) * DISC_STRIDE + link_index (min
    over parents) — disjoint from the seed keys 0..n_seeds-1 (the
    seeds' url-rank), so every disc_key is unique within any frontier.
    Any seed keys below DISC_STRIDE that never fall as the URL rises
    give the same order: seeds compare with each other by url order
    (equal keys fall to the url tie-break) and with children as smaller
    keys. The engine gives every seed 0;
  * unfetched frontier rows carry over unchanged.

The Spark engine (operators/frontier.py) must reproduce `crawl_order`
and `url_seen` from this oracle bit-for-bit — that is the BASELINE.json
metric.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from news_please_spark.operators.frontier import DISC_STRIDE
from news_please_spark.world import (
    ALLOWED_DOMAIN_SUFFIX,
    IGNORE_EXTENSIONS,
    IGNORE_REGEX,
    World,
)

_EXT_RE = re.compile(IGNORE_EXTENSIONS)
_JUNK_RE = re.compile(IGNORE_REGEX)


def host_of(url: str) -> str:
    m = re.match(r"^[a-z]+://([^/]+)", url)
    return m.group(1) if m else ""


def path_of(url: str) -> str:
    m = re.match(r"^[a-z]+://[^/]+(/.*)?$", url)
    return (m.group(1) or "/") if m else ""


@dataclass
class CrawlConfig:
    budget_per_host: int = 4   # reference config.cfg:354
    max_depth: int = 4
    max_waves: int = 10_000


class CrawlOracle:
    def __init__(self, world: World, cfg: CrawlConfig | None = None):
        self.world = world
        self.cfg = cfg or CrawlConfig()
        # url -> outlinks resolved via the world's arithmetic
        self._page_of_url: dict[str, int] = {}
        for p in range(world.n_pages):
            self._page_of_url.setdefault(world.url_of(p), p)
        self._robots = dict(world.robots_rules)

    def _allowed(self, url: str) -> bool:
        if _JUNK_RE.search(url):
            return False
        if _EXT_RE.search(url):
            return False
        h = host_of(url)
        if not h.endswith(ALLOWED_DOMAIN_SUFFIX):
            return False
        pfx = self._robots.get(h)
        if pfx and path_of(url).startswith(pfx):
            return False
        return True

    def run(self) -> tuple[list[tuple[str, int, int, int]], set[str]]:
        """Returns (crawl_order rows (url, depth, seq, wave), url_seen set)."""
        cfg = self.cfg
        seeds = sorted(u for u in self.world.seed_urls() if self._allowed(u))
        # frontier rows: url -> (depth, disc_key)
        frontier: dict[str, tuple[int, int]] = {
            u: (0, i) for i, u in enumerate(seeds)
        }
        seen: set[str] = set(frontier)
        order: list[tuple[str, int, int, int]] = []
        seq = 0
        wave = 0
        while frontier and wave < cfg.max_waves:
            by_host: dict[str, list[str]] = {}
            for u in frontier:
                by_host.setdefault(host_of(u), []).append(u)
            fetch: list[str] = []
            for h, urls in by_host.items():
                urls.sort(key=lambda u: (frontier[u][1], u))
                fetch.extend(urls[: cfg.budget_per_host])
            fetch.sort(key=lambda u: (frontier[u][0], frontier[u][1], u))
            seq_of: dict[str, int] = {}
            for u in fetch:
                order.append((u, frontier[u][0], seq, wave))
                seq_of[u] = seq
                seq += 1
            # expand
            children: dict[str, tuple[int, int]] = {}
            for u in fetch:
                depth = frontier[u][0]
                if depth >= cfg.max_depth:
                    continue
                p = self._page_of_url.get(u)
                if p is None:
                    continue
                pseq = seq_of[u]
                for dst, k in self.world.edges_of(p):
                    if not self._allowed(dst) or dst in seen:
                        continue
                    key = (pseq + 1) * DISC_STRIDE + k
                    prev = children.get(dst)
                    if prev is None or key < prev[1]:
                        children[dst] = (depth + 1, key)
            for u in fetch:
                del frontier[u]
            for dst, v in children.items():
                frontier[dst] = v
                seen.add(dst)
            wave += 1
        return order, seen
