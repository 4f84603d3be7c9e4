"""Seeded synthetic webs for the crawl benchmark.

Each workload's web is a ``SiteGraph`` (the fixture type the reference
simulator reads) plus the ground truth the correctness checks need: the
URL set a STANDARD crawl must attempt, how many of those are dead, and
which documents it must emit. The seed only changes link targets, link
order, page names and body words; page, link, dead-link and per-wave
counts are fixed per workload, so every seed asks for the same work.
"""

from __future__ import annotations

import random
from collections import deque
from dataclasses import dataclass, field

from azuresearchcrawlervector_spark.core.urls import canonicalize, host_of
from azuresearchcrawlervector_spark.sources.fixtures import (
    PageSpec, SiteGraph, image_id_for,
)

_WORDS = (
    "frontier crawl politeness host budget wave seen sketch bloom filter "
    "parquet snapshot manifest resume checkpoint payload bucket image "
    "caption decode embedding vector extraction anchor canonical url "
    "priority queue schedule fetch status partition shuffle salt skew"
).split()


@dataclass
class Web:
    """A generated web and the outcome a correct crawl of it must have."""

    graph: SiteGraph
    seeds: list[str]
    crawl_delay_ms: dict[str, int]
    max_pages: int = 0  # the crawl's maxPages
    reachable: set[str] = field(default_factory=set)  # every URL attempted
    dead_reached: int = 0                            # failed fetches
    doc_urls: set[str] = field(default_factory=set)  # documents emitted


def _text(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def _bfs(web: Web) -> set[str]:
    """Every URL a crawl without a page budget attempts: BFS from the
    seeds over same-host links of status-200 pages."""
    pages = web.graph.pages
    seen = set(web.seeds)
    queue = deque(web.seeds)
    while queue:
        url = queue.popleft()
        spec = pages.get(url)
        if spec is None or spec.status != 200:
            continue
        for href, _ in spec.links:
            child = canonicalize(url, href)
            if child not in seen and host_of(child) == host_of(url):
                seen.add(child)
                queue.append(child)
    return seen


def _with_truth(web: Web, attempted: set[str]) -> Web:
    """Record the crawl's outcome; maxPages defaults to the URLs it
    attempts, so the seen sketch is sized for this web."""
    pages = web.graph.pages
    ok = {u for u in attempted if u in pages and pages[u].status == 200}
    web.reachable = attempted
    web.dead_reached = len(attempted) - len(ok)
    web.doc_urls = ok  # every generated page has body text
    web.max_pages = web.max_pages or len(attempted)
    return web


def _dead_page(g: SiteGraph, url: str, kind: int) -> None:
    """kind 0: missing from the pages table; 1: 404; 2: 500."""
    if kind:
        g.add(PageSpec(url=url, title="gone", body_text="gone", links=[],
                       status=404 if kind == 1 else 500,
                       image_id=image_id_for(url)))


def _page(g: SiteGraph, rng: random.Random, url: str, links: list[str],
          body_words: int) -> None:
    rng.shuffle(links)
    g.add(PageSpec(url=url, title=url.split("//", 1)[1],
                   body_text=_text(rng, body_words),
                   links=[(h, False) for h in links],
                   image_id=image_id_for(url)))


# deep_chain: CHAIN_HOSTS chains of CHAIN_LENGTH links each
CHAIN_HOSTS = 3
CHAIN_LENGTH = 2


def deep_chain(seed: int) -> Web:
    """A chain per host (fanout 1-2): chain page i links to page i+1
    and, for even i, to a leaf without links. No link points back, so the
    crawl's dedup has nothing to remove. It runs CHAIN_LENGTH + 1 waves
    of at most two URLs per host."""
    rng = random.Random(seed)
    g = SiteGraph(name="deep_chain", root="http://c0.chain.example.com/")
    hosts = [f"c{i}.chain.example.com" for i in range(CHAIN_HOSTS)]
    for host in hosts:
        root = f"http://{host}"
        names = rng.sample(range(1000), CHAIN_LENGTH + 1)
        chain = ["/"] + [f"/n{n}.html" for n in names[1:]]
        for i, p in enumerate(chain):
            links = []
            if i < CHAIN_LENGTH:
                links.append(chain[i + 1])
            if i < CHAIN_LENGTH and i % 2 == 0:
                leaf = f"/leaf{names[i]}.html"
                links.append(leaf)
                _page(g, rng, root + leaf, [], 60)
            _page(g, rng, root + p, links, 60)
    web = Web(graph=g, seeds=[f"http://{h}/" for h in hosts],
              crawl_delay_ms={h: 100 for h in hosts})
    return _with_truth(web, _bfs(web))


# hot_host_dedup: an iteration window is HOT_WINDOW_MS long and the hot
# host's crawl delay gives it a budget of HOT_BUDGET URLs per wave; every
# one of the COLD_HOSTS other hosts has a budget larger than its whole
# site (a root and COLD_FANOUT pages). The crawl runs HOT_WAVES waves and
# the hot pages of each wave link to HOT_DEAD dead URLs, twice each.
HOT_WINDOW_MS = 20_000
HOT_BUDGET = 100
HOT_WAVES = 3
HOT_DEAD = 20
COLD_HOSTS = 5
COLD_FANOUT = 8


def hot_host_dedup(seed: int) -> Web:
    """A HOT_WAVES-wave crawl with a binding politeness budget and
    mostly-seen links.

    The hot host (~85% of the pages) is seeded with HOT_WAVES budgets of
    known pages (a sitemap-style URL list), fetched in list order,
    HOT_BUDGET per wave, so its frontier exceeds its budget and rows
    carry over. Each of its pages links to six pages of the first budget:
    cross-links inside wave 1, already-seen pages after it. The pages of
    each wave also link to HOT_DEAD new dead URLs, which rank behind the
    seeds and carry over. Each cold host is a root linking to
    COLD_FANOUT pages and two dead URLs; its pages link back to the
    root. maxPages equals the URLs of the HOT_WAVES waves, so the crawl
    ends after the last with the hot host's dead URLs still pending; the
    cold hosts' dead URLs fail in wave 2. ~6% of all links are dead.
    """
    rng = random.Random(seed)
    b = HOT_BUDGET
    hot = "w0.hot.example.com"
    g = SiteGraph(name="hot_host_dedup", root=f"http://{hot}/")
    root = f"http://{hot}"
    urls = [f"{root}/p{n}.html"
            for n in rng.sample(range(20 * b), HOT_WAVES * b)]
    dead = [f"/gone{n}.html"
            for n in rng.sample(range(1000), HOT_WAVES * HOT_DEAD)]
    for k, d in enumerate(dead):
        _dead_page(g, root + d, k % 3)
    dead_links = [dead[w * HOT_DEAD:(w + 1) * HOT_DEAD] * 2
                  for w in range(HOT_WAVES)]
    for pos, url in enumerate(urls):
        links = [urls[rng.randrange(b)][len(root):] for _ in range(6)]
        wave_dead = dead_links[pos // b]
        if pos % b < len(wave_dead):
            links.append(wave_dead[pos % b])
        _page(g, rng, url, links, 120)
    seeds = list(urls)
    attempted = set(urls)
    for i in range(1, COLD_HOSTS + 1):
        croot = f"http://w{i}.hot.example.com"
        kids = [f"/p{n}.html" for n in rng.sample(range(100), COLD_FANOUT)]
        gone = [f"/gone{k}.html" for k in range(2)]
        for k, d in enumerate(gone):
            _dead_page(g, croot + d, (i + k) % 3)
        _page(g, rng, croot + "/", kids + gone, 120)
        for kid in kids:
            _page(g, rng, croot + kid, ["/"], 120)
        seeds.append(croot + "/")
        attempted |= {croot + p for p in ["/"] + kids + gone}
    delay = {f"w{i}.hot.example.com": 10 for i in range(1, COLD_HOSTS + 1)}
    delay[hot] = HOT_WINDOW_MS // b
    web = Web(graph=g, seeds=seeds, crawl_delay_ms=delay,
              max_pages=len(attempted))
    return _with_truth(web, attempted)

