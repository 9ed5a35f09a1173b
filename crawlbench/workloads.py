"""Seeded inputs for the crawl-session benchmark.

Each workload is a pure function of the seed: the pages (the oracle's
input), the corpus rows handed to the engine, the crawl configuration,
robots bodies and how the session is driven (compaction cadence,
seen-filter threshold, whether the content sink runs).
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from axora_spark import datagen, schemas
from axora_spark.config import CrawlConfig


@dataclass
class Workload:
    pages: list[dict]              # link-graph rows: the oracle's input
    corpus_rows: list[dict]        # what run_crawl's corpus is built from
    corpus_schema: object
    cfg: CrawlConfig
    robots_txt: dict[str, str] | None = None
    content: bool = False
    compact_every: int | None = None
    bloom_threshold: int = 100_000


# ---------------------------------------------------------------------------
# frontier_heavy: a pre-parsed link graph over a URL space larger than the
# corpus (40% of fetches are 404s), high out-degree (heavy duplicate
# discovery), one host holding 30% of the URLs (politeness defers it).
# ---------------------------------------------------------------------------

FH_HOSTS = 16
FH_URL_SPACE = 2400
FH_CORPUS_SHARE = 0.6
FH_OUT_DEGREE = 8
FH_HOT_SHARE = 0.3


def _frontier_graph(seed: int) -> tuple[list[dict], tuple[str, ...]]:
    """Host and existence are fixed functions of the URL id, so every seed
    crawls a graph of the same shape; the seed draws the link targets."""
    rng = random.Random(seed)
    hosts = tuple(f"h{j:02d}.frontier.test" for j in range(FH_HOSTS))
    hot = int(FH_HOT_SHARE * 10)

    def host_of(i: int) -> int:
        return 0 if i % 10 < hot else 1 + i % (FH_HOSTS - 1)

    def url(i: int) -> str:
        return f"https://{hosts[host_of(i)]}/p/{i}"

    rows = []
    for i in range(FH_URL_SPACE):
        if (i // 10) % 10 >= FH_CORPUS_SHARE * 10:
            continue  # no page: fetching this URL is a 404
        links = []
        for _ in range(FH_OUT_DEGREE):
            t = rng.randrange(FH_URL_SPACE)
            same = host_of(t) == host_of(i)
            links.append(f"/p/{t}" if same and rng.random() < 0.5
                         else url(t))
        rows.append({"url": url(i), "host": hosts[host_of(i)],
                     "title": "", "metas": [], "body_md": "",
                     "out_links": links})
    return rows, hosts


def frontier_heavy(seed: int) -> Workload:
    pages, hosts = _frontier_graph(seed)
    cfg = CrawlConfig(
        seeds=datagen.fixture_seeds(pages, per_host=6),
        allowed_domains=hosts,
        robots_mode=True,
        priority_mode="url_score",
        wave_seconds=400.0,   # budget 3*400/5 = 240 per host per wave
        max_waves=2,
    )
    robots = {
        # crawl-delay cuts the hot host to 3*400/20 = 60 per wave
        hosts[0]: "User-agent: *\nCrawl-delay: 20\nDisallow: /p/1\n",
        hosts[1]: "User-agent: *\nDisallow: /p/2\nAllow: /p/23\n",
        hosts[2]: "User-agent: *\nDisallow: /p/3\n",
    }
    return Workload(
        pages=pages, corpus_rows=pages,
        corpus_schema=schemas.LINK_GRAPH, cfg=cfg, robots_txt=robots,
        compact_every=1,
        # the shard-local seen-filter pre-pass engages once `seen` holds
        # this many URLs, i.e. from wave 1 on at this size
        bloom_threshold=50)


# ---------------------------------------------------------------------------
# content_heavy: raw-HTML pages through the parse stage and the content
# sink; the politeness budget never binds, so two large waves. Bodies,
# titles and metas are the seeded fixture rows; the link structure is
# fixed (each seed page links to CH_FANOUT distinct pages), so every seed
# fetches the same number of pages and the seed only varies the content.
# ---------------------------------------------------------------------------

CH_SEEDS = 16
CH_FANOUT = 3


def content_heavy(seed: int) -> Workload:
    pages = datagen.link_graph_rows(CH_SEEDS * (1 + CH_FANOUT), seed)
    for i, row in enumerate(pages[:CH_SEEDS]):
        links = [pages[CH_SEEDS + i * CH_FANOUT + j]["url"]
                 for j in range(CH_FANOUT)]
        # a duplicate (U1) and a skip-pattern path (F3) ride along
        row["out_links"] = links + [links[0], "/contact"]
    cfg = datagen.fixture_config(
        pages, seeds=tuple(r["url"] for r in pages[:CH_SEEDS]),
        wave_seconds=2000.0, tokenizer="estimate")
    html = [{"url": r["url"], "host": r["host"],
             "body_html": datagen.render_page_html(r)} for r in pages]
    return Workload(
        pages=pages, corpus_rows=html,
        corpus_schema=schemas.HTML_GRAPH, cfg=cfg, content=True)


WORKLOADS = {
    "frontier_heavy": frontier_heavy,
    "content_heavy": content_heavy,
}
