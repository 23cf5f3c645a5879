"""Workload inputs as pure functions of the seed.

Every workload's input is a synthetic pages table (``wss_spark.synth``:
``render_target_pages`` per target, which ``build_pages_df`` runs inside
Spark); the drain adds a revised snapshot of it and duplicate docs for its
corpus stage, the polite crawl the per-target seed list and raw robots.txt
text for the synthetic hosts. Nothing here touches Spark, so
``input_digest`` is cheap enough for tests, and the harness checks that the
engine received exactly these pages.
"""

from __future__ import annotations

import hashlib

from perfbench.stats import digest
from wss_spark.crawl.simulator import canonicalize
from wss_spark.synth import COLD_HOSTS, HOT_HOST, Target, render_target_pages, seed_list


# Raw robots.txt the harness publishes for the synthetic hosts. The hot host
# carries 85% of urls and a crawl delay that caps it below the wave budget;
# one cold host is capped harder, one only blocks a prefix. Only Disallow
# rules plus a root Allow are used, so the single-threaded simulator's
# prefix rule and the engine's longest-prefix gate agree.
ROBOTS = {
    HOT_HOST: "User-agent: *\nAllow: /\nDisallow: /mblog/picAll\nCrawl-delay: 10\n",
    COLD_HOSTS[0]: "User-agent: *\nAllow: /\nDisallow: /repost/\nCrawl-delay: 15\n",
    COLD_HOSTS[1]: "User-agent: *\nAllow: /\nCrawl-delay: 10\n",
    COLD_HOSTS[2]: "# no delay\nUser-agent: *\nDisallow: /mblog/picAll\n",
}


def robots_blocked_prefixes() -> list[tuple[str, str]]:
    """(host, prefix) Disallow rules of ``ROBOTS``, in the simulator's form."""
    out = []
    for host, txt in ROBOTS.items():
        for line in txt.splitlines():
            if line.startswith("Disallow:"):
                out.append((host, line.split(":", 1)[1].strip()))
    return out


def robots_crawl_delays() -> dict[str, float]:
    """host -> Crawl-delay seconds of ``ROBOTS``, in the simulator's form."""
    out = {}
    for host, txt in ROBOTS.items():
        for line in txt.splitlines():
            if line.startswith("Crawl-delay:"):
                out[host] = float(line.split(":", 1)[1])
    return out


def target_pages(seed: int, n_targets: int) -> list[dict]:
    """Pages rows of the first ``n_targets`` targets: the rows
    ``build_pages_df`` makes."""
    rows: list[dict] = []
    for t in range(n_targets):
        rows.extend(render_target_pages(Target(seed, t), seed))
    return rows


def targets_for_urls(seed: int, n_urls: int) -> int:
    """The fewest targets whose pages hold ``n_urls`` distinct canonical
    urls: the page count per target depends on the seed, so fixing the url
    count instead keeps a drain's work the same for every seed."""
    seen: set[str] = set()
    t = 0
    while len(seen) < n_urls:
        seen.update(canonicalize(r["url"])
                    for r in render_target_pages(Target(seed, t), seed))
        t += 1
    return t


# the refresh snapshot: about 10% of the old pages' html changes (a marker is
# appended, as a re-fetch of an edited page would differ), and 5% more
# targets bring new pages
CHANGED_PER_256 = 26
REV_MARK = b"\n<!-- revised -->\n"


def new_targets(n_targets: int) -> int:
    """Targets the refresh snapshot adds after the first ``n_targets``."""
    return max(1, n_targets // 20)


def changed_urls(seed: int, urls) -> list[str]:
    """The urls whose html the refresh snapshot changes: a seeded ~10%."""
    return sorted(u for u in set(urls) if hashlib.sha256(
        f"{seed}|{u}".encode()).digest()[0] < CHANGED_PER_256)


def refresh_pages(seed: int, n_targets: int) -> list[dict]:
    """Pages rows of the refresh snapshot: the first ``n_targets`` targets
    with the changed urls' html revised, then the new targets' pages."""
    old = target_pages(seed, n_targets)
    changed = set(changed_urls(seed, (r["url"] for r in old)))
    rows = [dict(r, html=r["html"] + REV_MARK) if r["url"] in changed else r
            for r in old]
    for t in range(n_targets, n_targets + new_targets(n_targets)):
        rows.extend(render_target_pages(Target(seed, t), seed))
    return rows


CORPUS_DUPS = 48


def corpus_dups(seed: int, rows) -> list[tuple[str, str]]:
    """(doc id, text) duplicates the corpus stage adds to the drained page
    texts: ``CORPUS_DUPS`` of the longest page texts (the ones most likely
    to pass the quality filter, so every seed gives the dedup stages about
    the same work), alternately an exact duplicate (only its whitespace
    differs, so normalized text is equal) and a near duplicate (one word
    appended). A duplicate's id sorts after its page's url, so the page is
    the one a min-id dedup keeps."""
    ranked = sorted((r for r in rows if r["text"]), key=lambda r: (
        -len(r["text"]),
        hashlib.sha256(f"dup|{seed}|{r['url']}".encode()).digest()))
    out = []
    for i, r in enumerate(ranked[:CORPUS_DUPS]):
        if i % 2:
            out.append((r["url"] + "#near", r["text"] + " 转发"))
        else:
            out.append((r["url"] + "#dup", "  " + r["text"].replace(" ", "  ")))
    return out


def pages_digest(rows) -> str:
    """Order-free digest of (url, html, text) rows."""
    items = sorted((r["url"], bytes(r["html"]), r["text"]) for r in rows)
    return digest(x for row in items for x in row)


def input_digest(workload: str, seed: int, targets: int) -> str:
    """Digest of everything the workload's set-up generates from ``seed``:
    the pages and, for the drain, the refresh snapshot; for the polite
    crawl, the seed list and the robots text."""
    parts = [workload, pages_digest(target_pages(seed, targets))]
    if workload == "bulk_drain":
        parts.append(pages_digest(refresh_pages(seed, targets)))
        parts += [x for d in corpus_dups(seed, target_pages(seed, targets))
                  for x in d]
    else:
        parts += seed_list(targets, seed=seed)
        parts += [f"{h}\n{t}" for h, t in sorted(ROBOTS.items())]
    return digest(parts)
