"""Seeded inputs of the crawl workloads and a pure-Python oracle of one
wave's row funnel.

Everything here is a function of (workload, seed, scale) and runs before
Spark is asked to do anything timed. The oracle re-derives, row by row,
what ``operators.wave.run_scale_wave`` must do with a frontier — health
deferral, robots, seen filter, within-wave dedup, per-host rank and budget,
injected failures, link discovery — using the package's pure-Python URL
kernels (``urlnorm.surt_py``/``host_py``, property-tested equal to the
Spark columns), so a wave's committed output can be checked against it.
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from newsraag_crawler_spark.functions.urlnorm import host_py, surt_py

# run_scale_wave's path column (operators/wave.py)
_PATH_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)")
_ART_RE = re.compile(r"/articles/([0-9]+)")
DEFAULT_BUDGET = 50  # budget_waves' default for hosts without a policy

FAILING_HOST = "host7.example.com"
TRANSIENT_FAIL_PCT = 15


@dataclass
class CrawlInput:
    """frontier: url, source_id, feed_rank, score, wave. policies: one dict
    per host. seen_snapshots: SURT keys of each pre-seeded seen snapshot."""

    frontier: pd.DataFrame
    policies: list[dict]
    seen_snapshots: list[list[str]] = field(default_factory=list)
    # crawl-multiwave only
    links_per_page: int = 0
    n_articles: int | None = None
    failures: bool = False
    max_attempts: int = 3
    health_streak: int = 3


def _policies(n_hosts: int, budget: int, overrides: dict[int, int] | None = None) -> list[dict]:
    overrides = overrides or {}
    return [
        {
            "host": f"host{h}.example.com",
            "crawl_delay_s": 1.0,
            "per_wave_budget": overrides.get(h, budget),
            "robots_disallow": ["/private"],
        }
        for h in range(n_hosts)
    ]


# Shares and per-host counts below are exact, not sampled, so every seed
# gives a workload of the same size and shape; the seed picks which rows
# get which role, the URLs' spellings and the scores.


def _exactly(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """A mask with exactly round(n * share) True entries."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.permutation(n)[: round(n * share)]] = True
    return mask


def _balanced(rng: np.random.Generator, n: int, k: int) -> np.ndarray:
    """n values in [0, k), each used equally often (±1)."""
    return rng.permutation(np.arange(n) % k)


def _frame(urls: list[str], rng: np.random.Generator) -> pd.DataFrame:
    n = len(urls)
    return pd.DataFrame(
        {
            "url": urls,
            "source_id": rng.integers(0, 100, n).astype("int64"),
            "feed_rank": rng.permutation(n).astype("int64"),
            "score": np.round(rng.random(n), 4),
            "wave": np.zeros(n, dtype="int32"),
        }
    )


def wave_fetch(seed: int, scale: float = 1.0) -> CrawlInput:
    """Fresh frontier, distinct canonical URLs, generous budgets. 72% of the
    rows sit on host0, whose budget is above run_scale_wave's 10,000-row
    skew threshold, so the hot host is salted."""
    rng = np.random.default_rng([seed, 1])
    n = int(16_000 * scale)
    n_hosts = 101
    hot = _exactly(rng, n, 0.72)
    host = np.where(hot, 0, 1 + _balanced(rng, n, n_hosts - 1))
    section = np.where(_exactly(rng, n, 0.01), "private", "articles")
    urls = [f"https://host{h}.example.com/{s}/{i}" for i, (h, s) in enumerate(zip(host, section))]
    seen = [surt_py(u) for u, s in zip(urls, _exactly(rng, n, 0.05)) if s]
    return CrawlInput(
        frontier=_frame(urls, rng),
        policies=_policies(n_hosts, 500, {0: max(int(15_000 * scale), 1)}),
        seen_snapshots=[seen],
    )


def _spellings(host: str, path: str, query: str) -> list[str]:
    """Non-canonical spellings of one resource that surt_url collapses:
    host case, www., default port, fragment, trailing slash, query order,
    scheme."""
    q = f"?{query}" if query else ""
    rq = "?" + "&".join(reversed(query.split("&"))) if query else ""
    return [
        f"https://{host}{path}{q}",
        f"https://{host.upper()}{path}{q}",
        f"https://www.{host}{path}{q}",
        f"https://{host}:443{path}{q}",
        f"https://{host}{path}{q}#section-2",
        f"https://{host}{path}/{q}",
        f"https://{host}{path}{rq}",
        f"http://{host}{path}{q}",
    ]


def _seen_heavy(rng: np.random.Generator, n_art: int, n_hosts: int, max_spellings: int):
    """Articles in 1..max_spellings non-canonical spellings each, 5% on
    robots-disallowed paths; 80% of articles already seen, in a seen table
    several times the frontier's size spread over four snapshots."""
    hosts = _balanced(rng, n_art, n_hosts)
    private, has_query, seen = (_exactly(rng, n_art, p) for p in (0.05, 0.3, 0.8))
    n_spellings = 1 + _balanced(rng, n_art, max_spellings)
    urls, seen_art = [], []
    for a in range(n_art):
        section = "private" if private[a] else "articles"
        query = "lang=en&page=1" if has_query[a] else ""
        variants = _spellings(f"host{hosts[a]}.example.com", f"/{section}/{a}", query)
        picked = rng.choice(len(variants), size=n_spellings[a], replace=False)
        urls += [variants[j] for j in picked]
        if seen[a]:
            seen_art.append(surt_py(variants[0]))
    # unrelated history: seen keys of pages the frontier no longer lists
    old_hosts = _balanced(rng, 3 * len(urls), n_hosts)
    seen_old = [f"com,example,host{h})/archive/{i}" for i, h in enumerate(old_hosts)]
    keys = seen_art + seen_old
    order = rng.permutation(len(keys))
    return urls, [[keys[i] for i in order[j::4]] for j in range(4)]


def wave_dedup(seed: int, scale: float = 1.0) -> CrawlInput:
    """A frontier that is mostly already seen (see _seen_heavy) with tight
    budgets, so most survivors spill and few rows reach the codec."""
    rng = np.random.default_rng([seed, 2])
    urls, snapshots = _seen_heavy(rng, int(12_000 * scale), 300, 6)
    return CrawlInput(
        frontier=_frame(urls, rng), policies=_policies(300, 3), seen_snapshots=snapshots)


def crawl_multiwave(seed: int, scale: float = 1.0) -> CrawlInput:
    """Seeds as in wave-dedup (mostly seen, non-canonical spellings, robots,
    tight budgets) for a two-wave crawl with link expansion (2 links per
    page) and injected failures: a crc32-hashed share of fetches fails per
    attempt, so wave 1 retries and dead-letters after two attempts, and
    host7 always fails, so after its all-failed wave 0 the health gate
    skips it in wave 1."""
    rng = np.random.default_rng([seed, 3])
    urls, snapshots = _seen_heavy(rng, int(8_000 * scale), 40, 6)
    return CrawlInput(
        frontier=_frame(urls, rng),
        policies=_policies(40, max(int(15 * scale), 2)),
        seen_snapshots=snapshots,
        links_per_page=2,
        n_articles=20_000,
        failures=True,
        max_attempts=2,
        health_streak=1,
    )


def failure_expr():
    """The injected fetch failures as a Spark column (over run_scale_wave's
    ``host``/``url``/``attempt`` columns); ``fails_py`` is its mirror."""
    from pyspark.sql import functions as F

    key = F.concat_ws(":", F.col("url"), F.col("attempt").cast("string"))
    return (F.pmod(F.crc32(key), F.lit(100)) < TRANSIENT_FAIL_PCT) | (
        F.col("host") == FAILING_HOST
    )


def fails_py(url: str, host: str, attempt: int) -> bool:
    key = f"{url}:{attempt}".encode()
    return zlib.crc32(key) % 100 < TRANSIENT_FAIL_PCT or host == FAILING_HOST


INPUTS = {
    "wave-fetch": wave_fetch,
    "wave-dedup": wave_dedup,
    "crawl-multiwave": crawl_multiwave,
}


@dataclass
class Funnel:
    """Where each frontier row of one wave ends up."""

    n_in: int = 0
    deferred: int = 0
    blocked: int = 0
    seen: int = 0
    dups: int = 0
    spill: int = 0
    retry: int = 0
    dead: int = 0
    fetched_urls: set = field(default_factory=set)
    new_links: int = 0

    @property
    def fetched(self) -> int:
        return len(self.fetched_urls)

    def buckets(self) -> dict:
        return {
            "deferred": self.deferred, "blocked": self.blocked, "seen": self.seen,
            "dups": self.dups, "spill": self.spill, "retry": self.retry,
            "dead": self.dead, "fetched": self.fetched,
        }

    def conserved(self) -> bool:
        return sum(self.buckets().values()) == self.n_in


def oracle_wave(inp: CrawlInput) -> Funnel:
    """Wave 0 of ``inp`` as run_scale_wave computes it, in plain Python."""
    seen = {k for s in inp.seen_snapshots for k in s}
    pol = {p["host"]: p for p in inp.policies}
    f = Funnel(n_in=len(inp.frontier))
    first: dict[str, tuple] = {}
    for url, feed_rank, score in zip(
        inp.frontier["url"], inp.frontier["feed_rank"], inp.frontier["score"]
    ):
        host = host_py(url)
        m = _PATH_RE.match(url)
        path = m.group(1) if m else ""
        disallow = pol.get(host, {}).get("robots_disallow") or []
        if any(path.startswith(p) for p in disallow):
            f.blocked += 1
            continue
        key = surt_py(url)
        if key in seen:
            f.seen += 1
            continue
        row = (int(feed_rank), url, float(score), host)
        if key in first:
            f.dups += 1
            first[key] = min(first[key], row)
        else:
            first[key] = row
    by_host: dict[str, list[tuple]] = {}
    for row in first.values():
        by_host.setdefault(row[3], []).append(row)
    links = set()
    for host, rows in by_host.items():
        budget = pol.get(host, {}).get("per_wave_budget", DEFAULT_BUDGET)
        rows.sort(key=lambda r: (-r[2], r[0]))  # score desc, feed_rank asc
        f.spill += max(len(rows) - budget, 0)
        for _, url, _, _ in rows[:budget]:
            if inp.failures and fails_py(url, host, 0):
                if 1 < inp.max_attempts:
                    f.retry += 1
                else:
                    f.dead += 1
                continue
            f.fetched_urls.add(url)
            m = _ART_RE.search(url)
            art = int(m.group(1)) if m else 0
            for j in range(inp.links_per_page):
                links.add(f"https://{host}/articles/{(art * 7 + j) % inp.n_articles}")
    f.new_links = len(links)
    return f
