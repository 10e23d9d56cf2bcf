"""Deterministic synthetic crawl world: seeds, candidate feeds, hosts policy,
and the fetch-payload kernel (FIXTURES.md §1-4, §6).

Everything is a pure function of (seed, scale) — no wall clock, no network.
Two tiers:

- ``fixture_world``    — small, pure-Python rows (driver-side) carrying every
  edge case FIXTURES.md §6 requires; consumed both by the Spark engine (via
  ``createDataFrame``) and by the pure-Python oracle (plans/oracle.py).
- ``synth_frontier_df`` — DISTRIBUTED generator (``spark.range`` + column
  expressions, no driver-side rows) for benchmarks: scales to 10^7+ rows
  locally and, with the same code, to 10^10 on a cluster.

The fetch-payload kernel ``fetch_payload_py`` is THE contract for what a
"fetch" returns (image bytes + caption, input_hint schema); the Spark fetch
stage (operators/wave.py) and the oracle both call it, so per-row equality
checks (caption exact, pixels PSNR>=40dB) compare two independent executions
of the same deterministic function — Spark distributed vs oracle sequential.
"""

from __future__ import annotations

from dataclasses import dataclass

from ..functions.hashing import portable_hash64_py
from ..functions.images import decode_image, encode_image, phash64, synth_image

MIN_CONTENT_LEN = 100  # reference rss_template.py:323-327 threshold

_TOPICS = ("EUR/USD", "Gold", "S&P 500", "Crude Oil", "BTC/USD", "USD/JPY")


# ---------------------------------------------------------------------------
# world config rows
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class SourceCfg:
    source_id: int
    source_name: str
    seed_url: str
    rate_limit_seconds: int
    max_articles_per_run: int
    enabled: bool


@dataclass(frozen=True)
class Candidate:
    """One discovered URL in one source's feed, in feed order."""

    source_id: int
    source_name: str
    feed_rank: int
    url: str
    title: str | None
    content_len: int
    wave: int


@dataclass(frozen=True)
class HostPolicy:
    host: str
    crawl_delay_s: float
    per_wave_budget: int
    robots_disallow: tuple[str, ...]


def _h(seed: int, *parts) -> int:
    return portable_hash64_py(":".join(str(p) for p in parts), salt=f"w{seed}:")


def fixture_world(
    seed: int = 42,
    n_sources: int = 6,
    urls_per_source: int = 60,
    n_waves: int = 2,
) -> tuple[list[SourceCfg], list[Candidate], list[HostPolicy]]:
    """Small deterministic world with every FIXTURES.md §6 edge case:

    - duplicate URL in two feeds (same wave)               [dedup skip]
    - same URL re-listed in wave 2                         [persistent seen]
    - missing-title rows                                   [dropped at discovery]
    - short-content rows                                   [failed, still seen]
    - robots-disallowed URLs                               [never fetched]
    - one hot host with ~30% of URLs and small budget      [politeness spill]
    - more URLs per source than max_articles_per_run       [cap]
    - raw-URL variants that canonicalize to the same SURT  [canonical-mode dedup]
    """
    hosts = [f"host{i}.example.com" for i in range(max(4, n_sources))]
    sources = [
        SourceCfg(
            source_id=s,
            source_name=f"src{s}",
            seed_url=f"https://{hosts[s % len(hosts)]}/feed.xml",
            rate_limit_seconds=1 + _h(seed, "rl", s) % 5,
            max_articles_per_run=max(10, urls_per_source // 2),
            enabled=(s != n_sources - 1),  # last source disabled (F4)
        )
        for s in range(n_sources)
    ]

    candidates: list[Candidate] = []
    for wave in range(n_waves):
        for s in range(n_sources):
            for r in range(urls_per_source):
                h = _h(seed, "cand", wave, s, r)
                # hot host: ~30% of URLs land on host0 (FIXTURES.md §3)
                host = hosts[0] if h % 10 < 3 else hosts[(h >> 4) % len(hosts)]
                art = (h >> 8) % (urls_per_source * n_sources // 2)
                url = f"https://{host}/articles/{art}"
                variant = (h >> 16) % 10
                if variant == 0:
                    url = f"https://{host.upper()}/articles/{art}/"  # SURT-collapsible
                elif variant == 1:
                    url = f"https://{host}/articles/{art}?utm=x&ref=feed#top"
                elif variant == 2:
                    url = f"https://{host}/private/{art}"  # robots-disallowed below
                title = None if (h >> 24) % 20 == 0 else f"{_TOPICS[h % len(_TOPICS)]} update {art}"
                content_len = 20 if (h >> 28) % 10 == 0 else 200 + h % 2000
                candidates.append(
                    Candidate(s, f"src{s}", r, url, title, content_len, wave)
                )
        # same-URL-across-waves edge case arises naturally: `art` collides

    policies = [
        HostPolicy(
            host=h_,
            crawl_delay_s=0.5 + (_h(seed, "cd", h_) % 40) / 10.0,
            per_wave_budget=8 if i == 0 else 50,  # hot host throttled
            robots_disallow=("/private",),
        )
        for i, h_ in enumerate(hosts)
    ]
    return sources, candidates, policies


# ---------------------------------------------------------------------------
# fetch payload kernel (shared Spark <-> oracle)
# ---------------------------------------------------------------------------


def fetch_payload_py(url: str, source_name: str, seed: int = 42) -> dict:
    """Deterministic 'fetch': URL -> image+caption row (input_hint schema).

    Pure function of (url, source_name, seed). Image dims 32-256 px
    (FIXTURES.md §1), fmt 70% png / 30% lossy, phash computed from the
    DECODED image so lossy rows carry the post-codec hash.
    """
    h = _h(seed, "fetch", url)
    w = 32 + h % 97
    ht = 32 + (h >> 8) % 97
    fmt = "png" if (h >> 16) % 10 < 7 else "jpeg"
    img = synth_image(h & 0xFFFFFFFF, w, ht)
    payload = encode_image(img, fmt)
    decoded = decode_image(payload, fmt)
    caption = f"{_TOPICS[h % len(_TOPICS)]} Analysis: {url.rsplit('/', 1)[-1] or 'index'} report {h % 9973}"
    from ..functions.hashing import article_id_py

    image_id = article_id_py(source_name, caption, url)
    return {
        "image_id": image_id,
        "bytes": payload,
        "w": int(w),
        "h": int(ht),
        "fmt": fmt,
        "caption": caption,
        "phash": phash64(decoded),
        "embedding": synth_embedding(image_id),
    }


EMB_DIM = 16


def synth_embedding(image_id: str) -> list[float]:
    """Deterministic per-document embedding seeded from image_id — the stub
    for the reference's 3072-d Azure-OpenAI vector stored per point
    (`/root/reference/clients/qdrant_client.py:130-136`; SURVEY.md §1.1
    marks the embedding column optional/stubbable). Values are float32 of
    ((md5-derived int % 2001) - 1000)/1000 so a SQL oracle reproduces every
    bit (mirror: ((CAST('0x'||substring(md5('emb:'||image_id||':'||j),1,15)
    AS BIGINT) % 2001 - 1000) / 1000.0)::FLOAT)."""
    import numpy as np

    return [
        float(
            np.float32(
                ((portable_hash64_py(f"{image_id}:{j}", salt="emb:") % 2001) - 1000)
                / 1000.0
            )
        )
        for j in range(EMB_DIM)
    ]


# ---------------------------------------------------------------------------
# distributed frontier generator (bench scale)
# ---------------------------------------------------------------------------


def synth_frontier_df(
    spark,
    n_urls: int,
    n_hosts: int = 1000,
    hot_host_pct: int = 30,
    seed: int = 42,
    partitions: int | None = None,
):
    """Distributed synthetic frontier: n_urls rows, ~hot_host_pct% on host0.

    Pure column expressions over spark.range — generation itself scales
    linearly with executors (no driver-side data). Columns: url, host,
    source_id, feed_rank, score, wave.
    """
    from pyspark.sql import functions as F

    df = spark.range(0, n_urls, 1, partitions or spark.sparkContext.defaultParallelism * 2)
    h = F.xxhash64(F.col("id"), F.lit(seed))
    host_idx = F.when(
        F.pmod(h, 100) < hot_host_pct, F.lit(0)
    ).otherwise(F.pmod(F.shiftright(h, 8), n_hosts - 1) + 1)
    host = F.concat(F.lit("host"), host_idx.cast("string"), F.lit(".example.com"))
    return df.select(
        F.concat(
            F.lit("https://"), host, F.lit("/articles/"), F.col("id").cast("string")
        ).alias("url"),
        host.alias("host"),
        F.pmod(F.shiftright(h, 16), 100).alias("source_id"),
        F.col("id").alias("feed_rank"),
        (F.pmod(F.shiftright(h, 24), 10000) / 10000.0).alias("score"),
        F.lit(0).alias("wave"),
    )
