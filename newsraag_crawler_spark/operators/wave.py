"""Crawl waves — the end-to-end pipeline (SURVEY.md §7.0).

One wave = one reference crawl cycle (`/root/reference/main.py:280,571-649`)
re-expressed as a batch dataflow:

    frontier → canonicalize → robots → seen-filter → priority+budget →
    (salt hot hosts) → FETCH (deterministic synthetic, Arrow-batched) →
    link-expand → commit corpus+seen+frontier snapshots (+ lineage)

Two drivers:
- ``run_equivalence_cycle`` — reference-exact membership/order
  (operators.frontier.reference_schedule) + fetch + snapshot commits. The
  parity surface for the oracle tests.
- ``run_scale_wave``        — the production path: per-host politeness,
  exact anti-join against the whole ``seen`` table, skew salting. No
  global order. (The Bloom two-phase filter, ``dedup.seen_filter_two_phase``,
  is used by the bench and the catalog, not here.)

The fetch derives all metadata columns JVM-side and runs only the pixel
codec in an Arrow-batched pandas UDF (bit-compatible with the oracle kernel
``sources.synthetic.fetch_payload_py``) — image bytes are born inside
executor Arrow batches and written straight to parquet, never shuffled
(SURVEY.md §7.3.4).
"""

from __future__ import annotations



import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urlnorm import surt_url, url_host
from .frontier import ScheduleResult, priority_frontier, reference_schedule
from .politeness import apply_robots, budget_waves, salt_hot_hosts, skew_census, split_wave


def _codec_udf():
    """Arrow-batched pixel codec: (fetch_hash, w, h, fmt) → struct(bytes,
    phash). The ONLY Python in the fetch stage — everything string/hash
    shaped is derived JVM-side in fetch_images. asNondeterministic forbids
    Catalyst from cloning the expensive UDF into pushed-down predicates."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<bytes:binary,phash:long>")
    def _px(fh: pd.Series, w: pd.Series, h: pd.Series, fmt: pd.Series) -> pd.DataFrame:
        from ..functions.images import encode_image, lossy_roundtrip, phash64, synth_image

        bs: list = []
        ps: list = []
        for hv, wv, htv, fv in zip(fh.values, w.values, h.values, fmt.values):
            img = synth_image(int(hv) & 0xFFFFFFFF, int(wv), int(htv))
            bs.append(encode_image(img, fv))
            # post-codec pixels: png is lossless (decode == img); lossy uses
            # the closed-form quantize round-trip (== lossy_decode∘encode,
            # verified against the oracle's real round-trip every gate run)
            ps.append(phash64(img if fv == "png" else lossy_roundtrip(img)))
        return pd.DataFrame({"bytes": bs, "phash": ps})

    return _px.asNondeterministic()


def fetch_images(scheduled: DataFrame, seed: int = 42, wave: int = 0) -> DataFrame:
    """Deterministic 'fetch' stage: scheduled (url, source_name, source_id,
    seq) → input_hint corpus rows.

    Split per VERDICT r3 #3: every metadata column — dims, fmt, caption,
    image_id, embedding — is pure hash math over (url, source_name), so it
    is derived as JVM column expressions (the same md5 derivations the
    DuckDB oracle `_sql_fetch_metadata` mirrors); only the pixel codec
    (synth → encode → phash) crosses into Python, carrying 4 narrow columns
    in and (bytes, phash) out. Bit-compatible with the oracle kernel
    ``sources.synthetic.fetch_payload_py`` (gated per-row by
    tests/test_wave_oracle.py).

    Expression-inlining note: each md5-derived column lives in its OWN
    projection and is referenced >1 time downstream, which stops Catalyst's
    CollapseProject from inlining (and thus re-evaluating) the hash chains
    — _fh feeds 5 columns, caption feeds image_id + output, image_id feeds
    16 embedding lanes + output.
    """
    from ..functions.hashing import article_id, portable_hash64
    from ..sources.synthetic import EMB_DIM, _TOPICS

    base = scheduled.select("url", "source_name", "source_id", "seq").withColumn(
        "_fh", portable_hash64(F.concat(F.lit("fetch:"), F.col("url")), salt=f"w{seed}:")
    )
    seg = F.regexp_extract(F.col("url"), "([^/]*)$", 1)
    topics = F.array(*[F.lit(t) for t in _TOPICS])
    meta = base.select(
        "*",
        (F.pmod(F.col("_fh"), F.lit(97)) + 32).cast("int").alias("w"),
        (F.pmod(F.shiftright(F.col("_fh"), 8), F.lit(97)) + 32).cast("int").alias("h"),
        F.when(F.pmod(F.shiftright(F.col("_fh"), 16), F.lit(10)) < 7, F.lit("png"))
        .otherwise(F.lit("jpeg"))
        .alias("fmt"),
        F.concat(
            F.element_at(topics, F.pmod(F.col("_fh"), F.lit(len(_TOPICS))).cast("int") + 1),
            F.lit(" Analysis: "),
            F.when(seg == "", F.lit("index")).otherwise(seg),
            F.lit(" report "),
            F.pmod(F.col("_fh"), F.lit(9973)).cast("string"),
        ).alias("caption"),
    )
    meta = meta.withColumn(
        "image_id", article_id(F.col("source_name"), F.col("caption"), F.col("url"))
    )
    emb = F.array(
        *[
            (
                (
                    F.pmod(
                        portable_hash64(
                            F.concat(F.col("image_id"), F.lit(f":{j}")), salt="emb:"
                        ),
                        F.lit(2001),
                    )
                    - 1000
                )
                / 1000.0
            ).cast("float")
            for j in range(EMB_DIM)
        ]
    )
    meta = meta.withColumn("embedding", emb)
    out = meta.withColumn(
        "_px", _codec_udf()(F.col("_fh"), F.col("w"), F.col("h"), F.col("fmt"))
    )
    return out.select(
        "image_id",
        F.col("_px.bytes").alias("bytes"),
        "w",
        "h",
        "fmt",
        "caption",
        F.col("_px.phash").alias("phash"),
        "embedding",
        "url",
        F.col("source_id").cast("int").alias("source_id"),
        F.col("seq").cast("long").alias("seq"),
        F.lit(wave).cast("int").alias("wave"),
    )


# F1 article-URL classifier regexes (html_template.py:362-395) shared by the
# link-discovery scan and the url_classifier catalog query
SKIP_URL_RE = "/(search|tag|category|login)/|\\.(jpg|png|gif|css|js)$|/api/"
KEEP_URL_RE = "/(news|article|story|docs)/|/20[0-9]{2}/"


def discover_links(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    max_links: int = 20,
    classify: bool = True,
) -> DataFrame:
    """S6 HTML index scan (reference html_template.py:92-156): fetched pages
    → candidate article links, as one relational pipeline:

        regexp_extract_all hrefs (document order preserved via posexplode)
        → resolve relative hrefs against the page URL (C1, Arrow-batched
          urljoin — the only Python step)
        → F1 skip/keep article classifier
        → within-page dedup keeping the FIRST occurrence (J4: the
          reference's dict.fromkeys order-preserving dedup)
        → per-page cap at max_links (W3: unique_links[:20]).

    Returns (page_url, link_pos, link) rows. Scale: everything before the
    per-page window is map-side; the window partitions by page URL, whose
    cardinality is the page count — no global shuffle hot spot.
    """
    from ..functions.urlnorm import resolve_urls

    hrefs = F.regexp_extract_all(
        F.col(html_col), F.lit('(?i)<a[^>]*href="([^"]+)"'), F.lit(1)
    )
    exploded = pages.select(
        F.col(url_col).alias("page_url"),
        F.posexplode(hrefs).alias("link_pos", "href"),
    )
    resolved = exploded.withColumn(
        "link", resolve_urls(F.col("page_url"), F.col("href"))
    )
    # dedup window BEFORE the classifier filter: a filter directly above the
    # resolver projection gets pushed into it, DUPLICATING the Python UDF
    # (Catalyst inlines per reference — observed as 2× ArrowEvalPython in the
    # plan); the window is a collapse barrier, so `link` materializes once.
    # Classifying after first-occurrence dedup is semantics-preserving: the
    # classifier is a pure per-link predicate.
    first = resolved.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("page_url", "link").orderBy("link_pos")
        ),
    ).filter(F.col("_rn") == 1)
    if classify:
        first = first.filter(
            ~F.col("link").rlike(SKIP_URL_RE) & F.col("link").rlike(KEEP_URL_RE)
        )
    capped = first.withColumn(
        "_k",
        F.row_number().over(Window.partitionBy("page_url").orderBy("link_pos")),
    ).filter(F.col("_k") <= max_links)
    return capped.select("page_url", "link_pos", "link")


def run_equivalence_cycle(
    candidates: DataFrame,
    sources: DataFrame,
    seen_table,
    corpus_table,
    wave: int,
    seed: int = 42,
    canonical: bool = False,
) -> ScheduleResult:
    """One reference-equivalent cycle with snapshot commits.

    seen_table/corpus_table: storage.snapshot_store.SnapshotTable (or None
    to skip persistence — pure computation for tests).
    """
    seen_df = seen_table.read() if seen_table is not None and seen_table.exists() else None
    sched = reference_schedule(
        candidates.filter(F.col("wave") == wave), sources, seen_df, canonical
    )
    corpus = fetch_images(sched.fetched, seed=seed, wave=wave)
    if corpus_table is not None:
        # write-then-count: count_rows reads the committed parquet footers, so
        # the expensive fetch UDF executes exactly once (a .count() on the
        # unpersisted mapInPandas output would run the whole fetch twice)
        corpus_table.append(
            corpus, lineage={"wave": wave, "op": "fetch"}, count_rows=True
        )
        seen_table.append(
            sched.attempted.select("key"),
            lineage={"wave": wave, "op": "mark_seen"},
        )
    return ScheduleResult(sched.attempted, corpus, sched.stats)


def _unhealthy_hosts(health_t, wave: int, streak: int = 3) -> DataFrame | None:
    """Hosts whose last ``streak`` waves (ending at wave-1) were ALL
    complete failures → skip next wave (F5 gate in the wave path, r4
    VERDICT #7). A host with no row in any of those waves (skipped, or no
    frontier rows) breaks the streak — that absence is the one-wave
    cooldown after which the host is re-probed. Output is a tiny dim
    (≤ #hosts with 3 bad waves) — broadcast by the caller."""
    if wave < streak or not health_t.exists():
        return None
    h = health_t.read().filter(
        (F.col("wave") >= wave - streak) & (F.col("wave") < wave)
    )
    return (
        h.withColumn(
            "_bad",
            ((F.col("failed") == F.col("attempted")) & (F.col("attempted") > 0))
            .cast("int"),
        )
        .groupBy("host")
        .agg(F.count("*").alias("_n"), F.min("_bad").alias("_allbad"))
        .filter((F.col("_n") >= streak) & (F.col("_allbad") == 1))
        .select("host")
    )


def run_crawl(
    spark,
    seeds: DataFrame,
    policies: DataFrame,
    tables: dict,
    max_waves: int = 10,
    links_per_page: int = 0,
    n_articles: int | None = None,
    seed: int = 42,
    failure_expr=None,
    max_attempts: int = 3,
    health_streak: int = 3,
) -> dict:
    """Multi-wave crawl driver with snapshot resume (SURVEY.md §7.1 M5).

    tables: {'frontier','corpus','seen','metrics'} → SnapshotTable, plus
    OPTIONAL 'dead' (dead-letter URLs after max_attempts) and 'health'
    (per-wave per-host attempted/failed counts). Each wave commits
    corpus+seen+frontier+metrics snapshots; a killed run resumes from the
    frontier table's lineage (wave number) — the Iceberg checkpoint
    pattern replacing the reference's heartbeat/seen-cache files
    (`main.py:262-268`, `seen_tracker.py:67-82`).

    With ``failure_expr`` set (see run_scale_wave), failed fetches re-enter
    the next wave's frontier with attempt+1 / carried_offset=0 and their
    progressive timeout budget, and dead-letter into tables['dead'] after
    ``max_attempts`` (reference R3 progressive timeouts as wave re-entry).

    With tables['health'] present, a host whose last ``health_streak``
    waves were all complete failures is SKIPPED for the next wave (its
    rows defer, unconsumed, to the following wave) — the reference's
    per-cycle unhealthy-source skip (`main.py:362-374`). A skipped wave
    leaves no health row, which breaks the streak, so the host is
    re-probed one wave later and resumes fully once a fetch succeeds.

    Returns {'waves_run': int, 'last_wave': int}.
    """
    from pyspark.sql import functions as F

    frontier_t, corpus_t, seen_t, metrics_t = (
        tables["frontier"], tables["corpus"], tables["seen"], tables["metrics"],
    )
    dead_t = tables.get("dead")
    health_t = tables.get("health")
    if frontier_t.exists():
        lin = frontier_t.current_lineage() or {}
        # loud resume (r4 VERDICT #9): a frontier snapshot whose lineage
        # lost the contract keys would otherwise silently restart at wave 0
        # and refetch everything
        if "next_wave" not in lin:
            raise ValueError(
                f"run_crawl resume: frontier table {frontier_t.path} current "
                f"lineage {lin!r} is missing 'next_wave' — refusing to guess "
                "(see storage.snapshot_store docstring for the per-table "
                "lineage schema)"
            )
        wave = int(lin["next_wave"])
        # idempotent resume: the frontier commit is the wave's commit point.
        # A crash AFTER corpus/seen appends but BEFORE the frontier overwrite
        # leaves orphaned corpus/seen/metrics snapshots for wave >= next_wave;
        # re-running the wave would then append duplicate corpus rows. Roll
        # those tables back to their last snapshot from a completed wave.
        for t in (corpus_t, seen_t, metrics_t, dead_t, health_t):
            if t is not None and t.exists():
                cur = t.current_lineage() or {}
                if int(cur.get("wave", -1)) >= wave:
                    t.rollback_where(lambda l, w=wave: int(l.get("wave", -1)) < w)
        frontier = frontier_t.read()
    else:
        wave = 0
        frontier = seeds
    waves_run = 0
    # row count of the current frontier, from commit lineage when known.
    # None = unknown (fresh seeds / resumed table without a count) → probe
    # once; afterwards every frontier overwrite records its count, so the
    # loop never issues a per-wave isEmpty() action.
    n_frontier: int | None = None
    if frontier_t.exists():
        lin_rows = (frontier_t.current_lineage() or {}).get("rows")
        n_frontier = int(lin_rows) if lin_rows is not None else None
    while wave < max_waves:
        if n_frontier == 0 or (n_frontier is None and frontier.isEmpty()):
            break
        seen = seen_t.read() if seen_t.exists() else None
        unhealthy = (
            _unhealthy_hosts(health_t, wave, streak=health_streak)
            if health_t is not None
            else None
        )
        out = run_scale_wave(
            frontier, policies, seen, wave=wave, seed=seed,
            links_per_page=links_per_page, n_articles=n_articles,
            failure_expr=failure_expr, max_attempts=max_attempts,
            unhealthy_hosts=unhealthy,
        )
        # slim commit frames (seen keys, next frontier) are written with a
        # data-derived file count (~2M rows ≈ 60-120 MB per key file, guide-
        # range output sizing) instead of the wave's full task parallelism:
        # the coalesce collapses 128 near-empty part files per commit — and
        # their per-commit footer reads plus the ever-growing multi-snapshot
        # read listing — into a handful. The corpus commit keeps the fetch
        # partitioning: coalescing it would serialize the codec stage.
        # unknown frontier size (fresh seeds without a probed count) keeps
        # the natural partitioning — never serialize a write blindly
        n_commit_parts = (
            max(1, min(1024, n_frontier // 2_000_000 + 1))
            if n_frontier is not None
            else None
        )

        def _sized(df_out):
            return df_out.coalesce(n_commit_parts) if n_commit_parts else df_out
        # write-then-count: the committed parquet footers give the row count,
        # so the fetch UDF (the costliest stage) executes exactly once
        # stats_cols → per-file manifests (north rule: per-partition lineage
        # = partition id + offset/key bounds): corpus files record id
        # bounds, seen files record their SURT-key range (each seen file is
        # a key shard; its bounds are what a membership probe prunes on)
        corpus_t.append(
            out["corpus"], lineage={"wave": wave}, count_rows=True,
            stats_cols=("image_id",),
        )
        n_fetched = int((corpus_t.current_lineage() or {}).get("rows", 0))
        seen_t.append(
            _sized(out["seen_additions"]), lineage={"wave": wave},
            stats_cols=("key",),
        )
        # spill ages: carried_offset = wave_offset - 1 (see priority_frontier)
        next_frontier = out["spill"].select(
            "url", "source_id", "feed_rank", "score", "attempt",
            (F.col("wave_offset") - 1).cast("int").alias("carried_offset"),
        ).withColumn("wave", F.lit(wave + 1))
        if "retry" in out:
            retries = out["retry"].select(
                "url", "source_id", "feed_rank", "score", "attempt",
                F.lit(0).cast("int").alias("carried_offset"),
                F.lit(wave + 1).alias("wave"),
            )
            next_frontier = next_frontier.unionByName(retries)
            if dead_t is not None:
                dead_t.append(
                    out["dead"].select("url", "host", "source_id", "attempt"),
                    lineage={"wave": wave},
                )
        if "deferred" in out:
            next_frontier = next_frontier.unionByName(
                out["deferred"].select(
                    "url", "source_id", "feed_rank", "score", "attempt",
                    "carried_offset",
                ).withColumn("wave", F.lit(wave + 1))
            )
        if "new_links" in out:
            fresh = out["new_links"].select(
                "url",
                F.lit(-1).alias("source_id"),
                F.xxhash64("url").alias("feed_rank"),
                F.lit(0.5).alias("score"),
                F.lit(0).alias("attempt"),
                F.lit(None).cast("int").alias("carried_offset"),
                F.lit(wave + 1).alias("wave"),
            )
            next_frontier = next_frontier.unionByName(fresh)
        # frontier files record score + carried politeness offset bounds —
        # the "frontier offset" half of the per-partition lineage contract
        # REBALANCE, not coalesce: next_frontier contains the link-dedup
        # exchange, and a coalesce would collapse that shuffle's reduce side
        # to the file count (measured: the whole dedup ran on 1 task); the
        # AQE rebalance keeps reduce parallelism and sizes output files by
        # the advisory partition size instead
        frontier_t.overwrite(
            next_frontier.hint("rebalance"),
            lineage={"next_wave": wave + 1, "prev_fetched": n_fetched},
            count_rows=True,
            stats_cols=("score", "carried_offset"),
        )
        if health_t is not None:
            health_t.append(
                out["host_attempts"].withColumn("wave", F.lit(wave)),
                lineage={"wave": wave},
            )
        metrics_t.append(
            spark.createDataFrame(
                [(wave, n_fetched)], "wave int, fetched long"
            ),
            lineage={"wave": wave},
        )
        # all consumers of this wave's cached frames have executed (corpus/
        # seen/frontier commits) — release the blocks or they accumulate
        # across waves (cached-block growth == the bench.py:229 disease)
        out["_due_cached"].unpersist()
        out["_frontier_cached"].unpersist()
        frontier = frontier_t.read()
        n_frontier = int((frontier_t.current_lineage() or {}).get("rows", 0))
        wave += 1
        waves_run += 1
    return {"waves_run": waves_run, "last_wave": wave - 1}


def run_scale_wave(
    frontier: DataFrame,
    policies: DataFrame,
    seen: DataFrame | None,
    wave: int,
    seed: int = 42,
    links_per_page: int = 0,
    n_articles: int | None = None,
    skew_threshold: int = 10_000,
    failure_expr=None,
    max_attempts: int = 3,
    unhealthy_hosts: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Production wave over a frontier (url, source_id, feed_rank, score
    [, attempt, carried_offset]).

    Returns dict of DataFrames: corpus (fetched rows), seen_additions,
    spill (budget-deferred frontier rows), blocked (robots), new_links
    (discovered frontier candidates, canonicalized + within-wave deduped),
    host_attempts (per-host attempted/failed counts for the health gate).
    All lazy — caller commits them to snapshot tables.

    Failure + retry (r4 VERDICT #6, reference progressive timeouts
    `crawl4ai_extractor.py:108,128-193`): ``failure_expr`` is an injectable
    boolean Column over the scheduled rows (may reference ``host``/``url``/
    ``attempt``) marking fetches that FAIL this wave — the synthetic stand-
    in for network errors. Failed rows skip the fetch and are split by
    operators.politeness.retry_schedule into ``retry`` (re-enter the next
    wave with attempt+1 and the progressive timeout budget) and ``dead``
    (exhausted max_attempts). Failed-but-retryable URLs are NOT marked
    seen — only successes and dead-letters are — so the seen anti-join
    cannot swallow a retry. failure_expr=None keeps the zero-overhead
    no-failure path (bench/production default: real fetch errors would
    surface as a success column from the fetch stage itself).

    Health gate (r4 VERDICT #7, reference `main.py:362-374` skips
    unhealthy sources per cycle): ``unhealthy_hosts`` (tiny dim: host) is
    anti-joined out BEFORE robots/seen work; skipped rows come back as
    ``deferred`` so they re-enter the next wave's frontier unconsumed.
    """
    for col, default in (("attempt", F.lit(0)), ("carried_offset", F.lit(None).cast("int"))):
        if col not in frontier.columns:
            frontier = frontier.withColumn(col, default)
    # persist the canonicalized frontier: the surt/host/path regex trees are
    # referenced by the robots filter, the seen anti-join key, the dedup
    # repartition key and both window chains — predicate pushdown SUBSTITUTES
    # the full regex tree into each (measured ~1 ms/row executor time, ~7x
    # the single-evaluation cost; bench.py's wave avoids the same disease
    # with an eager checkpoint). The cache materializes each column once;
    # run_crawl releases the blocks with the wave's other cache handle.
    f = (
        frontier.withColumn("surt_url", surt_url(F.col("url")))
        .withColumn("host", url_host(F.col("url")))
        .withColumn(
            "path", F.regexp_extract(F.col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
        )
        .persist()
    )
    out: dict[str, DataFrame] = {}
    if unhealthy_hosts is not None:
        dim = F.broadcast(unhealthy_hosts.select("host"))
        out["deferred"] = f.join(dim, "host", "left_semi")
        f = f.join(dim, "host", "left_anti")
    allowed, blocked = apply_robots(f, policies)
    if seen is not None:
        allowed = allowed.join(
            seen.select(F.col("key").alias("surt_url")), "surt_url", "left_anti"
        )
    # within-wave dedup on the canonical key: first by (score desc, rank)
    from .dedup import exact_dedup

    # EXPLICIT partition counts on the two window exchanges (dedup key,
    # then host): AQE coalesces these byte-small shuffles down to a
    # defaultParallelism-derived handful (measured 9 partitions at
    # local[8]), serializing the window sorts into straggler rounds. The
    # explicit hash partitioning satisfies each window's required
    # distribution, so no additional exchange is introduced — same shuffle
    # count, full parallelism.
    n_wave_parts = frontier.sparkSession.sparkContext.defaultParallelism * 4
    allowed = exact_dedup(
        allowed.repartition(n_wave_parts, F.col("surt_url")),
        ["surt_url"], ["feed_rank", "url"],
    )
    ranked = priority_frontier(
        allowed.repartition(n_wave_parts, F.col("host")), rank_col="feed_rank"
    )
    # census, salting, seen_additions, fetch AND the spill commit all consume
    # branches of `budgeted`; persist it (not just `due`) so the upstream
    # (canonicalize → robots → seen filter → windows) runs once per wave —
    # persisting only the due branch left the frontier commit's spill filter
    # re-executing the whole chain a second time per wave
    budgeted = budget_waves(ranked, policies).persist()
    due, spill = split_wave(budgeted)
    if failure_expr is None:
        due_ok = due
        seen_keys = due.select("surt_url")
        host_attempts = due.groupBy("host").agg(
            F.count("*").alias("attempted"), F.lit(0).cast("long").alias("failed")
        )
    else:
        from .politeness import retry_schedule

        attempted = due.withColumn("success", ~failure_expr)
        succeeded, retry, dead = retry_schedule(attempted, max_attempts=max_attempts)
        due_ok = succeeded
        out["retry"] = retry
        out["dead"] = dead
        seen_keys = succeeded.select("surt_url").unionByName(dead.select("surt_url"))
        host_attempts = attempted.groupBy("host").agg(
            F.count("*").alias("attempted"),
            F.sum((~F.col("success")).cast("long")).alias("failed"),
        )
    census = skew_census(due_ok, threshold=skew_threshold)
    salted = salt_hot_hosts(due_ok, census)
    # politeness groups stay intact per host; fetch partitions by fetch_key.
    # EXPLICIT partition count: AQE coalesces byte-small shuffles to one
    # partition, which would serialize the compute-heavy fetch UDF — the
    # pre-fetch rows are tiny but each costs ~ms of codec work downstream.
    n_fetch_parts = frontier.sparkSession.sparkContext.defaultParallelism * 4
    scheduled = salted.repartition(n_fetch_parts, F.col("fetch_key")).withColumn(
        "source_name", F.concat(F.lit("src"), F.col("source_id").cast("string"))
    ).withColumn("seq", F.col("host_rank").cast("long"))
    corpus = fetch_images(scheduled, seed=seed, wave=wave)

    out.update({
        "corpus": corpus,
        "seen_additions": seen_keys.select(F.col("surt_url").alias("key")),
        "spill": spill,
        "blocked": blocked,
        "host_attempts": host_attempts,
        "due": due,
        # handles for the caller to unpersist once the wave's commits are
        # done (`budgeted` — due AND spill filter from it — and the
        # canonicalized frontier `f`)
        "_due_cached": budgeted,
        "_frontier_cached": f,
    })
    if links_per_page > 0:
        # deterministic synthetic link graph: page /articles/i links to
        # /articles/(i*7+j) mod N on the same host
        art = F.regexp_extract(F.col("url"), "/articles/([0-9]+)", 1).cast("long")
        n_mod = F.lit(n_articles or 1_000_000)
        # links come from FETCHED pages only: a failed fetch discovers nothing
        links = due_ok.select(
            "url",
            "host",
            F.explode(
                F.array(
                    *[
                        F.pmod(art * 7 + F.lit(j), n_mod)
                        for j in range(links_per_page)
                    ]
                )
            ).alias("to_art"),
        ).select(
            F.concat(
                F.lit("https://"), F.col("host"), F.lit("/articles/"),
                F.col("to_art").cast("string"),
            ).alias("url")
        )
        new = links.withColumn("surt_url", surt_url(F.col("url"))).dropDuplicates(
            ["surt_url"]
        )
        out["new_links"] = new
    return out
