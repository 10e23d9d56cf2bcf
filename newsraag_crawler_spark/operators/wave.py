"""Crawl waves — the end-to-end pipeline (SURVEY.md §7.0).

One wave = one reference crawl cycle (`/root/reference/main.py:280,571-649`)
re-expressed as a batch dataflow:

    frontier → canonicalize → robots → seen-filter → priority+budget →
    place by URL hash → FETCH (deterministic synthetic, Arrow-batched) →
    link-expand → commit corpus+seen+frontier snapshots (+ lineage)

Two drivers:
- ``run_equivalence_cycle`` — reference-exact membership/order
  (operators.frontier.reference_schedule) + fetch + snapshot commits. The
  parity surface for the oracle tests.
- ``run_scale_wave``        — the production path: per-host politeness,
  exact anti-join against the whole ``seen`` table, URL-hash fetch
  placement. No global order. (The Bloom two-phase filter,
  ``dedup.seen_filter_two_phase``, is used by the bench and the catalog,
  not here.)

The wave contract: ``run_scale_wave`` returns exactly the frames
``run_crawl`` commits, each in its committed schema — ``corpus``,
``seen_additions``, ``next_frontier``, ``dead``, ``host_attempts`` — plus
``due`` and the ``_cached`` handles to release. ``run_crawl`` only commits,
in the order corpus → seen → dead → health → metrics → frontier. The
frontier overwrite comes last because it is the wave's commit point: a
crash anywhere before it resumes by rolling the other tables back and
re-running the whole wave.

The fetch derives all metadata columns JVM-side and runs only the pixel
codec in an Arrow-batched pandas UDF (bit-compatible with the oracle kernel
``sources.synthetic.fetch_payload_py``) — image bytes are born inside
executor Arrow batches and written straight to parquet, never shuffled
(SURVEY.md §7.3.4).
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urlnorm import surt_url, url_host
from .dedup import exact_dedup
from .frontier import ScheduleResult, priority_frontier, reference_schedule
from .politeness import apply_robots, budget_waves, retry_schedule, split_wave


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
    (per-wave per-host attempted/failed counts). run_scale_wave builds each
    wave's frames; this loop only commits them, in the order corpus → seen
    → dead → health → metrics → frontier. The frontier overwrite is the
    wave's commit point: a killed run resumes from the frontier table's
    lineage (wave number) and rolls the other tables back to their last
    completed wave — the Iceberg checkpoint pattern replacing the
    reference's heartbeat/seen-cache files (`main.py:262-268`,
    `seen_tracker.py:67-82`).

    With ``failure_expr`` set (see run_scale_wave), failed fetches re-enter
    the next wave's frontier with attempt+1 and carried_offset=0, and
    dead-letter into tables['dead'] after ``max_attempts`` (reference R3
    progressive timeouts as wave re-entry). A retry's timeout budget is
    derived from its ``attempt`` through politeness.RETRY_TIMEOUTS_S; it is
    not carried as a frontier column.

    With tables['health'] present, a host whose last ``health_streak``
    waves were all complete failures is SKIPPED for the next wave (its
    rows defer, unconsumed, to the following wave) — the reference's
    per-cycle unhealthy-source skip (`main.py:362-374`). A skipped wave
    leaves no health row, which breaks the streak, so the host is
    re-probed one wave later and resumes fully once a fetch succeeds.

    ``policies`` is persisted for the duration of the call and released on
    return, unless the caller already cached it.

    Returns {'waves_run': int, 'last_wave': int}.
    """
    frontier_t, corpus_t, seen_t, metrics_t = (
        tables["frontier"], tables["corpus"], tables["seen"], tables["metrics"],
    )
    dead_t = tables.get("dead")
    health_t = tables.get("health")
    wave = 0
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
        # A crash before the frontier overwrite leaves orphaned corpus/seen/
        # dead/health/metrics snapshots for wave >= next_wave; re-running
        # the wave would then append duplicate rows. Roll those tables back
        # to their last snapshot from a completed wave.
        for t in (corpus_t, seen_t, metrics_t, dead_t, health_t):
            if t is not None and t.exists():
                cur = t.current_lineage() or {}
                if int(cur.get("wave", -1)) >= wave:
                    t.rollback_where(lambda l, w=wave: int(l.get("wave", -1)) < w)
    waves_run = 0
    # every wave broadcasts the policies dim twice (robots, budgets), and
    # each broadcast re-scans the caller's frame — Python tasks when it is
    # a local-data createDataFrame. Materialize it once per call; a frame
    # the caller cached is the caller's to release.
    owned = policies.storageLevel == StorageLevel.NONE
    if owned:
        policies = policies.persist()
    try:
        while wave < max_waves:
            # row count of the current frontier from its commit lineage; None =
            # unknown (fresh seeds / a table written without a count) → probe
            # once. Every overwrite below records its count, so the loop never
            # issues a per-wave isEmpty() action.
            if frontier_t.exists():
                rows = (frontier_t.current_lineage() or {}).get("rows")
                n_frontier = int(rows) if rows is not None else None
                if n_frontier == 0:
                    break
                frontier = frontier_t.read()
            else:
                n_frontier, frontier = None, seeds
            if n_frontier is None and frontier.isEmpty():
                break
            unhealthy = (
                _unhealthy_hosts(health_t, wave, streak=health_streak)
                if health_t is not None
                else None
            )
            out = run_scale_wave(
                frontier, policies, seen_t.read() if seen_t.exists() else None,
                wave=wave, seed=seed, links_per_page=links_per_page,
                n_articles=n_articles, failure_expr=failure_expr,
                max_attempts=max_attempts, unhealthy_hosts=unhealthy,
            )
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
            # the slim seen keys get a data-derived file count (~2M rows ≈
            # 60-120 MB per key file) instead of the wave's full task
            # parallelism: 128 near-empty part files per commit would each cost
            # a footer read on every later read. The corpus keeps the fetch
            # partitioning (a coalesce would serialize the codec stage), and an
            # unknown frontier size keeps the natural one.
            seen_add = out["seen_additions"]
            if n_frontier is not None:
                seen_add = seen_add.coalesce(max(1, min(1024, n_frontier // 2_000_000 + 1)))
            seen_t.append(seen_add, lineage={"wave": wave}, stats_cols=("key",))
            if dead_t is not None and failure_expr is not None:
                dead_t.append(out["dead"], lineage={"wave": wave})
            if health_t is not None:
                health_t.append(out["host_attempts"], lineage={"wave": wave})
            # one JVM row in one partition: a local-data createDataFrame
            # would spend a Python task per core on it
            metrics_t.append(
                spark.range(0, 1, 1, 1).select(
                    F.lit(wave).cast("int").alias("wave"),
                    F.lit(n_fetched).cast("long").alias("fetched"),
                ),
                lineage={"wave": wave},
            )
            # frontier files record score + carried politeness offset bounds —
            # the "frontier offset" half of the per-partition lineage contract
            # REBALANCE, not coalesce: next_frontier contains the link-dedup
            # exchange, and a coalesce would collapse that shuffle's reduce side
            # to the file count (measured: the whole dedup ran on 1 task); the
            # AQE rebalance keeps reduce parallelism and sizes output files by
            # the advisory partition size instead
            frontier_t.overwrite(
                out["next_frontier"].hint("rebalance"),
                lineage={"next_wave": wave + 1, "prev_fetched": n_fetched},
                count_rows=True,
                stats_cols=("score", "carried_offset"),
            )
            # all consumers of this wave's cached frames have executed — release
            # the blocks or they accumulate across waves (cached-block growth ==
            # the bench.py:229 disease)
            for df in out["_cached"]:
                df.unpersist()
            wave += 1
            waves_run += 1
    finally:
        if owned:
            policies.unpersist()
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
) -> dict:
    """Production wave over a frontier (url, source_id, feed_rank, score
    [, attempt, carried_offset]).

    Returns every frame run_crawl commits, already in its committed schema
    (all lazy):

    - ``corpus``: fetched rows;
    - ``seen_additions``: (key) of the succeeded and dead-lettered rows;
    - ``next_frontier``: the frontier table's rows for wave ``wave + 1``;
    - ``dead``: (url, host, source_id, attempt) of exhausted retries;
    - ``host_attempts``: (host, attempted, failed, wave) for the health gate;
    - ``due``: the rows scheduled this wave;
    - ``_cached``: the persisted frames, for the caller to unpersist once
      the wave's commits have run.

    The next frontier is the union of: budget-spilled rows (carried_offset
    = wave_offset - 1, see priority_frontier), retries (carried_offset 0),
    health-deferred rows (unchanged) and, with ``links_per_page`` > 0,
    links discovered on the fetched pages (canonicalized, within-wave
    deduped).

    Fetch placement: the due rows go to one fetch task per core by URL
    hash. Per-host budgets are assigned before the fetch (SURVEY.md §7.3
    item 3), so the fetch needs no host grouping and a hot host cannot
    serialize a partition; the skew census and hot-host salting
    (operators.politeness) are no longer needed here. ``skew_threshold`` is
    ignored: it stays only because perfbench reads its default, and
    removing it waits for a benchmark change.

    Failure + retry (r4 VERDICT #6, reference progressive timeouts
    `crawl4ai_extractor.py:108,128-193`): ``failure_expr`` is an injectable
    boolean Column over the scheduled rows (may reference ``host``/``url``/
    ``attempt``) marking fetches that FAIL this wave — the synthetic stand-
    in for network errors. Failed rows skip the fetch and are split by
    operators.politeness.retry_schedule into retries (next wave, attempt+1)
    and ``dead`` (exhausted max_attempts). Failed-but-retryable URLs are
    NOT marked seen — only successes and dead-letters are — so the seen
    anti-join cannot swallow a retry. With failure_expr=None every row
    succeeds; Catalyst folds the constant, so the retry and dead branches
    are empty relations that cost no job.

    Health gate (r4 VERDICT #7, reference `main.py:362-374` skips
    unhealthy sources per cycle): ``unhealthy_hosts`` (tiny dim: host) is
    anti-joined out BEFORE robots/seen work; the skipped rows re-enter the
    next frontier unconsumed.
    """
    for col, default in (("attempt", F.lit(0)), ("carried_offset", F.lit(None).cast("int"))):
        if col not in frontier.columns:
            frontier = frontier.withColumn(col, default)
    # persist the canonicalized frontier: the surt/host/path regex trees are
    # referenced by the robots filter, the seen anti-join key, the dedup
    # repartition key and both window chains — predicate pushdown SUBSTITUTES
    # the full regex tree into each (measured ~1 ms/row executor time, ~7x
    # the single-evaluation cost; bench.py's wave avoids the same disease
    # with an eager checkpoint). The cache materializes each column once.
    canon = (
        frontier.withColumn("surt_url", surt_url(F.col("url")))
        .withColumn("host", url_host(F.col("url")))
        .withColumn(
            "path", F.regexp_extract(F.col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
        )
        .persist()
    )
    dim = None if unhealthy_hosts is None else F.broadcast(unhealthy_hosts.select("host"))
    f = canon if dim is None else canon.join(dim, "host", "left_anti")
    allowed, _ = apply_robots(f, policies)
    if seen is not None:
        allowed = allowed.join(
            seen.select(F.col("key").alias("surt_url")), "surt_url", "left_anti"
        )
    # EXPLICIT partition counts on the two window exchanges (dedup key,
    # then host): AQE coalesces these byte-small shuffles down to a
    # defaultParallelism-derived handful (measured 9 partitions at
    # local[8]), serializing the window sorts into straggler rounds. The
    # explicit hash partitioning satisfies each window's required
    # distribution, so no additional exchange is introduced — same shuffle
    # count, full parallelism. Both stages run on the JVM only, so their
    # 4x-cores task count pays no Python worker cost.
    cores = frontier.sparkSession.sparkContext.defaultParallelism
    n_parts = cores * 4
    # within-wave dedup on the canonical key: first by (score desc, rank)
    allowed = exact_dedup(
        allowed.repartition(n_parts, F.col("surt_url")),
        ["surt_url"], ["feed_rank", "url"],
    )
    ranked = priority_frontier(
        allowed.repartition(n_parts, F.col("host")), rank_col="feed_rank"
    )
    # host_attempts, seen_additions, fetch AND the spill commit all consume
    # branches of `budgeted`; persist it (not just `due`) so the upstream
    # (canonicalize → robots → seen filter → windows) runs once per wave —
    # persisting only the due branch left the frontier commit's spill filter
    # re-executing the whole chain a second time per wave
    budgeted = budget_waves(ranked, policies).persist()
    due, spill = split_wave(budgeted)
    attempted = due.withColumn(
        "success", F.lit(True) if failure_expr is None else ~failure_expr
    )
    succeeded, retry, dead = retry_schedule(attempted, max_attempts=max_attempts)
    host_attempts = attempted.groupBy("host").agg(
        F.count("*").alias("attempted"),
        F.sum((~F.col("success")).cast("long")).alias("failed"),
    ).withColumn("wave", F.lit(wave))
    # one fetch task per core (see "Fetch placement" above): every Python
    # task pays a fixed worker cost (BENCH/NOTES.md), so more tasks than
    # cores only add that cost. The explicit count stops AQE from coalescing
    # the codec stage, whose rows are byte-small but each cost ~ms of codec
    # work.
    scheduled = succeeded.repartition(cores, F.xxhash64("url")).withColumn(
        "source_name", F.concat(F.lit("src"), F.col("source_id").cast("string"))
    ).withColumn("seq", F.col("host_rank").cast("long"))

    carry = ("url", "source_id", "feed_rank", "score", "attempt")
    carried = [
        spill.select(*carry, (F.col("wave_offset") - 1).cast("int").alias("carried_offset")),
        retry.select(*carry, F.lit(0).cast("int").alias("carried_offset")),
    ]
    if dim is not None:
        carried.append(canon.join(dim, "host", "left_semi").select(*carry, "carried_offset"))
    if links_per_page > 0:
        # deterministic synthetic link graph: page /articles/i links to
        # /articles/(i*7+j) mod N on the same host
        art = F.regexp_extract(F.col("url"), "/articles/([0-9]+)", 1).cast("long")
        n_mod = F.lit(n_articles or 1_000_000)
        # links come from FETCHED pages only: a failed fetch discovers nothing
        links = succeeded.select(
            "host",
            F.explode(
                F.array(*[F.pmod(art * 7 + F.lit(j), n_mod) for j in range(links_per_page)])
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
        carried.append(new.select(
            "url",
            F.lit(-1).alias("source_id"),
            F.xxhash64("url").alias("feed_rank"),
            F.lit(0.5).alias("score"),
            F.lit(0).alias("attempt"),
            F.lit(None).cast("int").alias("carried_offset"),
        ))
    next_frontier = reduce(DataFrame.unionByName, carried)
    return {
        "corpus": fetch_images(scheduled, seed=seed, wave=wave),
        "seen_additions": succeeded.select(F.col("surt_url").alias("key")).unionByName(
            dead.select(F.col("surt_url").alias("key"))
        ),
        "next_frontier": next_frontier.withColumn("wave", F.lit(wave + 1)),
        "dead": dead.select("url", "host", "source_id", "attempt"),
        "host_attempts": host_attempts,
        "due": due,
        "_cached": (budgeted, canon),
    }
