"""The crawl workloads: the shipped ``operators.wave.run_crawl`` timed over
``storage.snapshot_store.SnapshotTable``s, its committed output checked,
and a traced composition of the same public functions for per-layer
numbers."""

from __future__ import annotations

import inspect
import json
import os
import random
import shutil
import time
from collections import Counter

import pandas as pd
from pyspark.sql import functions as F

from newsraag_crawler_spark.functions.urlnorm import host_py, surt_url, url_host
from newsraag_crawler_spark.operators.wave import run_crawl, run_scale_wave
from newsraag_crawler_spark.sources.synthetic import fetch_payload_py
from newsraag_crawler_spark.storage.snapshot_store import SnapshotTable

from harness import Spans, group_stage_ids, job_group
from inputs import DEFAULT_BUDGET, CrawlInput, Funnel, failure_expr, oracle_wave

TABLES = ("frontier", "corpus", "seen", "metrics", "dead", "health")
SEED = 42  # the crawl's fetch seed (run_crawl's default); inputs vary by --seed
PAYLOAD_SAMPLE = 12


def policies_df(spark, inp: CrawlInput):
    return spark.createDataFrame(
        [(p["host"], p["crawl_delay_s"], p["per_wave_budget"], p["robots_disallow"])
         for p in inp.policies],
        "host string, crawl_delay_s double, per_wave_budget int, robots_disallow array<string>",
    )


class Workspace:
    """Input files and table directories of one run. The frontier is
    written once to parquet; the pre-seeded seen table is written once as
    a template and copied for every crawl, so each timed crawl starts
    from the same committed state."""

    def __init__(self, spark, root: str, inp: CrawlInput):
        self.spark, self.root, self.inp = spark, root, inp
        self.frontier_path = os.path.join(root, "input", "frontier.parquet")
        os.makedirs(os.path.dirname(self.frontier_path), exist_ok=True)
        inp.frontier.to_parquet(self.frontier_path, index=False)
        self.template = os.path.join(root, "template")
        if inp.seen_snapshots:
            seen = SnapshotTable(spark, os.path.join(self.template, "seen"))
            for i, keys in enumerate(inp.seen_snapshots):
                df = spark.createDataFrame(pd.DataFrame({"key": keys}))
                seen.append(df, lineage={"wave": -1, "preseed": i}, stats_cols=("key",))
        self.policies = policies_df(spark, inp)
        self._n = 0

    def seeds(self):
        return self.spark.read.parquet(self.frontier_path)

    def fresh_tables(self, spans: Spans | None = None) -> dict:
        """The six tables of a new crawl; with ``spans``, their calls are
        timed (TimedTable)."""
        self._n += 1
        base = os.path.join(self.root, f"crawl-{self._n}")
        if os.path.isdir(self.template):
            shutil.copytree(self.template, base)
        return {
            k: TimedTable(self.spark, os.path.join(base, k), spans) if spans
            else SnapshotTable(self.spark, os.path.join(base, k))
            for k in TABLES
        }

    def run_kwargs(self) -> dict:
        inp = self.inp
        kw = {"links_per_page": inp.links_per_page, "n_articles": inp.n_articles,
              "max_attempts": inp.max_attempts, "health_streak": inp.health_streak,
              "seed": SEED}
        if inp.failures:
            kw["failure_expr"] = failure_expr()
        return kw


def manifest(table: SnapshotTable) -> list[dict]:
    """The table's snapshots with their lineage (the on-disk manifest
    format documented in storage.snapshot_store)."""
    path = os.path.join(table.path, "manifest.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)["snapshots"]


# ---------------------------------------------------------------------------
# timed operations (the shipped path, untraced)
# ---------------------------------------------------------------------------


def timed_crawl(ws: Workspace, calls: tuple[int, ...]) -> tuple[dict, list[float]]:
    """One crawl over fresh tables as ``len(calls)`` run_crawl calls, each
    resuming from the tables' lineage up to wave number calls[i]. Returns
    the tables and each call's wall time."""
    tables = ws.fresh_tables()
    seeds, kw = ws.seeds(), ws.run_kwargs()
    walls = []
    for max_waves in calls:
        t0 = time.perf_counter()
        run_crawl(ws.spark, seeds, ws.policies, tables, max_waves=max_waves, **kw)
        walls.append(time.perf_counter() - t0)
    return tables, walls


# ---------------------------------------------------------------------------
# output checks (outside the timed spans)
# ---------------------------------------------------------------------------


def check_crawl(ws: Workspace, tables: dict, oracle0: Funnel, n_waves: int,
                full: bool = True) -> list[str]:
    """Output checks of one committed crawl; returns the failures. Every
    crawl is checked against the oracle's wave-0 funnel; ``full`` adds the
    budget, seen-before and payload checks (the crawls of one run share
    their input, so the first crawl gets them)."""
    inp = ws.inp
    errors = []
    corpus = tables["corpus"].read()
    rows = corpus.select("url", "wave").collect()
    urls = [r.url for r in rows]
    if len(set(urls)) != len(urls):
        errors.append("a corpus URL was committed twice")
    w0 = {r.url for r in rows if r.wave == 0}
    if w0 != oracle0.fetched_urls:
        errors.append(f"wave 0 fetched {len(w0)} rows, oracle {oracle0.fetched}")
    frontier_lin = {s["lineage"].get("next_wave"): s["lineage"] for s in manifest(tables["frontier"])}
    if max((k for k in frontier_lin if k is not None), default=0) != n_waves:
        errors.append(f"crawl did not reach wave {n_waves}")
    dead0 = _rows_added(tables["dead"], 0)
    committed = {
        "fetched": len(w0),
        "dead": dead0,
        # next frontier = spill + retry + newly discovered links
        "spill+retry": frontier_lin.get(1, {}).get("rows", 0) - oracle0.new_links,
    }
    n_out = (oracle0.deferred + oracle0.blocked + oracle0.seen + oracle0.dups
             + committed["fetched"] + committed["dead"] + committed["spill+retry"])
    if n_out != oracle0.n_in or not oracle0.conserved():
        errors.append(f"wave 0 funnel not conserved: {committed} vs {oracle0.buckets()}")
    if not full:
        return errors
    budget = {p["host"]: p["per_wave_budget"] for p in inp.policies}
    per_host = Counter((host_py(r.url), r.wave) for r in rows)
    if any(n > budget.get(h, DEFAULT_BUDGET) for (h, _), n in per_host.items()):
        errors.append("a host fetched more rows in one wave than its per_wave_budget")
    errors += _check_not_seen_before(tables, corpus)
    errors += _check_payloads(corpus, urls, inp)
    return errors


def _rows_added(table: SnapshotTable, wave: int) -> int:
    """Rows the table's snapshot of ``wave`` appended (0 if none)."""
    snaps = manifest(table)
    ids = [s["id"] for s in snaps if s["lineage"].get("wave") == wave]
    if not ids:
        return 0
    prev = [s["id"] for s in snaps if s["id"] < ids[0]]
    before = table.read(version=max(prev)).count() if prev else 0
    return table.read(version=ids[0]).count() - before


def _check_not_seen_before(tables: dict, corpus) -> list[str]:
    """No corpus row of wave w has a key that was in `seen` before wave w."""
    snaps = manifest(tables["seen"])
    keyed = corpus.select(surt_url(F.col("url")).alias("key"), "wave")
    bad = 0
    for w in sorted({r.wave for r in corpus.select("wave").distinct().collect()}):
        before = [s["id"] for s in snaps if int(s["lineage"].get("wave", -1)) < w]
        if not before:
            continue
        seen = tables["seen"].read(version=max(before))
        bad += keyed.filter(F.col("wave") == w).join(seen, "key", "left_semi").count()
    return [f"{bad} corpus rows were already in seen"] if bad else []


def _check_payloads(corpus, urls: list[str], inp: CrawlInput) -> list[str]:
    """A sample of committed corpus rows equals the fetch kernel's output."""
    if not urls:
        return ["empty corpus"]
    picked = random.Random(7).sample(sorted(urls), min(PAYLOAD_SAMPLE, len(urls)))
    sample = corpus.filter(F.col("url").isin(picked)).collect()
    errors = []
    for r in sample:
        want = fetch_payload_py(r.url, f"src{r.source_id}", seed=SEED)
        got = {k: r[k] for k in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")}
        got["bytes"] = bytes(got["bytes"])
        if any(got[k] != want[k] for k in got) or list(r.embedding) != want["embedding"]:
            errors.append(f"payload of {r.url} differs from fetch_payload_py")
    return errors


def shape_check(inputs_fn, seed: int, oracle: Funnel) -> list[str]:
    """The next seed must give a workload of the same shape: each funnel
    bucket's share of the frontier within 5 points of this seed's."""
    other = oracle_wave(inputs_fn(seed + 1))
    errors = []
    for k, v in oracle.buckets().items():
        a, b = v / oracle.n_in, other.buckets()[k] / other.n_in
        if abs(a - b) > 0.05:
            errors.append(f"seed {seed + 1} {k} share {b:.3f} vs {a:.3f}")
    return errors


# ---------------------------------------------------------------------------
# traced composition
# ---------------------------------------------------------------------------


class TimedTable(SnapshotTable):
    """SnapshotTable whose public calls are recorded as snapshot_store
    spans (the benchmark times the calls; the package is unchanged)."""

    def __init__(self, spark, path: str, spans: Spans):
        super().__init__(spark, path)
        self.spans = spans

    def _timed(self, op: str):
        name = f"{os.path.basename(self.path)}_{op}"
        if name not in ("corpus_append", "seen_append", "frontier_overwrite"):
            name = "aux_append"  # dead, health and metrics
        return self.spans.span(f"snapshot_store.{name}_s")

    def append(self, df, *a, **kw):
        with self._timed("append"):
            return super().append(df, *a, **kw)

    def overwrite(self, df, *a, **kw):
        with self._timed("overwrite"):
            return super().overwrite(df, *a, **kw)

    def read(self, *a, **kw):
        with self.spans.span("snapshot_store.read_s"):
            return super().read(*a, **kw)


def traced_wave(spark, frontier, policies, seen, wave: int, tables: dict,
                spans: Spans, sm, n_frontier: int | None, unhealthy=None,
                links_per_page=0, n_articles=None, failure=None, max_attempts=3,
                seed=SEED) -> dict:
    """One wave composed from the public functions run_scale_wave uses, in
    its order, each layer materialized before the next is timed; then
    run_crawl's commits. Returns the wave's funnel counts."""
    from pyspark import StorageLevel

    from newsraag_crawler_spark.operators.dedup import (
        bloom_params,
        build_bloom_shards,
        exact_dedup,
        probe_bloom,
        seen_filter_two_phase,
    )
    from newsraag_crawler_spark.operators.frontier import priority_frontier
    from newsraag_crawler_spark.operators.politeness import (
        apply_robots,
        budget_waves,
        retry_schedule,
        salt_hot_hosts,
        skew_census,
        split_wave,
    )
    from newsraag_crawler_spark.operators.wave import fetch_images

    held = []

    def keep(df):
        """Materialize a layer's output (released when the wave ends)."""
        df = df.persist()
        held.append(df)
        return df, df.count()

    c: dict[str, int] = {}
    for col, default in (("attempt", F.lit(0)), ("carried_offset", F.lit(None).cast("int"))):
        if col not in frontier.columns:
            frontier = frontier.withColumn(col, default)
    with spans.span("urlnorm.canonicalize_s"):
        f, c["n_in"] = keep(
            frontier.withColumn("surt_url", surt_url(F.col("url")))
            .withColumn("host", url_host(F.col("url")))
            .withColumn("path", F.regexp_extract(
                F.col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1))
        )
    deferred = None
    c["deferred"] = 0
    if unhealthy is not None:
        dim = F.broadcast(unhealthy.select("host"))
        deferred, c["deferred"] = keep(f.join(dim, "host", "left_semi"))
        f = f.join(dim, "host", "left_anti")
    with spans.span("politeness.robots_s"):
        allowed, n_allowed = keep(apply_robots(f, policies)[0])
    c["blocked"] = c["n_in"] - c["deferred"] - n_allowed
    n_fresh = n_allowed
    if seen is not None:
        with spans.span("dedup.seen_antijoin_s"):
            fresh, n_fresh = keep(allowed.join(
                seen.select(F.col("key").alias("surt_url")), "surt_url", "left_anti"))
        # the Bloom two-phase filter (ROADMAP item 1) on the same input, off
        # the wave's data path: build cost, probe+confirm cost, and how many
        # Bloom positives the confirm join had to check
        n_seen = seen.count()
        n_shards = 16
        n_bits, n_hashes = bloom_params(max(n_seen // n_shards, 1))
        keys = seen.select("key")
        with spans.span("dedup.bloom_build_s"):
            shards, _ = keep(build_bloom_shards(
                keys, n_shards=n_shards, n_bits=n_bits, n_hashes=n_hashes))
        with spans.span("dedup.two_phase_s"):
            n_two_phase = seen_filter_two_phase(
                allowed.withColumnRenamed("surt_url", "key"), seen, shards,
                n_shards=n_shards, n_bits=n_bits, n_hashes=n_hashes,
            ).count()
        positive = probe_bloom(
            allowed.select(F.col("surt_url").alias("key")), shards,
            n_shards=n_shards, n_bits=n_bits, n_hashes=n_hashes,
        ).filter("maybe_seen").count()
        spans.count("dedup.seen_table_rows", n_seen)
        spans.count("dedup.bloom_positive", positive)
        c["two_phase_mismatch"] = int(n_two_phase != n_fresh)
        c["bloom_positive"] = positive
        allowed = fresh
    c["seen"] = n_allowed - n_fresh
    n_parts = spark.sparkContext.defaultParallelism * 4
    with spans.span("dedup.exact_dedup_s"):
        deduped, n_dedup = keep(exact_dedup(
            allowed.repartition(n_parts, F.col("surt_url")), ["surt_url"], ["feed_rank", "url"]))
    c["dups"] = n_fresh - n_dedup
    with spans.span("frontier.rank_s"):
        ranked, _ = keep(priority_frontier(
            deduped.repartition(n_parts, F.col("host")), rank_col="feed_rank"))
    with spans.span("politeness.budget_s"):
        budgeted, _ = keep(budget_waves(ranked, policies))
    due, spill = split_wave(budgeted)
    c["spill"] = spill.count()
    out = {}
    if failure is None:
        due_ok = due
        seen_keys = due.select("surt_url")
        host_attempts = due.groupBy("host").agg(
            F.count("*").alias("attempted"), F.lit(0).cast("long").alias("failed"))
        c["retry"] = c["dead"] = 0
    else:
        attempted = due.withColumn("success", ~failure)
        due_ok, retry, dead = retry_schedule(attempted, max_attempts=max_attempts)
        retry, c["retry"] = keep(retry)
        dead, c["dead"] = keep(dead)
        out["retry"], out["dead"] = retry, dead
        seen_keys = due_ok.select("surt_url").unionByName(dead.select("surt_url"))
        host_attempts = attempted.groupBy("host").agg(
            F.count("*").alias("attempted"),
            F.sum((~F.col("success")).cast("long")).alias("failed"))
    threshold = inspect.signature(run_scale_wave).parameters["skew_threshold"].default
    with spans.span("politeness.salt_s"):
        census, n_salted = keep(skew_census(due_ok, threshold=threshold))
        scheduled, n_sched = keep(
            salt_hot_hosts(due_ok, census).repartition(n_parts, F.col("fetch_key"))
            .withColumn("source_name", F.concat(F.lit("src"), F.col("source_id").cast("string")))
            .withColumn("seq", F.col("host_rank").cast("long")))
    spans.count("politeness.salted_hosts", n_salted)
    c["fetched"] = n_sched
    corpus = fetch_images(scheduled, seed=seed, wave=wave)
    meta_cols = [x for x in corpus.columns if x not in ("bytes", "phash")]
    with spans.span("wave.fetch_meta_s"):
        corpus.select(*meta_cols).write.format("noop").mode("overwrite").save()
    group = f"perfbench-fetch-{wave}"
    with job_group(spark, group), spans.span("wave.fetch_full_s"):
        corpus = corpus.persist(StorageLevel.DISK_ONLY)
        corpus.write.format("noop").mode("overwrite").save()
    held.append(corpus)
    spans.counts["wave.fetch_task_skew"] = max(
        spans.counts.get("wave.fetch_task_skew", 0.0),
        sm.task_skew(group_stage_ids(spark, group)),
    )
    sizes = corpus.agg(F.sum(F.length("bytes")), F.sum(F.col("w") * F.col("h"))).first()
    payload, pixels = int(sizes[0] or 0), int(sizes[1] or 0)
    spans.count("wave.payload_bytes", payload)
    with spans.span("wave.fetch_passthrough_s"):
        _passthrough(fetch_images(scheduled, seed=seed, wave=wave).select(*meta_cols),
                     payload / max(pixels, 1)).write.format("noop").mode("overwrite").save()

    # run_crawl's commits, in its order
    n_commit_parts = (max(1, min(1024, n_frontier // 2_000_000 + 1))
                      if n_frontier is not None else None)

    def sized(df):
        return df.coalesce(n_commit_parts) if n_commit_parts else df

    tables["corpus"].append(corpus, lineage={"wave": wave}, count_rows=True,
                            stats_cols=("image_id",))
    n_fetched = int((tables["corpus"].current_lineage() or {}).get("rows", 0))
    tables["seen"].append(sized(seen_keys.select(F.col("surt_url").alias("key"))),
                          lineage={"wave": wave}, stats_cols=("key",))
    nxt = spill.select("url", "source_id", "feed_rank", "score", "attempt",
                       (F.col("wave_offset") - 1).cast("int").alias("carried_offset")
                       ).withColumn("wave", F.lit(wave + 1))
    if "retry" in out:
        nxt = nxt.unionByName(out["retry"].select(
            "url", "source_id", "feed_rank", "score", "attempt",
            F.lit(0).cast("int").alias("carried_offset"), F.lit(wave + 1).alias("wave")))
        tables["dead"].append(out["dead"].select("url", "host", "source_id", "attempt"),
                              lineage={"wave": wave})
    if deferred is not None:
        nxt = nxt.unionByName(deferred.select(
            "url", "source_id", "feed_rank", "score", "attempt", "carried_offset"
        ).withColumn("wave", F.lit(wave + 1)))
    c["new_links"] = 0
    if links_per_page > 0:
        with spans.span("wave.links_s"):
            art = F.regexp_extract(F.col("url"), "/articles/([0-9]+)", 1).cast("long")
            links = due_ok.select("url", "host", F.explode(F.array(*[
                F.pmod(art * 7 + F.lit(j), F.lit(n_articles or 1_000_000))
                for j in range(links_per_page)])).alias("to_art")).select(
                F.concat(F.lit("https://"), F.col("host"), F.lit("/articles/"),
                         F.col("to_art").cast("string")).alias("url"))
            new, c["new_links"] = keep(
                links.withColumn("surt_url", surt_url(F.col("url"))).dropDuplicates(["surt_url"]))
        nxt = nxt.unionByName(new.select(
            "url", F.lit(-1).alias("source_id"), F.xxhash64("url").alias("feed_rank"),
            F.lit(0.5).alias("score"), F.lit(0).alias("attempt"),
            F.lit(None).cast("int").alias("carried_offset"), F.lit(wave + 1).alias("wave")))
    tables["frontier"].overwrite(nxt.hint("rebalance"),
                                 lineage={"next_wave": wave + 1, "prev_fetched": n_fetched},
                                 count_rows=True, stats_cols=("score", "carried_offset"))
    tables["health"].append(host_attempts.withColumn("wave", F.lit(wave)), lineage={"wave": wave})
    tables["metrics"].append(spark.createDataFrame([(wave, n_fetched)], "wave int, fetched long"),
                             lineage={"wave": wave})
    for df in held:
        df.unpersist()
    c["committed_fetched"] = n_fetched
    return c


def _passthrough(meta, bytes_per_pixel: float):
    """meta plus a pandas UDF over the codec's four input columns that
    returns bytes of the codec's average size and does no codec work: the
    Arrow transfer cost without the compute."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<bytes:binary,phash:long>")
    def _px(fh: pd.Series, w: pd.Series, h: pd.Series, fmt: pd.Series) -> pd.DataFrame:
        sizes = (w.to_numpy() * h.to_numpy() * bytes_per_pixel).astype(int)
        return pd.DataFrame({"bytes": [bytes(int(s)) for s in sizes], "phash": fh})

    px = _px.asNondeterministic()(F.xxhash64("url"), F.col("w"), F.col("h"), F.col("fmt"))
    return meta.withColumn("_px", px).select(
        *meta.columns, F.col("_px.bytes").alias("bytes"), F.col("_px.phash").alias("phash"))


def traced_crawl(ws: Workspace, calls: tuple[int, ...], spans: Spans, sm) -> tuple[dict, list[dict]]:
    """run_crawl's loop over traced_wave, as len(calls) resuming calls."""
    from newsraag_crawler_spark.operators.wave import _unhealthy_hosts

    tables = ws.fresh_tables(spans)
    kw = ws.run_kwargs()
    counts = []
    for max_waves in calls:
        ft = tables["frontier"]
        if ft.exists():
            lin = ft.current_lineage()
            wave, n_frontier, frontier = int(lin["next_wave"]), int(lin["rows"]), ft.read()
        else:
            wave, n_frontier, frontier = 0, None, ws.seeds()
        while wave < max_waves and n_frontier != 0:
            seen = tables["seen"].read() if tables["seen"].exists() else None
            unhealthy = _unhealthy_hosts(tables["health"], wave, streak=kw["health_streak"])
            counts.append(traced_wave(
                ws.spark, frontier, ws.policies, seen, wave, tables, spans, sm, n_frontier,
                unhealthy=unhealthy, links_per_page=kw["links_per_page"],
                n_articles=kw["n_articles"], failure=kw.get("failure_expr"),
                max_attempts=kw["max_attempts"]))
            frontier = tables["frontier"].read()
            n_frontier = int(tables["frontier"].current_lineage()["rows"])
            wave += 1
    return tables, counts


def table_stats(tables: dict, spans: Spans) -> None:
    for t in tables.values():
        snaps = manifest(t)
        spans.count("snapshot_store.snapshots", len(snaps))
        spans.count("snapshot_store.files", len(t.current_files()))
        for dirpath, _, files in os.walk(t.path):
            spans.count("snapshot_store.bytes", sum(
                os.path.getsize(os.path.join(dirpath, fn)) for fn in files))


def sample_rows_for_images(ws: Workspace, n: int = 200) -> list[tuple]:
    """(fetch hash, w, h, fmt) of n of the workload's URLs, as the fetch
    codec derives them (sources.synthetic.fetch_payload_py's formulas)."""
    from newsraag_crawler_spark.functions.hashing import portable_hash64_py

    urls = list(ws.inp.frontier["url"])
    random.Random(0).shuffle(urls)
    out = []
    for u in urls[:n]:
        h = portable_hash64_py(f"fetch:{u}", salt=f"w{SEED}:")
        out.append((h, 32 + h % 97, 32 + (h >> 8) % 97, "png" if (h >> 16) % 10 < 7 else "jpeg"))
    return out


def image_layer_us(rows: list[tuple], spans: Spans) -> None:
    """Per-row cost of the codec's three kernels, called directly."""
    from newsraag_crawler_spark.functions.images import (
        encode_image,
        lossy_roundtrip,
        phash64,
        synth_image,
    )

    t0 = time.perf_counter()
    imgs = [synth_image(h & 0xFFFFFFFF, w, ht) for h, w, ht, _ in rows]
    t1 = time.perf_counter()
    for img, (_, _, _, fmt) in zip(imgs, rows):
        encode_image(img, fmt)
    t2 = time.perf_counter()
    for img, (_, _, _, fmt) in zip(imgs, rows):
        phash64(img if fmt == "png" else lossy_roundtrip(img))
    t3 = time.perf_counter()
    n = len(rows)
    spans.counts["images.synth_us_per_row"] = (t1 - t0) / n * 1e6
    spans.counts["images.encode_us_per_row"] = (t2 - t1) / n * 1e6
    spans.counts["images.phash_us_per_row"] = (t3 - t2) / n * 1e6
