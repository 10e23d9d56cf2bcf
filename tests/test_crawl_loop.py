"""Multi-wave crawl driver: link expansion, budget spill across waves,
kill-and-resume from snapshot lineage (M5)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from newsraag_crawler_spark.operators.wave import run_crawl
from newsraag_crawler_spark.storage.snapshot_store import SnapshotTable

N_ART = 200


def _seeds(spark, n=40):
    return spark.createDataFrame(
        [
            Row(
                url=f"https://host{i % 4}.example.com/articles/{i}",
                source_id=i % 4,
                feed_rank=i,
                score=0.9,
                wave=0,
            )
            for i in range(n)
        ]
    )


def _policies(spark):
    return spark.createDataFrame(
        [
            Row(host=f"host{i}.example.com", crawl_delay_s=1.0, per_wave_budget=15,
                robots_disallow=["/private"])
            for i in range(4)
        ]
    )


def _tables(spark, tmp, name):
    return {
        k: SnapshotTable(spark, str(tmp / name / k))
        for k in ("frontier", "corpus", "seen", "metrics")
    }


def test_multiwave_expansion_and_spill(spark, tmp_path):
    t = _tables(spark, tmp_path, "a")
    res = run_crawl(
        spark, _seeds(spark), _policies(spark), t,
        max_waves=4, links_per_page=2, n_articles=N_ART,
    )
    assert res["waves_run"] == 4
    corpus = t["corpus"].read()
    # each wave fetched something and no url was fetched twice
    per_wave = {r.wave: r["cnt"] for r in corpus.groupBy("wave").agg(F.count("*").alias("cnt")).collect()}
    assert set(per_wave) == {0, 1, 2, 3}
    assert corpus.count() == corpus.select("url").distinct().count()
    # budget respected every wave
    host_wave = (
        corpus.withColumn("host", F.regexp_extract("url", "https://([^/]+)/", 1))
        .groupBy("host", "wave").count()
    )
    assert host_wave.filter(F.col("count") > 15).count() == 0
    # metrics snapshot per wave
    assert t["metrics"].read().count() == 4


def test_kill_and_resume(spark, tmp_path):
    t = _tables(spark, tmp_path, "b")
    seeds, pol = _seeds(spark), _policies(spark)
    run_crawl(spark, seeds, pol, t, max_waves=2, links_per_page=2, n_articles=N_ART)
    mid_corpus = t["corpus"].read().count()
    mid_lineage = t["frontier"].current_lineage()
    assert mid_lineage["next_wave"] == 2

    # 'crash' happened here; a NEW driver resumes from the tables alone
    t2 = _tables(spark, tmp_path, "b")
    res = run_crawl(spark, seeds, pol, t2, max_waves=4, links_per_page=2, n_articles=N_ART)
    assert res["last_wave"] == 3
    corpus = t2["corpus"].read()
    assert corpus.count() > mid_corpus
    # resume did not refetch: still globally unique urls
    assert corpus.count() == corpus.select("url").distinct().count()
    waves = {r.wave for r in corpus.select("wave").distinct().collect()}
    assert waves == {0, 1, 2, 3}


def test_crash_mid_wave_resume_is_idempotent(spark, tmp_path):
    """A crash AFTER corpus/seen commits but BEFORE the frontier commit must
    not duplicate corpus rows on resume: run_crawl rolls orphaned snapshots
    back to the last completed wave (the frontier commit is the commit
    point)."""
    t = _tables(spark, tmp_path, "c")
    seeds, pol = _seeds(spark), _policies(spark)
    run_crawl(spark, seeds, pol, t, max_waves=2, links_per_page=2, n_articles=N_ART)
    assert t["frontier"].current_lineage()["next_wave"] == 2

    # simulate the torn wave-2 commit: corpus+seen+metrics landed, frontier
    # (the commit point) did not
    from newsraag_crawler_spark.operators.wave import run_scale_wave

    frontier = t["frontier"].read()
    out = run_scale_wave(
        frontier, pol, t["seen"].read(), wave=2, links_per_page=2, n_articles=N_ART
    )
    t["corpus"].append(out["corpus"], lineage={"wave": 2}, count_rows=True)
    t["seen"].append(out["seen_additions"], lineage={"wave": 2})
    t["metrics"].append(
        spark.createDataFrame([(2, 1)], "wave int, fetched long"),
        lineage={"wave": 2},
    )
    torn = t["corpus"].read().count()

    t2 = _tables(spark, tmp_path, "c")
    run_crawl(spark, seeds, pol, t2, max_waves=3, links_per_page=2, n_articles=N_ART)
    corpus = t2["corpus"].read()
    # the orphaned wave-2 snapshot was rolled back, wave 2 re-ran exactly once
    assert corpus.count() <= torn
    assert corpus.count() == corpus.select("url").distinct().count()
    assert corpus.filter(F.col("wave") == 2).count() > 0
    dup_by_wave = (
        corpus.groupBy("url").count().filter(F.col("count") > 1).count()
    )
    assert dup_by_wave == 0


def test_discover_links_resolves_relative_and_caps(spark):
    """S6: real urljoin semantics (dot-segments, sibling-relative paths),
    order-preserving within-page dedup, per-page cap."""
    from pyspark.sql import Row

    from newsraag_crawler_spark.operators.wave import discover_links

    html = (
        '<a href="../news/up.html">a</a>'      # parent-relative, keep
        '<a href="contact.html">b</a>'          # sibling-relative, not article
        '<a href="/news/abs">c</a>'
        '<a href="../news/up.html">dup</a>'
        '<a href="https://x.example.org/article/z">d</a>'
        '<a href="/assets/p.jpg">skip</a>'
    )
    pages = spark.createDataFrame(
        [Row(url="https://h.example.com/section/index.html", html=html)]
    )
    out = discover_links(pages, max_links=2)
    got = [(r.link_pos, r.link) for r in out.orderBy("link_pos").collect()]
    # urljoin: '../news/up.html' against /section/index.html -> /news/up.html;
    # the dup at pos 3 is dropped, the cap keeps the first 2 article links
    assert got == [
        (0, "https://h.example.com/news/up.html"),
        (2, "https://h.example.com/news/abs"),
    ]


def test_retry_waves_and_dead_letter(spark, tmp_path):
    """r4 VERDICT #6: a failed fetch re-enters the NEXT wave with attempt+1
    and the progressive timeout budget, then dead-letters after
    max_attempts — all snapshot-committed. host1 fails once then succeeds;
    host2 always fails and must die with exactly its 3 attempts spent."""
    t = _tables(spark, tmp_path, "retry")
    t["dead"] = SnapshotTable(spark, str(tmp_path / "retry" / "dead"))
    fail = (
        ((F.col("host") == "host1.example.com") & (F.col("attempt") < 1))
        | (F.col("host") == "host2.example.com")
    )
    res = run_crawl(
        spark, _seeds(spark), _policies(spark), t,
        max_waves=6, failure_expr=fail,
    )
    corpus = t["corpus"].read()
    waves_by_host = {
        r.host: r.waves
        for r in corpus.withColumn(
            "host", F.regexp_extract("url", "https://([^/]+)/", 1)
        ).groupBy("host").agg(F.collect_set("wave").alias("waves")).collect()
    }
    # host0/host3 fetched in wave 0; host1 only via its wave-1 retry
    assert waves_by_host["host0.example.com"] == [0]
    assert waves_by_host["host3.example.com"] == [0]
    assert waves_by_host["host1.example.com"] == [1]
    # host2 never produced corpus rows; its 10 urls dead-lettered having
    # spent attempts 0,1,2 (dead rows carry the last attempt number)
    assert "host2.example.com" not in waves_by_host
    dead = t["dead"].read().collect()
    assert len(dead) == 10
    assert all(r.host == "host2.example.com" and r.attempt == 2 for r in dead)
    # dead urls are seen-marked (no infinite recrawl); retryable failures
    # were NOT seen-marked before their retry succeeded
    # seen keys are SURT-canonical (com,example,host2)/articles/i)
    seen = {r.key for r in t["seen"].read().collect()}
    assert all(
        any("host2" in k and f"/articles/{i}" in k for k in seen)
        for i in range(2, 40, 4)
    )
    assert res["waves_run"] == 3  # wave2 = host2's last attempt, then drained


def test_retry_carries_progressive_timeout(spark):
    """A failed fetch re-enters the next frontier with attempt+1 and
    carried_offset 0; its progressive timeout for that attempt
    ([30,60,120]s, crawl4ai_extractor.py:108) is derived from ``attempt``
    through RETRY_TIMEOUTS_S (retry_schedule's timeout_s column is checked
    in test_politeness::test_retry_schedule_waves)."""
    from newsraag_crawler_spark.operators.politeness import RETRY_TIMEOUTS_S
    from newsraag_crawler_spark.operators.wave import run_scale_wave

    out = run_scale_wave(
        _seeds(spark), _policies(spark), None, wave=0,
        failure_expr=F.col("host") == "host1.example.com",
    )
    # no spill (10 rows per host, budget 15) and no links: the next
    # frontier is exactly host1's 10 retries
    rows = out["next_frontier"].collect()
    assert len(rows) == 10
    assert all("host1.example.com" in r.url for r in rows)
    assert {(r.attempt, r.carried_offset, r.wave) for r in rows} == {(1, 0, 1)}
    assert RETRY_TIMEOUTS_S[rows[0].attempt] == 60
    for df in out["_cached"]:
        df.unpersist()


def test_unhealthy_host_skipped_then_resumes(spark, tmp_path):
    """r4 VERDICT #7: after 3 consecutive all-failed waves a host is
    skipped for one wave (its frontier rows defer, unconsumed), re-probed
    the wave after, and resumes fully once a fetch succeeds — the
    reference's per-cycle unhealthy-source skip (main.py:362-374)."""
    t = _tables(spark, tmp_path, "health")
    t["health"] = SnapshotTable(spark, str(tmp_path / "health" / "health"))
    # host3 fails attempts 0-3, succeeds on attempt 4; high max_attempts so
    # retries keep supplying frontier rows for the streak
    fail = (F.col("host") == "host3.example.com") & (F.col("attempt") < 4)
    res = run_crawl(
        spark, _seeds(spark), _policies(spark), t,
        max_waves=7, failure_expr=fail, max_attempts=10,
    )
    health = t["health"].read()
    h3 = {
        r.wave: (r.attempted, r.failed)
        for r in health.filter(F.col("host") == "host3.example.com").collect()
    }
    # attempted+failed waves 0,1,2 → skipped (no row) wave 3 → re-probed
    # (attempt 3, fails) wave 4 → skip streak broken by wave-3 gap, so
    # wave 5 attempts again (attempt 4) and succeeds
    assert h3[0] == (10, 10) and h3[1] == (10, 10) and h3[2] == (10, 10)
    assert 3 not in h3, "host3 must be SKIPPED in wave 3"
    assert h3[4] == (10, 10)
    assert h3[5] == (10, 0), "host3 resumes healthy in wave 5"
    corpus = t["corpus"].read().withColumn(
        "host", F.regexp_extract("url", "https://([^/]+)/", 1)
    )
    h3_waves = {r.wave for r in corpus.filter(
        F.col("host") == "host3.example.com").select("wave").distinct().collect()}
    assert h3_waves == {5}
    assert res["waves_run"] == 6


def test_spill_aging_cannot_be_starved(spark):
    """r4 VERDICT #8: a budget-spilled row re-enters with carried_offset =
    wave_offset-1 and outranks ANY newer same-host arrival, however high
    its score — so it schedules within its original offset bound instead
    of starving behind a stream of fresh high-score URLs."""
    from newsraag_crawler_spark.operators.wave import run_scale_wave

    seeds = spark.createDataFrame(
        [Row(url=f"https://h.example.com/articles/{i}", source_id=0,
             feed_rank=i, score=0.9, wave=0) for i in range(10)]
    )
    pol = spark.createDataFrame(
        [Row(host="h.example.com", crawl_delay_s=1.0, per_wave_budget=3,
             robots_disallow=["/never-matches"])]
    )
    out0 = run_scale_wave(seeds, pol, None, wave=0)
    spill = out0["next_frontier"]
    assert spill.count() == 7
    # adversarial wave-1 arrivals: same host, sky-high score
    shiny = spark.createDataFrame(
        [Row(url=f"https://h.example.com/articles/{100 + i}", source_id=0,
             feed_rank=100 + i, score=99.0, wave=1) for i in range(10)]
    ).withColumn("attempt", F.lit(0)).withColumn(
        "carried_offset", F.lit(None).cast("int")
    )
    seen0 = out0["seen_additions"]
    out1 = run_scale_wave(
        spill.unionByName(shiny), pol, seen0, wave=1
    )
    due1 = {r.url for r in out1["due"].collect()}
    # the 3 fetched are the carried rows that spilled with wave_offset 1
    # (feed_rank 3,4,5 — score order = rank order here), NOT the shiny ones
    assert due1 == {f"https://h.example.com/articles/{i}" for i in (3, 4, 5)}
    for o in (out0, out1):
        for df in o["_cached"]:
            df.unpersist()


def test_resume_refuses_lineage_missing_next_wave(spark, tmp_path):
    """r4 VERDICT #9: a frontier snapshot without the 'next_wave' resume
    key must fail loudly, not silently restart at wave 0."""
    import pytest

    t = _tables(spark, tmp_path, "badlin")
    t["frontier"].overwrite(
        _seeds(spark), lineage={"op": "hand-written, key forgotten"},
        count_rows=True,
    )
    with pytest.raises(ValueError, match="next_wave"):
        run_crawl(spark, _seeds(spark), _policies(spark), t, max_waves=1)


def test_no_cached_block_growth_across_waves(spark, tmp_path):
    """Each wave persists `due`; run_crawl must release it after the wave's
    commits — cached blocks accumulating across waves is the long-crawl
    memory leak (VERDICT r2 #5)."""
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    t = _tables(spark, tmp_path, "np")
    run_crawl(
        spark, _seeds(spark), _policies(spark), t,
        max_waves=3, links_per_page=2, n_articles=N_ART,
    )
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set(), f"leaked persisted RDDs: {after - before}"


def test_policies_cache_is_released_unless_the_caller_owns_it(spark, tmp_path):
    """run_crawl materializes an uncached policies frame once per call and
    releases it on return; a frame the caller cached stays cached."""
    from pyspark import StorageLevel

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    seeds = _seeds(spark)
    before = persistent()
    run_crawl(spark, seeds, _policies(spark), _tables(spark, tmp_path, "pa"), max_waves=2)
    assert persistent() == before

    pol = _policies(spark).persist()
    try:
        run_crawl(spark, seeds, pol, _tables(spark, tmp_path, "pb"), max_waves=2)
        assert pol.storageLevel != StorageLevel.NONE
    finally:
        pol.unpersist()


class _CrashOnWave1(SnapshotTable):
    """A table whose wave-1 append dies before writing anything."""

    def append(self, df, lineage=None, **kw):
        if (lineage or {}).get("wave") == 1:
            raise RuntimeError("simulated crash in the wave-1 append")
        return super().append(df, lineage=lineage, **kw)


def test_torn_tail_commit_resumes_health_and_metrics(spark, tmp_path):
    """A crash in the LAST non-frontier commit of a wave (the metrics
    append) must not lose that wave's health and metrics rows: the frontier
    overwrite comes after them, so the resume re-runs the wave and commits
    both tables exactly once."""
    import pytest

    seeds, pol = _seeds(spark), _policies(spark)
    t = _tables(spark, tmp_path, "torn")
    t["health"] = SnapshotTable(spark, str(tmp_path / "torn" / "health"))
    t["metrics"] = _CrashOnWave1(spark, str(tmp_path / "torn" / "metrics"))
    with pytest.raises(RuntimeError, match="wave-1 append"):
        run_crawl(spark, seeds, pol, t, max_waves=2, links_per_page=2, n_articles=N_ART)
    assert t["frontier"].current_lineage()["next_wave"] == 1

    t2 = _tables(spark, tmp_path, "torn")
    t2["health"] = SnapshotTable(spark, str(tmp_path / "torn" / "health"))
    res = run_crawl(spark, seeds, pol, t2, max_waves=2, links_per_page=2, n_articles=N_ART)
    assert res == {"waves_run": 1, "last_wave": 1}
    assert sorted(r.wave for r in t2["metrics"].read().collect()) == [0, 1]
    health = t2["health"].read()
    assert {r.wave for r in health.select("wave").distinct().collect()} == {0, 1}
    # the half-committed wave-1 health snapshot was rolled back, not doubled
    assert health.count() == health.select("host", "wave").distinct().count()
    corpus = t2["corpus"].read()
    assert corpus.count() == corpus.select("url").distinct().count()


def test_crawl_job_and_stage_counts_are_bounded(spark, tmp_path):
    """Spark jobs and stages per resuming run_crawl call, all six tables,
    failures, retries, dead letters, a health skip and links. Upper bounds
    pinned at this session's cpus=8, shuffle_partitions=8: the wave reads
    its frontier once, at the top of the loop, and the final wave issues no
    read of the frontier it leaves for the next call."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    t = _tables(spark, tmp_path, "jobs")
    t["dead"] = SnapshotTable(spark, str(tmp_path / "jobs" / "dead"))
    t["health"] = SnapshotTable(spark, str(tmp_path / "jobs" / "health"))
    seeds, pol = _seeds(spark), _policies(spark)
    counts = []
    for max_waves in (1, 2, 3):
        group = f"crawl-job-count-{tmp_path.name}-{max_waves}"
        sc.setJobGroup(group, group)
        try:
            run_crawl(
                spark, seeds, pol, t, max_waves=max_waves, links_per_page=2,
                n_articles=N_ART, failure_expr=F.col("host") == "host3.example.com",
                max_attempts=2, health_streak=1,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is fed by the async listener bus: drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = tracker.getJobIdsForGroup(group)
        counts.append((len(jobs), sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)))
    assert t["frontier"].current_lineage()["next_wave"] == 3
    bounds = [(18, 42), (25, 50), (25, 50)]
    assert all(j <= bj and s <= bs for (j, s), (bj, bs) in zip(counts, bounds)), counts
