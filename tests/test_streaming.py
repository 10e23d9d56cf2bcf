"""Structured Streaming tier: ingestion, stateful dedup, windowed metrics,
checkpoint restart."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from newsraag_crawler_spark.storage.snapshot_store import SnapshotTable
from newsraag_crawler_spark.streaming import frontier_stream as fs


def _write_batch(spark, path, urls, base_rank=0):
    rows = [
        Row(
            url=u,
            source_id=0,
            feed_rank=base_rank + i,
            score=0.5,
            discovered_at=__import__("datetime").datetime(2026, 1, 1, 0, 0, i % 60),
        )
        for i, u in enumerate(urls)
    ]
    spark.createDataFrame(rows, fs.FRONTIER_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


@pytest.fixture()
def dirs(tmp_path):
    return str(tmp_path / "in"), str(tmp_path / "ckpt"), tmp_path


def test_stream_crawl_end_to_end(spark, dirs):
    input_dir, ckpt, tmp = dirs
    corpus_t = SnapshotTable(spark, str(tmp / "corpus"))
    seen_t = SnapshotTable(spark, str(tmp / "seen"))

    urls1 = [f"https://A.example.com/articles/{i}" for i in range(10)]
    urls1 += ["https://a.example.com/articles/0/"]  # SURT-dup of #0
    _write_batch(spark, input_dir, urls1)

    q = fs.stream_crawl(spark, input_dir, corpus_t, seen_t, ckpt)
    q.awaitTermination(120)
    n1 = corpus_t.read().count()
    assert n1 == 10  # SURT variant deduped in-stream

    # second run: re-list 5 old urls + 5 new -> only new fetched
    urls2 = [f"https://a.example.com/articles/{i}" for i in range(5)]
    urls2 += [f"https://b.example.com/articles/{i}" for i in range(5)]
    _write_batch(spark, input_dir, urls2, base_rank=100)
    q2 = fs.stream_crawl(spark, input_dir, corpus_t, seen_t, ckpt)
    q2.awaitTermination(120)

    total = corpus_t.read().count()
    assert total == 15, total
    new_urls = {
        r.url for r in corpus_t.read().filter(F.col("wave") >= 1).collect()
    }
    assert all("b.example.com" in u for u in new_urls)
    # seen table covers every fetched surt key
    assert seen_t.read().distinct().count() == 15


def test_windowed_host_metrics(spark, dirs):
    input_dir, ckpt, tmp = dirs
    urls = [f"https://h{i % 2}.example.com/a/{i}" for i in range(20)]
    _write_batch(spark, input_dir, urls)
    stream = fs.canonicalize_stream(fs.read_frontier_stream(spark, input_dir))
    agg = fs.windowed_host_metrics(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("host_metrics")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.host: r.discovered for r in spark.sql("select * from host_metrics").collect()}
    assert rows == {"h0.example.com": 10, "h1.example.com": 10}


def test_dedup_stream_drops_duplicates_within_watermark(spark, dirs):
    """§2.10 in-stream seen set: a second URL with the same SURT key inside
    the 1-hour watermark is dropped; once the watermark has passed the
    key's first sighting (and a later micro-batch evicted its state), a
    re-discovery of the key passes the streaming stage again."""
    import datetime as dt

    input_dir, _, _ = dirs
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    # one file per micro-batch: the key, its SURT duplicate 10 s later and
    # an unrelated key; a watermark advancer 3 h later (watermark -> +2 h);
    # a filler batch, so that a batch runs under that watermark and evicts
    # the key's state; the re-discovery at +3 h (not late: past +2 h)
    batches = [
        [("https://a.example.com/articles/0", base),
         ("https://A.example.com/articles/0/", base + dt.timedelta(seconds=10)),
         ("https://a.example.com/articles/1", base + dt.timedelta(seconds=20))],
        [("https://b.example.com/articles/0", base + dt.timedelta(hours=3))],
        [("https://b.example.com/articles/1", base + dt.timedelta(hours=3))],
        [("https://a.example.com/articles/0/", base + dt.timedelta(hours=3))],
    ]
    for n, batch in enumerate(batches):
        rows = [
            Row(url=u, source_id=0, feed_rank=n * 10 + i, score=0.5, discovered_at=t)
            for i, (u, t) in enumerate(batch)
        ]
        spark.createDataFrame(rows, fs.FRONTIER_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(input_dir)
    stream = fs.dedup_stream(
        fs.canonicalize_stream(
            fs.read_frontier_stream(spark, input_dir, max_files_per_trigger=1)
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("deduped_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.url, r.discovered_at)
        for r in spark.sql("select url, discovered_at from deduped_stream").collect()
    )
    assert got == sorted([
        ("https://a.example.com/articles/0", base),
        ("https://a.example.com/articles/1", base + dt.timedelta(seconds=20)),
        ("https://b.example.com/articles/0", base + dt.timedelta(hours=3)),
        ("https://b.example.com/articles/1", base + dt.timedelta(hours=3)),
        ("https://a.example.com/articles/0/", base + dt.timedelta(hours=3)),
    ])


def test_late_data_dropped_past_watermark(spark, dirs):
    """§2.10 late data: append-mode windowed agg with a 2-minute watermark —
    a row arriving in a later micro-batch with event time far behind the
    advanced watermark must NOT re-open its (already-emitted) window."""
    import datetime as dt

    input_dir, ckpt, tmp = dirs

    def _write(ts_list, base_rank):
        rows = [
            Row(
                url=f"https://h.example.com/a/{base_rank + i}",
                source_id=0,
                feed_rank=base_rank + i,
                score=0.5,
                discovered_at=t,
            )
            for i, t in enumerate(ts_list)
        ]
        spark.createDataFrame(rows, fs.FRONTIER_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(input_dir)

    out_dir = str(tmp / "late_out")

    def _run():
        # parquet sink: append mode + checkpoint recovery (memory sink can't
        # resume), so watermark state carries across the two runs
        stream = fs.canonicalize_stream(
            fs.read_frontier_stream(spark, input_dir, max_files_per_trigger=1)
        )
        agg = fs.windowed_host_metrics(stream)
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.read.parquet(out_dir).collect()
        out = {}
        for r in rows:
            out.setdefault((r.window_start, r.host), []).append(r.discovered)
        return out

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    # batch 1: 3 rows in minute 0, watermark-advancer at minute 10
    _write([base, base, base, base + dt.timedelta(minutes=10)], 0)
    first = _run()
    # minute-0 window closed (watermark = 10:00 - 2min = 08:00 > 01:00)
    assert first.get((base, "h.example.com")) == [3]

    # batch 2: one LATE row for minute 0 (behind the checkpointed watermark)
    # plus another advancer so the new batch emits something
    _write([base + dt.timedelta(seconds=30), base + dt.timedelta(minutes=20)], 100)
    second = _run()
    # the late row was dropped: still exactly one emission of 3 for minute 0,
    # no correction row
    assert second.get((base, "h.example.com")) == [3]


def test_stream_crawl_enforces_per_host_politeness(spark, dirs):
    """r3 VERDICT #9: the FULL stream pipeline (ingest → canonicalize →
    stateful rate limiter → dedup+fetch) must space each host's slots by
    >= delay across TWO micro-batch runs sharing one checkpoint, while the
    other host schedules independently."""
    input_dir, ckpt, tmp = dirs
    corpus_t = SnapshotTable(spark, str(tmp / "corpus"))
    seen_t = SnapshotTable(spark, str(tmp / "seen"))
    sched_t = SnapshotTable(spark, str(tmp / "sched"))

    def run_once():
        q = fs.stream_crawl(
            spark, input_dir, corpus_t, seen_t, ckpt,
            delay_s=7.0, schedule_table=sched_t,
        )
        q.awaitTermination(120)

    _write_batch(
        spark, input_dir,
        [f"https://A.example.com/articles/{i}" for i in range(3)]
        + [f"https://B.example.com/articles/{i}" for i in range(2)],
    )
    run_once()
    _write_batch(
        spark, input_dir,
        ["https://A.example.com/articles/99", "https://B.example.com/articles/99"],
        base_rank=100,
    )
    run_once()

    rows = sched_t.read().collect()
    assert len(rows) == 7
    by_host: dict = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r)
    for host, hrows in by_host.items():
        slots = sorted(r.scheduled_at_s for r in hrows)
        assert all(b - a >= 7.0 - 1e-6 for a, b in zip(slots, slots[1:])), (host, slots)
        # the batch-2 row queued BEHIND batch 1's bucket, not a fresh one
        b2 = [r.scheduled_at_s for r in hrows if r.batch_id >= 1]
        b1_max = max(r.scheduled_at_s for r in hrows if r.batch_id == 0)
        assert b2 and min(b2) >= b1_max + 7.0 - 1e-6, (host, slots)
    # fetch ran for every scheduled row, dedup+seen intact
    assert corpus_t.read().count() == 7
    assert seen_t.read().distinct().count() == 7


def test_stateful_rate_limiter_bucket_persists_across_batches(spark, dirs):
    """applyInPandasWithState token bucket: within a batch, per-host slots
    are >= delay apart; across micro-batches (separate availableNow runs
    sharing a checkpoint) the host's next-free time PERSISTS — the
    reference RateLimiter's reset-per-run bug-shape must not reappear."""
    import datetime

    from newsraag_crawler_spark.streaming.stateful import rate_limit_stream

    input_dir, ckpt, tmp = dirs
    out_dir = str(tmp / "rl_out")

    def run_once():
        stream = fs.canonicalize_stream(fs.read_frontier_stream(spark, input_dir))
        limited = rate_limit_stream(stream, delay_s=10.0)
        q = (
            limited.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: 3 URLs on one host arriving in the same second
    _write_batch(spark, input_dir, [f"https://A.example.com/articles/{i}" for i in range(3)])
    run_once()
    got1 = {r.url: r for r in spark.read.parquet(out_dir).collect()}
    scheds = sorted(r.scheduled_at_s for r in got1.values())
    assert all(b - a >= 10.0 - 1e-6 for a, b in zip(scheds, scheds[1:])), scheds

    # batch 2: same host, arrival ~immediately after batch 1's arrivals —
    # must queue BEHIND batch 1's last slot, not restart the bucket
    _write_batch(spark, input_dir, ["https://A.example.com/articles/99"], base_rank=100)
    run_once()
    rows = spark.read.parquet(out_dir).collect()
    new = [r for r in rows if r.url.endswith("/99")][0]
    assert new.scheduled_at_s >= max(scheds) + 10.0 - 1e-6, (
        new.scheduled_at_s,
        scheds,
    )
    assert new.wait_s >= 0.0
