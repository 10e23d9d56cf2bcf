"""Benchmark of the shipped crawl path.

    python3 perfbench/run.py --workload wave-fetch --seed 1 --seconds 10 --trace 0

Runs one workload at local[nproc] with the session the package ships
(``session.build_session(cpus=nproc)``, no extra conf), closed loop: one
driver, one crawl at a time. ``--trace 0`` times ``operators.wave.run_crawl``
and prints the end-to-end metrics; ``--trace 1`` runs the traced composition
of the same public functions and prints the per-layer metrics. Output
checks and the workload's self-checks run outside the timed spans. The last
stdout line is one JSON object: correct, attempted, failed, metrics. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(HERE)

# one run_crawl call per crawl for the one-wave workloads; crawl-multiwave
# runs wave 0 in a first call and resumes from table lineage for wave 1
CALLS = {"wave-fetch": (1,), "wave-dedup": (1,), "crawl-multiwave": (1, 2)}
# spans of the traced wave's data path (the Bloom filter, metadata-only and
# pass-through fetches are side measurements off the path)
DATA_PATH = (
    "urlnorm.canonicalize_s", "politeness.robots_s", "dedup.seen_antijoin_s",
    "dedup.exact_dedup_s", "frontier.rank_s", "politeness.budget_s", "politeness.salt_s",
    "wave.fetch_full_s", "wave.links_s", "snapshot_store.corpus_append_s",
    "snapshot_store.seen_append_s", "snapshot_store.frontier_overwrite_s",
    "snapshot_store.aux_append_s",
)

LAYER_METRICS = {
    # name: unit
    "session.build_s": "s",
    "sources.generate_s": "s",
    "urlnorm.canonicalize_s": "s",
    "politeness.robots_s": "s",
    "politeness.blocked_rows": "count",
    "dedup.seen_antijoin_s": "s",
    "dedup.seen_table_rows": "count",
    "dedup.seen_dropped": "count",
    "dedup.bloom_build_s": "s",
    "dedup.two_phase_s": "s",
    "dedup.bloom_positive": "count",
    "dedup.bloom_confirm_ratio": "ratio",
    "dedup.exact_dedup_s": "s",
    "dedup.within_wave_dups": "count",
    "frontier.rank_s": "s",
    "politeness.budget_s": "s",
    "politeness.due_rows": "count",
    "politeness.spill_rows": "count",
    "politeness.retry_rows": "count",
    "politeness.dead_rows": "count",
    "politeness.salt_s": "s",
    "politeness.salted_hosts": "count",
    "wave.deferred_rows": "count",
    "wave.fetch_meta_s": "s",
    "wave.fetch_passthrough_s": "s",
    "wave.fetch_full_s": "s",
    "wave.arrow_transfer_s": "s",
    "wave.codec_compute_s": "s",
    "wave.fetch_task_skew": "ratio",
    "wave.payload_bytes": "bytes",
    "wave.fetched_rows": "count",
    "wave.links_s": "s",
    "wave.new_links": "count",
    "images.synth_us_per_row": "us",
    "images.encode_us_per_row": "us",
    "images.phash_us_per_row": "us",
    "snapshot_store.corpus_append_s": "s",
    "snapshot_store.seen_append_s": "s",
    "snapshot_store.frontier_overwrite_s": "s",
    "snapshot_store.aux_append_s": "s",
    "snapshot_store.read_s": "s",
    "snapshot_store.files": "count",
    "snapshot_store.bytes": "bytes",
    "snapshot_store.snapshots": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "traced_wall_s": "s",
    "trace_overhead_s": "s",
    "process.peak_rss_mb": "MB",
}
E2E_UNITS = {
    "setup_s": "s",
    "wave_s": "s",
    "crawl_last_wave_s": "s",
    "fetched_urls_per_s": "urls/s",
}


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)


class Tally:
    """Operations attempted and failed (raised or failed a check)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, n_ops: int, errors: list[str]) -> None:
        self.attempted += n_ops
        if errors:
            self.failed += n_ops
            self.errors += errors
            for e in errors:
                log(f"CHECK FAILED: {e}")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(CALLS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the smoke test uses a tiny one)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO_ROOT, "newsraag_crawler_spark")) or not os.path.isfile(
        os.path.join(REPO_ROOT, "bench.py")
    ):
        log(f"no newsraag_crawler_spark package and bench.py next to {HERE}")
        return 2
    sys.path[:0] = [REPO_ROOT, HERE]
    import harness

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = harness.make_workdir()
    try:
        return run(args, work)
    finally:
        harness.remove_workdir(work)


def run(args, work: str) -> int:
    import crawl
    import harness
    import inputs
    from newsraag_crawler_spark.session import build_session

    stamps = harness.stamps(args.seed)
    log(f"stamps {json.dumps(stamps)}")
    spans = harness.Spans()
    tally = Tally()
    calls = CALLS[args.workload]
    make_input = inputs.INPUTS[args.workload]

    with spans.span("session.build_s"):
        spark = build_session("perfbench", cpus=harness.nproc())
    log("session built")
    try:
        with spans.span("sources.generate_s"):
            ws = crawl.Workspace(spark, os.path.join(work, "data"), make_input(args.seed, args.scale))
        log("inputs written")
        # untimed warm-up, one wave of the real input on its own tables: JIT,
        # codegen, Python worker start
        crawl.timed_crawl(ws, (1,))
        setup_s = time.perf_counter() - T_PROCESS
        log(f"setup {setup_s:.2f}s")

        # ---- timed crawls of the shipped path
        results = []
        t_measure = time.perf_counter()
        with harness.RssSampler() as rss:
            while not results or (
                    not args.trace and time.perf_counter() - t_measure < args.seconds):
                try:
                    results.append(crawl.timed_crawl(ws, calls))
                    log(f"crawl {len(results)}: {results[-1][1]}")
                except Exception:  # noqa: BLE001 — report the failure, keep measuring
                    traceback.print_exc()
                    tally.record(len(calls), ["run_crawl raised"])
                    break
        t_check = time.perf_counter()
        oracle = inputs.oracle_wave(ws.inp)
        walls, rows = [], []
        for i, (tables, call_walls) in enumerate(results):
            tally.record(len(calls), crawl.check_crawl(ws, tables, oracle, calls[-1], full=i == 0))
            walls.append(call_walls)
            rows.append(sum(s["lineage"].get("rows", 0) for s in crawl.manifest(tables["corpus"])))
        tally.record(1, crawl.shape_check(make_input, args.seed, oracle))
        log(f"checks {time.perf_counter() - t_check:.2f}s")
        if not walls:
            log("no crawl completed")
            return 1
        n_waves = calls[-1]
        crawl_walls = [sum(w) for w in walls]
        e2e = {
            "setup_s": setup_s,
            "wave_s": harness.median([w / n_waves for w in crawl_walls]),
            "crawl_last_wave_s": harness.median([w[-1] for w in walls]),
            "fetched_urls_per_s": harness.median([r / w for r, w in zip(rows, crawl_walls)]),
        }
        detail = {
            "workload": args.workload, **stamps, "crawls": len(walls),
            "call_walls_s": walls, "corpus_rows": rows, "crawl_s": harness.median(crawl_walls),
            "peak_rss_mb": rss.peak_mb,
            "oracle_funnel": oracle.buckets(), "errors": tally.errors,
        }
        if args.trace:
            metrics = traced(args, ws, spark, spans, tally, crawl_walls[0])
            units = LAYER_METRICS
        else:
            metrics, units = e2e, E2E_UNITS
        detail["failed_frac"] = tally.failed / tally.attempted
        print(json.dumps({"detail": detail, **{k: metrics[k] for k in units}}), flush=True)
    finally:
        harness.stop_spark(spark)
        log("session stopped")
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def traced(args, ws, spark, spans, tally, untraced_wall: float) -> dict:
    """The traced crawl: per-layer spans and counts, their self-checks."""
    import crawl
    import harness

    calls = CALLS[args.workload]
    sm = harness.StageMetrics(spark)
    t0 = time.perf_counter()
    with harness.RssSampler() as rss:
        tables, waves = crawl.traced_crawl(ws, calls, spans, sm)
    traced_wall = time.perf_counter() - t0
    crawl.table_stats(tables, spans)
    crawl.image_layer_us(crawl.sample_rows_for_images(ws), spans)
    m = {k: 0.0 for k in LAYER_METRICS}
    m.update(spans.seconds)
    m.update(spans.counts)
    m.update(sm.since_mark())
    total = {k: sum(w[k] for w in waves) for k in waves[0]}
    m.update({
        "politeness.blocked_rows": total["blocked"],
        "dedup.seen_dropped": total["seen"],
        "dedup.within_wave_dups": total["dups"],
        "politeness.due_rows": total["fetched"] + total["retry"] + total["dead"],
        "politeness.spill_rows": total["spill"],
        "politeness.retry_rows": total["retry"],
        "politeness.dead_rows": total["dead"],
        "wave.deferred_rows": total["deferred"],
        "wave.fetched_rows": total["fetched"],
        "wave.new_links": total["new_links"],
        # confirmed seen ÷ Bloom-positive (no false negatives: every seen
        # row is a positive)
        "dedup.bloom_confirm_ratio": total["seen"] / max(total.get("bloom_positive", 0), 1),
        "wave.arrow_transfer_s": m["wave.fetch_passthrough_s"] - m["wave.fetch_meta_s"],
        "wave.codec_compute_s": m["wave.fetch_full_s"] - m["wave.fetch_passthrough_s"],
        "traced_wall_s": traced_wall,
        "trace_overhead_s": traced_wall - untraced_wall,
        "process.peak_rss_mb": rss.peak_mb,
    })

    errors = []
    for w in waves:
        buckets = ("deferred", "blocked", "seen", "dups", "spill", "retry", "dead", "fetched")
        if sum(w[b] for b in buckets) != w["n_in"]:
            errors.append(f"traced wave funnel not conserved: {w}")
        if w["fetched"] != w["committed_fetched"] or w.get("two_phase_mismatch"):
            errors.append(f"traced wave commit or Bloom filter disagrees: {w}")
    tally.record(len(calls), errors)
    if args.scale == 1.0:  # the properties hold at the workload's defined size
        tally.record(1, self_check(args.workload, m, waves, calls))
    return m


def self_check(workload: str, m: dict, waves: list[dict], calls: tuple) -> list[str]:
    """The property each workload was chosen for, read from the trace.

    The row shares are exact. The wall-time checks carry wide margins: the
    traced composition materializes each layer as its own Spark jobs, so
    every small layer pays a fixed job cost the shipped path does not, and
    that cost grows with load from outside the run."""
    fetch_share = (m["wave.fetch_full_s"] + m["snapshot_store.corpus_append_s"]) / sum(
        m[k] for k in DATA_PATH)
    fetched_share = sum(w["fetched"] for w in waves) / sum(w["n_in"] for w in waves)
    errors = []
    if workload == "wave-fetch":
        if m["politeness.salted_hosts"] < 1:
            errors.append("wave-fetch salted no host")
        if fetched_share < 0.9:
            errors.append(f"wave-fetch fetched {fetched_share:.0%} of its frontier")
        runner_up = max(m[k] for k in DATA_PATH if k != "wave.fetch_full_s")
        if m["wave.fetch_full_s"] < 2 * runner_up:
            errors.append(f"wave-fetch's fetch took {m['wave.fetch_full_s']:.2f}s, under twice "
                          f"its next-largest layer's {runner_up:.2f}s")
        return errors
    # wave-dedup and crawl-multiwave start from the same seen-heavy frontier
    if waves[0]["seen"] < 0.5 * waves[0]["n_in"]:
        errors.append(f"{workload}'s seen filter dropped under half the frontier")
    if fetched_share > 0.1:
        errors.append(f"{workload} fetched {fetched_share:.0%} of its frontier rows")
    if fetch_share > 0.4:
        errors.append(f"{workload} spent {fetch_share:.0%} of its traced wall in fetch")
    if workload == "crawl-multiwave":
        for k in ("politeness.retry_rows", "politeness.dead_rows", "wave.deferred_rows"):
            if m[k] < 1:
                errors.append(f"crawl-multiwave has no {k}")
        if len(waves) != calls[-1]:
            errors.append(f"crawl-multiwave ran {len(waves)} waves over its resume")
    return errors


if __name__ == "__main__":
    sys.exit(main())
