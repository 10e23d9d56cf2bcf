"""Extra measurement harness for the optimization round (bench.py is FROZEN).

Modes:
  python bench_extra.py queries [name ...]   per-query first/steady noop times
                                             (same methodology as bench.run_queries),
                                             plus the first build's Spark jobs
                                             (build_jobs) and the persistent RDDs
                                             its build and run left (pinned_rdds)
  python bench_extra.py plans <outdir> [name ...]
                                             dump .explain("formatted") per query
  python bench_extra.py wave <cpus> <n_urls> [repeats]
                                             headline wave timing (same span as
                                             bench.crawl_wave_bench, in-process)

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS (32).
Prints one JSON line per mode. Never writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _session():
    from newsraag_crawler_spark.session import build_session

    return build_session(
        f"bench_extra_{CPUS}", cpus=CPUS,
        extra_conf={"spark.python.worker.reuse": os.environ.get("SPARK_GRAFT_WORKER_REUSE", "false")},
    )


def _probe_ms() -> float:
    import numpy as np

    a = np.arange(512 * 512, dtype=np.float64).reshape(512, 512) / 1e6
    t0 = time.perf_counter()
    for _ in range(4):
        (a @ a).sum()
    return round((time.perf_counter() - t0) * 1000, 1)


def _warm(spark):
    import glob

    spark.range(100).write.format("noop").mode("overwrite").save()
    for pq in sorted(glob.glob(f"{SF_DIR}/*.parquet")):
        spark.read.parquet(pq).count()


def mode_queries(names: list[str]) -> None:
    from bench import BENCH_QUERIES

    from newsraag_crawler_spark.queries import catalog

    cat = catalog()
    names = names or BENCH_QUERIES
    spark = _session()
    _warm(spark)
    sc = spark.sparkContext

    def pinned():
        return set(sc._jsc.getPersistentRDDs().keys())

    first, steady, build_jobs, pinned_rdds = {}, {}, {}, {}
    for name in names:
        sc.setJobDescription(f"bench_extra:{name}")
        before = pinned()
        t0 = time.time()
        # the job group covers construction only: its jobs ran while the
        # query was being built, not while it was executed
        sc.setJobGroup(f"build:{name}", f"bench_extra:{name}")
        df = cat[name](spark, SF_DIR)
        sc.setLocalProperty("spark.jobGroup.id", None)
        df.write.format("noop").mode("overwrite").save()
        first[name] = round(time.time() - t0, 3)
        build_jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"build:{name}"))
        pinned_rdds[name] = len(pinned() - before)
        t0 = time.time()
        cat[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        steady[name] = round(time.time() - t0, 3)
        print(f"# {name}: first={first[name]} steady={steady[name]} "
              f"build_jobs={build_jobs[name]} pinned_rdds={pinned_rdds[name]}",
              file=sys.stderr, flush=True)
    print(json.dumps({"cpu_probe_ms": _probe_ms(), "queries": first,
                      "queries_steady": steady, "build_jobs": build_jobs,
                      "pinned_rdds": pinned_rdds}))
    spark.stop()


def mode_plans(outdir: str, names: list[str]) -> None:
    from bench import BENCH_QUERIES

    from newsraag_crawler_spark.queries import catalog

    cat = catalog()
    names = names or BENCH_QUERIES
    os.makedirs(outdir, exist_ok=True)
    spark = _session()
    for name in names:
        df = cat[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(buf.getvalue())
    print(json.dumps({"plans": len(names), "outdir": outdir}))
    spark.stop()


def mode_wave(cpus: int, n_urls: int, repeats: int) -> None:
    """Identical timed span to bench.crawl_wave_bench via direct import."""
    import bench

    from newsraag_crawler_spark.session import build_session

    spark = build_session(
        f"bench_extra_wave_{cpus}", cpus=cpus,
        extra_conf={"spark.python.worker.reuse": os.environ.get("SPARK_GRAFT_WORKER_REUSE", "false")},
    )

    def _release():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in list(jmap.values()):
            jrdd.unpersist(True)

    bench.crawl_wave_bench(spark, max(n_urls // 50, 5_000))
    _release()
    runs = []
    for _ in range(repeats):
        runs.append(bench.crawl_wave_bench(spark, n_urls))
        _release()
    spark.stop()
    times = sorted(dt for _, dt in runs)
    print(json.dumps({"cpu_probe_ms": _probe_ms(), "fetched": runs[0][0],
                      "elapsed_median": times[len(times) // 2],
                      "all_elapsed": [round(t, 2) for t in times]}))


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        mode_queries(sys.argv[2:])
    elif mode == "plans":
        mode_plans(sys.argv[2], sys.argv[3:])
    elif mode == "wave":
        cpus = int(sys.argv[2]) if len(sys.argv) > 2 else CPUS
        n_urls = int(sys.argv[3]) if len(sys.argv) > 3 else 1_000_000
        repeats = int(sys.argv[4]) if len(sys.argv) > 4 else 1
        mode_wave(cpus, n_urls, repeats)
    else:
        raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()
