"""Large-filter probe timing for the Bloom and cuckoo seen filters.

Times ``dedup.probe_bloom`` and ``dedup.probe_cuckoo`` over 1M probe keys
(half of them in the filter: 500k keys in 64 shards) with the broadcast
cutoff ``_JVM_PROBE_MAX_BYTES`` forced to 0 and auto-broadcast off, so the
probe takes the path meant for filters too large to broadcast. Prints one
JSON line: the min-of-N wall per probe and its hit count.

    python scripts/probe_ab.py <checkout dir> [reps] [cpus]

Pass the checkout to import the package from, so one copy of this script
times two revisions. For an A/B, alternate the two checkouts over several
process pairs (parent, change, change, parent, ...) and compare the minima.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    repo = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    sys.path.insert(0, os.path.abspath(repo))
    from pyspark.sql import functions as F

    from newsraag_crawler_spark.operators import dedup
    from newsraag_crawler_spark.session import build_session

    spark = build_session(
        "probe_ab", cpus=cpus, extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"}
    )
    dedup._JVM_PROBE_MAX_BYTES = 0
    n, n_shards, n_buckets = 1_000_000, 64, 1 << 12

    def keys(step: int):
        return spark.range(0, n, step).select(
            F.concat(
                F.lit("https://h"),
                (F.col("id") % 1000).cast("string"),
                F.lit(".example.com/p/"),
                F.col("id").cast("string"),
            ).alias("key")
        )

    probe, seen = keys(1), keys(2)
    nb, nh = dedup.bloom_params(n // 2 // n_shards)
    bs = dedup.build_bloom_shards(seen, n_shards=n_shards, n_bits=nb, n_hashes=nh).persist()
    cs = dedup.build_cuckoo_shards(seen, n_shards=n_shards, n_buckets=n_buckets).persist()
    bs.count()
    cs.count()
    runs = {
        "bloom": lambda: dedup.probe_bloom(
            probe, bs, n_shards=n_shards, n_bits=nb, n_hashes=nh
        ),
        "cuckoo": lambda: dedup.probe_cuckoo(
            probe, cs, n_shards=n_shards, n_buckets=n_buckets
        ),
    }
    min_s, hits = {}, {}
    for name, mk in runs.items():
        hits[name] = mk().filter("maybe_seen").count()  # warm-up + sanity
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            mk().write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        min_s[name] = round(min(ts), 3)
    print(json.dumps({"repo": repo, "min_s": min_s, "hits": hits, "n_bits": nb, "n_hashes": nh}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
