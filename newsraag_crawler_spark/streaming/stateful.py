"""Custom stateful streaming operator: per-host token-bucket rate limiter.

The reference's ``RateLimiter`` sleeps so consecutive requests per source
are >= rate_limit_seconds apart, but its state resets every run
(`/root/reference/crawler/utils/rate_limiter.py:10-32`, reset bug-shape at
`:20`; SURVEY.md §7.3.5). Here the bucket is REAL cross-batch state:
``applyInPandasWithState`` keeps each host's next-free timestamp in the
streaming state store, so politeness survives micro-batch boundaries and
checkpoint restarts — the streaming twin of the batch engine's
``operators.politeness.budget_waves`` (whose persistence is the frontier
spill).

The per-group recurrence sched_i = max(t_i, sched_{i-1} + delay) is solved
in closed form with a cumulative max (sched_i = delay*i + cummax(t_j -
delay*j)), so the handler is pure numpy — no per-row Python loop even
inside the stateful UDF.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

RATE_LIMIT_OUTPUT = StructType(
    [
        StructField("host", StringType()),
        StructField("url", StringType()),
        StructField("feed_rank", LongType()),
        StructField("arrival_s", DoubleType()),
        StructField("scheduled_at_s", DoubleType()),
        StructField("wait_s", DoubleType()),
        # passthrough for the full stream pipeline (stream_crawl): absent
        # input columns surface as 0 / NULL
        StructField("source_id", IntegerType()),
        StructField("surt_url", StringType()),
    ]
)
_STATE = StructType(
    [StructField("next_free_s", DoubleType()), StructField("served", LongType())]
)


def rate_limit_stream(frontier: DataFrame, delay_s: float = 1.0) -> DataFrame:
    """Assign each streamed URL a politeness slot >= delay_s after the
    host's previous slot, with the bucket persisted across micro-batches.

    frontier must carry (host, url, feed_rank, discovered_at). Rows within
    a batch are ordered deterministically by (discovered_at, feed_rank, url).
    """

    def _bucket(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        next_free, served = state.get if state.exists else (float("-inf"), 0)
        # applyInPandasWithState may deliver ONE group as several
        # arbitrarily-ordered chunks; a per-chunk sort would let
        # later-arriving URLs jump the documented (ts, feed_rank, url)
        # order (ADVICE r3). Group sizes are politeness-bounded (a host's
        # per-batch rows are capped upstream), so concatenating before the
        # single sort is safe on memory.
        parts = [pdf for pdf in pdfs if not pdf.empty]
        if parts:
            pdf = pd.concat(parts, ignore_index=True).sort_values(
                ["discovered_at", "feed_rank", "url"], kind="stable"
            ).reset_index(drop=True)
            t = pdf["discovered_at"].astype("int64").to_numpy() / 1e9
            n = len(t)
            # closed form of sched_i = max(t_i, sched_{i-1} + delay) with
            # sched_0 >= next_free:  sched_i = delay*i + cummax_j(t_j -
            # delay*j), prior state folded in by clamping the first term
            idx = np.arange(n, dtype=np.float64)
            u = t - delay_s * idx
            if next_free > float("-inf"):
                u[0] = max(u[0], next_free)
            sched = delay_s * idx + np.maximum.accumulate(u)
            next_free = float(sched[-1] + delay_s)
            served += n
            yield pd.DataFrame(
                {
                    "host": key[0],
                    "url": pdf["url"],
                    "feed_rank": pdf["feed_rank"].astype("int64"),
                    "arrival_s": t,
                    "scheduled_at_s": sched,
                    "wait_s": sched - t,
                    "source_id": (
                        pdf["source_id"].astype("int32")
                        if "source_id" in pdf
                        else np.zeros(n, dtype="int32")
                    ),
                    "surt_url": (
                        pdf["surt_url"] if "surt_url" in pdf else [None] * n
                    ),
                }
            )
        state.update((next_free if next_free > float("-inf") else 0.0, served))

    return frontier.groupBy("host").applyInPandasWithState(
        _bucket,
        RATE_LIMIT_OUTPUT,
        _STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )
