"""Frontier scheduling operators.

Two modes (SURVEY.md §2.6 W4, §7.1 M2/M3):

- ``reference_schedule`` — EQUIVALENCE MODE: reproduces the reference
  crawler's sequential crawl decision exactly (which URLs are attempted, in
  what order) as a parallel DataFrame computation. The reference order key
  is data-derived — (source_id, feed_rank) — never partition-derived, so
  the result is identical at any parallelism (`main.py:357`,
  `base_template.py:146-198`).

- ``priority_frontier`` — SCALE MODE: the engine's own production order:
  per-host score-ordered secondary sort with host-level budgets (north_rule
  priority queue). No global sequence — a global order is a single-process
  artifact the 10^10-scale path deliberately drops.

The equivalence-mode cap/dedup coupling needs care: the per-source cap
counts only successes, dup-check marks seen at check time, and a duplicate
whose first occurrence was never reached (cap break) must NOT be treated as
seen. That last case makes the decision inherently sequential across
sources, so we run a small fixpoint: assume all first-occurrences win, drop
capped-out winners, re-elect, repeat until stable (almost always 1 pass —
each pass strictly removes rows, so it terminates).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urlnorm import surt_url
from ..sources.synthetic import MIN_CONTENT_LEN


@dataclass
class ScheduleResult:
    attempted: DataFrame  # rows dup-checked this cycle (marked seen), with `ok`
    fetched: DataFrame  # attempted ∧ ok, with global crawl order `seq`
    stats: DataFrame  # per-source counters (A1 analogue)


def dedup_key_col(url_col, canonical: bool):
    """Raw-URL key (reference J1 semantics) or SURT key (canonical mode)."""
    return surt_url(url_col) if canonical else F.trim(url_col)


_MAX_FIXPOINT_ITERS = 10  # runaway bound; parity fixtures need 1-2 passes


def reference_schedule(
    candidates: DataFrame,
    sources: DataFrame,
    seen: DataFrame | None,
    canonical: bool = False,
    min_content_len: int = MIN_CONTENT_LEN,
) -> ScheduleResult:
    """Equivalence-mode schedule for one wave.

    candidates: (source_id, source_name, feed_rank, url, title, content_len)
    sources:    (source_id, max_articles_per_run, enabled) — small, broadcast
    seen:       one column ``key`` of previously-seen dedup keys, or None
    """
    src = F.broadcast(
        sources.select("source_id", "max_articles_per_run", "enabled")
    )
    valid = (
        candidates.withColumn("key", dedup_key_col(F.col("url"), canonical))
        .filter(
            F.col("title").isNotNull()
            & (F.col("title") != "")
            & F.col("url").isNotNull()
            & (F.col("url") != "")
        )
        .join(src, "source_id")
        .filter(F.col("enabled"))
        .withColumn("ok", (F.col("content_len") >= min_content_len).cast("int"))
    )
    if seen is not None:
        valid = valid.join(seen.select("key"), "key", "left_anti")

    # Fixpoint: elect per-key winners, apply per-source caps; a capped-out
    # winner is not crawled and not seen-marked, so a duplicate of it
    # elsewhere becomes promotable — drop capped winners from contention and
    # repeat. Each pass localCheckpoints (small parity-mode data) to keep
    # lineage flat; the loop almost always breaks on the first pass because
    # capped winners rarely have duplicates.
    w_key = Window.partitionBy("key").orderBy("source_id", "feed_rank")
    w_src = (
        Window.partitionBy("source_id")
        .orderBy("feed_rank")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    active = valid.localCheckpoint()
    attempted = None
    passes = 0
    for _ in range(_MAX_FIXPOINT_ITERS):
        passes += 1
        winners = (
            active.withColumn("_rn", F.row_number().over(w_key))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn("_prior", F.coalesce(F.sum("ok").over(w_src), F.lit(0)))
            .localCheckpoint()
        )
        attempted = winners.filter(
            F.col("_prior") < F.col("max_articles_per_run")
        ).drop("_prior")
        capped = winners.filter(F.col("_prior") >= F.col("max_articles_per_run"))
        # promotable: an active non-winner sharing a capped winner's key
        promotable = active.join(
            capped.select("key"), "key", "left_semi"
        ).join(
            winners.select("source_id", "feed_rank"),
            ["source_id", "feed_rank"],
            "left_anti",
        )
        # single action per pass (the count both decides the break and
        # feeds the runaway guard — no separate isEmpty probe)
        n_promotable = promotable.count()
        if n_promotable == 0:
            break
        # guard (r3 VERDICT #6): each pass is a driver action + a
        # localCheckpoint materialization; parity mode expects 1-2 passes,
        # so a pathological fixture must be loud, not silently expensive
        if passes >= 3:
            import warnings

            warnings.warn(
                f"reference_schedule fixpoint pass {passes + 1}: "
                f"{n_promotable} promotable duplicates of capped winners "
                "remain — parity mode is built for small data and ~1 pass; "
                "check the fixture/cap interaction",
                stacklevel=2,
            )
        active = active.join(
            capped.select(
                F.col("source_id").alias("_cs"), F.col("feed_rank").alias("_cf")
            ),
            (F.col("source_id") == F.col("_cs")) & (F.col("feed_rank") == F.col("_cf")),
            "left_anti",
        ).localCheckpoint()

    fetched = attempted.filter(F.col("ok") == 1)
    # Global crawl order without a single-partition window: per-source rank +
    # per-source offsets (tiny aggregate, broadcast back).
    w_order = Window.partitionBy("source_id").orderBy("feed_rank")
    fetched = fetched.withColumn("_src_rank", F.row_number().over(w_order))
    counts = fetched.groupBy("source_id").agg(F.count("*").alias("_n"))
    # unpartitioned window (single-partition WARN in logs) is SAFE here: it
    # runs over the per-source COUNTS aggregate — rows = #sources, not #urls
    w_off = Window.orderBy("source_id").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn("_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0)))
    fetched = fetched.join(F.broadcast(offsets.select("source_id", "_off")), "source_id")
    fetched = fetched.withColumn(
        "seq", (F.col("_off") + F.col("_src_rank") - 1).cast("long")
    ).drop("_src_rank", "_off")

    stats = attempted.groupBy("source_id").agg(
        F.count("*").alias("attempted"),
        F.sum("ok").alias("processed"),
        F.sum(1 - F.col("ok")).alias("failed"),
    )
    return ScheduleResult(attempted=attempted, fetched=fetched, stats=stats)


def newest_first(
    df: DataFrame,
    date_col: str,
    group_col: str = "source_id",
    tiebreak_col: str = "feed_rank",
) -> DataFrame:
    """W1 (reference html_template.py:150,444-455): newest-first crawl order
    per source, with unparseable/NULL dates falling back to datetime.min so
    they sort LAST — exactly the reference's `articles.sort(key=lambda a:
    a.published_date or datetime.min, reverse=True)`. Adds ``order_rank``
    (1 = newest)."""
    key = F.coalesce(F.col(date_col), F.lit("0001-01-01").cast("date"))
    w = Window.partitionBy(group_col).orderBy(key.desc(), F.col(tiebreak_col))
    return df.withColumn("order_rank", F.row_number().over(w))


def priority_frontier(
    frontier: DataFrame,
    host_col: str = "host",
    score_col: str = "score",
    rank_col: str = "discovery_rank",
) -> DataFrame:
    """Scale-mode priority order: per-host rank by (score desc, rank asc).

    Adds ``host_rank`` (1-based position within host). Politeness budgeting
    (operators/politeness.py) turns host_rank into wave/offset assignments.
    The shuffle here is BY HOST — the same partitioning politeness and fetch
    reuse, so ranking, budgeting and fetching are one exchange.

    Aging (r4 VERDICT #8): when the frontier carries a ``carried_offset``
    column (budget-spilled rows re-enter with their previous wave_offset
    MINUS ONE; fresh arrivals carry NULL), it is the primary sort key —
    ascending, NULLs last — so a spilled row can never be pre-empted
    indefinitely by newer same-host arrivals: each wave strictly decrements
    its offset until it schedules. This is the politeness docstring's
    "spill returns with wave_offset decremented" contract made real.
    """
    keys = [F.col(score_col).desc(), F.col(rank_col).asc()]
    if "carried_offset" in frontier.columns:
        keys.insert(0, F.col("carried_offset").asc_nulls_last())
    w = Window.partitionBy(host_col).orderBy(*keys)
    return frontier.withColumn("host_rank", F.row_number().over(w))
