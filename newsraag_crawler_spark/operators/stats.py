"""Metrics rollups — the reference's counters as aggregations.

Maps SURVEY.md §2.5: cycle stats (A1/A2), success rate (A3), tumbling-window
token rollups (A5), health rollups (A7), frame-spec trend windows (A8).
All pure DataFrame aggregations; the reference's manual counter dicts
(`/root/reference/monitoring/metrics.py:57-181`) become one groupBy each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cycle_stats(attempted: DataFrame) -> DataFrame:
    """Per-source counters + rollup total line (A1: main.py:347-355).

    attempted must carry (source_id, ok). The rollup's NULL source_id row is
    the reference's "overall" summary line.
    """
    # success_rate = half-up(processed/discovered*100, 1dp) computed in EXACT
    # integer arithmetic: floor((p*2000 + d) / (2d)) tenths-of-percent, then
    # one double division by 10. Float division + round() is order- and
    # engine-dependent (Spark half-up vs DuckDB half-even on double ties);
    # integer div is bit-identical everywhere.
    return (
        attempted.rollup("source_id")
        .agg(
            F.count("*").alias("discovered"),
            F.sum("ok").alias("processed"),
            F.sum(1 - F.col("ok")).alias("failed"),
        )
        .withColumn(
            "success_rate",
            F.expr(
                "cast((processed * 2000 + greatest(discovered, 1)) div "
                "(2 * greatest(discovered, 1)) as double) / 10.0"
            ),
        )
    )


def dup_detector_stats(checks: DataFrame) -> DataFrame:
    """A6 dup-detector stats (reference duplicate_detector.py:68-97):
    cache hits/misses, hit-rate and duplicate-rate per source + rollup line.
    checks must carry (source_id, key).

    A 'hit' is any check whose key was already checked — in a set-semantics
    world that is total_checks − distinct_keys (order-free, so it
    distributes; the reference's LRU eviction bound is a one-process memory
    artifact the survey drops, §1.1). duplicates_found == cache_hits (every
    cache hit IS a detected duplicate, `duplicate_detector.py:60-66`).
    Rates use the exact-integer half-up 1dp convention (bit-identical across
    engines; see cycle_stats)."""

    def rate(num: str, den: str):
        return F.expr(
            f"cast(({num} * 2000 + greatest({den}, 1)) div "
            f"(2 * greatest({den}, 1)) as double) / 10.0"
        )

    return (
        checks.rollup("source_id")
        .agg(
            F.count("*").alias("total_checks"),
            F.countDistinct("key").alias("cache_misses"),
        )
        .withColumn("cache_hits", F.col("total_checks") - F.col("cache_misses"))
        .withColumn("duplicates_found", F.col("cache_hits"))
        .withColumn("hit_rate_pct", rate("cache_hits", "total_checks"))
        .withColumn("duplicate_rate_pct", rate("duplicates_found", "total_checks"))
    )


def status_pivot(df: DataFrame, group_col: str, status_col: str, statuses: list[str]) -> DataFrame:
    """groupBy().pivot(status).count() — the metrics-registry table (A2)."""
    return df.groupBy(group_col).pivot(status_col, statuses).count().na.fill(0)


def host_health(fetch_log: DataFrame, failure_threshold: int = 3) -> DataFrame:
    """Per-host health (A7: source_models.py:97-115): consecutive trailing
    failures >= threshold ⇒ unhealthy. Consecutive-from-the-end = count of
    rows after the last success (window max over success ranks)."""
    w = Window.partitionBy("host").orderBy("fetched_rank")
    ranked = fetch_log.withColumn(
        "_last_ok_rank",
        F.max(F.when(F.col("success"), F.col("fetched_rank"))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    )
    # avg response: sum in DECIMAL (exact, order-independent — double sums
    # drift under parallelism), then half-up at 4dp via integer division in
    # 0.1ms units. elapsed_s is expected to carry <= 3 decimals (ms
    # precision); the decimal cast recovers the exact value.
    return (
        ranked.groupBy("host")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    F.col("fetched_rank") > F.coalesce(F.col("_last_ok_rank"), F.lit(-1)),
                    1,
                ).otherwise(0)
            ).alias("consecutive_failures"),
            F.sum(F.col("elapsed_s").cast("decimal(18,3)")).alias("_sum_s"),
        )
        .withColumn(
            "avg_response_s",
            F.expr(
                "cast((cast(_sum_s * 1000 as bigint) * 20 + n) div (2 * n) as double)"
                " / 10000.0"
            ),
        )
        .drop("_sum_s")
        .withColumn("healthy", F.col("consecutive_failures") < failure_threshold)
    )


def token_budget_gate(
    usage: DataFrame,
    ts_col: str,
    tokens_col: str,
    order_col: str,
    daily_limit: int,
    monthly_limit: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """A5/F6 (reference token_tracker.py:85-131): daily AND monthly
    cumulative token usage with a budget-refusal column.

    The reference resets counters at day/month boundaries and refuses any
    request that would push either counter past its limit
    (can_make_request). Both counters ARE tumbling-window running sums:
    partition by the truncated day/month, order by the request sequence, sum
    over the preceding frame — one pass, no state machine. ``allowed``
    mirrors can_make_request for the row's own token count.

    Deliberate deviation: the running sums count ATTEMPTED usage, so a
    refused request still consumes budget headroom for later rows. The
    reference's skip-refused counter is sequentially dependent (each
    decision feeds the next sum) — exact at 1 process, unevaluable as a
    window at 10^10 rows. Attempted-usage gating is the order-independent
    conservative over-approximation: it never admits a row the reference
    would refuse within the same prefix.

    Scale: two window functions over the same (keys, time-bucket)
    partitioning; Spark evaluates them in one shuffle per distinct window
    spec — per-day partitions are bounded by daily traffic, never the whole
    table.
    """
    keys = keys or []
    day = F.date_trunc("day", F.col(ts_col))
    month = F.date_trunc("month", F.col(ts_col))
    wd = (
        Window.partitionBy(*keys, day)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wm = (
        Window.partitionBy(*keys, month)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        usage.withColumn("day", day)
        .withColumn("month", month)
        .withColumn("cum_day_before", F.coalesce(F.sum(tokens_col).over(wd), F.lit(0)))
        .withColumn(
            "cum_month_before", F.coalesce(F.sum(tokens_col).over(wm), F.lit(0))
        )
    )
    return out.withColumn(
        "allowed",
        (F.col("cum_day_before") + F.col(tokens_col) <= F.lit(daily_limit))
        & (F.col("cum_month_before") + F.col(tokens_col) <= F.lit(monthly_limit)),
    )


TREND_QSCALE = 1e10  # trend_window's quantization grid (the oracle's 1e10)


def trend_window(
    df: DataFrame,
    order_col: str,
    value_col: str,
    partition_col: str | None = None,
) -> DataFrame:
    """A8 memory-trend frames: avg(last 5) vs avg(prev 5) growth ratio
    (reference memory_optimizer.py:97-122).

    Cross-engine-exact construction (r5; see operators/clustering.py for
    the pattern): values are quantized once with floor(v·TREND_QSCALE) — one
    agreed IEEE multiply, exact floor — window sums run in int64 (order-
    free), and each output is ONE IEEE division of integer-agreed operands,
    so the result is bit-identical in any engine. The r4 float/decimal
    version flipped round-boundary rows between Spark and DuckDB at sf0.1.
    |v|·TREND_QSCALE·5 must stay within int64 (and within 2^53 for exact
    int→double products — ample for metric-series values).

    Adds: recent_avg, growth_ratio (1.0 while the prev window is empty,
    NULL if the prev window sums to exactly zero)."""
    vi = F.floor(F.col(value_col) * F.lit(TREND_QSCALE)).cast("long")
    w = (
        Window.partitionBy(partition_col).orderBy(order_col)
        if partition_col is not None
        else Window.orderBy(order_col)
    )
    w5, wp = w.rowsBetween(-4, 0), w.rowsBetween(-9, -5)
    rs, rc = F.sum(vi).over(w5), F.count(F.lit(1)).over(w5)
    ps, pc = F.sum(vi).over(wp), F.count(F.lit(1)).over(wp)
    recent_avg = rs.cast("double") / (rc.cast("double") * F.lit(TREND_QSCALE))
    growth = (
        F.when(pc == 0, F.lit(1.0))
        .when(ps == 0, F.lit(None).cast("double"))
        .otherwise((rs * pc).cast("double") / (ps * rc).cast("double"))
    )
    return df.withColumn("recent_avg", recent_avg).withColumn(
        "growth_ratio", growth
    )
