"""Politeness: robots rules, per-host budgets, token-bucket scheduling.

The reference's politeness is a per-source sleep
(`/root/reference/crawler/utils/rate_limiter.py:10-32`,
`base_template.py:156-163`) and it never reads robots.txt (SURVEY.md §2.7
R7). At 10^10-URL scale politeness must be *declarative*: a budget and a
deterministic schedule computed as columns, not sleeps.

Operators:
- ``apply_robots``     — drop (quarantine) URLs matching per-host disallow
  prefixes; broadcast join on host.
- ``budget_waves``     — per-host token bucket as pure column math: given
  ``host_rank`` (from operators.frontier.priority_frontier), assign
  ``wave_offset = floor((host_rank-1)/budget)`` and a deterministic
  ``scheduled_at_s`` inside the wave from the host's crawl_delay. Rows with
  wave_offset=0 fetch this wave; the rest SPILL back to the frontier —
  politeness state that persists across waves by construction (fixes the
  reference's reset-per-run bug-shape, SURVEY.md §7.3.5).
- ``salt_hot_hosts``   — AFTER budgeting, split each scheduled host group
  across ``n_salts`` shuffle keys when its wave row-count exceeds a
  threshold (``skew_census``), so one hot host cannot serialize a
  partition. Budgets are computed BEFORE salting — per-host politeness is
  global even when the host's rows are spread over many partitions
  (SURVEY.md §7.3.3). The production wave (operators.wave.run_scale_wave)
  no longer salts: with budgets assigned first, its fetch places rows by
  URL hash, one task per core. The census and salting stay for the bench
  harness and the traced benchmark composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_robots(
    frontier: DataFrame,
    policies: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
) -> tuple[DataFrame, DataFrame]:
    """Split frontier into (allowed, blocked) by robots disallow prefixes.

    policies: (host, robots_disallow: array<string>) — dimension table,
    broadcast (hosts ≪ URLs at any scale worth running Spark for).
    """
    joined = frontier.join(
        F.broadcast(policies.select(host_col, "robots_disallow")), host_col, "left"
    )
    blocked_pred = F.exists(
        F.coalesce(F.col("robots_disallow"), F.array()),
        lambda pref: F.col(path_col).startswith(pref),
    )
    allowed = joined.filter(~blocked_pred).drop("robots_disallow")
    blocked = joined.filter(blocked_pred).drop("robots_disallow")
    return allowed, blocked


def budget_waves(
    ranked: DataFrame,
    policies: DataFrame,
    host_col: str = "host",
    default_budget: int = 50,
    default_delay_s: float = 1.0,
) -> DataFrame:
    """Token-bucket schedule as columns (no sleeps, no state machine).

    ranked must carry ``host_rank`` (1-based, politeness-priority order).
    Adds: per_wave_budget, crawl_delay_s, wave_offset, scheduled_at_s.
    """
    pol = F.broadcast(policies.select(host_col, "per_wave_budget", "crawl_delay_s"))
    df = (
        ranked.join(pol, host_col, "left")
        .withColumn(
            "per_wave_budget", F.coalesce("per_wave_budget", F.lit(default_budget))
        )
        .withColumn(
            "crawl_delay_s", F.coalesce("crawl_delay_s", F.lit(default_delay_s))
        )
    )
    r0 = F.col("host_rank") - 1
    return df.withColumn(
        "wave_offset", F.floor(r0 / F.col("per_wave_budget")).cast("int")
    ).withColumn(
        "scheduled_at_s",
        (F.pmod(r0, F.col("per_wave_budget")) * F.col("crawl_delay_s")).cast("double"),
    )


def split_wave(budgeted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(due_now, spill): wave_offset==0 fetches this wave; the rest return
    to the frontier with wave_offset decremented on the next cycle."""
    return (
        budgeted.filter(F.col("wave_offset") == 0),
        budgeted.filter(F.col("wave_offset") > 0),
    )


# robots.txt parsing (engine addition — the reference never reads robots,
# SURVEY §2.7 R7; north_star asks for crawl-delay/allow rules FROM robots).
# Lookahead-free section extraction so ONE regex dialect serves both Java
# (Spark) and RE2 (DuckDB, no (?=...)): every "User-agent:" is rewritten
# to a \x01-sentinel, then the wildcard agent's section is "sentinel *
# followed by non-sentinel chars" — i.e. everything up to the next
# user-agent line. \x01 cannot collide with body text: any pre-existing
# \x01 bytes are stripped first (they never occur in well-formed robots
# bodies, so stripping is lossless), unlike the r4 '@'-sentinel, which a
# webmaster email in a comment silently truncated (r4 ADVICE).
_UA_SENTINEL = "\x01"
_ROBOTS_DEFAULT_DELAY_S = 1.0  # the DuckDB mirror hard-codes the same 1.0


def parse_robots(bodies: DataFrame, body_col: str = "robots_txt") -> DataFrame:
    """robots.txt bodies → per-host policy columns, fully relational.

    Honors the wildcard ``User-agent: *`` group: its ``Disallow:``
    prefixes (empty value = allow-all, per the de-facto standard) and
    ``Crawl-delay:`` (falls back to 1.0 s). A missing body or a body
    without a ``*`` group yields allow-all + default delay — crawl
    conservatively only when told to. ``#``-comments are stripped per the
    original robots.txt spec (so a comment containing 'User-agent:' text
    or a stray sentinel byte can't corrupt section extraction), and a
    Crawl-delay value must be a plain decimal (``^\\d+(\\.\\d+)?$``) —
    malformed values like ``1.2.3`` fall back to the default instead of
    cast-to-NULL (Spark) / conversion-error (DuckDB) divergence.

    Adds: robots_disallow array<string>, crawl_delay_s double. Output
    composes directly with apply_robots/budget_waves (the hosts policy
    table the north rule derives from robots).
    """
    body = F.regexp_replace(F.coalesce(F.col(body_col), F.lit("")), "\x01", "")
    body = F.regexp_replace(body, r"(?m)#.*$", "")  # spec: # starts a comment
    marked = F.regexp_replace(body, r"(?i)User-agent\s*:", _UA_SENTINEL)
    # section = wildcard group's directives, up to the next user-agent line
    section = F.regexp_extract(marked, "(?is)\x01\\s*\\*\\s*([^\x01]*)", 1)
    disallow = F.filter(
        F.regexp_extract_all(section, F.lit(r"(?i)Disallow\s*:[ \t]*(\S*)"), F.lit(1)),
        lambda p: p != "",  # empty Disallow: = allow-all, drop it
    )
    delay_raw = F.regexp_extract(section, r"(?i)Crawl-delay\s*:[ \t]*([0-9.]+)", 1)
    delay = F.when(
        delay_raw.rlike(r"^[0-9]+(\.[0-9]+)?$"),
        F.coalesce(delay_raw.cast("double"), F.lit(_ROBOTS_DEFAULT_DELAY_S)),
    ).otherwise(F.lit(_ROBOTS_DEFAULT_DELAY_S))
    return bodies.withColumn("robots_disallow", disallow).withColumn(
        "crawl_delay_s", delay
    )


RETRY_TIMEOUTS_S = (30, 60, 120)  # reference crawl4ai_extractor.py:108


def retry_schedule(
    attempted: DataFrame,
    success_col: str = "success",
    attempt_col: str = "attempt",
    max_attempts: int = 3,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Progressive-timeout retry as wave re-entry (SURVEY.md §2.7 R3/R4).

    The reference retries in-process with sleeps [30,60,120]s; here a failed
    row becomes a frontier row for the NEXT wave carrying attempt+1 and its
    progressive timeout budget — deterministic, checkpointable, and idle-
    free (no executor ever sleeps).

    Returns (succeeded, retry, dead): dead = exhausted max_attempts.
    """
    failed = attempted.filter(~F.col(success_col))
    succeeded = attempted.filter(F.col(success_col))
    timeout_expr = F.element_at(
        F.array(*[F.lit(t) for t in RETRY_TIMEOUTS_S]),
        F.least(F.col(attempt_col) + 2, F.lit(len(RETRY_TIMEOUTS_S))).cast("int"),
    )
    retry = (
        failed.filter(F.col(attempt_col) + 1 < max_attempts)
        .withColumn("timeout_s", timeout_expr)  # indexed by NEXT attempt
        .withColumn(attempt_col, F.col(attempt_col) + 1)
        .withColumn("backoff_s", F.pow(F.lit(2.0), F.col(attempt_col)))
    )
    dead = failed.filter(F.col(attempt_col) + 1 >= max_attempts)
    return succeeded, retry, dead


def skew_census(
    scheduled: DataFrame, host_col: str = "host", threshold: int = 10_000
) -> DataFrame:
    """Hosts whose scheduled row-count exceeds the per-partition comfort
    threshold, with the salt factor needed to spread them. Tiny output
    (≤ #hot hosts) — safe to broadcast."""
    return (
        scheduled.groupBy(host_col)
        .agg(F.count("*").alias("n_rows"))
        .filter(F.col("n_rows") > threshold)
        .withColumn("n_salts", F.ceil(F.col("n_rows") / threshold).cast("int"))
    )


def salt_hot_hosts(
    scheduled: DataFrame,
    census: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
) -> DataFrame:
    """Add ``fetch_key``: host for cold hosts, host#salt for hot ones.

    Salt is derived from the row's URL hash → deterministic, uniform.
    Downstream repartitions on fetch_key, so a hot host spreads over
    n_salts partitions while budgets (already assigned) stay per-host.
    """
    df = scheduled.join(
        F.broadcast(census.select(host_col, "n_salts")), host_col, "left"
    ).withColumn("n_salts", F.coalesce("n_salts", F.lit(1)))
    salt = F.pmod(F.xxhash64(F.col(url_col)), F.col("n_salts"))
    return df.withColumn(
        "fetch_key",
        F.when(F.col("n_salts") <= 1, F.col(host_col)).otherwise(
            F.concat_ws("#", F.col(host_col), salt.cast("string"))
        ),
    ).drop("n_salts")
