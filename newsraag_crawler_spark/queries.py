"""Driver-facing query catalog: each entry is (Spark callable, DuckDB SQL).

Every operator from SURVEY.md §2 that is SQL-expressible gets BOTH a Spark
implementation (through the engine's operators) and an equivalent ANSI-ish
SQL string for DuckDB, with IDENTICAL output column names and types chosen
for cross-engine hash stability:

- integers / strings wherever possible;
- money/quantity aggregates computed in DECIMAL (order-independent, exact)
  then rounded and cast to double;
- float similarity scores rounded to 6 dp with an id tiebreak on ranks.

Crawl-specific operators (canonicalizer, seen anti-join, caps, politeness
waves, reference schedule, Bloom two-phase) are exercised over inputs
SYNTHESIZED deterministically from the driver's `documents` table with pure
column expressions that both engines evaluate identically — no external
data (BASELINE.json input_hint is covered separately by entry()/pytest,
which carry real image payloads).

Operators take no checkpoint option: a query whose frame feeds several
consumers checkpoints that frame itself, and only where a measured A/B
shows the checkpoint pays (the comment at each ``localCheckpoint`` gives it).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import text as T
from .functions import urlnorm as U
from .functions.hashing import portable_hash64, portable_hash64_sql

# ---------------------------------------------------------------------------
# synthesized crawl inputs (shared Spark/DuckDB expressions)
# ---------------------------------------------------------------------------

# messy URL per document — exercises case/port/www/query-order/fragment rules
_URL_SPARK = (
    "concat('https://www.Host', cast(pmod(doc_id, 20) as string), "
    "'.Example.COM:443/docs/', cast(doc_id as string), '/?b=2&a=', lang, '#frag')"
)
_URL_DUCK = (
    "'https://www.Host' || (doc_id % 20)::VARCHAR || '.Example.COM:443/docs/' "
    "|| doc_id::VARCHAR || '/?b=2&a=' || lang || '#frag'"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .session import ensure_shipped

    ensure_shipped(spark)  # driver builds its own session; UDF queries need the pkg
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_with_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).withColumn("url", F.expr(_URL_SPARK))


def _cloned_docs_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact clones of every 20th doc (id+1_000_000) — guarantees
    duplicate groups for the near-dup operators."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    clones = d.filter(F.pmod("doc_id", F.lit(20)) == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    # local testdata is one small parquet file = one input split; spread the
    # CPU-heavy shingle/signature work (a real 100 TB scan has one split per
    # file chunk and never needs this). Hash-partition BY doc_id rather than
    # round-robin: consumers keyed on the doc id (the winnowing rolling-min
    # window, the jaccard per-doc size census) then reuse THIS pre-explode
    # exchange of ~5k doc rows instead of re-shuffling millions of exploded
    # shingle rows (guide §2.4: same-keyed operations share one exchange)
    return d.unionByName(clones).repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` over ``defaultParallelism`` partitions.

    The queries that call this do map-side work (regex chains, per-token
    hashing, argmin/argmax projections) before their first exchange, so scan
    parallelism is their only parallelism: the local testdata is one small
    parquet file = one input split, and unspread all that work ran on one
    task.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


_CLONED_DOCS_DUCK = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0"
)

# word 3-shingles, both engines, from whitespace-normalized lowercase text
_SHINGLES_DUCK = (
    "list_transform(range(1, greatest(len({w}) - 2, 1) + 1), "
    "i -> array_to_string(list_slice({w}, i, i + 2), ' '))"
).format(w="string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')")


def _minhash_base_hashes_duck() -> str:
    """SQL expr: shingles → list of base hashes mod p (one md5 per shingle)."""
    from .operators.dedup import _MINHASH_P

    return (
        f"list_transform({_SHINGLES_DUCK}, s -> "
        f"({portable_hash64_sql('s')}) % {_MINHASH_P})"
    )


def _minhash_sig_from_hs_duck(n: int = 8) -> str:
    """SQL expr over a column ``hs`` (base hash list): the n-perm signature."""
    from .operators.dedup import _MINHASH_P, minhash_perms

    return (
        "["
        + ", ".join(
            f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {_MINHASH_P}))"
            for a, b in minhash_perms(n)
        )
        + "]"
    )


# ---------------------------------------------------------------------------
# the catalog
# ---------------------------------------------------------------------------


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))),
                2,
            ).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


_SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2)::DOUBLE AS sum_qty,
       round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)::DOUBLE AS sum_base_price,
       round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2)::DOUBLE AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_with_url(spark, sf_dir)
    return d.select(
        "doc_id",
        U.canonical_url("url").alias("canon_url"),
        U.surt_url("url").alias("surt_key"),
        U.url_host("url").alias("host"),
    )


def _sql_url_canonicalize() -> str:
    return (
        f"SELECT doc_id, {U.duckdb_canonical_sql(_URL_DUCK)} AS canon_url, "
        f"{U.duckdb_surt_sql(_URL_DUCK)} AS surt_key, "
        f"{U.duckdb_host_sql(_URL_DUCK)} AS host FROM documents"
    )


def q_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2: frontier minus seen set, keyed on SURT (left-anti join)."""
    d = _docs_with_url(spark, sf_dir).withColumn("surt_key", U.surt_url("url"))
    seen = d.filter(F.pmod("doc_id", F.lit(3)) == 0).select("surt_key")
    from .operators.dedup import anti_join_seen

    return anti_join_seen(d, seen, "surt_key").select("doc_id", "surt_key")


def _sql_seen_antijoin() -> str:
    surt = U.duckdb_surt_sql(_URL_DUCK)
    return f"""
WITH f AS (SELECT doc_id, {surt} AS surt_key FROM documents),
seen AS (SELECT surt_key FROM f WHERE doc_id % 3 = 0)
SELECT doc_id, surt_key FROM f
WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.surt_key = f.surt_key)
"""


def q_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: per-group LIMIT via row_number window (reference max_articles)."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        d.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("source", "doc_id", "rnk")
    )


_SQL_PER_SOURCE_CAP = """
SELECT source, doc_id, rnk FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rnk
  FROM documents) WHERE rnk <= 10
"""


def q_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 completion: parse robots.txt BODIES into the per-host policy the
    budget/robots operators consume — wildcard-agent section extraction
    (lookahead-free so one regex dialect serves Java and RE2), Disallow
    prefixes (empty value = allow-all), Crawl-delay with default fallback.
    Fixture rotates: multi-agent body (the * group is NOT first, topped by
    a comment containing '@' — the r4 ADVICE truncation shape) / a body
    with only a specific agent / an empty-Disallow * group with a
    MALFORMED Crawl-delay (1.2.3 → default, not NULL/error) / no robots
    at all."""
    from .operators.politeness import parse_robots

    i = F.col("doc_id")
    nl = F.lit("\n")
    v0 = F.concat(
        F.lit("# contact: admin@example.com"), nl,
        F.lit("User-agent: badbot"), nl, F.lit("Disallow: /"), nl,
        F.lit("User-agent: *"), nl, F.lit("Disallow: /private"), nl,
        F.lit("Disallow: /tmp"), nl,
        F.lit("Crawl-delay: "), (F.pmod(i, F.lit(5)) + 1).cast("string"), F.lit(".5"),
    )
    v1 = F.concat(F.lit("User-agent: googlebot"), nl, F.lit("Disallow: /secret"))
    v2 = F.concat(
        F.lit("User-agent: *"), nl, F.lit("Disallow:"), nl,
        F.lit("Crawl-delay: 1.2.3"), nl,
    )
    body = (
        F.when(F.pmod(i, F.lit(4)) == 0, v0)
        .when(F.pmod(i, F.lit(4)) == 1, v1)
        .when(F.pmod(i, F.lit(4)) == 2, v2)
        .otherwise(F.lit(None).cast("string"))
    )
    d = _docs(spark, sf_dir).filter(i < 500).select(
        F.concat(F.lit("h"), i.cast("string"), F.lit(".example.com")).alias("host"),
        body.alias("robots_txt"),
    )
    parsed = parse_robots(d)
    return parsed.select(
        "host",
        "crawl_delay_s",
        F.to_json("robots_disallow").alias("disallow_json"),
        F.size("robots_disallow").alias("n_rules"),
    )


_SQL_ROBOTS_PARSE = r"""
WITH d AS (
  SELECT doc_id, 'h' || doc_id::VARCHAR || '.example.com' AS host,
    CASE doc_id % 4
      WHEN 0 THEN '# contact: admin@example.com' || chr(10)
        || 'User-agent: badbot' || chr(10) || 'Disallow: /' || chr(10)
        || 'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10)
        || 'Disallow: /tmp' || chr(10)
        || 'Crawl-delay: ' || ((doc_id % 5) + 1)::VARCHAR || '.5'
      WHEN 1 THEN 'User-agent: googlebot' || chr(10) || 'Disallow: /secret'
      WHEN 2 THEN 'User-agent: *' || chr(10) || 'Disallow:' || chr(10)
        || 'Crawl-delay: 1.2.3' || chr(10)
      ELSE NULL END AS robots_txt
  FROM documents WHERE doc_id < 500),
m AS (SELECT host,
        regexp_replace(
          regexp_replace(
            regexp_replace(COALESCE(robots_txt, ''), chr(1), '', 'g'),
            '(?m)#.*$', '', 'g'),
          'User-agent\s*:', chr(1), 'gi') AS marked
      FROM d),
s AS (SELECT host,
        regexp_extract(marked,
          '(?is)' || chr(1) || '\s*\*\s*([^' || chr(1) || ']*)', 1) AS section
      FROM m),
p AS (SELECT host,
        list_filter(regexp_extract_all(section, '(?i)Disallow\s*:[ \t]*(\S*)', 1),
                    x -> x <> '') AS dis,
        regexp_extract(section, '(?i)Crawl-delay\s*:[ \t]*([0-9.]+)', 1) AS delay_raw
      FROM s)
SELECT host,
  CASE WHEN regexp_matches(delay_raw, '^[0-9]+(\.[0-9]+)?$')
       THEN COALESCE(TRY_CAST(delay_raw AS DOUBLE), 1.0) ELSE 1.0 END AS crawl_delay_s,
  CAST(to_json(dis) AS VARCHAR) AS disallow_json,
  len(dis)::INT AS n_rules
FROM p
"""


def q_politeness_waves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: token-bucket budget as column math — wave assignment + schedule
    offsets (budget 7, delay 1.5s), host stood in by `source`."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    r0 = F.row_number().over(w) - 1
    return d.select(
        "source",
        "doc_id",
        F.floor(r0 / 7).cast("int").alias("wave_offset"),
        (F.pmod(r0, F.lit(7)) * 1.5).alias("scheduled_at_s"),
    )


_SQL_POLITENESS = """
SELECT source, doc_id,
       ((row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1) // 7)::INT AS wave_offset,
       ((row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1) % 7) * 1.5 AS scheduled_at_s
FROM documents
"""


def q_reference_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-decision core (SURVEY §2.6 W4): success-counted per-source
    caps + validity filters + global (source, rank) order, via the engine's
    reference_schedule operator. Inputs synthesized from documents; no
    within-run duplicates, so the SQL mirror needs no fixpoint."""
    from .operators.frontier import reference_schedule

    d = _docs_with_url(spark, sf_dir)
    cands = d.select(
        (F.pmod(portable_hash64("source"), F.lit(1_000_000))).cast("int").alias("source_id"),
        F.col("source").alias("source_name"),
        F.col("doc_id").alias("feed_rank"),
        "url",
        F.when(F.pmod("doc_id", F.lit(17)) == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("T"), F.col("doc_id").cast("string")))
        .alias("title"),
        F.col("n_chars").cast("int").alias("content_len"),
    )
    sources = (
        cands.select("source_id")
        .distinct()
        .withColumn("max_articles_per_run", F.lit(15))
        .withColumn("enabled", F.lit(True))
    )
    sched = reference_schedule(cands, sources, None, min_content_len=500)
    return sched.fetched.select(
        F.col("source_name").alias("source"), F.col("feed_rank").alias("doc_id"), "seq"
    )


def _sql_reference_schedule() -> str:
    sid = portable_hash64_sql("source")
    return f"""
WITH cand AS (
  SELECT ({sid}) % 1000000 AS source_id, source AS source_name,
         doc_id AS feed_rank,
         CASE WHEN doc_id % 17 = 0 THEN NULL ELSE 'T' || doc_id::VARCHAR END AS title,
         n_chars AS content_len
  FROM documents),
valid AS (SELECT * FROM cand WHERE title IS NOT NULL),
flagged AS (
  SELECT *, CASE WHEN content_len >= 500 THEN 1 ELSE 0 END AS ok,
         COALESCE(sum(CASE WHEN content_len >= 500 THEN 1 ELSE 0 END)
           OVER (PARTITION BY source_id ORDER BY feed_rank
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
  FROM valid),
fetched AS (SELECT * FROM flagged WHERE prior < 15 AND ok = 1)
SELECT source_name AS source, feed_rank AS doc_id,
       row_number() OVER (ORDER BY source_id, feed_rank) - 1 AS seq
FROM fetched
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 exact dedup by content fingerprint over the cloned corpus."""
    d = _cloned_docs_spark(spark, sf_dir)
    return (
        d.withColumn("fp", T.doc_fingerprint("text"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_dups") > 1)
        .select("fp", "n_dups", "keeper")
    )


def _sql_dedup_exact() -> str:
    fp = T.doc_fingerprint_sql("text")
    return f"""
WITH corpus AS ({_CLONED_DOCS_DUCK})
SELECT {fp} AS fp, count(*) AS n_dups, min(doc_id) AS keeper
FROM corpus GROUP BY 1 HAVING count(*) > 1
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)+LSH(2 bands × 4) candidate pairs over the cloned corpus —
    portable hashes so DuckDB reproduces the signatures bit-for-bit."""
    from .operators.dedup import minhash_signature

    # two-step shingling (text.split_words): words materialize once per row
    d = _cloned_docs_spark(spark, sf_dir).select(
        "doc_id", T.split_words("text").alias("_w")
    )
    sig = d.select(
        "doc_id",
        minhash_signature(T.shingles_from_words("_w", 3), 8).alias("sig"),
    )
    banded = sig.select(
        "doc_id",
        *[
            portable_hash64(
                F.concat_ws(",", *[F.element_at("sig", b * 4 + r + 1) for r in range(4)])
            ).alias(f"band{b}")
            for b in range(2)
        ],
    )
    # materialize ONCE: banded feeds BOTH sides of BOTH band self-joins — a
    # lazy plan re-executes the md5 signature fold 4x (measured 2.5s -> 10.6s
    # at sf0.1). Production banding would commit signatures to a table first.
    banded = banded.localCheckpoint(eager=True)
    pairs = None
    for b in range(2):
        a = banded.select(F.col("doc_id").alias("id_a"), F.col(f"band{b}").alias("bucket"))
        c = banded.select(F.col("doc_id").alias("id_b"), F.col(f"band{b}").alias("bucket"))
        p = a.join(c, "bucket").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.distinct()


def _sql_dedup_minhash() -> str:
    sig = _minhash_sig_from_hs_duck(8)
    b0 = portable_hash64_sql(
        "array_to_string(list_slice(sig, 1, 4), ',')"
    )
    b1 = portable_hash64_sql(
        "array_to_string(list_slice(sig, 5, 8), ',')"
    )
    return f"""
WITH corpus AS ({_CLONED_DOCS_DUCK}),
hbase AS (SELECT doc_id, {_minhash_base_hashes_duck()} AS hs FROM corpus),
sigs AS (SELECT doc_id, {sig} AS sig FROM hbase),
banded AS (SELECT doc_id, {b0} AS band0, {b1} AS band1 FROM sigs),
p0 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM banded a JOIN banded b ON a.band0 = b.band0 AND a.doc_id < b.doc_id),
p1 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM banded a JOIN banded b ON a.band1 = b.band1 AND a.doc_id < b.doc_id)
SELECT DISTINCT id_a, id_b FROM (SELECT * FROM p0 UNION ALL SELECT * FROM p1)
"""


_JACCARD_MAX_DF = 100  # hot-shingle cap: bounds equi-join fan-out at max_df²


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard ≥ 0.9 pairs via explode + equi-join, with the
    document-frequency cap on (the scale path); the oracle applies the
    identical cap."""
    from .operators.dedup import ngram_jaccard_pairs, shingle_rows

    # two-step shingling (text.split_words): words materialize once per row
    d = _cloned_docs_spark(spark, sf_dir).select(
        "doc_id", T.split_words("text").alias("_w")
    ).withColumn("shingles", T.shingles_from_words("_w", 3))
    # materialize ONCE: the capped shingle rows feed the size census and both
    # self-join sides (steady at sf0.1, local[4]: faster than lazy in 4 of 5
    # pairs, min 3.57 s vs 3.75 s; BENCH/NOTES.md)
    rows = shingle_rows(d, "doc_id", max_df=_JACCARD_MAX_DF).localCheckpoint(eager=True)
    pairs = ngram_jaccard_pairs(rows, "doc_id", threshold=0.9)
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def _sql_dedup_jaccard() -> str:
    return f"""
WITH corpus AS ({_CLONED_DOCS_DUCK}),
sh0 AS (SELECT doc_id, unnest(list_distinct({_SHINGLES_DUCK})) AS s FROM corpus),
hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > {_JACCARD_MAX_DF}),
sh AS (SELECT doc_id, s FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(shared / (na.n + nb.n - shared), 4) AS jaccard
FROM inter JOIN sizes na ON inter.id_a = na.doc_id
           JOIN sizes nb ON inter.id_b = nb.doc_id
WHERE shared / (na.n + nb.n - shared) >= 0.9
"""


_WINNOW_W = 4  # winnowing window (fingerprint density ≈ 2/(w+1))
_WINNOW_MAX_DF = 100  # boilerplate-fingerprint cap (join fan-out ≤ max_df²)
_WINNOW_MIN_SHARED = 2


def q_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS rolling-hash) fingerprint near-dup pairs over the
    cloned corpus — the sketch keeps ~2/(w+1) of shingle hashes (window
    minima), so the candidate join touches a fraction of the Jaccard
    shingle volume while guaranteeing any shared w+k-1-word run still
    collides. Oracle replays the identical window-min selection in SQL."""
    from .operators.dedup import winnowing_fingerprints, winnowing_pairs

    d = _cloned_docs_spark(spark, sf_dir)
    # materialize ONCE: the fingerprints feed the hot census and both
    # self-join sides (steady min of 5 at sf0.1, local[4]: 2.40 s vs 3.06 s
    # lazy; BENCH/NOTES.md)
    fps = winnowing_fingerprints(d, "doc_id", "text", k=3, w=_WINNOW_W)
    return winnowing_pairs(
        fps.localCheckpoint(eager=True), "doc_id",
        min_shared=_WINNOW_MIN_SHARED, max_df=_WINNOW_MAX_DF,
    )


def _sql_dedup_winnowing() -> str:
    from .functions.hashing import portable_hash64_sql

    h = portable_hash64_sql("grams[i::INT + 1]")
    w = _WINNOW_W
    return f"""
WITH corpus AS ({_CLONED_DOCS_DUCK}),
g AS (SELECT doc_id, {_SHINGLES_DUCK} AS grams FROM corpus),
ex AS (SELECT doc_id, i::INT AS pos, {h} AS h
       FROM g, unnest(range(0, len(grams))) AS t(i)),
r AS (SELECT doc_id, pos, h,
        min(h) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp,
        count(*) OVER (PARTITION BY doc_id) AS n
      FROM ex),
fps0 AS (
  SELECT DISTINCT doc_id, fp FROM r WHERE n >= {w} AND pos <= n - {w}
  UNION ALL
  SELECT doc_id, min(h) AS fp FROM r WHERE n < {w} GROUP BY doc_id),
hot AS (SELECT fp FROM fps0 GROUP BY fp HAVING count(*) > {_WINNOW_MAX_DF}),
fps AS (SELECT doc_id, fp FROM fps0 WHERE fp NOT IN (SELECT fp FROM hot))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {_WINNOW_MIN_SHARED}
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_docs(spark, sf_dir))
    return d.select(
        "doc_id",
        T.word_count("text").alias("n_words"),
        T.token_count("text").alias("n_tokens"),
        # floor-decimation, NOT round(…, 4): the four-term score is computed
        # by the identical IEEE op sequence in both engines (same double),
        # but round(double, n) itself disagrees at .5 boundaries (Spark
        # rounds the exact binary value via BigDecimal, DuckDB scales then
        # rounds — flipped 1 row at sf0.1). floor of the agreed product is
        # exact, so this is boundary-free.
        (F.floor(T.quality_score("text") * 10000) / 10000).alias("quality"),
        T.lang_id("text").alias("lang_pred"),
        T.doc_fingerprint("text").alias("fingerprint"),
    )


def _sql_text_quality() -> str:
    return f"""
SELECT doc_id,
       {T.word_count_sql('text')} AS n_words,
       {T.token_count_sql('text')} AS n_tokens,
       floor(({T.quality_score_sql('text')}) * 10000) / 10000 AS quality,
       {T.lang_id_sql('text')} AS lang_pred,
       {T.doc_fingerprint_sql('text')} AS fingerprint
FROM documents
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 for 5 query vectors (J5)."""
    from .operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = cosine_topk(emb, queries, k=10)
    return top.select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


_SQL_ANN_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cos_raw
  FROM embeddings e CROSS JOIN q),
ranked AS (
  SELECT query_id, vec_id, round(cos_raw, 6) AS cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
"""


# adversarial 4-bit perturbation: one flipped bit per 16-bit quarter
# (bits 0/16/32/48) — exactly the spread a 4-band scheme would miss; the
# 5-band (max_hamming+1) pigeonhole must still find it.
_PHASH_ADV_MASK = (1 << 0) | (1 << 16) | (1 << 32) | (1 << 48)


def q_phash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 64-bit Hamming ≤ 4 via banded pigeonhole join
    (bands = max_hamming + 1 = 5 for guaranteed recall); phash synthesized
    (portable) with 2-bit-perturbed clones PLUS adversarial clones whose 4
    flipped bits spread one-per-16-bit-quarter. Oracle is exact all-pairs."""
    from .operators.dedup import phash_bucket_pairs

    d = _docs(spark, sf_dir).select(
        "doc_id", portable_hash64(F.col("text")).alias("ph")
    )
    clones = d.filter(F.pmod("doc_id", F.lit(20)) == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.col("ph").bitwiseXOR(F.lit(5)).alias("ph"),  # flips 2 bits, 1 band
    )
    adv = d.filter(F.pmod("doc_id", F.lit(20)) == 10).select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.col("ph").bitwiseXOR(F.lit(_PHASH_ADV_MASK)).alias("ph"),
    )
    allrows = d.unionByName(clones).unionByName(adv)
    return phash_bucket_pairs(allrows, "doc_id", "ph", max_hamming=4, bands=5)


def _sql_phash_hamming() -> str:
    ph = portable_hash64_sql("text")
    return f"""
WITH base AS (SELECT doc_id, {ph} AS ph FROM documents),
corpus AS (
  SELECT doc_id, ph FROM base
  UNION ALL SELECT doc_id + 1000000, xor(ph, 5) FROM base WHERE doc_id % 20 = 0
  UNION ALL SELECT doc_id + 2000000, xor(ph, {_PHASH_ADV_MASK}) FROM base WHERE doc_id % 20 = 10)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.ph, b.ph)) AS hamming
FROM corpus a JOIN corpus b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ph, b.ph)) <= 4
"""


def q_cycle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3 rollup: per-source + overall counters with success rate."""
    from .operators.stats import cycle_stats

    d = _docs(spark, sf_dir).select(
        F.col("source").alias("source_id"),
        (F.col("n_chars") >= 500).cast("int").alias("ok"),
    )
    return cycle_stats(d)


def q_legacy_config_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: legacy loose-dict source configs → normalized SourceConfig rows
    (source_crawler.py:145-200) — rss/html/default inference, url coalesce
    chains, content-type mapping, defaulting. Fixture synthesizes the five
    legacy shapes (rss_url / feed_url / html+selectors / stocks / bare-url)
    with NULLs standing in for missing dict keys."""
    from .sources.config_loader import convert_legacy_configs

    d = _docs(spark, sf_dir)
    i = F.col("doc_id").cast("string")
    m = F.pmod("doc_id", F.lit(5))
    legacy = d.select(
        F.when(F.pmod("doc_id", F.lit(7)) != 0, F.concat(F.lit("s"), i)).alias("name"),
        F.when(m == 2, F.lit("html")).when(m == 1, F.lit("rss")).alias("type"),
        F.concat(F.lit("https://h"), i, F.lit(".example.com/page")).alias("url"),
        F.when(m == 0, F.concat(F.lit("https://h"), i, F.lit("/feed"))).alias("rss_url"),
        F.when(m == 1, F.concat(F.lit("https://h"), i, F.lit("/rss.xml"))).alias("feed_url"),
        F.when(F.pmod("doc_id", F.lit(3)) == 0, F.concat(F.lit("https://base"), i)).alias("base_url"),
        F.when(m == 3, F.lit("div.article")).alias("selectors"),
        F.when(m == 3, F.lit("Stocks")).when(F.pmod("doc_id", F.lit(11)) == 0, F.lit("stock")).alias("content_type"),
        F.when(F.pmod("doc_id", F.lit(2)) == 0, (F.pmod("doc_id", F.lit(9)) + 1).cast("int")).alias("rate_limit"),
        F.when(m == 4, F.lit(25)).cast("int").alias("max_articles"),
        F.lit(None).cast("int").alias("timeout"),
        F.when(F.pmod("doc_id", F.lit(3)) == 1, F.lit(True)).alias("translate"),
    )
    # 'name' aliased to cfg_name: the driver's comparator sorts by column
    # name and 'name' collides with nothing here, but the explicit alias
    # keeps the output schema self-describing
    return convert_legacy_configs(legacy).withColumnRenamed("name", "cfg_name")


_SQL_LEGACY_CONFIG = """
WITH legacy AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 <> 0 THEN 's' || doc_id::VARCHAR END AS name,
    CASE WHEN doc_id % 5 = 2 THEN 'html' WHEN doc_id % 5 = 1 THEN 'rss' END AS type,
    'https://h' || doc_id::VARCHAR || '.example.com/page' AS url,
    CASE WHEN doc_id % 5 = 0 THEN 'https://h' || doc_id::VARCHAR || '/feed' END AS rss_url,
    CASE WHEN doc_id % 5 = 1 THEN 'https://h' || doc_id::VARCHAR || '/rss.xml' END AS feed_url,
    CASE WHEN doc_id % 3 = 0 THEN 'https://base' || doc_id::VARCHAR END AS base_url,
    CASE WHEN doc_id % 5 = 3 THEN 'div.article' END AS selectors,
    CASE WHEN doc_id % 5 = 3 THEN 'Stocks'
         WHEN doc_id % 11 = 0 THEN 'stock' END AS content_type,
    CASE WHEN doc_id % 2 = 0 THEN (doc_id % 9 + 1)::INT END AS rate_limit,
    CASE WHEN doc_id % 5 = 4 THEN 25 END::INT AS max_articles,
    NULL::INT AS timeout,
    CASE WHEN doc_id % 3 = 1 THEN TRUE END AS translate
  FROM documents),
conv AS (
  SELECT *,
    (rss_url IS NOT NULL OR feed_url IS NOT NULL OR type = 'rss') AS is_rss,
    (selectors IS NOT NULL OR type = 'html') AS is_html,
    COALESCE(rss_url, feed_url, url) AS rss_resolved,
    COALESCE(base_url, url, '') AS default_base
  FROM legacy)
SELECT
  COALESCE(name, 'legacy_source') AS cfg_name,
  CASE WHEN is_rss THEN 'rss' WHEN is_html THEN 'html' ELSE 'rss' END AS source_type,
  CASE WHEN lower(COALESCE(content_type, 'forex')) IN ('stock', 'stocks')
       THEN 'stocks' ELSE 'forex' END AS content_type,
  CASE WHEN is_rss THEN COALESCE(base_url, rss_resolved)
       WHEN is_html THEN default_base ELSE default_base END AS base_url,
  CASE WHEN is_rss THEN rss_resolved
       WHEN is_html THEN NULL ELSE default_base END AS rss_url,
  CAST(COALESCE(rate_limit, 2) AS INT) AS rate_limit_seconds,
  CAST(COALESCE(max_articles, 50) AS INT) AS max_articles_per_run,
  CAST(COALESCE(timeout, 30) AS INT) AS timeout_seconds,
  COALESCE(translate, FALSE) AS requires_translation
FROM conv
"""


def q_dup_detector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: dup-detector hit/miss/hit-rate/duplicate-rate rollup
    (duplicate_detector.py:68-97). Check stream synthesized with real
    duplicates: url key = doc_id % 350, grouped per source."""
    from .operators.stats import dup_detector_stats

    checks = _docs(spark, sf_dir).select(
        F.col("source").alias("source_id"),
        F.pmod("doc_id", F.lit(350)).alias("key"),
    )
    return dup_detector_stats(checks)


_SQL_DUP_DETECTOR = """
WITH checks AS (SELECT source AS source_id, doc_id % 350 AS key FROM documents)
SELECT source_id,
  CAST(count(*) AS BIGINT) AS total_checks,
  CAST(count(DISTINCT key) AS BIGINT) AS cache_misses,
  CAST(count(*) - count(DISTINCT key) AS BIGINT) AS cache_hits,
  CAST(count(*) - count(DISTINCT key) AS BIGINT) AS duplicates_found,
  (((count(*) - count(DISTINCT key)) * 2000 + greatest(count(*), 1))
    // (2 * greatest(count(*), 1))) / 10.0 AS hit_rate_pct,
  (((count(*) - count(DISTINCT key)) * 2000 + greatest(count(*), 1))
    // (2 * greatest(count(*), 1))) / 10.0 AS duplicate_rate_pct
FROM checks
GROUP BY ROLLUP (source_id)
"""


_SQL_CYCLE_STATS = """
SELECT source_id, count(*) AS discovered,
       CAST(sum(ok) AS BIGINT) AS processed, CAST(sum(1 - ok) AS BIGINT) AS failed,
       ((sum(ok) * 2000 + greatest(count(*), 1)) // (2 * greatest(count(*), 1))) / 10.0
         AS success_rate
FROM (SELECT source AS source_id, CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS ok
      FROM documents)
GROUP BY ROLLUP (source_id)
"""


def q_bloom_seen_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase Bloom seen filter; MUST equal the exact anti-join — the
    oracle is the plain NOT EXISTS, so the gate proves Bloom exactness."""
    from .operators.dedup import build_bloom_shards, seen_filter_two_phase

    # materialize the keyed frontier ONCE (eager checkpoint): it feeds four
    # subtrees (shard build, probe, confirm, final anti-join) and lazily
    # each re-ran the URL synthesis + SURT regex chain (A/B: steady 1.35 s
    # lazy vs 1.0 s checkpointed; a round-robin spread instead measured
    # WORSE — the extra exchange costs more than the parallelism gains)
    d = _docs_with_url(spark, sf_dir).withColumn("key", U.surt_url("url"))
    d = d.select("doc_id", "key").localCheckpoint(eager=True)
    seen = d.filter(F.pmod("doc_id", F.lit(3)) == 0).select("key")
    shards = build_bloom_shards(seen, n_shards=16, n_bits=1 << 16, n_hashes=5)
    fresh = seen_filter_two_phase(
        d, seen, shards, n_shards=16, n_bits=1 << 16, n_hashes=5
    )
    return fresh.select("doc_id", "key")


def _sql_bloom_seen() -> str:
    surt = U.duckdb_surt_sql(_URL_DUCK)
    return f"""
WITH f AS (SELECT doc_id, {surt} AS key FROM documents),
seen AS (SELECT key FROM f WHERE doc_id % 3 = 0)
SELECT doc_id, key FROM f
WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.key = f.key)
"""


def q_cuckoo_seen_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase cuckoo-filter seen set (the deletion-capable alternative to
    Bloom): cuckoo-negative rows are definitely fresh (no-false-negatives is
    pytest-gated), cuckoo-positive rows are exact-confirmed — the result
    MUST equal the plain exact anti-join, which is the oracle."""
    from .operators.dedup import _confirm_seen, build_cuckoo_shards, probe_cuckoo

    # keyed frontier checkpointed once — same rationale/measurement as
    # q_bloom_seen_filter (four consumers of the SURT chain)
    d = _docs_with_url(spark, sf_dir).withColumn("key", U.surt_url("url"))
    d = d.select("doc_id", "key").localCheckpoint(eager=True)
    seen = d.filter(F.pmod("doc_id", F.lit(3)) == 0).select("key")
    shards = build_cuckoo_shards(seen, n_shards=16, n_buckets=1 << 12)
    # same two-phase algebra as seen_filter_two_phase
    probed = probe_cuckoo(d.select("key"), shards, n_shards=16, n_buckets=1 << 12)
    return _confirm_seen(d, seen, probed, "key").select("doc_id", "key")


def _sql_cuckoo_seen() -> str:
    surt = U.duckdb_surt_sql(_URL_DUCK)
    return f"""
WITH f AS (SELECT doc_id, {surt} AS key FROM documents),
seen AS (SELECT key FROM f WHERE doc_id % 3 = 0)
SELECT doc_id, key FROM f
WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.key = f.key)
"""


def q_content_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14: split oversized content into fixed-size chunks with
    chunk_index/n_chunks (reference qdrant_client.py:245-317, 500-char
    chunks here) via posexplode over a sequence — no UDF."""
    d = _docs(spark, sf_dir)
    size = 500
    n_chunks = F.ceil(F.length("text") / size).cast("int")
    # guard: empty/NULL text has n_chunks=0 and Spark's sequence(0, -1)
    # auto-steps DOWN to [0, -1] (two bogus rows) where the DuckDB
    # range(0, 0) oracle emits none — drop such docs before exploding
    d = d.filter(F.length("text") > 0).withColumn("n_chunks", n_chunks)
    return d.select(
        "doc_id",
        "n_chunks",
        F.posexplode(
            F.expr(f"transform(sequence(0, n_chunks - 1), i -> substring(text, i*{size}+1, {size}))")
        ).alias("chunk_index", "chunk"),
    )


_SQL_CHUNKING = """
SELECT doc_id, ceil(length(text) / 500.0)::INT AS n_chunks,
       i::INT AS chunk_index,
       substring(text, (i*500+1)::INT, 500) AS chunk
FROM documents, unnest(range(0, ceil(length(text) / 500.0)::BIGINT)) AS t(i)
"""


def _fuzzy_raw_cols(ev: DataFrame) -> DataFrame:
    """Synthesize all 5 reference date shapes (+ a no-date row) from events.ts:
    NBC 'Date: … EDT', 'Updated … EST', simple 'Date:', bare general time,
    title-embedded M/d/yyyy, and no date at all."""
    nbc = F.concat(
        F.date_format("ts", "MMM"), F.lit(". "), F.date_format("ts", "dd"),
        F.lit(", "), F.date_format("ts", "yyyy"), F.lit(", "),
        F.date_format("ts", "hh:mm a"),
    )
    simple = F.concat(
        F.date_format("ts", "MMM"), F.lit(". "), F.date_format("ts", "dd"),
        F.lit(", "), F.date_format("ts", "yyyy"),
    )
    raw = (
        F.when(F.pmod("event_id", F.lit(8)) == 0, F.concat(F.lit("Date: "), nbc, F.lit(" EDT")))
        .when(F.pmod("event_id", F.lit(8)) == 1, F.concat(F.lit("Updated "), nbc, F.lit(" EST")))
        .when(F.pmod("event_id", F.lit(8)) == 2, F.concat(F.lit("Date: "), simple))
        .when(
            F.pmod("event_id", F.lit(8)) == 3,
            F.concat(F.lit("Published "), nbc, F.lit(" by staff")),
        )
        # regex-matches FUZZY_P3 but day 45 is unparseable: the try_* parse
        # must fall through to the next pattern / fallback, not abort (ANSI)
        .when(F.pmod("event_id", F.lit(8)) == 6, F.lit("Date: Dec. 45, 2024"))
        .otherwise(F.lit("no date in this content"))
    )
    title = (
        F.when(
            F.pmod("event_id", F.lit(8)) == 4,
            F.concat(F.lit("Markets on "), F.date_format("ts", "MM/dd/yyyy"), F.lit(" rally")),
        )
        # matches FUZZY_P5 but month 13 is unparseable — same fall-through
        .when(F.pmod("event_id", F.lit(8)) == 5, F.lit("Markets on 13/45/2024 rally"))
        .otherwise(F.concat(F.lit("T"), F.col("event_id").cast("string")))
    )
    return ev.select("event_id", raw.alias("raw_text"), title.alias("title"))


def q_fuzzy_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: the reference's FULL 5-pattern fuzzy date chain (NBC style,
    Updated, simple date @09:00, general time, title date) with deterministic
    fallback (rss_template.py:186-264)."""
    from .functions.extract import fuzzy_published_ts

    # project to the two needed columns BEFORE the spread (guide §2.3:
    # project before the exchange)
    ev = _fuzzy_raw_cols(
        _spread(spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "ts"))
    )
    ts, pat = fuzzy_published_ts("raw_text", "title")
    return ev.select(
        "event_id", "raw_text", "title",
        pat.alias("matched_pattern"), ts.alias("published_ts"),
    )


def _sql_fuzzy_date() -> str:
    from .functions.extract import fuzzy_published_ts_sql

    nbc = (
        "strftime(ts, '%b') || '. ' || strftime(ts, '%d') || ', ' || "
        "strftime(ts, '%Y') || ', ' || strftime(ts, '%I:%M %p')"
    )
    simple = "strftime(ts, '%b') || '. ' || strftime(ts, '%d') || ', ' || strftime(ts, '%Y')"
    ts_expr, pat_expr = fuzzy_published_ts_sql("raw_text", "title")
    return f"""
WITH raw AS (
  SELECT event_id,
    CASE WHEN event_id % 8 = 0 THEN 'Date: ' || {nbc} || ' EDT'
         WHEN event_id % 8 = 1 THEN 'Updated ' || {nbc} || ' EST'
         WHEN event_id % 8 = 2 THEN 'Date: ' || {simple}
         WHEN event_id % 8 = 3 THEN 'Published ' || {nbc} || ' by staff'
         WHEN event_id % 8 = 6 THEN 'Date: Dec. 45, 2024'
         ELSE 'no date in this content' END AS raw_text,
    CASE WHEN event_id % 8 = 4 THEN 'Markets on ' || strftime(ts, '%m/%d/%Y') || ' rally'
         WHEN event_id % 8 = 5 THEN 'Markets on 13/45/2024 rally'
         ELSE 'T' || event_id::VARCHAR END AS title
  FROM events)
SELECT event_id, raw_text, title,
       {pat_expr} AS matched_pattern,
       {ts_expr} AS published_ts
FROM raw
"""


def q_tz_blobpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9+C15: UTC→US/Pacific storage timestamp + dated blob path
    (reference base_template.py:436-458, azure_utils.py:54-73)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pst = F.from_utc_timestamp("ts", "America/Los_Angeles")
    return ev.select(
        "event_id",
        pst.alias("ts_pst"),
        F.concat(
            F.date_format(pst, "yyyy/MM/dd"), F.lit("/"),
            F.col("event_id").cast("string"), F.lit(".json"),
        ).alias("blob_path"),
    )


_SQL_TZ_BLOB = """
WITH pst AS (
  SELECT event_id,
         timezone('America/Los_Angeles', timezone('UTC', ts)) AS ts_pst
  FROM events)
SELECT event_id, ts_pst,
       strftime(ts_pst, '%Y/%m/%d') || '/' || event_id::VARCHAR || '.json' AS blob_path
FROM pst
"""


def q_host_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: per-host health rollup — consecutive trailing failures ≥ 3 ⇒
    unhealthy (reference source_models.py:97-115). Hosts stood in by
    event_type; success = value > 0.2."""
    from .operators.stats import host_health

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("event_id")
    log = ev.select(
        F.col("event_type").alias("host"),
        F.row_number().over(w).alias("fetched_rank"),
        (F.col("value") > 0.2).alias("success"),
        F.round(F.col("value").cast("decimal(18,6)"), 3).cast("double").alias("elapsed_s"),
    )
    out = host_health(log, failure_threshold=3)
    return out.select("host", "n", "consecutive_failures", "avg_response_s", "healthy")


# avg_response_s mirrors host_health's exact-integer path: DECIMAL sum
# (order-independent), then half-up at 4dp via integer division — bit-identical
# across engines, unlike avg(double)+round.
_SQL_HOST_HEALTH = """
WITH log AS (
  SELECT event_type AS host,
         row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS fetched_rank,
         value > 0.2 AS success,
         round(CAST(value AS DECIMAL(18,6)), 3)::DOUBLE AS elapsed_s
  FROM events),
lastok AS (
  SELECT host, max(CASE WHEN success THEN fetched_rank END) AS last_ok FROM log GROUP BY host)
SELECT log.host, count(*) AS n,
       CAST(sum(CASE WHEN fetched_rank > COALESCE(last_ok, -1) THEN 1 ELSE 0 END) AS BIGINT)
         AS consecutive_failures,
       ((CAST(sum(CAST(elapsed_s AS DECIMAL(18,3))) * 1000 AS BIGINT) * 20 + count(*))
         // (2 * count(*))) / 10000.0 AS avg_response_s,
       sum(CASE WHEN fetched_rank > COALESCE(last_ok, -1) THEN 1 ELSE 0 END) < 3 AS healthy
FROM log JOIN lastok ON log.host = lastok.host
GROUP BY log.host
"""


def q_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: the metrics-registry pivot — status counts per bucket
    (reference metrics.py:100-134)."""
    from .operators.stats import status_pivot

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    d = ev.select(
        F.pmod("user_id", F.lit(10)).alias("bucket"),
        F.when(F.col("value") < 0.3, F.lit("failed"))
        .when(F.col("value") < 0.7, F.lit("processed"))
        .otherwise(F.lit("skipped"))
        .alias("status"),
    )
    return status_pivot(d, "bucket", "status", ["failed", "processed", "skipped"])


_SQL_STATUS_PIVOT = """
WITH d AS (
  SELECT user_id % 10 AS bucket,
         CASE WHEN value < 0.3 THEN 'failed'
              WHEN value < 0.7 THEN 'processed'
              ELSE 'skipped' END AS status
  FROM events)
SELECT bucket,
       COALESCE(count(*) FILTER (WHERE status = 'failed'), 0) AS failed,
       COALESCE(count(*) FILTER (WHERE status = 'processed'), 0) AS processed,
       COALESCE(count(*) FILTER (WHERE status = 'skipped'), 0) AS skipped
FROM d GROUP BY bucket
"""


def q_trend_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: frame-spec trend — avg(last 5) vs avg(prev 5) growth per series
    (reference memory_optimizer.py:97-122).

    Cross-engine-exact construction (the kmeans trick, operators/
    clustering.py): the r4 decimal-avg + round(…, 6) version hash-matched
    at sf0.01 but flipped 2 rows at sf0.1 — decimal division result
    scale/rounding is engine-specific, and round(double, n) itself
    disagrees between Spark (BigDecimal of the exact binary value) and
    DuckDB (scale-then-round) for boundary doubles. Instead: quantize
    value once with floor(v·10^10) (one agreed IEEE multiply, exact
    floor), window-SUM the integers (order-free), and emit each output as
    ONE IEEE division of two integer-agreed operands — products stay
    < 2^53 at this value range (≤ 561·10^10·5·5), so the int→double
    conversions are exact and the quotient is bit-identical in any
    engine. No rounding anywhere."""
    from .operators.stats import trend_window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return trend_window(
        ev, "event_id", "value", partition_col="event_type"
    ).select("event_type", "event_id", "recent_avg", "growth_ratio")


_SQL_TREND = """
SELECT event_type, event_id,
  (sum(vi) OVER w5)::DOUBLE / ((count(*) OVER w5)::DOUBLE * 1e10) AS recent_avg,
  CASE WHEN count(*) OVER wp = 0 THEN 1.0
       WHEN sum(vi) OVER wp = 0 THEN NULL
       ELSE ((sum(vi) OVER w5) * (count(*) OVER wp))::DOUBLE
            / ((sum(vi) OVER wp) * (count(*) OVER w5))::DOUBLE
  END AS growth_ratio
FROM (SELECT event_type, event_id, floor(value * 1e10)::BIGINT AS vi FROM events)
WINDOW w5 AS (PARTITION BY event_type ORDER BY event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       wp AS (PARTITION BY event_type ORDER BY event_id ROWS BETWEEN 9 PRECEDING AND 5 PRECEDING)
"""


from .operators.wave import KEEP_URL_RE as _KEEP_RE  # noqa: E402
from .operators.wave import SKIP_URL_RE as _SKIP_RE  # noqa: E402


def q_url_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: article-URL classifier — skip-list regex, keep-list regex, date
    pattern (reference html_template.py:362-395). URLs synthesized with all
    three shapes from doc_id."""
    d = _docs(spark, sf_dir)
    path = (
        F.when(F.pmod("doc_id", F.lit(5)) == 0, F.concat(F.lit("/tag/t"), F.col("doc_id").cast("string")))
        .when(F.pmod("doc_id", F.lit(5)) == 1, F.concat(F.lit("/assets/img"), F.col("doc_id").cast("string"), F.lit(".jpg")))
        .when(F.pmod("doc_id", F.lit(5)) == 2, F.concat(F.lit("/news/item"), F.col("doc_id").cast("string")))
        .when(F.pmod("doc_id", F.lit(5)) == 3, F.concat(F.lit("/2024/"), F.col("doc_id").cast("string")))
        .otherwise(F.concat(F.lit("/misc/"), F.col("doc_id").cast("string")))
    )
    url = F.concat(F.lit("https://h.example.com"), path)
    return d.select(
        "doc_id",
        url.alias("url"),
        (~url.rlike(_SKIP_RE) & url.rlike(_KEEP_RE)).alias("is_article"),
    )


def _sql_url_classifier() -> str:
    path = (
        "CASE WHEN doc_id % 5 = 0 THEN '/tag/t' || doc_id::VARCHAR "
        "WHEN doc_id % 5 = 1 THEN '/assets/img' || doc_id::VARCHAR || '.jpg' "
        "WHEN doc_id % 5 = 2 THEN '/news/item' || doc_id::VARCHAR "
        "WHEN doc_id % 5 = 3 THEN '/2024/' || doc_id::VARCHAR "
        "ELSE '/misc/' || doc_id::VARCHAR END"
    )
    url = f"'https://h.example.com' || ({path})"
    return f"""
SELECT doc_id, {url} AS url,
       (NOT regexp_matches({url}, '{_SKIP_RE}'))
       AND regexp_matches({url}, '{_KEEP_RE}') AS is_article
FROM documents
"""


def q_smart_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C17: truncate to a budget, cutting at the last sentence end inside
    the budget when that keeps >= 80% of it (reference cleaner.py:75-83)."""
    d = _docs(spark, sf_dir)
    budget = 400
    head = F.substring("text", 1, budget)
    # greedy regex: everything up to the LAST '.' in the head
    upto_dot = F.regexp_extract(head, "^(.*)\\.", 1)
    use_dot = (F.length(upto_dot) >= int(budget * 0.8)) & (F.length("text") > budget)
    truncated = F.when(F.length("text") <= budget, F.col("text")).otherwise(
        F.when(use_dot, F.concat(upto_dot, F.lit("."))).otherwise(head)
    )
    return d.select("doc_id", truncated.alias("truncated"), F.length(truncated).alias("n"))


def _sql_smart_truncation() -> str:
    budget = 400
    head = f"substring(text, 1, {budget})"
    upto = f"regexp_extract({head}, '^(.*)\\.', 1)"
    return f"""
SELECT doc_id,
  CASE WHEN length(text) <= {budget} THEN text
       WHEN length({upto}) >= {int(budget * 0.8)} THEN {upto} || '.'
       ELSE {head} END AS truncated,
  length(CASE WHEN length(text) <= {budget} THEN text
       WHEN length({upto}) >= {int(budget * 0.8)} THEN {upto} || '.'
       ELSE {head} END) AS n
FROM documents
"""


def q_llm_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C18: extract the ```json ...``` block from an LLM-style reply and
    pull one field (reference cleaner.py:227-243). Replies synthesized."""
    d = _docs(spark, sf_dir)
    reply = F.concat(
        F.lit('Sure! Here is the cleaned article:\n```json\n{"title": "T'),
        F.col("doc_id").cast("string"),
        F.lit('", "lang": "'),
        F.col("lang"),
        F.lit('"}\n```\nLet me know!'),
    )
    block = F.regexp_extract(reply, "```json\\s*(\\{[^`]*\\})\\s*```", 1)
    return d.select(
        "doc_id",
        block.alias("json_block"),
        F.get_json_object(block, "$.title").alias("title"),
        F.get_json_object(block, "$.lang").alias("lang_field"),
    )


def _sql_llm_json_extract() -> str:
    reply = (
        "'Sure! Here is the cleaned article:\n```json\n{\"title\": \"T' || "
        "doc_id::VARCHAR || '\", \"lang\": \"' || lang || '\"}\n```\nLet me know!'"
    )
    block = f"regexp_extract({reply}, '```json\\s*(\\{{[^`]*\\}})\\s*```', 1)"
    return f"""
SELECT doc_id, {block} AS json_block,
       json_extract_string({block}, '$.title') AS title,
       json_extract_string({block}, '$.lang') AS lang_field
FROM documents
"""


_DAILY_TOKEN_LIMIT = 200_000
_MONTHLY_TOKEN_LIMIT = 5_000_000


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/F6: daily + monthly cumulative token usage with the budget-refusal
    column (reference token_tracker.py:85-131 — counters reset at day/month
    boundaries, can_make_request refuses past-limit requests). Tokens stood
    in by floor(value*1000), model by event_type."""
    from .operators.stats import token_budget_gate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "ts",
        F.col("event_type").alias("model"),
        F.floor(F.col("value") * 1000).cast("long").alias("tokens"),
    )
    out = token_budget_gate(
        ev, "ts", "tokens", "event_id",
        daily_limit=_DAILY_TOKEN_LIMIT, monthly_limit=_MONTHLY_TOKEN_LIMIT,
        keys=["model"],
    )
    return out.select(
        "event_id", "model", "day", "month", "tokens",
        "cum_day_before", "cum_month_before", "allowed",
    )


_SQL_TOKEN_BUDGET = f"""
WITH u AS (
  SELECT event_id, ts, event_type AS model,
         CAST(floor(value * 1000) AS BIGINT) AS tokens
  FROM events),
w AS (
  SELECT event_id, model, date_trunc('day', ts) AS day,
         date_trunc('month', ts) AS month, tokens,
         CAST(COALESCE(sum(tokens) OVER (PARTITION BY model, date_trunc('day', ts)
             ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_day_before,
         CAST(COALESCE(sum(tokens) OVER (PARTITION BY model, date_trunc('month', ts)
             ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_month_before
  FROM u)
SELECT event_id, model, day, month, tokens, cum_day_before, cum_month_before,
       cum_day_before + tokens <= {_DAILY_TOKEN_LIMIT}
       AND cum_month_before + tokens <= {_MONTHLY_TOKEN_LIMIT} AS allowed
FROM w
"""


def q_newest_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: newest-first per-source crawl order with the datetime.min
    fallback for unparseable dates (html_template.py:150,444-455). A third
    of the synthesized date strings are garbage and must sort last."""
    from .operators.frontier import newest_first

    d = _docs(spark, sf_dir)
    raw = (
        F.when(
            F.pmod("doc_id", F.lit(3)) == 0,
            F.date_add(F.lit("2024-01-01").cast("date"), F.pmod(F.col("doc_id") * 7, F.lit(365)).cast("int")).cast("string"),
        )
        .when(F.pmod("doc_id", F.lit(3)) == 1, F.lit("not a date"))
        .otherwise(
            F.date_add(F.lit("2023-06-01").cast("date"), F.pmod(F.col("doc_id") * 3, F.lit(200)).cast("int")).cast("string"),
        )
    )
    d = d.select(
        "source",
        F.col("doc_id").alias("feed_rank"),
        F.when(raw.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$"), F.to_date(raw)).alias(
            "published_date"
        ),
    )
    out = newest_first(d, "published_date", group_col="source", tiebreak_col="feed_rank")
    # string-typed date: NULLs normalize identically across engines
    return out.select(
        "source",
        F.col("feed_rank").alias("doc_id"),
        F.col("published_date").cast("string").alias("published_date"),
        "order_rank",
    )


_SQL_NEWEST_FIRST = """
WITH d AS (
  SELECT source, doc_id,
    CASE WHEN doc_id % 3 = 0 THEN (DATE '2024-01-01' + INTERVAL ((doc_id*7) % 365) DAY)::DATE::VARCHAR
         WHEN doc_id % 3 = 1 THEN 'not a date'
         ELSE (DATE '2023-06-01' + INTERVAL ((doc_id*3) % 200) DAY)::DATE::VARCHAR END AS raw
  FROM documents),
p AS (
  SELECT source, doc_id,
         CASE WHEN regexp_matches(raw, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$')
              THEN raw::DATE END AS published_date
  FROM d)
SELECT source, doc_id, published_date::VARCHAR AS published_date,
       row_number() OVER (PARTITION BY source
         ORDER BY COALESCE(published_date, DATE '0001-01-01') DESC, doc_id) AS order_rank
FROM p
"""


def q_retention_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3: retention semantics — rows surviving a cutoff, per day
    (the snapshot-store delete_where path is pytest-gated; this is the
    partition-pruned filter shape)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cutoff = "2024-01-15"
    return (
        ev.filter(F.col("ts") >= cutoff)
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count("*").alias("kept"))
    )


_SQL_RETENTION = """
SELECT date_trunc('day', ts) AS day, count(*) AS kept
FROM events WHERE ts >= TIMESTAMP '2024-01-15'
GROUP BY 1
"""


def _synth_html(d: DataFrame) -> DataFrame:
    """Synthesize article HTML from documents — title with a site-name
    suffix, script/style/nav/footer clutter, boilerplate paragraphs."""
    html = F.concat(
        F.lit("<html><head><title>T"), F.col("doc_id").cast("string"),
        F.lit(" - Example News</title><style>.x{color:red}</style></head>"),
        F.lit("<body><script>var a=1;</script><nav>Home | About</nav>"),
        F.lit("<article><h1>Headline "), F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.substring("text", 1, 200),
        F.lit("</p><p>Subscribe to our daily newsletter</p>"),
        F.lit("<p>Follow us on all social</p></article>"),
        F.lit("<footer>(c) site</footer></body></html>"),
    )
    return d.select("doc_id", html.alias("html"))


_SYNTH_HTML_DUCK = (
    "'<html><head><title>T' || doc_id::VARCHAR || "
    "' - Example News</title><style>.x{color:red}</style></head>"
    "<body><script>var a=1;</script><nav>Home | About</nav>"
    "<article><h1>Headline ' || doc_id::VARCHAR || '</h1><p>' || "
    "substring(text, 1, 200) || "
    "'</p><p>Subscribe to our daily newsletter</p>"
    "<p>Follow us on all social</p></article>"
    "<footer>(c) site</footer></body></html>'"
)


def q_html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11+C10+C13: HTML → text (decompose script/style/nav/header/footer,
    strip tags, drop Subscribe/Follow boilerplate, collapse whitespace) plus
    the page-title suffix strip — all JVM regexp expressions
    (html_template.py:208-265, base_template.py:335-345)."""
    from .functions.extract import html_text, html_title

    d = _synth_html(_docs(spark, sf_dir))
    return d.select(
        "doc_id",
        html_title("html").alias("title_clean"),
        html_text("html").alias("content_clean"),
        F.length(html_text("html")).alias("content_len"),
    )


def _sql_html_text_extract() -> str:
    from .functions.extract import html_text_sql, html_title_sql

    txt = html_text_sql("html")
    return f"""
WITH h AS (SELECT doc_id, {_SYNTH_HTML_DUCK} AS html FROM documents)
SELECT doc_id, {html_title_sql('html')} AS title_clean,
       {txt} AS content_clean, length({txt}) AS content_len
FROM h
"""


def q_html_date_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8: publication date from HTML — time[datetime] attr →
    meta[article:published_time] → meta[name=date] → deterministic fallback
    (html_template.py:281-329)."""
    from .functions.extract import html_published_ts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")
    html = (
        F.when(
            F.pmod("event_id", F.lit(5)) == 0,
            F.concat(F.lit('<article><time datetime="'), iso, F.lit('">x</time></article>')),
        )
        .when(
            F.pmod("event_id", F.lit(5)) == 1,
            F.concat(
                F.lit('<head><meta property="article:published_time" content="'),
                iso, F.lit('"/></head>'),
            ),
        )
        .when(
            F.pmod("event_id", F.lit(5)) == 2,
            F.concat(F.lit('<head><meta name="date" content="'), iso, F.lit('"/></head>')),
        )
        # date-only datetime attr — real HTML commonly has it; the strict
        # ISO format rejects it, and try_to_timestamp must fall through to
        # the fallback instead of aborting the job (ANSI mode)
        .when(
            F.pmod("event_id", F.lit(5)) == 3,
            F.lit('<article><time datetime="2024-07-04">x</time></article>'),
        )
        .otherwise(F.lit("<p>no date</p>"))
    )
    d = ev.select("event_id", html.alias("html"))
    ts, rule = html_published_ts("html")
    return d.select("event_id", rule.alias("date_rule"), ts.alias("published_ts"))


def _sql_html_date_extract() -> str:
    from .functions.extract import html_published_ts_sql

    iso = "strftime(ts, '%Y-%m-%dT%H:%M:%S')"
    ts, rule = html_published_ts_sql("html")
    return f"""
WITH h AS (
  SELECT event_id,
    CASE WHEN event_id % 5 = 0 THEN '<article><time datetime="' || {iso} || '">x</time></article>'
         WHEN event_id % 5 = 1 THEN '<head><meta property="article:published_time" content="' || {iso} || '"/></head>'
         WHEN event_id % 5 = 2 THEN '<head><meta name="date" content="' || {iso} || '"/></head>'
         WHEN event_id % 5 = 3 THEN '<article><time datetime="2024-07-04">x</time></article>'
         ELSE '<p>no date</p>' END AS html
  FROM events)
SELECT event_id, {rule} AS date_rule, {ts} AS published_ts FROM h
"""


def _synth_feed_xml(d: DataFrame) -> DataFrame:
    """Four feed classes: valid RSS, repairable RSS (void tags + stale xml
    decl), HTML page with links, and garbage — the robust-parser fixture."""
    i = F.col("doc_id").cast("string")
    valid = F.concat(
        F.lit('<?xml version="1.0" encoding="UTF-8"?><rss><channel><item><title>T'),
        i, F.lit("</title><link>https://h.example.com/a/"), i,
        F.lit("</link></item></channel></rss>"),
    )
    broken = F.concat(
        F.lit('<?xml version="1.0" encoding="utf-8" standalone="yes"?>  '),
        F.lit("<rss><channel><item><title>B"), i,
        F.lit("</title><br><link>https://h.example.com/b/"), i,
        F.lit("</link><hr></item></channel></rss>"),
    )
    html = F.concat(
        F.lit('<html><body><a href="https://h.example.com/c/'), i,
        F.lit('">Article '), i, F.lit("</a></body></html>"),
    )
    feed = (
        F.when(F.pmod("doc_id", F.lit(4)) == 0, valid)
        .when(F.pmod("doc_id", F.lit(4)) == 1, broken)
        .when(F.pmod("doc_id", F.lit(4)) == 2, html)
        .otherwise(F.lit("not xml at all"))
    )
    return d.select(F.col("doc_id").alias("feed_id"), feed.alias("raw"))


_SYNTH_FEED_DUCK = """
SELECT doc_id AS feed_id,
  CASE WHEN doc_id % 4 = 0 THEN '<?xml version="1.0" encoding="UTF-8"?><rss><channel><item><title>T' || doc_id::VARCHAR || '</title><link>https://h.example.com/a/' || doc_id::VARCHAR || '</link></item></channel></rss>'
       WHEN doc_id % 4 = 1 THEN '<?xml version="1.0" encoding="utf-8" standalone="yes"?>  <rss><channel><item><title>B' || doc_id::VARCHAR || '</title><br><link>https://h.example.com/b/' || doc_id::VARCHAR || '</link><hr></item></channel></rss>'
       WHEN doc_id % 4 = 2 THEN '<html><body><a href="https://h.example.com/c/' || doc_id::VARCHAR || '">Article ' || doc_id::VARCHAR || '</a></body></html>'
       ELSE 'not xml at all' END AS raw
FROM documents
"""


def q_xml_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12: XML repair — close void tags, normalize the declaration
    (robust_rss_parser.py:379-399)."""
    from .functions.extract import xml_repair

    d = _synth_feed_xml(_docs(spark, sf_dir))
    rep = xml_repair("raw")
    return d.select(
        "feed_id", rep.alias("repaired"), (rep != F.col("raw")).alias("was_modified")
    )


def _sql_xml_repair() -> str:
    from .functions.extract import xml_repair_sql

    rep = xml_repair_sql("raw")
    return f"""
WITH feeds AS ({_SYNTH_FEED_DUCK})
SELECT feed_id, {rep} AS repaired, {rep} <> raw AS was_modified FROM feeds
"""


# strategy-1 "feedparser" accepts only feeds with no repair-needing constructs
_RSS_SHAPE = "(?s)<rss.*</rss>"
_NEEDS_REPAIR = "<br>|<hr>|<img>"
_ITEM_BLOCK = "(?s)<item>(.*?)</item>"
_ITEM_TITLE = "<title>([^<]*)</title>"
_ITEM_LINK = "<link>([^<]*)</link>"
_ITEM_AUTHOR = "<author>([^<]*)</author>"
_ITEM_DC_CREATOR = "<dc:creator>([^<]*)</dc:creator>"
_ITEM_CATEGORY = "<category>([^<]*)</category>"
_ITEM_PUBDATE = "<pubDate>([^<]*)</pubDate>"
_HTML_HREF = '(?i)<a[^>]*href="([^"]+)"'


def _synth_multifeed_xml(d: DataFrame) -> DataFrame:
    """MULTI-item feed fixture — the real-world data shape (a feed has
    10-100 entries, `rss_template.py:93-129` projects every one;
    `rss_extractor.py:56` caps at entries[:max]). 1 + doc_id%3 items per
    feed; four feed classes (valid / repairable / HTML page / garbage);
    per-item pubDate rotates RFC-822 / epoch-seconds / malformed so the C6
    structured→fuzzy coalesce order is exercised."""
    from .functions.extract import RFC822_FMT_SPARK

    i = F.col("doc_id").cast("string")
    host = F.concat(
        F.lit("h"), F.pmod("doc_id", F.lit(7)).cast("string"), F.lit(".example.com")
    )
    n_items = F.pmod("doc_id", F.lit(3)) + F.lit(1)

    def item(k: int, broken: bool):
        ts_k = F.expr(
            "timestamp'2024-01-01 00:00:00' + "
            f"make_interval(0, 0, 0, CAST(doc_id % 365 AS INT), {k}, 0, 0)"
        )
        # mod 3 (not 4): feed class is doc_id%4, so a mod-4 rotation would
        # never yield a malformed pubDate within the first two items of a
        # valid/broken feed — mod 3 makes rfc/epoch/malformed all occur
        mod = F.pmod(F.col("doc_id") + F.lit(k), F.lit(3))
        title = F.when(
            mod == 2,
            F.concat(F.lit("T"), i, F.lit(" on "), F.date_format(ts_k, "MM/dd/yyyy")),
        ).otherwise(F.concat(F.lit("T"), i, F.lit(f"x{k}")))
        # RFC-822 rows alternate a literal-GMT tail with a NUMERIC zone
        # offset (ADVICE r3: offsets must be honored, not stripped — a
        # ' -0530' row shifts +05:30 to UTC; the gate catches any impl that
        # strips the offset)
        tz_tail = F.when(
            F.pmod(F.col("doc_id") + F.lit(k), F.lit(2)) == 0, F.lit(" GMT")
        ).otherwise(F.lit(" -0530"))
        pub = (
            F.when(mod == 2, F.lit("yesterday"))
            .when(mod == 1, F.unix_timestamp(ts_k).cast("string"))
            .otherwise(F.concat(F.date_format(ts_k, RFC822_FMT_SPARK), tz_tail))
        )
        # author rotates: plain <author>, a <dc:creator>-ONLY item (P1's
        # entry.get('author', entry.get('dc_creator')) fallback,
        # rss_template.py:111), or neither (author stays NULL)
        authnum = F.pmod(F.col("doc_id") + F.lit(k), F.lit(5))
        auth_el = (
            F.when(
                authnum == 4,
                F.concat(F.lit("<dc:creator>dc"), authnum.cast("string"), F.lit("</dc:creator>")),
            )
            .when(authnum == 3, F.lit(""))
            .otherwise(F.concat(F.lit("<author>auth"), authnum.cast("string"), F.lit("</author>")))
        )
        # a second <category> on even items exercises the tags array
        # (_extract_tags collects every term, rss_template.py:282-290)
        cat2 = F.when(
            F.pmod(F.col("doc_id") + F.lit(k), F.lit(2)) == 0,
            F.concat(
                F.lit("<category>kw"),
                F.pmod(F.col("doc_id"), F.lit(4)).cast("string"),
                F.lit("</category>"),
            ),
        ).otherwise(F.lit(""))
        return F.concat(
            F.lit("<item><title>"), title, F.lit("</title>"),
            F.lit("<br>" if broken else ""),
            F.lit("<link>https://"), host, F.lit("/a/"), i, F.lit(f"/{k}"),
            F.lit("</link>"), auth_el, F.lit("<category>cat"),
            F.pmod(F.col("doc_id") + F.lit(k), F.lit(3)).cast("string"),
            F.lit("</category>"), cat2,
            F.lit("<pubDate>"), pub, F.lit("</pubDate></item>"),
        )

    def items(broken: bool):
        blocks = item(0, broken)
        for k in (1, 2):
            blocks = F.concat(
                blocks, F.when(n_items > k, item(k, broken)).otherwise(F.lit(""))
            )
        return blocks

    valid = F.concat(
        F.lit('<?xml version="1.0" encoding="UTF-8"?><rss><channel>'),
        items(False), F.lit("</channel></rss>"),
    )
    broken_f = F.concat(
        F.lit('<?xml version="1.0" encoding="utf-8" standalone="yes"?>  <rss><channel>'),
        items(True), F.lit("</channel></rss>"),
    )
    html = F.concat(
        F.lit('<html><body><a href="https://'), host, F.lit("/c/"), i,
        F.lit('/0">A</a><a href="https://'), host, F.lit("/c/"), i,
        F.lit('/1">B</a></body></html>'),
    )
    feed = (
        F.when(F.pmod("doc_id", F.lit(4)) == 0, valid)
        .when(F.pmod("doc_id", F.lit(4)) == 1, broken_f)
        .when(F.pmod("doc_id", F.lit(4)) == 2, html)
        .otherwise(F.lit("not xml at all"))
    )
    return d.select(F.col("doc_id").alias("feed_id"), feed.alias("raw"))


def _sql_multifeed() -> str:
    from .functions.extract import RFC822_FMT_DUCK

    def ts_k(k: int) -> str:
        return (
            "(TIMESTAMP '2024-01-01 00:00:00' + (doc_id % 365) * INTERVAL 1 DAY"
            f" + {k} * INTERVAL 1 HOUR)"
        )

    def item(k: int, broken: bool) -> str:
        t = ts_k(k)
        title = (
            f"CASE WHEN (doc_id + {k}) % 3 = 2 THEN 'T' || doc_id::VARCHAR || ' on ' || "
            f"strftime({t}, '%m/%d/%Y') ELSE 'T' || doc_id::VARCHAR || 'x{k}' END"
        )
        pub = (
            f"CASE WHEN (doc_id + {k}) % 3 = 2 THEN 'yesterday' "
            f"WHEN (doc_id + {k}) % 3 = 1 THEN "
            f"date_diff('second', TIMESTAMP '1970-01-01 00:00:00', {t})::VARCHAR "
            f"ELSE strftime({t}, '{RFC822_FMT_DUCK}') || "
            f"(CASE WHEN (doc_id + {k}) % 2 = 0 THEN ' GMT' ELSE ' -0530' END) END"
        )
        br = "<br>" if broken else ""
        auth_el = (
            f"CASE WHEN (doc_id + {k}) % 5 = 4 THEN '<dc:creator>dc' || "
            f"((doc_id + {k}) % 5)::VARCHAR || '</dc:creator>' "
            f"WHEN (doc_id + {k}) % 5 = 3 THEN '' "
            f"ELSE '<author>auth' || ((doc_id + {k}) % 5)::VARCHAR || '</author>' END"
        )
        cat2 = (
            f"CASE WHEN (doc_id + {k}) % 2 = 0 THEN '<category>kw' || "
            f"(doc_id % 4)::VARCHAR || '</category>' ELSE '' END"
        )
        return (
            f"'<item><title>' || ({title}) || '</title>{br}<link>https://' || host || "
            f"'/a/' || doc_id::VARCHAR || '/{k}</link>' || ({auth_el}) || '<category>cat' || "
            f"((doc_id + {k}) % 3)::VARCHAR || '</category>' || ({cat2}) || "
            f"'<pubDate>' || ({pub}) || '</pubDate></item>'"
        )

    def items(broken: bool) -> str:
        s = f"({item(0, broken)})"
        for k in (1, 2):
            s += f" || CASE WHEN (doc_id % 3) + 1 > {k} THEN ({item(k, broken)}) ELSE '' END"
        return s

    valid = (
        "'<?xml version=\"1.0\" encoding=\"UTF-8\"?><rss><channel>' || "
        f"{items(False)} || '</channel></rss>'"
    )
    broken_f = (
        "'<?xml version=\"1.0\" encoding=\"utf-8\" standalone=\"yes\"?>  <rss><channel>' || "
        f"{items(True)} || '</channel></rss>'"
    )
    html = (
        "'<html><body><a href=\"https://' || host || '/c/' || doc_id::VARCHAR || "
        "'/0\">A</a><a href=\"https://' || host || '/c/' || doc_id::VARCHAR || "
        "'/1\">B</a></body></html>'"
    )
    return f"""
SELECT doc_id AS feed_id,
  CASE WHEN doc_id % 4 = 0 THEN {valid}
       WHEN doc_id % 4 = 1 THEN {broken_f}
       WHEN doc_id % 4 = 2 THEN {html}
       ELSE 'not xml at all' END AS raw
FROM (SELECT doc_id, 'h' || (doc_id % 7)::VARCHAR || '.example.com' AS host
      FROM documents)
"""


_RSS_MAX_ITEMS = 2


def q_rss_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4 + P1/P2 + C6: multi-item RSS scan — every <item> of every
    feed-shaped page becomes a row (reference yields each entry,
    `rss_template.py:93-129`), capped at entries[:_RSS_MAX_ITEMS]
    (`rss_extractor.py:56` — the cap binds: feeds carry up to 3 items).
    Per-entry projection: title/link/author/category (P1) — author falls
    back to <dc:creator> and may be NULL (``entry.get('author',
    entry.get('dc_creator'))``, rss_template.py:111); ``tags`` collects
    EVERY <category> term into a list, NULL when none (_extract_tags,
    rss_template.py:282-290), serialized with to_json for the cross-engine
    value-hash (the operator-level column is a true array<string>; see
    tests/test_entry.py) — plus the C6 STRUCTURED date path (RFC-822
    pubDate with honored numeric offsets, or epoch seconds,
    `rss_template.py:140-152`) coalesced AHEAD of the C7 fuzzy chain."""
    from .functions.extract import fuzzy_published_ts, structured_ts, xml_repair

    d = _synth_multifeed_xml(_spread(_docs(spark, sf_dir).select("doc_id")))
    src = F.when(
        F.col("raw").rlike(_NEEDS_REPAIR), xml_repair("raw")
    ).otherwise(F.col("raw"))
    feeds = d.filter(F.col("raw").rlike(_RSS_SHAPE)).select(
        "feed_id", src.alias("xml")
    )
    items = feeds.select(
        "feed_id",
        F.posexplode(
            F.regexp_extract_all("xml", F.lit(_ITEM_BLOCK), F.lit(1))
        ).alias("item_rank", "item_xml"),
    ).filter(F.col("item_rank") < _RSS_MAX_ITEMS)
    title = F.regexp_extract("item_xml", _ITEM_TITLE, 1)
    pub = F.regexp_extract("item_xml", _ITEM_PUBDATE, 1)
    st = structured_ts(pub)
    fz, fpat = fuzzy_published_ts(F.col("item_xml"), title)
    author = F.coalesce(
        F.nullif(F.regexp_extract("item_xml", _ITEM_AUTHOR, 1), F.lit("")),
        F.nullif(F.regexp_extract("item_xml", _ITEM_DC_CREATOR, 1), F.lit("")),
    )
    tags_arr = F.regexp_extract_all("item_xml", F.lit(_ITEM_CATEGORY), F.lit(1))
    tags = F.when(F.size(tags_arr) > 0, tags_arr)  # None when no terms
    return items.select(
        "feed_id",
        "item_rank",
        title.alias("title"),
        F.regexp_extract("item_xml", _ITEM_LINK, 1).alias("link"),
        author.alias("author"),
        F.regexp_extract("item_xml", _ITEM_CATEGORY, 1).alias("category"),
        F.to_json(tags).alias("tags"),
        F.coalesce(st, fz).alias("published_ts"),
        F.when(st.isNotNull(), F.lit("structured"))
        .otherwise(F.concat(F.lit("fuzzy_p"), fpat.cast("string")))
        .alias("date_path"),
    )


def _sql_rss_items() -> str:
    from .functions.extract import (
        fuzzy_published_ts_sql,
        structured_ts_sql,
        xml_repair_sql,
    )

    rep = xml_repair_sql("raw")
    pub = f"regexp_extract(item_xml, '{_ITEM_PUBDATE}', 1)"
    title = f"regexp_extract(item_xml, '{_ITEM_TITLE}', 1)"
    st = structured_ts_sql(pub)
    fz, fpat = fuzzy_published_ts_sql("item_xml", title)
    return f"""
WITH feeds AS ({_sql_multifeed()}),
rss AS (
  SELECT feed_id,
         CASE WHEN regexp_matches(raw, '{_NEEDS_REPAIR}') THEN {rep} ELSE raw END AS xml
  FROM feeds WHERE regexp_matches(raw, '{_RSS_SHAPE}')),
ex AS (SELECT feed_id, regexp_extract_all(xml, '{_ITEM_BLOCK}', 1) AS items FROM rss),
it AS (SELECT feed_id, k::INT AS item_rank, items[k + 1] AS item_xml
       FROM ex, unnest(range(0, least(len(items), {_RSS_MAX_ITEMS}))) AS t(k))
SELECT feed_id, item_rank, {title} AS title,
  regexp_extract(item_xml, '{_ITEM_LINK}', 1) AS link,
  COALESCE(NULLIF(regexp_extract(item_xml, '{_ITEM_AUTHOR}', 1), ''),
           NULLIF(regexp_extract(item_xml, '{_ITEM_DC_CREATOR}', 1), '')) AS author,
  regexp_extract(item_xml, '{_ITEM_CATEGORY}', 1) AS category,
  CASE WHEN len(regexp_extract_all(item_xml, '{_ITEM_CATEGORY}', 1)) > 0
       THEN CAST(to_json(regexp_extract_all(item_xml, '{_ITEM_CATEGORY}', 1)) AS VARCHAR)
       END AS tags,
  COALESCE({st}, {fz}) AS published_ts,
  CASE WHEN ({st}) IS NOT NULL THEN 'structured'
       ELSE 'fuzzy_p' || ({fpat})::VARCHAR END AS date_path
FROM it
"""


def q_robust_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: the robust-parser 3-strategy fallback chain with a QUARANTINE
    column — feedparser-shape parse → XML-repair parse → HTML link fallback
    → error row (robust_rss_parser.py:35-137). Emits EVERY item of the
    winning strategy (multi-item, like the reference's row lists); errors
    become data, not exceptions: rows that defeat every strategy carry the
    error string."""
    from .functions.extract import xml_repair

    d = _synth_multifeed_xml(_spread(_docs(spark, sf_dir).select("doc_id")))
    looks_rss = F.col("raw").rlike(_RSS_SHAPE)
    needs_repair = F.col("raw").rlike(_NEEDS_REPAIR)
    looks_html = F.col("raw").rlike("(?i)<html")
    raw_items = F.regexp_extract_all("raw", F.lit(_ITEM_BLOCK), F.lit(1))
    rep_items = F.regexp_extract_all(
        xml_repair("raw"), F.lit(_ITEM_BLOCK), F.lit(1)
    )
    hrefs = F.regexp_extract_all("raw", F.lit(_HTML_HREF), F.lit(1))

    strategy = (
        F.when(looks_rss & ~needs_repair & (F.size(raw_items) > 0), F.lit("feedparser"))
        .when(looks_rss & (F.size(rep_items) > 0), F.lit("xml_repair"))
        .when(looks_html & (F.size(hrefs) > 0), F.lit("html_fallback"))
        .otherwise(F.lit(None).cast("string"))
    )
    arr = (
        F.when(strategy == "feedparser", raw_items)
        .when(strategy == "xml_repair", rep_items)
        .when(strategy == "html_fallback", hrefs)
        .otherwise(F.array(F.lit("")))  # one quarantine row per dead feed
    )
    exploded = d.select(
        "feed_id",
        strategy.alias("strategy"),
        F.posexplode(arr).alias("item_rank", "item"),
    )
    is_rss = F.col("strategy").isin("feedparser", "xml_repair")
    return exploded.select(
        "feed_id",
        "item_rank",
        "strategy",
        F.when(is_rss, F.regexp_extract("item", _ITEM_TITLE, 1)).alias("title"),
        F.when(is_rss, F.regexp_extract("item", _ITEM_LINK, 1))
        .when(F.col("strategy") == "html_fallback", F.col("item"))
        .alias("link"),
        F.when(
            F.col("strategy").isNull(), F.lit("All parsing strategies failed")
        ).alias("error"),
    )


def _sql_robust_parse() -> str:
    from .functions.extract import xml_repair_sql

    rep = xml_repair_sql("raw")
    return f"""
WITH feeds AS ({_sql_multifeed()}),
c AS (
  SELECT feed_id,
         regexp_matches(raw, '{_RSS_SHAPE}') AS looks_rss,
         regexp_matches(raw, '{_NEEDS_REPAIR}') AS needs_repair,
         regexp_matches(raw, '(?i)<html') AS looks_html,
         regexp_extract_all(raw, '{_ITEM_BLOCK}', 1) AS raw_items,
         regexp_extract_all({rep}, '{_ITEM_BLOCK}', 1) AS rep_items,
         regexp_extract_all(raw, '{_HTML_HREF}', 1) AS hrefs
  FROM feeds),
t AS (
  SELECT *,
    CASE WHEN looks_rss AND NOT needs_repair AND len(raw_items) > 0 THEN 'feedparser'
         WHEN looks_rss AND len(rep_items) > 0 THEN 'xml_repair'
         WHEN looks_html AND len(hrefs) > 0 THEN 'html_fallback'
         END AS strategy
  FROM c),
a AS (
  SELECT feed_id, strategy,
    CASE strategy WHEN 'feedparser' THEN raw_items
                  WHEN 'xml_repair' THEN rep_items
                  WHEN 'html_fallback' THEN hrefs
                  ELSE [''] END AS arr
  FROM t)
SELECT feed_id, k::INT AS item_rank, strategy,
  CASE WHEN strategy IN ('feedparser', 'xml_repair')
       THEN regexp_extract(arr[k + 1], '{_ITEM_TITLE}', 1) END AS title,
  CASE WHEN strategy IN ('feedparser', 'xml_repair')
       THEN regexp_extract(arr[k + 1], '{_ITEM_LINK}', 1)
       WHEN strategy = 'html_fallback' THEN arr[k + 1] END AS link,
  CASE WHEN strategy IS NULL THEN 'All parsing strategies failed' END AS error
FROM a, unnest(range(0, len(arr))) AS t(k)
"""


# S10 feed autodiscovery: link[rel=alternate type=rss+xml] wins, then
# feed-shaped anchors (the reference's HTML fallback link scan,
# robust_rss_parser.py:192-260, generalized per SURVEY §2.1 S10)
_FEED_LINK_RE = r'<link[^>]*type="application/rss\+xml"[^>]*href="([^"]+)"'
_FEED_ANCHOR_RE = r'<a[^>]*href="([^"]*(?:/feed|\.rss|\.xml)[^"]*)"'


def q_rss_autodiscovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: discover a site's feed URL from its HTML — alternate-link tag
    first, feed-shaped anchor second, NULL (quarantine-able) otherwise."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id").cast("string")
    page = (
        F.when(
            F.pmod("doc_id", F.lit(4)) == 0,
            F.concat(
                F.lit('<head><link rel="alternate" type="application/rss+xml" href="https://h'),
                i, F.lit('.example.com/feed.rss"/></head>'),
            ),
        )
        .when(
            F.pmod("doc_id", F.lit(4)) == 1,
            F.concat(
                F.lit('<body><a href="/about">About</a><a href="https://h'),
                i, F.lit('.example.com/feed">RSS</a></body>'),
            ),
        )
        .when(
            F.pmod("doc_id", F.lit(4)) == 2,
            F.concat(
                F.lit('<body><a href="https://h'), i,
                F.lit('.example.com/news.xml">feed</a></body>'),
            ),
        )
        .otherwise(F.lit("<body>no feeds here</body>"))
    )
    d = d.select("doc_id", page.alias("html"))
    link = F.regexp_extract("html", "(?i)" + _FEED_LINK_RE, 1)
    anchor = F.regexp_extract("html", "(?i)" + _FEED_ANCHOR_RE, 1)
    feed = F.coalesce(
        F.when(link != "", link), F.when(anchor != "", anchor)
    )
    rule = (
        F.when(link != "", F.lit("alternate_link"))
        .when(anchor != "", F.lit("anchor"))
        .otherwise(F.lit("none"))
    )
    return d.select("doc_id", feed.alias("feed_url"), rule.alias("discovery_rule"))


def _sql_rss_autodiscovery() -> str:
    link = f"regexp_extract(html, '(?i){_FEED_LINK_RE}', 1)"
    anchor = f"regexp_extract(html, '(?i){_FEED_ANCHOR_RE}', 1)"
    return f"""
WITH h AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0 THEN '<head><link rel="alternate" type="application/rss+xml" href="https://h' || doc_id::VARCHAR || '.example.com/feed.rss"/></head>'
         WHEN doc_id % 4 = 1 THEN '<body><a href="/about">About</a><a href="https://h' || doc_id::VARCHAR || '.example.com/feed">RSS</a></body>'
         WHEN doc_id % 4 = 2 THEN '<body><a href="https://h' || doc_id::VARCHAR || '.example.com/news.xml">feed</a></body>'
         ELSE '<body>no feeds here</body>' END AS html
  FROM documents)
SELECT doc_id,
  COALESCE(CASE WHEN {link} <> '' THEN {link} END,
           CASE WHEN {anchor} <> '' THEN {anchor} END) AS feed_url,
  CASE WHEN {link} <> '' THEN 'alternate_link'
       WHEN {anchor} <> '' THEN 'anchor'
       ELSE 'none' END AS discovery_rule
FROM h
"""


def q_extraction_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-tier extraction fallback chain (hierarchical template,
    `hierarchical_template.py:96-127`): per-doc synthesized crawl4ai/bs4/rss
    outcomes → short-circuit winner coalesce → per-method attempt/success/
    rate/usage stats with the reference's exact counting semantics (attempts
    for every method tried until the winner; 'failed' pseudo-method when the
    whole chain misses, `:57-62,168-183`)."""
    from .operators.extraction import extraction_fallback, extraction_method_stats

    d = _docs(spark, sf_dir).select(
        "doc_id",
        (F.pmod("doc_id", F.lit(7)) < 2).alias("ok_c4"),
        (F.pmod("doc_id", F.lit(5)) < 2).alias("ok_bs"),
        (F.pmod("doc_id", F.lit(3)) == 0).alias("ok_rss"),
        F.concat(F.lit("md:"), F.col("doc_id").cast("string")).alias("c_c4"),
        F.concat(F.lit("html:"), F.col("doc_id").cast("string")).alias("c_bs"),
        F.concat(F.lit("rss:"), F.col("doc_id").cast("string")).alias("c_rss"),
    )
    per_row = extraction_fallback(
        d,
        ok_cols={"crawl4ai": "ok_c4", "beautifulsoup": "ok_bs", "rss": "ok_rss"},
        content_cols={"crawl4ai": "c_c4", "beautifulsoup": "c_bs", "rss": "c_rss"},
    )
    return extraction_method_stats(per_row)


_SQL_EXTRACTION_FALLBACK = """
WITH d AS (
  SELECT doc_id, (doc_id % 7) < 2 AS ok_c4, (doc_id % 5) < 2 AS ok_bs,
         (doc_id % 3) = 0 AS ok_rss
  FROM documents),
r AS (
  SELECT doc_id,
    CASE WHEN ok_c4 THEN 'crawl4ai' WHEN ok_bs THEN 'beautifulsoup'
         WHEN ok_rss THEN 'rss' ELSE 'failed' END AS won,
    CASE WHEN ok_c4 THEN ['crawl4ai']
         WHEN ok_bs THEN ['crawl4ai', 'beautifulsoup']
         WHEN ok_rss THEN ['crawl4ai', 'beautifulsoup', 'rss']
         ELSE ['crawl4ai', 'beautifulsoup', 'rss', 'failed'] END AS tried
  FROM d),
t AS (SELECT won, unnest(tried) AS method FROM r),
a AS (SELECT method, count(*) AS attempts,
        sum(CASE WHEN method = won AND won <> 'failed' THEN 1 ELSE 0 END) AS successes
      FROM t GROUP BY method)
SELECT method, CAST(attempts AS BIGINT) AS attempts,
  CAST(successes AS BIGINT) AS successes,
  CAST(successes AS DOUBLE) / attempts * 100 AS success_rate,
  CAST(attempts AS DOUBLE) / (SELECT sum(attempts) FROM a) * 100 AS usage_percent
FROM a
"""


def q_method_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-method request stats — count, exact-decimal mean latency,
    error rate (reference metrics.py method counters; same integer half-up
    convention as host_health/cycle_stats)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    method = (
        F.when(F.pmod("user_id", F.lit(4)) == 0, F.lit("GET"))
        .when(F.pmod("user_id", F.lit(4)) == 1, F.lit("POST"))
        .when(F.pmod("user_id", F.lit(4)) == 2, F.lit("HEAD"))
        .otherwise(F.lit("PUT"))
    )
    d = ev.select(
        method.alias("method"),
        F.round(F.col("value").cast("decimal(18,6)"), 3).cast("double").alias("elapsed_s"),
        (F.col("value") < 0.1).cast("int").alias("err"),
    )
    agg = d.groupBy("method").agg(
        F.count("*").alias("n"),
        F.sum(F.col("elapsed_s").cast("decimal(18,3)")).alias("_sum_s"),
        F.sum("err").alias("_errs"),
    )
    return agg.select(
        "method",
        "n",
        F.expr(
            "cast((cast(_sum_s * 1000 as bigint) * 20 + n) div (2 * n) as double) / 10000.0"
        ).alias("avg_elapsed_s"),
        F.expr("cast((_errs * 2000 + n) div (2 * n) as double) / 10.0").alias(
            "err_rate_pct"
        ),
    )


_SQL_METHOD_STATS = """
WITH d AS (
  SELECT CASE WHEN user_id % 4 = 0 THEN 'GET' WHEN user_id % 4 = 1 THEN 'POST'
              WHEN user_id % 4 = 2 THEN 'HEAD' ELSE 'PUT' END AS method,
         round(CAST(value AS DECIMAL(18,6)), 3)::DOUBLE AS elapsed_s,
         CASE WHEN value < 0.1 THEN 1 ELSE 0 END AS err
  FROM events)
SELECT method, count(*) AS n,
       ((CAST(sum(CAST(elapsed_s AS DECIMAL(18,3))) * 1000 AS BIGINT) * 20 + count(*))
         // (2 * count(*))) / 10000.0 AS avg_elapsed_s,
       ((sum(err) * 2000 + count(*)) // (2 * count(*))) / 10.0 AS err_rate_pct
FROM d GROUP BY method
"""


def q_discover_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 HTML index scan: page HTML → classified, within-page-deduped,
    capped article links, with relative hrefs resolved through the REAL
    Arrow-batched urljoin (html_template.py:92-156). The synthesized pages
    use absolute and root-relative hrefs so the oracle can mirror resolution
    in SQL while Spark runs the genuine resolver."""
    from .operators.wave import discover_links

    d = _docs(spark, sf_dir)
    i = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><body><a href="/news/a'), i, F.lit('">one</a>'),
        F.lit('<a href="https://ext.example.org/story/'), i, F.lit('">two</a>'),
        F.lit('<a href="/tag/t'), i, F.lit('">skip</a>'),
        F.lit('<a href="/news/a'), i, F.lit('">dup</a>'),
        F.lit('<a href="/2024/p'), i, F.lit('">three</a>'),
        F.lit('<a href="/news/b'), i, F.lit('">four</a></body></html>'),
    )
    pages = d.select(
        F.concat(F.lit("https://h"), F.pmod("doc_id", F.lit(7)).cast("string"),
                 F.lit(".example.com/index/"), i).alias("url"),
        html.alias("html"),
    )
    out = discover_links(pages, max_links=3)
    return out.select("page_url", "link_pos", "link")


def _sql_discover_links() -> str:
    href_pat = '(?i)<a[^>]*href="([^"]+)"'
    base = "regexp_extract(page_url, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]+)', 1)"
    return f"""
WITH pages AS (
  SELECT 'https://h' || (doc_id % 7)::VARCHAR || '.example.com/index/' || doc_id::VARCHAR AS page_url,
         '<html><body><a href="/news/a' || doc_id::VARCHAR || '">one</a>'
         || '<a href="https://ext.example.org/story/' || doc_id::VARCHAR || '">two</a>'
         || '<a href="/tag/t' || doc_id::VARCHAR || '">skip</a>'
         || '<a href="/news/a' || doc_id::VARCHAR || '">dup</a>'
         || '<a href="/2024/p' || doc_id::VARCHAR || '">three</a>'
         || '<a href="/news/b' || doc_id::VARCHAR || '">four</a></body></html>' AS html
  FROM documents),
ex AS (
  SELECT page_url, i::INT AS link_pos,
         regexp_extract_all(html, '{href_pat}', 1)[i::INT + 1] AS href
  FROM pages, unnest(range(0, len(regexp_extract_all(html, '{href_pat}', 1)))) AS t(i)),
resolved AS (
  SELECT page_url, link_pos,
         CASE WHEN href LIKE '/%' THEN {base} || href ELSE href END AS link
  FROM ex),
classified AS (
  SELECT * FROM resolved
  WHERE NOT regexp_matches(link, '{_SKIP_RE}')
    AND regexp_matches(link, '{_KEEP_RE}')),
firsts AS (
  SELECT *, row_number() OVER (PARTITION BY page_url, link ORDER BY link_pos) AS rn
  FROM classified),
capped AS (
  SELECT page_url, link_pos, link,
         row_number() OVER (PARTITION BY page_url ORDER BY link_pos) AS k
  FROM firsts WHERE rn = 1)
SELECT page_url, link_pos, link FROM capped WHERE k <= 3
"""


def q_fetch_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL fetch stage (JVM metadata columns + the Arrow-batched
    scalar pandas UDF codec over four narrow columns) and gates every
    metadata column — image_id, dims, fmt, caption — against
    a pure-SQL recomputation of the kernel's portable-md5 derivations. Only
    bytes/phash (pixel codec outputs) stay outside the SQL oracle; those are
    golden-tested in tests/test_images.py."""
    from .operators.wave import fetch_images

    d = (
        _docs_with_url(spark, sf_dir)
        .filter(F.col("doc_id") < 100)
        .select(
            "url",
            F.col("source").alias("source_name"),
            F.lit(0).alias("source_id"),
            F.col("doc_id").alias("seq"),
        )
    )
    corpus = fetch_images(d, seed=42)
    return corpus.select("url", "image_id", "w", "h", "fmt", "caption")


def _sql_fetch_metadata() -> str:
    # mirrors sources/synthetic.py fetch_payload_py: h = md5('w42:fetch:'+url)
    topics = "['EUR/USD', 'Gold', 'S&P 500', 'Crude Oil', 'BTC/USD', 'USD/JPY']"
    seg = "regexp_extract(url, '([^/]*)$', 1)"
    return f"""
WITH d AS (SELECT doc_id, {_URL_DUCK} AS url, source FROM documents WHERE doc_id < 100),
hh AS (SELECT url, source,
       CAST(('0x' || substring(md5('w42:fetch:' || url), 1, 15)) AS BIGINT) AS h
       FROM d),
c AS (SELECT url, source, h,
      (32 + h % 97)::INT AS w, (32 + (h >> 8) % 97)::INT AS ht,
      CASE WHEN (h >> 16) % 10 < 7 THEN 'png' ELSE 'jpeg' END AS fmt,
      {topics}[(h % 6)::INT + 1] || ' Analysis: ' ||
        (CASE WHEN {seg} = '' THEN 'index' ELSE {seg} END) ||
        ' report ' || (h % 9973)::VARCHAR AS caption
      FROM hh)
SELECT url, md5(source || ':' || caption || ':' || url) AS image_id,
       w, ht AS h, fmt, caption
FROM c
"""


def q_image_stats(spark: SparkSession, sf_dir: str, full: bool = False) -> DataFrame:
    """Multimodal plumbing: deterministic fetch → binary column → DECODE →
    feature-extract in Arrow batches. The gated output (url, fmt, w, h)
    takes dims from the decoded pixels, so the SQL oracle (md5-derived dims)
    verifies the whole synth→encode→decode round-trip end-to-end; the
    remaining pixel-only outputs (mean_lum, recomputed phash — not
    SQL-expressible, `bytes` is a binary codec product) are covered by the
    pytest golden in tests/test_images.py via full=True."""
    from .functions.images import image_stats_udf
    from .operators.wave import fetch_images

    d = (
        _docs_with_url(spark, sf_dir)
        .filter(F.col("doc_id") < 50)
        .select(
            "url",
            F.col("source").alias("source_name"),
            F.lit(0).alias("source_id"),
            F.col("doc_id").alias("seq"),
        )
    )
    corpus = fetch_images(d, seed=42)
    stats = corpus.select(
        "url", "fmt", F.col("phash").alias("fetch_phash"),
        image_stats_udf()("bytes", "fmt").alias("s"),
    )
    if full:
        return stats.select(
            "url", "fmt", "fetch_phash", "s.w", "s.h", "s.phash",
            F.round("s.mean_lum", 3).alias("mean_lum"),
        )
    return stats.select("url", "fmt", "s.w", "s.h")


_SQL_IMAGE_STATS = """
WITH d AS (SELECT doc_id, {url} AS url FROM documents WHERE doc_id < 50),
hh AS (SELECT url, CAST(('0x' || substring(md5('w42:fetch:' || url), 1, 15)) AS BIGINT) AS h
       FROM d)
SELECT url,
       CASE WHEN (h >> 16) % 10 < 7 THEN 'png' ELSE 'jpeg' END AS fmt,
       (32 + h % 97)::INT AS w, (32 + (h >> 8) % 97)::INT AS h
FROM hh
"""


def q_image_resize(spark: SparkSession, sf_dir: str, full: bool = False) -> DataFrame:
    """Multimodal transform: decode → nearest-neighbor resize → re-encode
    inside Arrow batches. Gated output (url, fmt, w, h) reads the dims off
    the DECODED resized payload (must be exactly 16×16 — the SQL oracle
    states the contract); resized pixel content (binary codec output) is
    golden-tested in tests/test_images.py."""
    from .functions.images import image_stats_udf, resize_images_udf
    from .operators.wave import fetch_images

    d = (
        _docs_with_url(spark, sf_dir)
        .filter(F.col("doc_id") < 30)
        .select(
            "url",
            F.col("source").alias("source_name"),
            F.lit(0).alias("source_id"),
            F.col("doc_id").alias("seq"),
        )
    )
    corpus = fetch_images(d, seed=42)
    small = corpus.withColumn("small", resize_images_udf(16, 16)("bytes", "fmt"))
    stats = small.select(
        "url", "fmt", image_stats_udf()("small", "fmt").alias("s")
    )
    if full:
        return stats.select(
            "url", "fmt", "s.w", "s.h", "s.phash",
            F.round("s.mean_lum", 3).alias("mean_lum"),
        )
    return stats.select("url", "fmt", "s.w", "s.h")


_SQL_IMAGE_RESIZE = """
WITH d AS (SELECT doc_id, {url} AS url FROM documents WHERE doc_id < 30),
hh AS (SELECT url, CAST(('0x' || substring(md5('w42:fetch:' || url), 1, 15)) AS BIGINT) AS h
       FROM d)
SELECT url,
       CASE WHEN (h >> 16) % 10 < 7 THEN 'png' ELSE 'jpeg' END AS fmt,
       16::INT AS w, 16::INT AS h
FROM hh
"""


def q_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal end-to-end, one gated query (r4 VERDICT #1: the driver's
    correctness gate caps at 50 catalog entries, so the two image queries
    merge): ``stats`` rows are fetch → decode → feature-extract (dims off
    the decoded pixels), ``resize`` rows add decode → 16×16 nearest-
    neighbor resize → re-encode → re-decode. The SQL oracle states both
    contracts; pixel contents (binary codec products) stay golden-tested
    in tests/test_images.py via q_image_stats/q_image_resize(full=True)."""
    stats = q_image_stats(spark, sf_dir).withColumn("stage", F.lit("stats"))
    resized = q_image_resize(spark, sf_dir).withColumn("stage", F.lit("resize"))
    return stats.unionByName(resized)


def _sql_image_pipeline() -> str:
    return (
        "SELECT *, 'stats' AS stage FROM ({})\n"
        "UNION ALL\nSELECT *, 'resize' AS stage FROM ({})".format(
            _SQL_IMAGE_STATS.format(url=_URL_DUCK),
            _SQL_IMAGE_RESIZE.format(url=_URL_DUCK),
        )
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints, fully relational (explode → JVM hash → bit-vote
    aggregation) — portable md5 hashing so DuckDB reproduces every bit."""
    from .operators.dedup import simhash_relational

    d = _spread(_docs(spark, sf_dir).select("doc_id", "text")).select(
        "doc_id", F.split(T.clean_whitespace(F.lower("text")), " ").alias("tokens")
    )
    return simhash_relational(d, "doc_id", "tokens")


def _sql_simhash() -> str:
    from .operators.dedup import simhash_relational_sql

    toks = f"string_split({T.clean_whitespace_sql('lower(text)')}, ' ')"
    return simhash_relational_sql(
        "SELECT doc_id, text FROM documents", "doc_id", toks
    )


# driver testdata embeddings are 64-dim at every SF (TESTDATA.md); a plan-time
# constant — reading .first() on the driver to learn it would execute the scan
_EMB_DIM = 64
_SRP_BITS = 8


def q_srp_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via signed-random-projection LSH with PORTABLE
    plan-time hyperplanes — the DuckDB oracle reproduces bucket assignment,
    multiprobe candidates and ranking exactly, so the approximate path is
    hash-gated, not rows-only."""
    from .operators.similarity import srp_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return srp_topk(
        emb, queries, k=10, n_bits=_SRP_BITS, dim=_EMB_DIM
    ).select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


def _sql_srp_ann() -> str:
    from .operators.similarity import srp_bucket_sql

    b = srp_bucket_sql("v", _EMB_DIM, _SRP_BITS)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {b} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket FROM b WHERE vec_id < 5),
cand AS (
  SELECT q.query_id, b.vec_id,
         list_cosine_similarity(b.v, q.qv) AS cos_raw
  FROM b JOIN q ON bit_count(xor(b.bucket::BIGINT, q.qbucket::BIGINT)) <= 1),
ranked AS (
  SELECT query_id, vec_id, round(cos_raw, 6) AS cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS rank
  FROM cand)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
"""


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (the second ANN scale path next to SRP-LSH):
    seeded coarse quantizer (first 16 vectors), 4-probe cell routing, exact
    cosine inside probed cells — fully relational and oracle-mirrored."""
    from .operators.similarity import ivf_topk

    emb = _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet")).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_topk(emb, queries, k=10, n_cells=16, n_probe=4).select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


_SQL_IVF_ANN = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cvec FROM e WHERE vec_id < 16),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC, c.cell) AS cr
    FROM e CROSS JOIN cents c) WHERE cr = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY round(list_cosine_similarity(q.qv, c.cvec), 6) DESC, c.cell) AS qr
    FROM q CROSS JOIN cents c) WHERE qr <= 4),
cand AS (
  SELECT p.query_id, a.vec_id, list_cosine_similarity(a.v, p.qv) AS cos_raw
  FROM assigned a JOIN probes p ON a.cell = p.cell),
ranked AS (
  SELECT query_id, vec_id, round(cos_raw, 6) AS cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS rank
  FROM cand)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
"""


def q_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer: Lloyd k-means (k=16, the
    exact-integer construction) supplies the codebook, whose integer sum
    vectors serve directly as centroid directions (cosine is
    scale-invariant — no division, no float drift), then the standard IVF
    route: 4-probe cell routing + exact cosine inside probed cells. The
    oracle replays training AND serving."""
    from .operators.clustering import kmeans_centroids, quantize_vec
    from .operators.similarity import ivf_topk

    raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    train = _spread(raw).select("vec_id", quantize_vec("embedding").alias("qvec"))
    # materialize the k-row codebook ONCE: ivf_topk broadcasts it into BOTH
    # its corpus-assignment and query-routing joins, and lazily each
    # broadcast re-runs the whole Lloyd chain (steady min of 5 at sf0.1,
    # local[4]: 3.92 s vs 4.84 s lazy; BENCH/NOTES.md)
    cents = kmeans_centroids(train, k=16, iters=2, dim=64).localCheckpoint(
        eager=True
    ).select(
        F.col("cid").alias("cell"),
        F.transform("svec", lambda s: s.cast("double")).alias("cvec"),
    )
    emb = _spread(raw).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_topk(
        emb, queries, k=10, n_cells=16, n_probe=4, centroids=cents
    ).select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


def _sql_ivf_kmeans() -> str:
    return f"""
WITH {_sql_kmeans_ctes(16)},
cents AS (SELECT cid AS cell, list_transform(sv, s -> CAST(s AS DOUBLE)) AS cvec
          FROM c2),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY round(list_cosine_similarity(e.v, c.cvec), 6) DESC, c.cell) AS cr
    FROM e CROSS JOIN cents c) WHERE cr = 1),
qq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT qq.query_id, qq.qv, c.cell,
      row_number() OVER (PARTITION BY qq.query_id
        ORDER BY round(list_cosine_similarity(qq.qv, c.cvec), 6) DESC, c.cell) AS qr
    FROM qq CROSS JOIN cents c) WHERE qr <= 4),
cand AS (
  SELECT p.query_id, a.vec_id, list_cosine_similarity(a.v, p.qv) AS cos_raw
  FROM assigned a JOIN probes p ON a.cell = p.cell),
ranked AS (
  SELECT query_id, vec_id, round(cos_raw, 6) AS cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS rank
  FROM cand)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
"""


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative Lloyd k-means (k=4, 2 assignment passes with a centroid
    recompute between them) over the embeddings table — the DuckDB oracle
    replays BOTH iterations exactly because the operator does all centroid
    math in integers (floor(x·2^13) quantization; centroids kept as
    sum-vector + count; ranking divides two integer-agreed operands in one
    IEEE operation). The usual 'iterative algorithms are rows-only'
    exemption is deliberately not used."""
    from .operators.clustering import kmeans_assign, quantize_vec

    emb = _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet")).select(
        "vec_id", quantize_vec("embedding").alias("qvec")
    )
    # not checkpointed: per-iteration k-row checkpoints measured no faster
    # (steady median of 10 pairs at sf0.1, local[4]: 1.55 s with, 1.50 s
    # without; BENCH/NOTES.md) and ran six Spark jobs while the query was
    # being built
    return kmeans_assign(emb, "vec_id", "qvec", k=4, iters=2, dim=64)


def _sql_kmeans_ctes(k: int) -> str:
    """Shared DuckDB CTE chain replaying the exact-integer Lloyd run:
    quantize → seed c0 → assign a0 → recompute c1 → assign a1 → recompute
    c2 (the trained centroids kmeans_centroids returns)."""
    from .operators.clustering import QSCALE

    def dist(c: str) -> str:
        return (
            f"CAST(list_sum(list_transform(range(1, 65), i -> "
            f"{c}.n*{c}.n*q.qv[i]*q.qv[i] - 2*{c}.n*q.qv[i]*{c}.sv[i] "
            f"+ {c}.sv[i]*{c}.sv[i])) AS DOUBLE) / CAST({c}.n*{c}.n AS DOUBLE)"
        )

    def recompute(a: str, c: str) -> str:
        return f"""
e_{c} AS (SELECT {a}.cid, i, q.qv[i::INT] AS v
       FROM {a} JOIN q USING (vec_id), unnest(range(1, 65)) AS t(i)),
sums_{c} AS (SELECT cid, i, CAST(sum(v) AS BIGINT) AS s FROM e_{c} GROUP BY cid, i),
cnts_{c} AS (SELECT cid, count(*) AS n FROM {a} GROUP BY cid),
{c} AS (SELECT sums_{c}.cid, list(s ORDER BY i) AS sv, any_value(cnts_{c}.n) AS n
       FROM sums_{c} JOIN cnts_{c} USING (cid) GROUP BY sums_{c}.cid)"""

    def assign(c: str, a: str) -> str:
        return f"""
s_{a} AS (SELECT q.vec_id, c.cid, {dist('c')} AS d FROM q CROSS JOIN {c} c),
{a} AS (SELECT vec_id, cid FROM (
         SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         FROM s_{a}) WHERE rn = 1)"""

    return f"""q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * {QSCALE}) AS BIGINT)) AS qv
  FROM embeddings),
c0 AS (SELECT vec_id::INT AS cid, qv AS sv, 1::BIGINT AS n FROM q WHERE vec_id < {k}),
{assign('c0', 'a0')},
{recompute('a0', 'c1')},
{assign('c1', 'a1')},
{recompute('a1', 'c2')}"""


def _sql_kmeans_clusters() -> str:
    return f"""
WITH {_sql_kmeans_ctes(4)}
SELECT vec_id, cid AS cluster FROM a1
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection: SRP-bucketed candidate pairs
    (Hamming ≤ 1 multiprobe — never all-pairs) → exact cosine ≥ 0.98.
    Near-dups synthesized by perturbing one coordinate of every 10th vector;
    the oracle mirrors the SAME bucketed algorithm (like the MinHash-LSH
    gate), so the driver checks implementation equivalence."""
    from .operators.similarity import cosine_sim, srp_bucket

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    clones = emb.filter(F.pmod("vec_id", F.lit(10)) == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.1)),
            F.slice("embedding", 2, _EMB_DIM - 1),
        ).alias("embedding"),
    )
    corpus = _spread(emb.unionByName(clones)).withColumn(
        "bucket", srp_bucket(F.col("embedding"), _EMB_DIM, _SRP_BITS)
    )
    # deliberately NOT checkpointed: with the scan spread, re-running the
    # bucket fold on the second self-join side costs less than the extra
    # materialization action (measured A/B at sf0.1)
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(_SRP_BITS)],
    )
    a = corpus.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
        F.explode(probes).alias("bucket"),
    )
    b = corpus.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), "bucket"
    )
    # no pair dedup needed: id_b carries ONE bucket and id_a's 9 probe
    # values are pairwise distinct, so (id_a, id_b) joins at most once —
    # the former dropDuplicates was a dead exchange (guide §2.4; the
    # DuckDB mirror joins on Hamming ≤ 1 without DISTINCT)
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_sim(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= 0.98)
    )
    return pairs.select("id_a", "id_b", F.round("cos", 6).alias("cosine"))


def _sql_dedup_embedding() -> str:
    from .operators.similarity import srp_bucket_sql

    bexpr = srp_bucket_sql("v", _EMB_DIM, _SRP_BITS)
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
corpus AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 1000000, [v[1] + 0.1] || v[2:] FROM base WHERE vec_id % 10 = 0),
b AS (SELECT vec_id, v, {bexpr} AS bucket FROM corpus),
pairs AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         list_cosine_similarity(a.v, b2.v) AS cos
  FROM b a JOIN b b2
    ON bit_count(xor(a.bucket::BIGINT, b2.bucket::BIGINT)) <= 1
   AND a.vec_id < b2.vec_id)
SELECT id_a, id_b, round(cos, 6) AS cosine FROM pairs WHERE cos >= 0.98
"""


def q_crawl_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end K1 embedding tier: frontier → REAL fetch (fetch_images,
    which emits the deterministic image_id-seeded embedding column the
    reference stores per Qdrant point, qdrant_client.py:130-136, as JVM
    hash math; its Arrow-batched scalar pandas UDF codec over four narrow
    columns is pruned here, since no pixel column is selected) → SRP
    bucket candidates (Hamming ≤ 1) → exact cosine ≥ 0.98 near-dup pairs.

    The frontier repeats every URL twice (doc_id % 60) and the second
    discovery's vector is perturbed +0.1 on coordinate 1 — near-dups by
    construction; the DuckDB oracle recomputes the kernel's md5 metadata
    chain (url → caption → image_id → embedding) and the same bucketed
    pairing, so the whole crawl→ANN path is hash-gated."""
    from .operators.similarity import cosine_sim, srp_bucket
    from .operators.wave import fetch_images
    from .session import ensure_shipped
    from .sources.synthetic import EMB_DIM
    ensure_shipped(spark)

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 120)
    dup = F.pmod("doc_id", F.lit(60)).cast("string")
    frontier = d.select(
        F.concat(F.lit("https://dup.example.com/a/"), dup).alias("url"),
        F.lit("srcE").alias("source_name"),
        F.lit(0).alias("source_id"),
        F.col("doc_id").alias("seq"),
    )
    corpus = fetch_images(frontier, seed=42)
    emb = corpus.select(
        "seq", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    emb = emb.withColumn(
        "v",
        F.when(
            F.col("seq") >= 60,
            F.concat(
                F.array(F.element_at("v", 1) + F.lit(0.1)),
                F.slice("v", 2, EMB_DIM - 1),
            ),
        ).otherwise(F.col("v")),
    ).withColumn("bucket", srp_bucket(F.col("v"), EMB_DIM, _SRP_BITS))
    # materialize ONCE before the self-join: both join sides derive from the
    # fetch, and a lazy plan re-executes it per side (the r1
    # double-fetch disease). Production gets this for free by committing the
    # corpus snapshot and reading it back; eager (not lazy) checkpoint
    # because concurrent stages race to fill a lazy persist.
    emb = emb.localCheckpoint(eager=True)
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(_SRP_BITS)],
    )
    a = emb.select(
        F.col("seq").alias("seq_a"), F.col("v").alias("va"),
        F.explode(probes).alias("bucket"),
    )
    b = emb.select(F.col("seq").alias("seq_b"), F.col("v").alias("vb"), "bucket")
    # same dead-exchange removal as q_dedup_embedding: one bucket per
    # seq_b, pairwise-distinct probes per seq_a ⇒ each pair joins once
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("seq_a") < F.col("seq_b"))
        .select("seq_a", "seq_b", cosine_sim(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= 0.98)
    )
    return pairs.select("seq_a", "seq_b", F.round("cos", 6).alias("cosine"))


def _sql_crawl_embedding_neardup() -> str:
    from .operators.similarity import srp_bucket_sql
    from .sources.synthetic import EMB_DIM

    topics = "['EUR/USD', 'Gold', 'S&P 500', 'Crude Oil', 'BTC/USD', 'USD/JPY']"
    seg = "regexp_extract(url, '([^/]*)$', 1)"
    bexpr = srp_bucket_sql("v", EMB_DIM, _SRP_BITS)
    return f"""
WITH fr AS (
  SELECT doc_id AS seq,
         'https://dup.example.com/a/' || (doc_id % 60)::VARCHAR AS url
  FROM documents WHERE doc_id < 120),
hh AS (
  SELECT seq, url,
         CAST(('0x' || substring(md5('w42:fetch:' || url), 1, 15)) AS BIGINT) AS h
  FROM fr),
meta AS (
  SELECT seq, url, h,
         {topics}[(h % 6)::INT + 1] || ' Analysis: ' ||
           (CASE WHEN {seg} = '' THEN 'index' ELSE {seg} END) ||
           ' report ' || (h % 9973)::VARCHAR AS caption
  FROM hh),
ids AS (
  SELECT seq, md5('srcE' || ':' || caption || ':' || url) AS image_id FROM meta),
emb AS (
  SELECT seq,
    list_transform(range(0, {EMB_DIM}), j ->
      (((CAST(('0x' || substring(md5('emb:' || image_id || ':' || j::VARCHAR), 1, 15))
          AS BIGINT) % 2001) - 1000) / 1000.0)::FLOAT::DOUBLE) AS v0
  FROM ids),
vecs AS (
  SELECT seq,
         CASE WHEN seq >= 60 THEN [v0[1] + 0.1] || v0[2:] ELSE v0 END AS v
  FROM emb),
b AS (SELECT seq, v, {bexpr} AS bucket FROM vecs),
pairs AS (
  SELECT a.seq AS seq_a, b2.seq AS seq_b,
         list_cosine_similarity(a.v, b2.v) AS cos
  FROM b a JOIN b b2
    ON bit_count(xor(a.bucket::BIGINT, b2.bucket::BIGINT)) <= 1
   AND a.seq < b2.seq)
SELECT seq_a, seq_b, round(cos, 6) AS cosine FROM pairs WHERE cos >= 0.98
"""


def q_crawl_wave_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scale-mode crawl wave (canonicalize → robots → dedup → priority
    → per-host budget → URL-hash placement → REAL fetch: the Arrow-batched
    scalar pandas UDF codec over four narrow columns),
    oracle-gated end to end on the metadata path: the DuckDB mirror
    recomputes which URLs are due (robots prefix filter, score-desc/rank
    host window, budget cap) AND
    every fetched metadata column (image_id/w/h/fmt/caption — the portable
    md5 derivations of the payload kernel). Only the binary codec outputs
    (bytes/phash) stay outside SQL, covered by tests/test_images.py.

    The frontier is derived portably from documents (host = doc_id%20,
    score = doc_id*37%10000, every 50th URL robots-blocked) so the oracle
    can reproduce the schedule without Spark-internal hashes."""
    from pyspark.sql import Row

    from .operators.wave import run_scale_wave
    from .session import ensure_shipped

    ensure_shipped(spark)
    d = _docs(spark, sf_dir)
    host = F.concat(
        F.lit("host"), F.pmod("doc_id", F.lit(20)).cast("string"), F.lit(".example.com")
    )
    path = F.when(
        F.pmod("doc_id", F.lit(50)) == 7,
        F.concat(F.lit("/private/"), F.col("doc_id").cast("string")),
    ).otherwise(F.concat(F.lit("/articles/"), F.col("doc_id").cast("string")))
    frontier = d.select(
        F.concat(F.lit("https://"), host, path).alias("url"),
        F.pmod("doc_id", F.lit(7)).cast("int").alias("source_id"),
        F.col("doc_id").alias("feed_rank"),
        (F.pmod(F.col("doc_id") * 37, F.lit(10000)) / 10000.0).alias("score"),
        F.lit(0).alias("wave"),
    )
    policies = spark.createDataFrame(
        [
            Row(
                host=f"host{i}.example.com",
                crawl_delay_s=1.0,
                per_wave_budget=40,
                robots_disallow=["/private"],
            )
            for i in range(20)
        ]
    )
    out = run_scale_wave(frontier, policies, None, wave=0)
    return out["corpus"].select(
        "url", "image_id", "w", "h", "fmt", "caption",
        F.col("seq").alias("host_rank"),
    )


def _sql_crawl_wave_scale() -> str:
    topics = "['EUR/USD', 'Gold', 'S&P 500', 'Crude Oil', 'BTC/USD', 'USD/JPY']"
    seg = "regexp_extract(url, '([^/]*)$', 1)"
    return f"""
WITH f AS (
  SELECT doc_id,
         'host' || (doc_id % 20)::VARCHAR || '.example.com' AS host,
         CASE WHEN doc_id % 50 = 7 THEN '/private/' || doc_id::VARCHAR
              ELSE '/articles/' || doc_id::VARCHAR END AS path,
         (doc_id % 7)::INT AS source_id,
         doc_id AS feed_rank,
         (doc_id * 37 % 10000) / 10000.0 AS score
  FROM documents),
allowed AS (
  SELECT 'https://' || host || path AS url, host, source_id, feed_rank, score
  FROM f WHERE path NOT LIKE '/private%'),
r AS (
  SELECT *, row_number() OVER (PARTITION BY host
              ORDER BY score DESC, feed_rank) AS host_rank
  FROM allowed),
due AS (SELECT * FROM r WHERE host_rank <= 40),
hh AS (
  SELECT url, source_id, host_rank,
         CAST(('0x' || substring(md5('w42:fetch:' || url), 1, 15)) AS BIGINT) AS h
  FROM due),
c AS (
  SELECT url, source_id, host_rank, h,
         (32 + h % 97)::INT AS w, (32 + (h >> 8) % 97)::INT AS ht,
         CASE WHEN (h >> 16) % 10 < 7 THEN 'png' ELSE 'jpeg' END AS fmt,
         {topics}[(h % 6)::INT + 1] || ' Analysis: ' ||
           (CASE WHEN {seg} = '' THEN 'index' ELSE {seg} END) ||
           ' report ' || (h % 9973)::VARCHAR AS caption
  FROM hh)
SELECT url,
  md5('src' || source_id::VARCHAR || ':' || caption || ':' || url) AS image_id,
  w, ht AS h, fmt, caption, host_rank
FROM c
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def catalog() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """EXACTLY 50 entries, crawl-specific first (r4 VERDICT #1: the
    driver's correctness gate records the first 50 catalog queries, so the
    catalog is pruned to fit — ``top_revenue_orders``/``events_daily_
    rollup`` retired as duplicates of the tpch_q1/token_budget shapes,
    ``image_stats``+``image_resize`` merged into ``image_pipeline``; the
    retired query fns remain for pytest plan/golden coverage)."""
    return {
        # crawl core: canonicalize → seen → politeness → schedule → wave
        "url_canonicalize": q_url_canonicalize,
        "seen_antijoin": q_seen_antijoin,
        "bloom_seen_filter": q_bloom_seen_filter,
        "cuckoo_seen_filter": q_cuckoo_seen_filter,
        "politeness_waves": q_politeness_waves,
        "robots_parse": q_robots_parse,
        "reference_schedule": q_reference_schedule,
        "per_source_cap": q_per_source_cap,
        "newest_first_order": q_newest_first,
        "url_classifier": q_url_classifier,
        "fetch_metadata": q_fetch_metadata,
        "discover_links": q_discover_links,
        "rss_autodiscovery": q_rss_autodiscovery,
        "crawl_wave_scale": q_crawl_wave_scale,
        "image_pipeline": q_image_pipeline,
        # parsing / extraction
        "rss_items_parse": q_rss_items,
        "robust_parse_quarantine": q_robust_parse,
        "xml_repair": q_xml_repair,
        "html_text_extract": q_html_text_extract,
        "html_date_extract": q_html_date_extract,
        "fuzzy_date_parse": q_fuzzy_date_parse,
        "tz_blobpath": q_tz_blobpath,
        "content_chunking": q_content_chunking,
        "smart_truncation": q_smart_truncation,
        "llm_json_extract": q_llm_json_extract,
        "legacy_config_convert": q_legacy_config_convert,
        "extraction_fallback": q_extraction_fallback,
        "method_stats": q_method_stats,
        # dedup / similarity
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash,
        "dedup_ngram_jaccard": q_dedup_jaccard,
        "dedup_winnowing": q_dedup_winnowing,
        "simhash_fingerprint": q_simhash,
        "phash_hamming_pairs": q_phash_hamming,
        "dedup_embedding_cosine": q_dedup_embedding,
        "crawl_embedding_neardup": q_crawl_embedding_neardup,
        "text_quality": q_text_quality,
        "ann_cosine_topk": q_ann_cosine_topk,
        "srp_ann_topk": q_srp_ann,
        "ivf_ann_topk": q_ivf_ann,
        "kmeans_clusters": q_kmeans_clusters,
        "ivf_kmeans_topk": q_ivf_kmeans_topk,
        # stats / rollups
        "crawl_cycle_stats": q_cycle_stats,
        "dup_detector_stats": q_dup_detector_stats,
        "host_health": q_host_health,
        "status_pivot": q_status_pivot,
        "trend_window": q_trend_window,
        "token_budget_gate": q_token_budget,
        "retention_delete": q_retention_delete,
        # generic OLAP sanity (last: lowest stakes if a gate ever caps)
        "tpch_q1_pricing_summary": q_tpch_q1,
    }


def oracles() -> dict[str, str]:
    """One DuckDB oracle per catalog entry — the rows-only surface stays
    EMPTY (asserted in tests/test_entry.py). Same order as catalog()."""
    return {
        "url_canonicalize": _sql_url_canonicalize(),
        "seen_antijoin": _sql_seen_antijoin(),
        "bloom_seen_filter": _sql_bloom_seen(),
        "cuckoo_seen_filter": _sql_cuckoo_seen(),
        "politeness_waves": _SQL_POLITENESS,
        "robots_parse": _SQL_ROBOTS_PARSE,
        "reference_schedule": _sql_reference_schedule(),
        "per_source_cap": _SQL_PER_SOURCE_CAP,
        "newest_first_order": _SQL_NEWEST_FIRST,
        "url_classifier": _sql_url_classifier(),
        "fetch_metadata": _sql_fetch_metadata(),
        "discover_links": _sql_discover_links(),
        "rss_autodiscovery": _sql_rss_autodiscovery(),
        "crawl_wave_scale": _sql_crawl_wave_scale(),
        "image_pipeline": _sql_image_pipeline(),
        "rss_items_parse": _sql_rss_items(),
        "robust_parse_quarantine": _sql_robust_parse(),
        "xml_repair": _sql_xml_repair(),
        "html_text_extract": _sql_html_text_extract(),
        "html_date_extract": _sql_html_date_extract(),
        "fuzzy_date_parse": _sql_fuzzy_date(),
        "tz_blobpath": _SQL_TZ_BLOB,
        "content_chunking": _SQL_CHUNKING,
        "smart_truncation": _sql_smart_truncation(),
        "llm_json_extract": _sql_llm_json_extract(),
        "legacy_config_convert": _SQL_LEGACY_CONFIG,
        "extraction_fallback": _SQL_EXTRACTION_FALLBACK,
        "method_stats": _SQL_METHOD_STATS,
        "dedup_exact": _sql_dedup_exact(),
        "dedup_minhash_lsh": _sql_dedup_minhash(),
        "dedup_ngram_jaccard": _sql_dedup_jaccard(),
        "dedup_winnowing": _sql_dedup_winnowing(),
        "simhash_fingerprint": _sql_simhash(),
        "phash_hamming_pairs": _sql_phash_hamming(),
        "dedup_embedding_cosine": _sql_dedup_embedding(),
        "crawl_embedding_neardup": _sql_crawl_embedding_neardup(),
        "text_quality": _sql_text_quality(),
        "ann_cosine_topk": _SQL_ANN_TOPK,
        "srp_ann_topk": _sql_srp_ann(),
        "ivf_ann_topk": _SQL_IVF_ANN,
        "kmeans_clusters": _sql_kmeans_clusters(),
        "ivf_kmeans_topk": _sql_ivf_kmeans(),
        "crawl_cycle_stats": _SQL_CYCLE_STATS,
        "dup_detector_stats": _SQL_DUP_DETECTOR,
        "host_health": _SQL_HOST_HEALTH,
        "status_pivot": _SQL_STATUS_PIVOT,
        "trend_window": _SQL_TREND,
        "token_budget_gate": _SQL_TOKEN_BUDGET,
        "retention_delete": _SQL_RETENTION,
        "tpch_q1_pricing_summary": _SQL_TPCH_Q1,
    }
