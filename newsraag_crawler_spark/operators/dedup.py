"""Dedup operators: exact seen-set, partitioned Bloom shards, content-hash,
MinHash-LSH, SimHash, n-gram Jaccard, phash Hamming buckets.

Reference semantics being generalized (SURVEY.md §2.4):
- J1 raw-URL seen set (`duplicate_detector.py:13-66`) → ``anti_join_seen`` /
  two-phase Bloom probe at scale
- J2 persistent article-id set (`seen_tracker.py:45-51`) → the same family,
  keyed on image_id
- J3 content sha256 (`article_models.py:27-33`) → ``exact_dedup`` on
  hashing.content_hash
- J4 within-page link dedup → ``dropDuplicates`` after explode (wave.py)

Scale design for the seen set (north_rule): the frontier anti-joins a
``seen`` table — a shuffle on the dedup key at 10^10 rows. The Bloom path
cuts that: per-shard Bloom bitsets (built once per wave, bytes per shard)
are joined to the probe rows on shard id and tested with JVM bit
expressions (xxhash64 positions, element_at + getbit), so only *possible*
positives (tiny fraction) enter the exact anti-join shuffle. Python runs
only in the shard builds (numpy over Arrow batches), never in a probe.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# exact seen set
# ---------------------------------------------------------------------------


def anti_join_seen(df: DataFrame, seen: DataFrame, key: str = "key") -> DataFrame:
    """Rows of df whose key is NOT in seen (reference J1/J2 as a left-anti)."""
    return df.join(seen.select(key), key, "left_anti")


def exact_dedup(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Keep the first row per key under a deterministic order (hash-groupBy
    exact dedup; the order makes it reproducible at any parallelism)."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# partitioned Bloom shards
# ---------------------------------------------------------------------------

_BLOOM_SCHEMA = StructType(
    [
        StructField("shard_id", IntegerType()),
        StructField("n_bits", LongType()),
        StructField("n_keys", LongType()),
        # bitset as little-endian 64-bit words: bit pos ↔ word pos//64,
        # bit pos%64 — an array<long> (not binary) so the JVM probe path can
        # test bits with element_at + getbit, zero Python
        StructField("words", ArrayType(LongType())),
    ]
)

# Probe join cutoff: total filter bytes at or under this broadcast the shard
# rows to every probe task. Bigger filters (e.g. 10^10-key seen sets at ~10
# bits/key ≈ 12.5 GB) exceed any sane broadcast and join on _shard_id
# without the hint — a shuffled join, so each shard's words reach only the
# partition that probes that shard. Either way the bit tests are the same
# JVM expressions; the cutoff picks only the join strategy.
_JVM_PROBE_MAX_BYTES = 256 << 20


def _shard_of(key_col, n_shards: int):
    """Shard routing, shared by builds and probes: murmur3(key) % n_shards."""
    return F.pmod(F.hash(key_col), F.lit(n_shards)).cast("int")


def _shard_dim(shards: DataFrame, cols: list[str], filter_bytes: int) -> DataFrame:
    """The probe join's build side, keyed on _shard_id (see the cutoff)."""
    dim = shards.select(F.col("shard_id").alias("_shard_id"), *cols)
    return F.broadcast(dim) if filter_bytes <= _JVM_PROBE_MAX_BYTES else dim


def bloom_params(n_keys_per_shard: int, fpp: float = 0.01) -> tuple[int, int]:
    """(n_bits, n_hashes) for a target false-positive rate."""
    n = max(n_keys_per_shard, 1)
    m = int(-n * math.log(fpp) / (math.log(2) ** 2))
    m = max(64, (m + 63) // 64 * 64)
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 8)


def _bloom_hashes(key_col, n_bits: int):
    """The two base hashes of double hashing, each already reduced mod m."""
    # reduce mod m before combining: ANSI mode forbids the long overflow
    # h1 + i*h2 would hit; (h1m + i*h2m) < (n_hashes+1)*n_bits ≪ 2^63
    return (
        F.pmod(F.xxhash64(key_col, F.lit(1)), F.lit(n_bits)),
        F.pmod(F.xxhash64(key_col, F.lit(2)), F.lit(n_bits)),
    )


def _positions(h1, h2, n_bits: int, n_hashes: int) -> list:
    """The k bit positions pos_i = (h1 + i*h2) mod m — the one definition
    builds and probes share."""
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(n_bits)) for i in range(n_hashes)]


def build_bloom_shards(
    keys: DataFrame,
    key: str = "key",
    n_shards: int = 64,
    n_bits: int | None = None,
    n_hashes: int | None = None,
    expected_keys: int | None = None,
    fpp: float = 0.01,
) -> DataFrame:
    """Build per-shard Bloom bitsets from a key column.

    Returns (shard_id, n_bits, n_keys, words). Shard routing is
    murmur3(key) % n_shards — the same expression probes use. Building is one
    grouped pandas UDF over (shard_id); the bitset never exceeds n_bits/8
    bytes per shard.
    """
    if n_bits is None or n_hashes is None:
        total = expected_keys or 1_000_000
        n_bits, n_hashes = bloom_params(max(total // n_shards, 1), fpp)
    nb, nh = n_bits, n_hashes

    prepped = keys.select(
        _shard_of(F.col(key), n_shards).alias("shard_id"),
        F.array(*_positions(*_bloom_hashes(F.col(key), nb), nb, nh)).alias("pos"),
    )

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        words = np.zeros(max(nb // 64, 1), dtype=np.uint64)
        pos = np.concatenate(pdf["pos"].values).astype(np.uint64)
        np.bitwise_or.at(words, pos // 64, np.uint64(1) << (pos % 64))
        sid = int(pdf["shard_id"].iloc[0])
        return pd.DataFrame(
            {
                "shard_id": [sid],
                "n_bits": [nb],
                "n_keys": [len(pdf)],
                "words": [words.view(np.int64)],
            }
        )

    return prepped.groupBy("shard_id").applyInPandas(_build, _BLOOM_SCHEMA)


def probe_bloom(
    df: DataFrame,
    shards: DataFrame,
    key: str = "key",
    n_shards: int = 64,
    n_bits: int = 0,
    n_hashes: int = 0,
) -> DataFrame:
    """Add ``maybe_seen: boolean`` via the shard bitsets.

    n_bits/n_hashes MUST match the build call (callers hold them — see
    storage.snapshot_store lineage, which records them per shard set).

    The word arrays join on shard id (broadcast or shuffled, see
    _JVM_PROBE_MAX_BYTES) and the bits are tested with element_at + getbit
    — pure JVM expressions; the build-side word array is referenced in place
    by codegen, never copied per row.
    """
    assert n_bits > 0 and n_hashes > 0, "pass the build-time n_bits/n_hashes"
    nb = n_bits
    h1, h2 = _bloom_hashes(F.col(key), nb)
    probed = (
        df.withColumn("_shard_id", _shard_of(F.col(key), n_shards))
        .withColumn("_h1", h1)
        .withColumn("_h2", h2)
    )
    # UNROLLED bit tests (not forall over a position array): higher-order
    # functions are CodegenFallback — the interpreted lambda measured 4x
    # slower than the whole-stage-codegen'd static AND chain
    hit = None
    for pos in _positions(F.col("_h1"), F.col("_h2"), nb, n_hashes):
        t = (
            F.getbit(
                F.element_at(F.col("words"), (pos / 64).cast("int") + 1),
                F.pmod(pos, F.lit(64)),
            )
            == 1
        )
        hit = t if hit is None else hit & t
    dim = _shard_dim(shards, ["words"], n_shards * (nb // 8))
    result = probed.join(dim, "_shard_id", "left").withColumn(
        "maybe_seen",
        # missing shard row (no keys hashed there) → definitely unseen
        F.when(F.col("words").isNull(), F.lit(False)).otherwise(hit),
    )
    return result.drop("_h1", "_h2", "_shard_id", "words")


def _confirm_seen(
    df: DataFrame, seen: DataFrame, probed: DataFrame, key: str
) -> DataFrame:
    """Rows of df whose key is not in seen, given ``probed`` = df's keys with
    a no-false-negative ``maybe_seen`` flag (Bloom or cuckoo).

    Shape (the §8 small-rows/big-rows split): only the key column flows
    through the probe and the confirm joins — the full-width rows of df are
    touched exactly once, by the final anti-join, which AQE turns into a
    broadcast join whenever the confirmed-seen key set (≤ this wave's key
    count, never the whole seen table) is small. Algebra:
        fresh ∪ (maybe ⟕̸ seen)  ==  df ⟕̸ (seen ⋉ maybe_keys)
    because a df row is dropped iff its key is filter-positive AND in seen.
    """
    maybe_keys = probed.filter(F.col("maybe_seen")).select(key)
    confirmed_seen = seen.select(key).join(maybe_keys, key, "left_semi")
    return df.join(confirmed_seen, key, "left_anti")


def seen_filter_two_phase(
    df: DataFrame,
    seen: DataFrame,
    shards: DataFrame,
    key: str = "key",
    n_shards: int = 64,
    n_bits: int | None = None,
    n_hashes: int | None = None,
) -> DataFrame:
    """EXACT seen filter with Bloom pre-filter (SURVEY.md §7.3.2).

    Bloom-negative rows are definitely new; only Bloom-positive KEYS (true
    positives + FPR) are exact-confirmed against the seen table (see
    _confirm_seen for the join shape). Output = rows of df definitely not
    in seen.
    """
    probed = probe_bloom(df.select(key), shards, key, n_shards, n_bits, n_hashes)
    return _confirm_seen(df, seen, probed, key)


# ---------------------------------------------------------------------------
# cuckoo-filter shards (the north_rule's alternative to Bloom; supports
# DELETION, so the seen-set can honor retention expiry without a rebuild)
# ---------------------------------------------------------------------------

_CUCKOO_SCHEMA = StructType(
    [
        StructField("shard_id", IntegerType()),
        StructField("n_buckets", LongType()),
        StructField("n_keys", LongType()),
        # one long per bucket: the 4 uint16 fingerprint slots packed
        # little-endian (slot s = bits 16s..16s+15) — the build packs them
        # with a numpy .view; probes test lanes with static shifts
        StructField("table", ArrayType(LongType())),
        # exact spill list: (fp << 32) | b1 per overflowed key
        StructField("overflow", ArrayType(LongType())),
    ]
)

_CUCKOO_SLOTS = 4  # slots per bucket (standard (2,4)-cuckoo filter)


def _cuckoo_cols(key_col, n_buckets: int, n_shards: int):
    """JVM-side fingerprint + two candidate buckets (partial-key cuckoo:
    b2 = b1 XOR hash(fp), so either bucket is derivable from the other)."""
    fp = (F.pmod(F.xxhash64(key_col, F.lit(7)), F.lit(65535)) + 1).cast("int")  # 1..65535, 0=empty
    b1 = F.pmod(F.xxhash64(key_col, F.lit(8)), F.lit(n_buckets)).cast("long")
    b2 = F.pmod(
        b1.bitwiseXOR(F.pmod(F.xxhash64(fp.cast("string")), F.lit(n_buckets))),
        F.lit(n_buckets),
    ).cast("long")
    return fp, b1, b2, _shard_of(key_col, n_shards)


def build_cuckoo_shards(
    keys: DataFrame,
    n_shards: int = 64,
    n_buckets: int = 1 << 14,
) -> DataFrame:
    """Per-shard (2,4)-cuckoo filter tables (uint16 fingerprints) over the
    ``key`` column.

    NOTE: the eviction chain needs a Python-side partner-bucket hash which
    cannot match the JVM b2 exactly, so PROBES check both candidate buckets
    computed JVM-side AND the build inserts only into those two buckets
    (no eviction re-homing across the b1/b2 pair boundary would break
    lookups). We therefore insert into b1/b2 only and spill to an exact
    overflow list when both are full — membership stays EXACT-no-false-
    negative, the overflow is bounded by load factor.
    """
    prepped = keys.select(
        *(
            c.alias(n)
            for c, n in zip(
                _cuckoo_cols(F.col("key"), n_buckets, n_shards),
                ("fp", "b1", "b2", "shard_id"),
            )
        )
    )

    def _group_rank(b: np.ndarray) -> np.ndarray:
        """0-based position of each element within its value-group (stable).
        Pure numpy segment ops — no per-key Python."""
        order = np.argsort(b, kind="stable")
        sb = b[order]
        idx = np.arange(len(sb))
        is_start = np.r_[True, sb[1:] != sb[:-1]] if len(sb) else np.array([], bool)
        start_idx = np.maximum.accumulate(np.where(is_start, idx, 0))
        rank = np.empty_like(idx)
        rank[order] = idx - start_idx
        return rank

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        # VECTORIZED bulk build (r2 VERDICT #7 — the per-key for-loop was a
        # scale-killer for from-scratch builds over 10^10 keys): pass 1
        # places each key in b1 at its within-bucket rank while slots last;
        # pass 2 places the remainder in b2 above the slots pass 1 used
        # there; the rest spill to the exact overflow list. The placement
        # differs from the sequential insert order but membership is
        # identical: probes always check BOTH candidate buckets + overflow.
        table = np.zeros((n_buckets, _CUCKOO_SLOTS), dtype=np.uint16)
        fps = pdf["fp"].to_numpy(np.uint16)
        b1s = pdf["b1"].to_numpy(np.int64)
        b2s = pdf["b2"].to_numpy(np.int64)
        r1 = _group_rank(b1s)
        placed1 = r1 < _CUCKOO_SLOTS
        table[b1s[placed1], r1[placed1]] = fps[placed1]
        used = np.bincount(
            b1s[placed1], minlength=n_buckets
        )  # pass-1 fill per bucket, ≤ _CUCKOO_SLOTS
        idx_rem = np.nonzero(~placed1)[0]
        slot2 = used[b2s[idx_rem]] + _group_rank(b2s[idx_rem])
        ok2 = slot2 < _CUCKOO_SLOTS
        sel = idx_rem[ok2]
        table[b2s[sel], slot2[ok2]] = fps[sel]
        spilled = idx_rem[~ok2]
        overflow = (fps[spilled].astype(np.int64) << 32) | b1s[spilled]
        words = np.ascontiguousarray(table).view(np.uint64).ravel().view(np.int64)
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "n_buckets": [n_buckets],
                "n_keys": [len(pdf)],
                "table": [words],
                "overflow": [overflow],
            }
        )

    return prepped.groupBy("shard_id").applyInPandas(_build, _CUCKOO_SCHEMA)


def probe_cuckoo(
    df: DataFrame,
    shards: DataFrame,
    n_shards: int = 64,
    n_buckets: int = 1 << 14,
) -> DataFrame:
    """Add ``maybe_seen``: the ``key``'s fingerprint is present in either
    candidate bucket (or the exact overflow list). Same join as probe_bloom
    (broadcast or shuffled on shard id) with static-shift lane tests."""
    fp, b1, b2, shard = _cuckoo_cols(F.col("key"), n_buckets, n_shards)
    probed = (
        df.withColumn("_fp", fp)
        .withColumn("_b1", b1)
        .withColumn("_b2", b2)
        .withColumn("_shard_id", shard)
    )

    def lane_hit(bucket_col):
        w = F.element_at(F.col("table"), bucket_col.cast("int") + 1)
        fpl = F.col("_fp").cast("bigint")
        return (
            (F.shiftrightunsigned(w, 0).bitwiseAND(F.lit(0xFFFF)) == fpl)
            | (F.shiftrightunsigned(w, 16).bitwiseAND(F.lit(0xFFFF)) == fpl)
            | (F.shiftrightunsigned(w, 32).bitwiseAND(F.lit(0xFFFF)) == fpl)
            | (F.shiftrightunsigned(w, 48).bitwiseAND(F.lit(0xFFFF)) == fpl)
        )

    ovf_hit = F.array_contains(
        F.col("overflow"),
        F.shiftleft(F.col("_fp").cast("bigint"), 32) + F.col("_b1"),
    )
    dim = _shard_dim(
        shards, ["table", "overflow"], n_shards * n_buckets * _CUCKOO_SLOTS * 2
    )
    result = probed.join(dim, "_shard_id", "left").withColumn(
        "maybe_seen",
        F.when(F.col("table").isNull(), F.lit(False)).otherwise(
            lane_hit(F.col("_b1")) | lane_hit(F.col("_b2")) | ovf_hit
        ),
    )
    return result.drop("_fp", "_b1", "_b2", "_shard_id", "table", "overflow")


# ---------------------------------------------------------------------------
# near-dup: MinHash-LSH / SimHash / n-gram Jaccard / phash buckets
# ---------------------------------------------------------------------------


_MINHASH_P = 2_147_483_647  # 2^31-1; products stay < 2^62 (ANSI-safe)


def minhash_perms(n: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation constants shared with the DuckDB
    mirror: sig_i = min over shingles of (a_i * (h % p) + b_i) % p."""
    return [
        ((1103515245 * (i + 1) + 12345) % _MINHASH_P or 1, (12345 + 1013904223 * i) % _MINHASH_P)
        for i in range(n)
    ]


def minhash_signature(shingle_col, num_hashes: int = 16) -> object:
    """MinHash signature as array<bigint> over a shingle array column.

    Each shingle is hashed ONCE (the md5-derived ``hashing.portable_hash64``),
    then the k permutations are cheap affine maps mod p — k× fewer strong
    hashes, and DuckDB reproduces every signature exactly.
    """
    from ..functions.hashing import portable_hash64

    # Two steps so the strong hash runs ONCE per shingle: (1) transform
    # shingles → base hashes (the only md5 site, referenced exactly once);
    # (2) fold over the hashes with an array accumulator whose lambda
    # variable IS the computed hash (k separate array_min(transform(...))
    # expressions — or an expression over the lambda var used k times —
    # get duplicated by Catalyst → k× md5 recomputation).
    perms = minhash_perms(num_hashes)
    hs = F.transform(shingle_col, lambda s: F.pmod(portable_hash64(s), F.lit(_MINHASH_P)))
    init = F.array(*[F.lit(_MINHASH_P).cast("long")] * num_hashes)

    def step(acc, h):
        return F.array(
            *[
                F.least(
                    F.element_at(acc, i + 1),
                    F.pmod(F.lit(a) * h + F.lit(b), F.lit(_MINHASH_P)),
                )
                for i, (a, b) in enumerate(perms)
            ]
        )

    return F.aggregate(hs, init, step)


def shingle_rows(
    df: DataFrame,
    id_col: str,
    shingle_col: str = "shingles",
    max_df: int | None = None,
) -> DataFrame:
    """The shingle universe ngram_jaccard_pairs joins over: one (id_col, sh)
    row per distinct shingle of each document.

    max_df caps hot shingles: a shingle shared by k docs yields k² candidate
    rows out of the equi-join, so boilerplate shingles ("click here to
    subscribe") make the join quadratic at corpus scale. Shingles with
    document frequency > max_df are dropped from the shingle UNIVERSE (both
    intersection and set sizes — standard DF-filtered Jaccard), which bounds
    the join's per-key fan-out at max_df². Always set it for real corpora;
    None keeps exact textbook Jaccard for small/parity runs.
    """
    ex = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.col(shingle_col))).alias("sh"),
    )
    if max_df is None:
        return ex
    hot = (
        ex.groupBy("sh")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("sh")
    )
    return ex.join(hot, "sh", "left_anti")


def ngram_jaccard_pairs(rows: DataFrame, id_col: str, threshold: float = 0.8) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs via an equi-join on the
    shingle — fully relational (scales: the join is on shingle, combiner-
    friendly). ``rows`` is shingle_rows' (id_col, sh) table; it feeds the
    size census and both self-join sides, so a caller that runs the result
    once materializes ``rows`` first (lazily, the shingle regex + explode
    re-execute per consumer — the catalog's dedup_ngram_jaccard
    checkpoints it).

    Returns (id_a, id_b, jaccard) with jaccard >= threshold.
    """
    # set sizes attach AFTER the pair aggregation: |pairs| ≪ |exploded
    # shingles|, so joining sizes onto the aggregated pairs (two broadcast
    # joins of a #docs-row dim) beats carrying na/nb on every exploded row
    # through the self-join exchanges — same jaccard, narrower shuffles
    sizes = rows.groupBy(id_col).agg(F.count("*").alias("_n"))
    a = rows.select(F.col(id_col).alias("id_a"), "sh")
    b = rows.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
        .join(sizes.select(F.col(id_col).alias("id_a"), F.col("_n").alias("na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("_n").alias("nb")), "id_b")
    )
    return inter.select(
        "id_a",
        "id_b",
        (
            F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS rolling-hash sketch,
    Schleimer/Wilkerson/Aiken SIGMOD'03 — public algorithm): hash every
    word k-gram in document order, slide a w-gram window, keep each
    window's MINIMUM hash, dedupe. Guarantees: any shared run of w+k-1
    words between two documents yields at least one shared fingerprint,
    and expected density is 2/(w+1) of positions — the sketch is ~w/2×
    smaller than the full shingle set, which is what makes the pair join
    feasible at corpus scale.

    Fully relational: shingle transform (JVM) → posexplode → one portable
    md5 hash per gram (its own projection so Catalyst evaluates it once)
    → per-doc ordered window min → distinct. Documents with fewer than w
    k-grams contribute their single overall-min hash (the degenerate
    window). Returns (id_col, fp).

    Single-pass formulation: with cnt = count over the same [pos, pos+w-1]
    frame as the rolling min, cnt == w ⟺ pos ≤ n−w (a full window), and
    pos == 0 ∧ cnt < w ⟺ n < w, where the frame covers the whole doc so
    fp == min(h) — exactly the old short-doc branch. One Window node and
    one filter replace the former full/short union, whose two branches each
    re-ran the whole shingle+hash+window subtree (no exchange reuse).
    """
    from ..functions.hashing import portable_hash64
    from ..functions.text import shingles_from_words, split_words

    # two-step shingling (see text.split_words): the word array materializes
    # once per row in its own projection instead of re-splitting the text
    # per reference inside the generator (~2x on the explode stage)
    ws = df.select(F.col(id_col).alias("_id"), split_words(F.col(text_col)).alias("_w"))
    ex = ws.select(
        "_id",
        F.posexplode(shingles_from_words(F.col("_w"), k)).alias("pos", "g"),
    ).withColumn("h", portable_hash64(F.col("g")))
    roll = Window.partitionBy("_id").orderBy("pos").rowsBetween(0, w - 1)
    r = ex.select(
        F.col("_id"),
        F.col("pos"),
        F.min("h").over(roll).alias("fp"),
        F.count("*").over(roll).alias("_cnt"),
    )
    keep = (F.col("_cnt") == w) | ((F.col("pos") == 0) & (F.col("_cnt") < w))
    return r.filter(keep).select(F.col("_id").alias(id_col), "fp").distinct()


def winnowing_pairs(
    fps: DataFrame,
    id_col: str,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints ``fps``
    (winnowing_fingerprints' (id_col, fp) rows): fingerprint equi-join
    (never all-pairs), count shared per pair, threshold at min_shared.
    ``max_df`` drops boilerplate fingerprints whose document frequency
    exceeds it — the same fan-out bound as shingle_rows (a fingerprint
    shared by d docs costs d² join rows). Returns (id_a, id_b, shared).

    ``fps`` feeds the hot-fp census and both self-join sides, so a caller
    that runs the result once materializes it first (lazily, each consumer
    re-runs the shingle→md5→window subtree — the catalog's dedup_winnowing
    checkpoints it).
    """
    if max_df is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("fp")
        )
        fps = fps.join(hot, "fp", "left_anti")
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


SIMHASH_BITS = 60  # width of the portable md5-derived hash (hashing.portable_hash64)


def simhash_relational(df: DataFrame, id_col: str, token_col: str = "tokens") -> DataFrame:
    """60-bit SimHash computed FULLY relationally — zero Python in the hot
    path (replaces a per-token hashlib loop, a scale-killer at 100 TB):

        explode tokens → ONE strong hash per token (JVM-side, materialized
        once in a projection so Catalyst's per-reference inlining can't
        recompute it per bit) → per-bit ±1 majority votes as SIMHASH_BITS
        partial-aggregating sums (map-side combine; one shuffle on id_col) →
        recompose the fingerprint.

    Tokens hash with the md5-derived ``hashing.portable_hash64``, so the
    fingerprint is bit-reproducible in DuckDB (``simhash_relational_sql``)
    and Python for the oracle gate. Returns (id_col, simhash: bigint >= 0).
    """
    from ..functions.hashing import portable_hash64

    h = portable_hash64(F.col("_tok"))
    hashed = df.select(
        F.col(id_col), F.explode_outer(F.col(token_col)).alias("_tok")
    ).select(F.col(id_col), h.alias("_h"))
    # the 60 vote sums and the 60-term fingerprint recomposition are built as
    # SQL text parsed in ONE pass each: the per-node Column API put ~850 py4j
    # round trips on the driver per query construction (measured 1.2 s of the
    # 1.9 s steady wall; the parsed trees and their results are identical)
    votes = [
        F.expr(
            f"sum(CASE WHEN _h IS NULL THEN 0 "
            f"ELSE (shiftrightunsigned(_h, {i}) & 1) * 2 - 1 END)"
        ).alias(f"_v{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy(id_col).agg(*votes)
    fp = F.expr(
        "CAST(0 AS BIGINT) + "
        + " + ".join(
            f"(CASE WHEN _v{i} > 0 THEN CAST({1 << i} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for i in range(SIMHASH_BITS)
        )
    )
    return agg.select(F.col(id_col), fp.alias("simhash"))


def simhash_relational_sql(corpus_sql: str, id_col: str, token_expr: str) -> str:
    """DuckDB mirror of ``simhash_relational``: the same md5-derived token
    hash, per-bit ±1 votes and fingerprint recomposition."""
    from ..functions.hashing import portable_hash64_sql

    h = portable_hash64_sql("tok")
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)
    )
    return f"""
WITH corpus AS ({corpus_sql}),
toks AS (SELECT {id_col}, unnest({token_expr}) AS tok FROM corpus),
hashed AS (SELECT {id_col}, {h} AS h FROM toks),
v AS (SELECT {id_col}, {votes} FROM hashed GROUP BY {id_col})
SELECT {id_col}, {fp} AS simhash FROM v
"""


def phash_bucket_pairs(
    df: DataFrame,
    id_col: str,
    phash_col: str = "phash",
    max_hamming: int = 8,
    bands: int | None = None,
) -> DataFrame:
    """Near-dup image pairs: band the 64-bit phash into ``bands`` disjoint
    chunks that PARTITION all 64 bits; join on (band, chunk), verify exact
    Hamming ≤ max_hamming.

    Pigeonhole guarantee: a pair at Hamming ≤ max_hamming differs in at most
    max_hamming bands, so with ``bands > max_hamming`` at least one band is
    bit-identical and the pair becomes a join candidate — the banded join has
    FULL recall. ``bands`` defaults to ``max_hamming + 1`` (the minimum that
    guarantees recall) and is asserted, because fewer bands silently drops
    true pairs whose flipped bits spread one-per-band.
    """
    from ..functions.hashing import hamming64

    if bands is None:
        bands = max_hamming + 1
    assert bands > max_hamming, (
        f"bands={bands} must exceed max_hamming={max_hamming} for full recall"
    )
    assert 0 < bands <= 64
    # widths partition all 64 bits (remainder spread over the first bands)
    base, rem = divmod(64, bands)
    widths = [base + (1 if i < rem else 0) for i in range(bands)]
    offsets = [sum(widths[:i]) for i in range(bands)]
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col(phash_col), offsets[i]).bitwiseAND(
                F.lit((1 << widths[i]) - 1).cast("long")
            )
            for i in range(bands)
        ]
    )
    banded = df.select(
        F.col(id_col).alias("_id"), F.col(phash_col).alias("_ph"),
        F.posexplode(chunks).alias("band", "chunk"),
    )
    a = banded.select("band", "chunk", F.col("_id").alias("id_a"), F.col("_ph").alias("ph_a"))
    b = banded.select("band", "chunk", F.col("_id").alias("id_b"), F.col("_ph").alias("ph_b"))
    cand = (
        a.join(b, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ph_a", "ph_b")
        .distinct()
    )
    return cand.withColumn("hamming", hamming64("ph_a", "ph_b")).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")
