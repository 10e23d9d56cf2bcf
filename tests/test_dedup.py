"""Dedup operators: Bloom exactness/no-false-negatives, two-phase equality
with the exact anti-join, MinHash signatures of clones, phash bands."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from newsraag_crawler_spark.operators import dedup

NB, NH, NS = 1 << 14, 5, 8


def _keys(spark, n, prefix="k"):
    return spark.range(n).select(
        F.concat(F.lit(f"https://h.com/{prefix}/"), F.col("id").cast("string")).alias("key")
    )


def test_bloom_no_false_negatives(spark):
    seen = _keys(spark, 500)
    shards = dedup.build_bloom_shards(seen, n_shards=NS, n_bits=NB, n_hashes=NH)
    probed = dedup.probe_bloom(seen, shards, n_shards=NS, n_bits=NB, n_hashes=NH)
    assert probed.filter(~F.col("maybe_seen")).count() == 0  # every member hits


def test_bloom_fpr_reasonable(spark):
    seen = _keys(spark, 500, "seen")
    other = _keys(spark, 2000, "other")
    shards = dedup.build_bloom_shards(seen, n_shards=NS, n_bits=NB, n_hashes=NH)
    probed = dedup.probe_bloom(other, shards, n_shards=NS, n_bits=NB, n_hashes=NH)
    fp = probed.filter(F.col("maybe_seen")).count()
    assert fp / 2000 < 0.05, fp  # 16k bits / ~63 keys per shard → tiny FPR


def test_two_phase_equals_exact_antijoin(spark):
    seen = _keys(spark, 400, "seen")
    mixed = _keys(spark, 300, "seen").union(_keys(spark, 300, "new"))
    shards = dedup.build_bloom_shards(seen, n_shards=NS, n_bits=NB, n_hashes=NH)
    two = dedup.seen_filter_two_phase(
        mixed, seen, shards, n_shards=NS, n_bits=NB, n_hashes=NH
    )
    exact = mixed.join(seen, "key", "left_anti")
    assert two.exceptAll(exact).isEmpty() and exact.exceptAll(two).isEmpty()


def test_exact_dedup_keeps_first(spark):
    df = spark.createDataFrame(
        [Row(k="a", r=2, v="late"), Row(k="a", r=1, v="first"), Row(k="b", r=1, v="only")]
    )
    out = dedup.exact_dedup(df, ["k"], ["r"])
    got = {r.k: r.v for r in out.collect()}
    assert got == {"a": "first", "b": "only"}


def test_minhash_lsh_finds_exact_clones(spark):
    from newsraag_crawler_spark.functions.text import shingles

    docs = [(i, f"word{i} alpha beta gamma delta epsilon zeta eta theta {i}") for i in range(30)]
    docs += [(100 + i, docs[i][1]) for i in range(5)]  # clones of 0..4
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    sig = df.select(
        "doc_id",
        dedup.minhash_signature(shingles("text", 3), 16).alias("sig"),
    )
    got = {r.doc_id: list(r.sig) for r in sig.collect()}
    for i in range(5):
        assert got[100 + i] == got[i]  # a clone shares every band
    assert got[5] != got[6]


def test_phash_bucket_pairs_finds_small_hamming(spark):
    base = [(i, (i * 2654435761) % (1 << 60)) for i in range(50)]
    pert = [(1000 + i, ph ^ 0b101) for i, ph in base[:5]]  # hamming 2
    # adversarial: 4 flipped bits spread one-per-16-bit-quarter — the spread
    # a 4-band scheme provably misses; bands=max_hamming+1 must find it
    adv_mask = (1 << 0) | (1 << 16) | (1 << 32) | (1 << 48)
    adv = [(2000 + i, ph ^ adv_mask) for i, ph in base[5:10]]
    df = spark.createDataFrame(base + pert + adv, ["doc_id", "phash"])
    pairs = dedup.phash_bucket_pairs(df, "doc_id", "phash", max_hamming=4)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    for i in range(5):
        assert got.get((i, 1000 + i)) == 2
    for i in range(5, 10):
        assert got.get((i, 2000 + i)) == 4, "one-bit-per-band pair missed"


def test_phash_bucket_pairs_rejects_too_few_bands(spark):
    df = spark.createDataFrame([(1, 7)], ["doc_id", "phash"])
    import pytest as _pytest

    with _pytest.raises(AssertionError):
        dedup.phash_bucket_pairs(df, "doc_id", "phash", max_hamming=4, bands=4)


def test_simhash_similar_docs_close(spark):
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = a.replace("today", "tomorrow")  # one token differs
    c = "completely different text about stock markets and currency pairs"
    df = spark.createDataFrame([(1, a.split()), (2, b.split()), (3, c.split())], ["id", "toks"])
    out = {
        r.id: r.simhash
        for r in dedup.simhash_relational(df, "id", "toks").collect()
    }
    near = bin(out[1] ^ out[2]).count("1")
    far = bin(out[1] ^ out[3]).count("1")
    assert near < far
    assert near <= 16


def test_cuckoo_no_false_negatives(spark):
    seen = _keys(spark, 800, "ck")
    shards = dedup.build_cuckoo_shards(seen, n_shards=NS, n_buckets=1 << 10)
    probed = dedup.probe_cuckoo(seen, shards, n_shards=NS, n_buckets=1 << 10)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_cuckoo_fpr_reasonable(spark):
    seen = _keys(spark, 500, "ckseen")
    other = _keys(spark, 2000, "ckother")
    shards = dedup.build_cuckoo_shards(seen, n_shards=NS, n_buckets=1 << 10)
    probed = dedup.probe_cuckoo(other, shards, n_shards=NS, n_buckets=1 << 10)
    fp = probed.filter(F.col("maybe_seen")).count()
    assert fp / 2000 < 0.02, fp  # 16-bit fingerprints -> tiny FPR


def test_cuckoo_two_phase_matches_bloom_two_phase(spark):
    """Cuckoo pre-filter + exact confirm must equal the plain anti-join,
    same contract as the Bloom path."""
    seen = _keys(spark, 400, "ckseen")
    mixed = _keys(spark, 300, "ckseen").union(_keys(spark, 300, "cknew"))
    shards = dedup.build_cuckoo_shards(seen, n_shards=NS, n_buckets=1 << 10)
    probed = dedup.probe_cuckoo(mixed, shards, n_shards=NS, n_buckets=1 << 10)
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    confirm = probed.filter(F.col("maybe_seen")).drop("maybe_seen").join(
        seen, "key", "left_anti"
    )
    two = fresh.unionByName(confirm)
    exact = mixed.join(seen, "key", "left_anti")
    assert two.exceptAll(exact).isEmpty() and exact.exceptAll(two).isEmpty()


def test_jaccard_hot_shingle_cap_bounds_candidates(spark):
    """Boilerplate-heavy corpus: every doc shares a 'subscribe' shingle. With
    no cap the equi-join fans out quadratically over it; with max_df the hot
    shingle leaves the universe and only genuinely-similar pairs survive."""
    boiler = "click here to subscribe now"
    rows = [(i, [f"uniq {i} a", f"uniq {i} b", f"uniq {i} c", boiler]) for i in range(40)]
    # two true near-dups sharing 3 of 4 distinct shingles
    rows += [(100, ["x y z", "p q r", "s t u", boiler]),
             (101, ["x y z", "p q r", "s t u", "different tail here"])]
    df = spark.createDataFrame(rows, ["doc_id", "shingles"])

    uncapped = dedup.ngram_jaccard_pairs(
        dedup.shingle_rows(df, "doc_id"), "doc_id", threshold=0.1
    )
    capped = dedup.ngram_jaccard_pairs(
        dedup.shingle_rows(df, "doc_id", max_df=5), "doc_id", threshold=0.1
    )
    # without the cap every doc pairs with every other through the boilerplate
    assert uncapped.count() > 800
    got = {(r.id_a, r.id_b): r.jaccard for r in capped.collect()}
    assert set(got) == {(100, 101)}
    assert abs(got[(100, 101)] - 3 / 4) < 1e-9  # DF-filtered universe: 3 of 4


def test_winnowing_guarantee_and_sketch_size(spark):
    """Winnowing invariants (Schleimer et al.): (a) two docs sharing a run
    of >= w+k-1 words produce at least one shared fingerprint; (b) the
    sketch is much smaller than the full shingle set (expected density
    2/(w+1)); (c) exact clones share every fingerprint; (d) disjoint docs
    share none."""
    import random

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(500)]
    base = " ".join(rng.choice(vocab) for _ in range(120))
    shared_run = " ".join(rng.choice(vocab) for _ in range(6))  # w+k-1 = 6
    a = base + " " + shared_run
    b = shared_run + " " + " ".join(rng.choice(vocab) for _ in range(120))
    c = " ".join(rng.choice(vocab) for _ in range(120))  # unrelated
    df = spark.createDataFrame(
        [(0, a), (1, b), (2, c), (3, a)], ["doc_id", "text"]
    )
    fps = dedup.winnowing_fingerprints(df, "doc_id", "text", k=3, w=4)
    by_doc = {i: {r.fp for r in rows} for i, rows in (
        (i, fps.filter(fps.doc_id == i).collect()) for i in range(4))}
    # (a) guaranteed collision through the shared 6-word run
    assert by_doc[0] & by_doc[1]
    # (b) sketch smaller than the shingle universe (118 grams -> ~2/(w+1))
    assert len(by_doc[0]) < 120 * 0.8
    # (c) clone shares everything, (d) unrelated doc shares nothing
    assert by_doc[0] == by_doc[3]
    assert not (by_doc[0] & by_doc[2]) and not (by_doc[1] & by_doc[2])
    pairs = {(r.id_a, r.id_b) for r in dedup.winnowing_pairs(
        fps, "doc_id", min_shared=1).collect()}
    assert (0, 3) in pairs and (0, 1) in pairs and not any(2 in p for p in pairs)


def test_winnowing_short_doc_fallback(spark):
    """A doc with fewer than w k-grams still yields exactly one fingerprint
    (its overall min) — identical in both engines' mirrors."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma delta")],
        ["doc_id", "text"],
    )
    fps = dedup.winnowing_fingerprints(df, "doc_id", "text", k=3, w=4)
    got = fps.groupBy("doc_id").count().collect()
    assert {r.doc_id: r["count"] for r in got} == {1: 1, 2: 1}


def test_probe_paths_agree(spark, monkeypatch):
    """The broadcast and the shuffled probe join are two physical
    strategies for the same result: force the shuffled join by zeroing the
    broadcast budget (and the session's auto-broadcast, so the planner
    cannot pick a broadcast from the tiny shard stats), then compare
    row-for-row on keys with hits, misses and false-positive candidates."""
    seen = _keys(spark, 400, "pp")
    mixed = _keys(spark, 300, "pp").union(_keys(spark, 300, "ppnew"))
    bshards = dedup.build_bloom_shards(seen, n_shards=NS, n_bits=NB, n_hashes=NH)
    cshards = dedup.build_cuckoo_shards(seen, n_shards=NS, n_buckets=1 << 10)
    bc_b = dedup.probe_bloom(mixed, bshards, n_shards=NS, n_bits=NB, n_hashes=NH)
    bc_c = dedup.probe_cuckoo(mixed, cshards, n_shards=NS, n_buckets=1 << 10)
    monkeypatch.setattr(dedup, "_JVM_PROBE_MAX_BYTES", 0)
    sh_b = dedup.probe_bloom(mixed, bshards, n_shards=NS, n_bits=NB, n_hashes=NH)
    sh_c = dedup.probe_cuckoo(mixed, cshards, n_shards=NS, n_buckets=1 << 10)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        for bc, sh in ((bc_b, sh_b), (bc_c, sh_c)):
            plan = sh._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan, plan
            assert bc.exceptAll(sh).isEmpty() and sh.exceptAll(bc).isEmpty()
    finally:
        spark.conf.set(key, old)


def test_two_step_shingles_equal_one_expression(spark):
    """r6: the shingle family two-steps via split_words +
    shingles_from_words so the word array materializes once per row; the
    composed expression must stay value-identical to the one-shot
    shingles() on every shape (normal, short, single-word, empty-ish)."""
    from newsraag_crawler_spark.functions.text import (
        shingles,
        shingles_from_words,
        split_words,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "two words"),
        (2, "one"),
        (3, "  spaced   out\ttokens \n here "),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = df.select("doc_id", shingles("text", 3).alias("s")).collect()
    b = df.select(
        "doc_id", split_words("text").alias("_w")
    ).select("doc_id", shingles_from_words("_w", 3).alias("s")).collect()
    assert sorted((r.doc_id, tuple(r.s)) for r in a) == sorted(
        (r.doc_id, tuple(r.s)) for r in b
    )
