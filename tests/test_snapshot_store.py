"""Snapshot store: append/read, time travel, lineage resume, retention
delete, atomicity against torn manifests."""

from __future__ import annotations

import json
import os
import re
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from newsraag_crawler_spark.storage.snapshot_store import SnapshotTable


def test_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    assert not t.exists()
    t.append(spark.range(5).withColumn("wave", F.lit(0)), lineage={"wave": 0})
    t.append(spark.range(5, 8).withColumn("wave", F.lit(1)), lineage={"wave": 1})
    assert t.current_version() == 2
    assert t.read().count() == 8
    assert t.read(version=1).count() == 5  # time travel
    assert t.current_lineage() == {"wave": 1}


def test_resume_from_lineage(spark, tmp_path):
    path = str(tmp_path / "t")
    t = SnapshotTable(spark, path)
    t.append(spark.range(10), lineage={"wave": 3, "frontier_offset": 1000})
    # simulate a fresh process resuming
    t2 = SnapshotTable(spark, path)
    lin = t2.current_lineage()
    assert lin["wave"] == 3 and lin["frontier_offset"] == 1000
    assert t2.read().count() == 10


def test_overwrite_compaction(spark, tmp_path):
    """Every version reads its own parent chain: appends extend it, an
    overwrite starts a new one, and a rollback across the overwrite followed
    by an append extends the pre-overwrite chain again."""
    t = SnapshotTable(spark, str(tmp_path / "t"))

    def rows(version=None):
        return sorted(r.id for r in t.read(version=version).collect())

    def check(lineage, want):
        assert t.current_lineage() == lineage
        assert rows() == want[t.current_version()]
        for k, ids in want.items():
            assert rows(k) == ids, k
        got = {urlparse(p).path for p in t.read().inputFiles()}
        assert got == {os.path.join(t.path, e["file"]) for e in t.current_files()}

    want = {}
    t.append(spark.range(0, 3), lineage={"wave": 0})
    want[1] = [0, 1, 2]
    check({"wave": 0}, want)
    t.append(spark.range(3, 5), lineage={"wave": 1})
    want[2] = [0, 1, 2, 3, 4]
    check({"wave": 1}, want)
    t.overwrite(spark.range(10, 12), lineage={"wave": 2, "op": "compact"})
    want[3] = [10, 11]  # history preserved: versions 1-2 still read
    check({"wave": 2, "op": "compact"}, want)
    t.append(spark.range(12, 13), lineage={"wave": 3})
    want[4] = [10, 11, 12]
    check({"wave": 3}, want)
    assert t.rollback_where(lambda lin: lin["wave"] < 2) == 2
    del want[3], want[4]
    check({"wave": 1}, want)
    t.append(spark.range(20, 22), lineage={"wave": 2, "redo": True})
    want[3] = [0, 1, 2, 3, 4, 20, 21]
    check({"wave": 2, "redo": True}, want)


def test_delete_where_retention(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.range(10).withColumn("age_h", F.col("id").cast("double")))
    t.delete_where(F.col("age_h") > 5.0)
    assert t.read().count() == 6  # 0..5 kept


def test_torn_manifest_invisible(spark, tmp_path):
    """A crash mid-snapshot (data written, manifest not committed) must leave
    the previous version intact and the new data invisible."""
    path = str(tmp_path / "t")
    t = SnapshotTable(spark, path)
    t.append(spark.range(4), lineage={"wave": 0})
    # write a data dir WITHOUT committing the manifest (simulated crash)
    spark.range(100).write.mode("overwrite").parquet(os.path.join(path, "snap-00099"))
    assert t.read().count() == 4
    assert t.current_version() == 1
    # manifest is valid json (no partial writes)
    with open(os.path.join(path, "manifest.json")) as f:
        m = json.load(f)
    assert m["current"] == 1


def test_delete_where_retains_null_condition_rows(spark, tmp_path):
    """delete_where must keep rows where the condition is NULL (SQL NULL is
    neither true nor false; plain ~cond would silently drop them)."""
    from pyspark.sql import Row

    from newsraag_crawler_spark.storage.snapshot_store import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "nullsafe"))
    t.append(
        spark.createDataFrame(
            [Row(k=1, age=10), Row(k=2, age=None), Row(k=3, age=99)]
        )
    )
    from pyspark.sql import functions as F

    t.delete_where(F.col("age") > 50)
    kept = {r.k for r in t.read().collect()}
    assert kept == {1, 2}, "NULL-age row must survive a retention delete"


def test_rollback_drops_orphaned_snapshot_entries(spark, tmp_path):
    """rollback_where must REMOVE orphaned higher-id manifest entries: the
    next append reuses sid = current+1, and a duplicate-id entry would make
    read()/current_lineage() resolve to the stale orphan."""
    t = SnapshotTable(spark, str(tmp_path / "rb"))
    t.append(spark.range(3).withColumn("wave", F.lit(0)), lineage={"wave": 0})
    t.append(spark.range(3, 5).withColumn("wave", F.lit(1)), lineage={"wave": 1})
    t.append(spark.range(5, 9).withColumn("wave", F.lit(2)), lineage={"wave": 2})
    assert t.rollback_where(lambda lin: lin["wave"] < 1) == 1
    m = json.load(open(os.path.join(t.path, "manifest.json")))
    assert [s["id"] for s in m["snapshots"]] == [1]
    assert not os.path.isdir(os.path.join(t.path, "snap-00002"))
    # re-append with the reused sid: lineage/read must resolve to the NEW entry
    t.append(spark.range(100, 102).withColumn("wave", F.lit(1)), lineage={"wave": 1, "redo": True})
    assert t.current_lineage() == {"wave": 1, "redo": True}
    got = sorted(r.id for r in t.read().collect())
    assert got == [0, 1, 2, 100, 101]
    m = json.load(open(os.path.join(t.path, "manifest.json")))
    ids = [s["id"] for s in m["snapshots"]]
    assert len(ids) == len(set(ids))


def test_per_file_manifest_partition_rows_and_bounds(spark, tmp_path):
    """North-rule per-partition lineage: each committed file records the
    writing partition's id, exact row count, and min/max bounds for the
    caller-named columns — all from parquet footers, no data scan."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = (
        spark.range(0, 1000, 1, 8)
        .select(
            F.col("id"),
            (F.col("id") % 100).alias("offset"),
            F.concat(F.lit("k"), F.format_string("%04d", F.col("id"))).alias("key"),
        )
        # range-partition by id so per-file id bounds are disjoint
        .repartitionByRange(8, "id")
    )
    t.append(df, lineage={"wave": 0}, count_rows=True, stats_cols=("id", "key"))
    files = t.current_files()
    assert len(files) == 8
    assert sum(e["rows"] for e in files) == 1000
    assert (t.current_lineage() or {})["rows"] == 1000
    assert sorted(e["partition_id"] for e in files) == list(range(8))
    for e in files:
        lo, hi = e["stats"]["id"]
        assert 0 <= lo <= hi <= 999
        klo, khi = e["stats"]["key"]
        assert klo == f"k{lo:04d}" and khi == f"k{hi:04d}"


def test_prune_files_skips_and_read_pruned_is_exact(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 1000, 1, 8).repartitionByRange(8, "id")
    t.append(df, stats_cols=("id",))
    # a narrow id range must prune most of the 8 range-partitioned files
    pruned = t.prune_files("id", lo=10, hi=20)
    assert 1 <= len(pruned) < 8
    got = sorted(
        r["id"]
        for r in t.read_pruned("id", 10, 20).filter(F.col("id").between(10, 20)).collect()
    )
    assert got == list(range(10, 21))
    # appends ACCUMULATE file entries (manifest mirrors visible data)
    t.append(spark.range(1000, 1100, 1, 2).repartitionByRange(2, "id"), stats_cols=("id",))
    assert len(t.current_files()) == 10
    assert t.read_pruned("id", 1050, None).filter(F.col("id") >= 1050).count() == 50


def test_prune_keeps_files_without_bounds(spark, tmp_path):
    """A snapshot appended without stats_cols has no bounds for the pruned
    column — pruning must return its files WHOLE, never silently drop
    their rows, while still pruning the bounded snapshot below it."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.range(0, 100, 1, 2).repartitionByRange(2, "id"), stats_cols=("id",))
    t.append(spark.range(100, 200, 1, 2))
    # a range inside the bounded snapshot keeps every unbounded row
    pruned = t.read_pruned("id", 10, 20)
    assert pruned.filter(F.col("id") >= 100).count() == 100
    assert pruned.filter(F.col("id").between(10, 20)).count() == 11
    assert len(t.prune_files("id", 10, 20)) == 3  # one bounded file pruned
    # a range inside the unbounded snapshot is exact after the filter
    assert (
        t.read_pruned("id", 150, 160).filter(F.col("id").between(150, 160)).count()
        == 11
    )


def test_full_copy_manifest_is_refused(spark, tmp_path):
    """A manifest in the earlier layout (every entry copies the visible
    ``dirs``/``files`` lists, no format marker) is refused loudly, naming
    the table, instead of being misread on resume."""
    path = str(tmp_path / "old")
    os.makedirs(path)
    legacy = {
        "current": 1,
        "snapshots": [
            {"id": 1, "dirs": ["snap-00001"], "files": [], "lineage": {"wave": 0}}
        ],
    }
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(legacy, f)
    t = SnapshotTable(spark, path)
    for call in (t.current_lineage, t.read, t.exists, lambda: t.append(spark.range(1))):
        with pytest.raises(ValueError, match=re.escape(path)):
            call()


def test_manifest_grows_with_files_written(spark, tmp_path):
    """Each entry records only the files its commit wrote, so 8x the
    snapshots is about 8x the manifest — copying the visible file list
    into every entry would grow it quadratically."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    sizes = {}
    for i in range(64):
        df = spark.range(4 * i, 4 * i + 4, 1, 4).withColumn("wave", F.lit(i))
        t.append(df, lineage={"wave": i}, count_rows=True, stats_cols=("id",))
        sizes[i + 1] = os.path.getsize(t._manifest_path)
    assert len(t.current_files()) == 256
    assert sizes[64] <= 10 * sizes[8], sizes
