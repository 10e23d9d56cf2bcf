"""Snapshot-committed table store with per-partition lineage.

Emulates the Iceberg table semantics the engine needs (north_rule: resumable
from snapshot checkpoints with per-partition lineage) on plain parquet +
an atomically-replaced JSON manifest:

    table_dir/
      manifest.json                 <- {"format": 2, "current": N, "snapshots": [...]}
      snap-00001/part-*.parquet     <- data files added by snapshot 1
      snap-00002/...

- A snapshot entry records only what its own commit wrote:
  ``{id, parent, dir, files, lineage}``. ``dir`` is its ``snap-NNNNN``
  directory; ``files`` is its per-FILE manifest — ``{file, partition_id,
  rows, stats: {col: [min, max]}}`` read from the parquet footers of the
  files just written (partition id is the writing task's index; bounds
  cover caller-named columns); ``lineage`` is the caller's dict (wave
  number, row counts, seen-shard parameters, ...). The file manifest IS
  the north rule's per-partition lineage (partition id, frontier offset,
  seen-key shard bounds) and drives metadata-only pruning:
  ``current_files()``, ``prune_files()``, ``read_pruned()``.
- ``parent`` is the snapshot this one extends. The data visible at version
  ``v`` is the chain from ``v`` back through its parents, oldest first —
  like Iceberg, a commit reuses its parent's file list instead of copying
  it, so the manifest grows with the files written, not with
  waves x files. ``append`` extends the current snapshot; ``overwrite``
  (run_crawl commits each wave's ``frontier`` this way; ``seen`` is
  append-only) and ``delete_where`` start a new chain (``parent`` 0).
- Readers read ONLY directories on the manifest's chain — a crashed
  half-written snapshot directory is invisible, so commits are atomic
  (write dir → fsync manifest.tmp → os.replace). ``read(version=...)`` is
  time travel; resume = ``current_lineage()`` after a crash.
- A manifest without the ``"format": 2`` marker was written by the earlier
  store, whose entries copied the whole visible file list forward; it is
  refused with ``ValueError`` rather than misread.

On a real cluster this module is replaced 1:1 by an Iceberg catalog
(``df.writeTo(tbl).append()`` + snapshot summary properties); the engine
code only touches this narrow interface, deliberately.

Lineage schema per table (r4 VERDICT #9 — the resume contract; writers
MUST record these keys or run_crawl's resume refuses loudly instead of
silently restarting at wave 0). The frontier overwrite is each wave's LAST
commit: every other table's snapshot of wave w lands before it, and a
resume rolls back any snapshot with ``wave`` >= the frontier's
``next_wave``:

===========  ==============================================================
table        required lineage keys (written by operators.wave.run_crawl)
===========  ==============================================================
frontier     ``next_wave`` (int: the wave the next run executes — THE
             resume key), ``prev_fetched`` (int), ``rows`` (int, recorded
             by count_rows=True so the loop never re-probes emptiness)
corpus       ``wave`` (int: the wave that appended this snapshot — the
             rollback predicate for torn waves), ``rows`` (int)
seen         ``wave`` (int, rollback predicate)
metrics      ``wave`` (int, rollback predicate)
dead         ``wave`` (int, rollback predicate) — optional table
health       ``wave`` (int, rollback predicate) — optional table
===========  ==============================================================

Streaming (frontier_stream.stream_crawl) writes ``batch_id`` + ``op``
instead — its resume point is the Structured Streaming checkpoint, not
table lineage. The bench/state tables (bloom shards etc.) are free-form.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

# Spark part files carry the writing task's partition index: part-00007-...
_PART_FILE_RE = re.compile(r"^part-(\d+)-")

# manifest layout version; a manifest without it is refused, never misread
_FORMAT = 2


def _json_safe(v):
    return v if isinstance(v, (int, float, bool, str)) or v is None else (
        v.decode("utf-8", "replace") if isinstance(v, bytes) else str(v)
    )


def _file_entries(snap_abs: str, rel_dir: str, stats_cols: tuple) -> list[dict]:
    """Iceberg-style per-file manifest from parquet FOOTERS (no data scan):
    partition id (the writing task's index, parsed from the part filename),
    exact row count, and min/max bounds for ``stats_cols`` — the same
    file-level metadata Iceberg keeps in its manifests, which is what makes
    resume/pruning metadata-only operations at 100 TB."""
    import pyarrow.parquet as pq

    out = []
    for fn in sorted(os.listdir(snap_abs)):
        if not fn.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(snap_abs, fn)).metadata
        m = _PART_FILE_RE.match(fn)
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        ent = {
            "file": f"{rel_dir}/{fn}",
            "partition_id": int(m.group(1)) if m else None,
            "rows": md.num_rows,
        }
        stats = {}
        for c in stats_cols:
            if c not in names:
                continue
            j = names.index(c)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(j).statistics
                if st is None or not st.has_min_max:
                    mins = []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            if mins:
                stats[c] = [_json_safe(min(mins)), _json_safe(max(maxs))]
        if stats:
            ent["stats"] = stats
        out.append(ent)
    return out


class SnapshotTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    # -- manifest ----------------------------------------------------------

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def _load(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"format": _FORMAT, "current": 0, "snapshots": []}
        with open(self._manifest_path) as f:
            m = json.load(f)
        if m.get("format") != _FORMAT:
            raise ValueError(
                f"{self._manifest_path} is not a format-{_FORMAT} manifest (its "
                "snapshots copy the whole visible file list); this store "
                "cannot read it"
            )
        return m

    def _commit(self, manifest: dict) -> None:
        tmp = self._manifest_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path)

    @staticmethod
    def _chain(m: dict, sid: int) -> list[dict]:
        """Entries visible at snapshot ``sid``: sid and its parents, oldest
        first ([] if sid is not in the manifest)."""
        by_id = {s["id"]: s for s in m["snapshots"]}
        chain = []
        while sid in by_id:
            chain.append(by_id[sid])
            sid = by_id[sid]["parent"]
        return chain[::-1]

    # -- public API ---------------------------------------------------------

    def current_version(self) -> int:
        return self._load()["current"]

    def current_lineage(self) -> dict | None:
        m = self._load()
        chain = self._chain(m, m["current"])
        return chain[-1]["lineage"] if chain else None

    def _write_snapshot(
        self, df: DataFrame, extend: bool, lineage: dict, count_rows: bool, stats_cols: tuple
    ) -> int:
        m = self._load()
        sid = m["current"] + 1
        rel = f"snap-{sid:05d}"
        snap_dir = os.path.join(self.path, rel)
        df.write.mode("overwrite").parquet(snap_dir)
        # per-file (= per writing partition) lineage from the footers of the
        # files just written — partition id, exact rows, column bounds —
        # recorded WITHOUT re-executing the (possibly expensive) plan that
        # produced df and without scanning data
        files = _file_entries(snap_dir, rel, stats_cols)
        if count_rows:
            lineage = {**lineage, "rows": sum(e["rows"] for e in files)}
        parent = m["current"] if extend else 0
        m["snapshots"].append(
            {"id": sid, "parent": parent, "dir": rel, "files": files, "lineage": lineage}
        )
        m["current"] = sid
        self._commit(m)
        return sid

    def append(
        self,
        df: DataFrame,
        lineage: dict | None = None,
        count_rows: bool = False,
        stats_cols: tuple = (),
    ) -> int:
        """Append df as a new snapshot (prior data remains visible).

        count_rows=True records the NEWLY written row count in
        lineage["rows"], summed from the committed files' parquet footers
        (one plan execution total). stats_cols names columns whose per-file
        min/max bounds are recorded in the file manifest (see
        current_files/prune_files)."""
        return self._write_snapshot(df, True, lineage or {}, count_rows, stats_cols)

    def overwrite(
        self,
        df: DataFrame,
        lineage: dict | None = None,
        count_rows: bool = False,
        stats_cols: tuple = (),
    ) -> int:
        """Replace table contents (compaction / rewrite)."""
        return self._write_snapshot(df, False, lineage or {}, count_rows, stats_cols)

    def current_files(self) -> list[dict]:
        """Per-file lineage of the current snapshot: [{file, partition_id,
        rows, stats: {col: [min, max]}}] — the north rule's per-partition
        lineage (partition id, offset/key bounds) as Iceberg file manifests."""
        m = self._load()
        return [e for s in self._chain(m, m["current"]) for e in s["files"]]

    def prune_files(self, col: str, lo=None, hi=None) -> list[str]:
        """Metadata-only file pruning: paths of current-snapshot files whose
        recorded [min, max] bounds for ``col`` intersect [lo, hi] (files
        without bounds for ``col`` are conservatively KEPT). With real
        Iceberg this is the manifest-level partition/file pruning a
        predicate pushdown triggers."""
        keep = []
        for e in self.current_files():
            b = (e.get("stats") or {}).get(col)
            if b is not None:
                if lo is not None and b[1] < lo:
                    continue
                if hi is not None and b[0] > hi:
                    continue
            keep.append(os.path.join(self.path, e["file"]))
        return keep

    def read_pruned(self, col: str, lo=None, hi=None) -> DataFrame:
        """read() restricted to files whose footer bounds intersect
        [lo, hi]. Rows still need the exact filter applied by the caller —
        pruning is file-granular, exactly like Iceberg scan planning."""
        paths = self.prune_files(col, lo, hi)
        if not paths:
            return self.read().limit(0)
        return self.spark.read.parquet(*paths)

    def delete_where(self, condition, lineage: dict | None = None) -> int:
        """Retention delete (reference K3): rewrite rows NOT matching the
        condition as a fresh snapshot. With real Iceberg this is a metadata
        delete on partition-pruned files. NULL-condition rows are RETAINED
        (plain ~cond drops them: NULL is neither true nor false in SQL)."""
        from pyspark.sql import functions as F

        kept = self.read().filter(~F.coalesce(condition, F.lit(False)))
        return self.overwrite(kept, lineage or {"op": "delete_where"})

    def rollback_where(self, pred) -> int:
        """Reset current to the latest snapshot whose lineage satisfies
        ``pred`` (or to empty if none does). Used by crash recovery to drop
        orphaned commits from a wave whose frontier commit never landed.

        Orphaned entries with id > the new current are REMOVED from the
        manifest (and their snap directories deleted): the next append reuses
        sid = current + 1, and duplicate-id entries would make read()/
        current_lineage() resolve to the stale orphan. A parent always has a
        smaller id, so every kept snapshot's chain stays whole."""
        m = self._load()
        target = 0
        for s in reversed(m["snapshots"]):
            if s["id"] <= m["current"] and pred(s["lineage"]):
                target = s["id"]
                break
        if target == m["current"]:
            return target
        orphans = [s for s in m["snapshots"] if s["id"] > target]
        m["snapshots"] = [s for s in m["snapshots"] if s["id"] <= target]
        m["current"] = target
        self._commit(m)
        # reclaim orphan data dirs AFTER the manifest commit (readers only see
        # directories on a manifest chain, so this is pure cleanup)
        import shutil

        for s in orphans:
            shutil.rmtree(os.path.join(self.path, s["dir"]), ignore_errors=True)
        return target

    def read(self, version: int | None = None) -> DataFrame:
        m = self._load()
        sid = version if version is not None else m["current"]
        chain = self._chain(m, sid)
        if not chain:
            raise ValueError(f"no snapshot {sid} in {self.path}")
        return self.spark.read.parquet(*(os.path.join(self.path, s["dir"]) for s in chain))

    def exists(self) -> bool:
        return self._load()["current"] > 0
