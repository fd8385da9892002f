"""Snapshot-committed parquet table catalog (Iceberg-semantics fallback).

The reference persists its index as immutable segments plus generation
files ``gen_N``; opening scans generations and loads the newest or a
pinned revision (hunt: Hunt/SegmentIndex/Directory/Layout.hs:8-27,
Hunt/SegmentIndex/Open.hs:80-108, commit protocol
Hunt/SegmentIndex/IndexWriter.hs:180-233). On a cluster this layer is
Iceberg (immutable data files + snapshot metadata + optimistic
commits); the sandbox has no Iceberg runtime jar, so this module keeps
the same semantics over plain parquet:

- every table write lands in a fresh immutable ``snap_<id>`` directory;
- the commit point is one appended JSON line in ``_snapshots.jsonl``
  (crash before the append ⇒ the snapshot is invisible — atomicity);
- readers resolve the newest committed snapshot (or a pinned one);
- a build stage is identified by a ``stage_key`` (stage name + input
  fingerprint); re-running a build skips stages whose key is already
  committed — the resumability contract;
- per-partition lineage metrics (rows, bytes, posting counts) are
  recorded with each commit.

Swapping this for real Iceberg is confined to this module: writes
become ``df.writeTo(tbl).append()`` and resume keys become snapshot
properties.
"""

from __future__ import annotations

import json
import os
import threading
from concurrent.futures import ThreadPoolExecutor
import time
import uuid

import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class IndexCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.manifest_path = os.path.join(root, "_snapshots.jsonl")
        # in-process append serialization: a manifest line with lineage
        # metadata can exceed one buffered write, and interleaved
        # appends from two server threads would corrupt the commit log
        # (real Iceberg gets this from optimistic metadata swaps)
        self._append_lock = threading.Lock()

    # ---- manifest ----
    def _manifest(self) -> list[dict]:
        if not os.path.exists(self.manifest_path):
            return []
        with open(self.manifest_path) as f:
            entries = [json.loads(line) for line in f if line.strip()]
        # monotonic commit sequence = manifest line index (the append
        # order IS the commit order). Snapshot-id strings are ms-
        # timestamp + random uuid, so two commits in the same ms would
        # order randomly by id — staleness gates must compare seq.
        for i, e in enumerate(entries):
            e["seq"] = i
        return entries

    def snapshots(self, table: str | None = None) -> list[dict]:
        m = self._manifest()
        return [e for e in m if table is None or e["table"] == table]

    def completed_stage(self, stage_key: str) -> dict | None:
        for e in reversed(self._manifest()):
            if e.get("stage_key") == stage_key:
                return e
        return None

    # ---- write/commit ----
    def commit(
        self,
        df: DataFrame,
        table: str,
        stage_key: str,
        partition_by: list[str] | None = None,
        sort_within_by: list[str] | None = None,
        extra_meta: dict | None = None,
        mode: str = "overwrite",
    ) -> dict:
        """Write df as a new immutable snapshot of ``table`` and commit it.

        ``mode='overwrite'`` makes this snapshot the new base;
        ``mode='append'`` adds a delta snapshot — readers union the last
        base with every later append (Iceberg append semantics).
        Returns the manifest entry (incl. per-partition lineage metrics).
        """
        snap_id = f"{int(time.time() * 1000):013d}_{uuid.uuid4().hex[:8]}"
        tdir = os.path.join(self.root, table)
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f"snap_{snap_id}")
        t0 = time.time()
        w = df
        if sort_within_by:
            w = w.sortWithinPartitions(*sort_within_by)
        writer = w.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        wall_ms = int((time.time() - t0) * 1000)
        entry = {
            "snapshot_id": snap_id,
            "table": table,
            "stage_key": stage_key,
            "mode": mode,
            "path": path,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "wall_ms": wall_ms,
            # an all-rows-filtered write leaves no data files to infer a
            # schema from; record it so read() can rebuild the empty frame
            "schema": df.schema.json(),
            "lineage": self._partition_lineage(path),
        }
        if extra_meta:
            entry["meta"] = extra_meta
        with self._append_lock, open(self.manifest_path, "a") as f:
            f.write(json.dumps(entry) + "\n")  # the commit point
        return entry

    @staticmethod
    def _partition_lineage(path: str) -> list[dict]:
        """Per-partition (rows, bytes, files) from parquet footers — the
        posting-count/byte-size metrics ledger the north rule requires.

        Footers are read on a thread pool: this runs on the driver right
        after every stage write, while every executor slot sits idle —
        a core-count-invariant constant that the N→4N efficiency ratio
        pays for at 4x weight on the 4N leg. The postings table alone is
        n_contexts x n_shards dirs x salted writer files (hundreds of
        footers); footer reads are tiny I/O-bound stats, so threads
        (GIL released inside pyarrow/os) parallelize them cleanly.
        """
        todo: list[tuple[str, str]] = []  # (partition, file path)
        for dirpath, _dirs, files in os.walk(path):
            part = os.path.relpath(dirpath, path)
            todo.extend(
                (part, os.path.join(dirpath, fn))
                for fn in files
                if fn.endswith(".parquet")
            )

        def stat(item: tuple[str, str]) -> tuple[str, int, int]:
            part, fp = item
            return part, pq.ParquetFile(fp).metadata.num_rows, os.path.getsize(fp)

        out: dict[str, dict] = {}
        with ThreadPoolExecutor(max_workers=min(16, max(1, len(todo)))) as ex:
            for part, rows, nbytes in ex.map(stat, todo):
                rec = out.setdefault(
                    part, {"partition": part, "rows": 0, "bytes": 0, "files": 0}
                )
                rec["rows"] += rows
                rec["bytes"] += nbytes
                rec["files"] += 1
        return sorted(out.values(), key=lambda r: r["partition"])

    # ---- maintenance ----
    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Iceberg ``expire_snapshots`` analogue: physically delete
        snapshot directories no reachable read needs, keeping the
        newest ``keep_last`` base lineages per table (a base plus the
        appends after it form one lineage). The manifest keeps every
        entry (history/audit — expired ones gain ``expired: true``), so
        stage-keyed build resume still sees completed stages; pinned
        reads of an expired snapshot raise like Iceberg's
        VERSION AS OF on an expired snapshot."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        # hold the append lock across read-modify-rewrite: a commit()
        # appending between our manifest read and the truncating rewrite
        # would have its committed line silently dropped from the log
        with self._append_lock:
            return self._expire_locked(keep_last)

    def _expire_locked(self, keep_last: int) -> dict:
        import shutil

        entries = self._manifest()
        by_table: dict[str, list[dict]] = {}
        for e in entries:
            by_table.setdefault(e["table"], []).append(e)
        expired: list[str] = []
        for table, snaps in by_table.items():
            base_idx = [
                i for i, e in enumerate(snaps)
                if e.get("mode", "overwrite") == "overwrite"
            ]
            if len(base_idx) <= keep_last:
                continue
            cutoff = base_idx[-keep_last]  # first snapshot still needed
            for e in snaps[:cutoff]:
                if e.get("expired"):
                    continue
                shutil.rmtree(e["path"], ignore_errors=True)
                e["expired"] = True
                expired.append(e["snapshot_id"])
        if expired:
            with open(self.manifest_path, "w") as f:
                for e in entries:
                    e = dict(e)
                    e.pop("seq", None)  # derived on read
                    f.write(json.dumps(e) + "\n")
        return {"expired": expired, "kept_last": keep_last}

    # ---- read ----
    def current_entries(
        self, table: str, pinned_snapshot: str | None = None
    ) -> list[dict]:
        """Manifest entries forming the table's current state: the newest
        base (mode=overwrite) snapshot plus all appends committed after
        it. A pinned snapshot reads exactly that snapshot (VERSION AS
        OF)."""
        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"no committed snapshot for table {table!r}")
        if pinned_snapshot is not None:
            for e in snaps:
                if e["snapshot_id"] == pinned_snapshot:
                    if e.get("expired"):
                        raise FileNotFoundError(
                            f"snapshot {pinned_snapshot} of {table} has been expired"
                        )
                    return [e]
            raise FileNotFoundError(f"snapshot {pinned_snapshot} of {table} not found")
        base = 0
        for i, e in enumerate(snaps):
            if e.get("mode", "overwrite") == "overwrite":
                base = i
        return [snaps[base]] + [
            e for e in snaps[base + 1 :] if e.get("mode", "overwrite") == "append"
        ]

    def current_paths(
        self, table: str, pinned_snapshot: str | None = None
    ) -> list[str]:
        """Paths of current_entries."""
        return [e["path"] for e in self.current_entries(table, pinned_snapshot)]

    def latest_path(self, table: str, pinned_snapshot: str | None = None) -> str:
        return self.current_paths(table, pinned_snapshot)[-1]

    def read(
        self, spark: SparkSession, table: str, pinned_snapshot: str | None = None
    ) -> DataFrame:
        paths = self.current_paths(table, pinned_snapshot)
        schema_by_path = {
            e["path"]: e.get("schema") for e in self.snapshots(table)
        }

        def _one(p: str) -> DataFrame:
            try:
                return spark.read.parquet(p)
            except AnalysisException:
                # a snapshot of an empty frame (e.g. a build whose every
                # token the validator rejected) has no data files —
                # Spark can't infer a schema; rebuild the empty frame
                # from the schema the commit recorded
                sj = schema_by_path.get(p)
                if sj is None:
                    raise
                return spark.createDataFrame(
                    [], StructType.fromJson(json.loads(sj))
                )

        df = _one(paths[0])
        for p in paths[1:]:
            df = df.unionByName(_one(p), allowMissingColumns=True)
        return df
