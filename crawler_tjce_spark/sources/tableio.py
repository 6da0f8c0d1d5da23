"""Iceberg-style snapshot tables: partitioned parquet + manifest JSON.

No Iceberg runtime jar or pyiceberg exists in this container
(SURVEY.md §7.0), so the frontier/payload store implements the part of
the Iceberg contract the crawl needs — atomic snapshot commits and
time-travel to the last committed state — as:

* data files under ``root/<table>/wave=<n>/`` (written by Spark);
* a single ``root/_manifest.json`` carrying the committed state
  (current wave, ordem offset, per-table paths, row counts, lineage);
* commit = write ``_manifest.json.tmp`` then ``os.replace`` (atomic on
  POSIX) — a crashed run resumes from the last manifest, and
  half-written wave directories that never made it into a manifest are
  simply invisible (idempotent re-run overwrites them);
* every commit is also appended to ``root/_snapshots/<id>.json`` — the
  snapshot log behind Iceberg's two signature reads: ``time_travel``
  (table contents AS OF a snapshot id) and ``rollback`` (atomically
  repoint the current manifest at an older snapshot; later wave dirs
  become invisible and are overwritten by the re-run — Iceberg's
  rollback-then-recommit semantics).

A real Iceberg catalog drops in by replacing this class; the runner
only uses ``read``/``write_wave``/``commit``/``load_manifest``.
Payload rows carry per-partition lineage columns (wave, part file) per
the north_rule.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    @property
    def manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def load_manifest(self) -> dict[str, Any] | None:
        if not os.path.exists(self.manifest_path):
            return None
        with open(self.manifest_path) as f:
            return json.load(f)

    def commit(self, manifest: dict[str, Any]) -> None:
        # bump in place: the caller's loop state carries the id forward so
        # successive commits advance the snapshot log (not overwrite id 1)
        manifest["snapshot_id"] = manifest.get("snapshot_id", 0) + 1
        manifest["committed_at"] = time.time()
        manifest = dict(manifest)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self.manifest_path)  # atomic pointer swap
        # snapshot log (Iceberg metadata history): enables time_travel/rollback
        snapdir = os.path.join(self.root, "_snapshots")
        os.makedirs(snapdir, exist_ok=True)
        snap_tmp = os.path.join(snapdir, f"{manifest['snapshot_id']}.json.tmp")
        with open(snap_tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(snap_tmp, os.path.join(snapdir, f"{manifest['snapshot_id']}.json"))

    def snapshots(self) -> list[dict[str, Any]]:
        """Committed snapshot manifests, oldest first."""
        snapdir = os.path.join(self.root, "_snapshots")
        if not os.path.isdir(snapdir):
            return []
        out = []
        for fn in sorted(os.listdir(snapdir)):
            if fn.endswith(".json"):
                with open(os.path.join(snapdir, fn)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda m: m["snapshot_id"])

    def snapshot(self, snapshot_id: int) -> dict[str, Any]:
        p = os.path.join(self.root, "_snapshots", f"{snapshot_id}.json")
        with open(p) as f:
            return json.load(f)

    def time_travel(self, spark: SparkSession, table: str, snapshot_id: int) -> DataFrame:
        """Wave-table contents AS OF a snapshot: all rows whose wave was
        committed by that snapshot (Iceberg ``VERSION AS OF``). For the
        full-state ``frontier`` table, read ``snapshot()['frontier_path']``
        directly instead."""
        from pyspark.sql import functions as F

        m = self.snapshot(snapshot_id)
        return self.read_all_waves(spark, table).filter(F.col("wave") < m["wave"])

    def expire_snapshots(self, keep_last: int = 10) -> list[int]:
        """Iceberg ``expire_snapshots`` analog: drop all but the newest
        ``keep_last`` entries from the snapshot log (metadata only — wave
        data referenced by the current manifest is never touched).
        Returns the expired ids."""
        snaps = self.snapshots()
        expired = []
        for m in snaps[:-keep_last] if keep_last > 0 else snaps:
            sid = m["snapshot_id"]
            try:
                os.remove(os.path.join(self.root, "_snapshots", f"{sid}.json"))
                expired.append(sid)
            except FileNotFoundError:
                pass
        return expired

    def rollback(self, snapshot_id: int) -> dict[str, Any]:
        """Atomically repoint the current state at an older snapshot.
        Later wave directories become invisible (not referenced) and are
        overwritten deterministically when the run resumes."""
        m = self.snapshot(snapshot_id)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self.manifest_path)
        return m

    # -- data --------------------------------------------------------------
    def table_dir(self, table: str, wave: int | None = None) -> str:
        # dir name deliberately NOT hive-style ("w3", not "wave=3"): the
        # wave is stored as a real data column, and hive-style dirs would
        # make Spark infer a duplicate partition column on glob reads.
        d = os.path.join(self.root, table)
        if wave is not None:
            d = os.path.join(d, f"w{wave}")
        return d

    def write_wave(
        self, df: DataFrame, table: str, wave: int, compression: str | None = None
    ) -> str:
        """Idempotent wave write (overwrite = safe re-run after crash).
        ``compression='none'`` for incompressible payload bytes — snappy
        on encoded images burns CPU for ~0% ratio."""
        path = self.table_dir(table, wave)
        w = df.write.mode("overwrite")
        if compression:
            w = w.option("compression", compression)
        w.parquet(path)
        return path

    def write_full(self, df: DataFrame, table: str, wave: int) -> str:
        """Full-state snapshot for a given wave (frontier / seen)."""
        path = os.path.join(self.root, table, f"s{wave}")
        df.write.mode("overwrite").parquet(path)
        return path

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        return spark.read.parquet(path)

    @staticmethod
    def count_rows(path: str) -> int:
        """Row count from parquet footers — no Spark job. Used by the
        wave loop so per-wave bookkeeping costs ~ms, not a stage."""
        import pyarrow.parquet as pq

        total = 0
        for root, _dirs, files in os.walk(path):
            for fn in files:
                if fn.endswith(".parquet"):
                    total += pq.read_metadata(os.path.join(root, fn)).num_rows
        return total

    def read_all_waves(self, spark: SparkSession, table: str) -> DataFrame:
        """Union of every wave partition (payload/visits/discovered read).
        Rows carry their wave as a data column; callers filter to the
        committed range when uncommitted wave dirs may exist. The
        ``w{N}`` dirs are listed here and passed by name: a ``w*`` glob
        makes Spark's metadata check log a FileNotFoundException."""
        tdir = self.table_dir(table)
        waves = sorted(int(d[1:]) for d in os.listdir(tdir) if re.fullmatch(r"w\d+", d))
        return spark.read.parquet(*(self.table_dir(table, w) for w in waves))

    def gc_uncommitted(self, keep: set[str]) -> None:
        """Drop snapshot dirs not referenced by the manifest (best effort)."""
        for table in os.listdir(self.root):
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            for part in os.listdir(tdir):
                p = os.path.join(tdir, part)
                if part.startswith("s") and p not in keep:
                    shutil.rmtree(p, ignore_errors=True)
