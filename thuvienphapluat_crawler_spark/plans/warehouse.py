"""Snapshot-committed parquet warehouse — the Iceberg stand-in.

The north rule asks for Iceberg frontier snapshots with atomic
commit-and-resume; the v1 image has no Iceberg jars, so this module
provides the same contract on plain parquet:

  - every table is a directory of epoch-delta parquet dirs
  - a manifest JSON lists committed deltas; readers see only committed
    data (writes land in the epoch dir FIRST, the manifest flips LAST
    via atomic os.replace — the Iceberg snapshot-pointer pattern)
  - an epoch's multi-table commit is a single manifest swap covering all
    tables (crawl_log + docs + frontier + checkpoints + the bloom seen
    filter move together, the engine's analogue of the reference's
    progress.json + append + flush unit — ocr/ocr_pdf.py:119-182)

If a crash happens mid-epoch, orphan parquet dirs exist but are not in
the manifest → resume re-runs that epoch idempotently (MERGE-equivalent:
deltas are keyed by epoch, so a re-run overwrites the same dir).

Every engine write under the root goes through stage() and
commit_epoch(); every read goes through read() or, for the bloom
bitmaps probed inside executors, delta_paths(). Real deployment note:
swap this class for Iceberg catalog tables — `df.writeTo(tbl).append()`
inside one transaction — and the swap stays local to this module.
"""

from __future__ import annotations

import json
import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession


class SnapshotWarehouse:
    def __init__(self, root: str):
        self.root = root

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def read_manifest(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"epochs": [], "tables": {}}
        with open(self.manifest_path, encoding="utf-8") as f:
            return json.load(f)

    def last_epoch(self) -> int:
        m = self.read_manifest()
        return max(m["epochs"]) if m["epochs"] else -1

    def _delta_dir(self, table: str, epoch: int) -> str:
        return os.path.join(self.root, table, f"epoch={epoch:05d}")

    def stage(self, table: str, epoch: int, df: DataFrame) -> str:
        """Write a table's epoch delta (NOT yet visible to readers)."""
        path = self._delta_dir(table, epoch)
        df.write.mode("overwrite").parquet(path)
        return path

    def commit_epoch(self, epoch: int, tables: Iterable[str], lineage: dict | None = None) -> None:
        """Atomically publish every staged delta of this epoch: write the
        new manifest to a temp file, os.replace over the old one."""
        m = self.read_manifest()
        if epoch in m["epochs"]:
            raise ValueError(f"epoch {epoch} already committed")
        for t in sorted(set(tables)):
            m["tables"].setdefault(t, []).append(epoch)
        m["epochs"].append(epoch)
        m.setdefault("lineage", {})[str(epoch)] = lineage or {}
        os.makedirs(self.root, exist_ok=True)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, self.manifest_path)

    def delta_paths(self, table: str, up_to_epoch: int | None = None) -> list[str]:
        """The table's COMMITTED delta dirs, oldest first, optionally only
        those of epochs ≤ up_to_epoch."""
        epochs = sorted(self.read_manifest()["tables"].get(table, []))
        return [self._delta_dir(table, e) for e in epochs if up_to_epoch is None or e <= up_to_epoch]

    def read(self, spark: SparkSession, table: str, schema: str | None = None) -> DataFrame | None:
        """Union of all COMMITTED deltas of a table (None if none yet)."""
        paths = self.delta_paths(table)
        if not paths:
            return None if schema is None else spark.createDataFrame([], schema)
        return spark.read.parquet(*paths)
