"""Checkpointed stage execution with manifests — exact resume-from-checkpoint.

The reference memoizes stages with md5 sidecar files: a parser re-runs only
when its declared outputs fail checksum validation (reference:
main.py:91-98, biokg/util/io.py:202-254, io.py:279-301 ``file_has_valid_md5``).
Here the analog is a per-stage parquet write plus a ``_MANIFEST.json``
recording the stage's input fingerprint, row count, schema, and
per-partition-file lineage. On re-run, a stage whose manifest matches the
requested fingerprint is skipped and its table is read back — byte-stable
resume without recomputation.

Fingerprints chain: a downstream stage's fingerprint includes its upstream
manifests' fingerprints, so editing any upstream invalidates everything
below it (a tiny, deterministic lineage DAG — no wall-clock in the
fingerprint).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

MANIFEST_NAME = "_MANIFEST.json"


def fingerprint(*parts: str) -> str:
    """Deterministic fingerprint of arbitrary string parts."""
    h = hashlib.md5()
    for p in parts:
        h.update(p.encode("utf-8"))
        h.update(b"\x00")
    return h.hexdigest()


@dataclass
class StageResult:
    name: str
    path: str
    fingerprint: str
    row_count: int
    skipped: bool  # True when served from a valid checkpoint
    lineage: list[dict]  # per-file row counts
    wall_sec: float = field(default=0.0)


class CheckpointManager:
    """Runs named stages as checkpointed parquet writes under ``base_dir``."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self.results: dict[str, StageResult] = {}

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._stage_dir(name), MANIFEST_NAME)

    def _load_manifest(self, name: str) -> dict | None:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return None
        try:
            with open(p) as f:
                return json.load(f)
        except (json.JSONDecodeError, OSError):
            return None

    @staticmethod
    def _footer_lineage(data_dir: str) -> list[dict]:
        """Row count per data file from parquet footer metadata (also covers
        ``partitionBy`` subdirectories like ``pred=PPI/part-*.parquet``)."""
        import pyarrow.parquet as pq

        lineage = []
        for root, _dirs, files in os.walk(data_dir):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(root, fn)
                lineage.append(
                    {
                        "file": os.path.relpath(full, data_dir),
                        "rows": pq.ParquetFile(full).metadata.num_rows,
                    }
                )
        return sorted(lineage, key=lambda d: d["file"])

    def run(
        self,
        name: str,
        fp: str,
        build: Callable[[], DataFrame],
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Execute (or resume) stage ``name`` keyed by fingerprint ``fp``.

        When a valid checkpoint exists the build function is never called
        — the stage's table is read back, which also truncates lineage for
        everything downstream (no recomputation on failure recovery).
        """
        t0 = time.perf_counter()
        stage_dir = self._stage_dir(name)
        data_dir = os.path.join(stage_dir, "data")
        manifest = self._load_manifest(name)
        # a manifest from an older writer version (no schema key) is
        # treated as invalid — rebuild, exactly like a fingerprint miss
        if (
            manifest
            and manifest.get("fingerprint") == fp
            and manifest.get("schema") is not None
        ):
            # drop any stale FileStatusCache entries from earlier reads of
            # this path in the same session (stage dirs get rewritten)
            self.spark.catalog.refreshByPath(data_dir)
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(manifest["schema"])
            df = self.spark.read.schema(schema).parquet(data_dir)
            self.results[name] = StageResult(
                name, data_dir, fp, manifest["row_count"], True, manifest["lineage"],
                round(time.perf_counter() - t0, 3),
            )
            return df

        df = build()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)

        self.spark.catalog.refreshByPath(data_dir)
        # read back with the build plan's schema: no footer-inference job,
        # and an EMPTY stage output (zero data files) stays a valid empty
        # table instead of failing schema inference
        persisted = self.spark.read.schema(df.schema).parquet(data_dir)
        # Per-partition lineage from parquet FOOTERS — metadata-only, no
        # second scan of the data (the naive groupBy(input_file_name())
        # alternative re-reads the whole stage output; at 100 TB that
        # doubles every stage). Local-FS walk here; on object storage this
        # becomes a listing + parallel footer fetch, still O(files) metadata.
        lineage = self._footer_lineage(data_dir)
        row_count = sum(d["rows"] for d in lineage)
        manifest = {
            "stage": name,
            "fingerprint": fp,
            "row_count": row_count,
            "schema": persisted.schema.jsonValue(),
            "partition_by": partition_by or [],
            "lineage": lineage,
        }
        with open(self._manifest_path(name), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        self.results[name] = StageResult(
            name, data_dir, fp, row_count, False, lineage,
            round(time.perf_counter() - t0, 3),
        )
        return persisted

    def metrics(self) -> dict[str, dict]:
        """Per-stage metrics summary (row counts, skip status, wall time)."""
        return {
            n: {
                "rows": r.row_count,
                "skipped": r.skipped,
                "files": len(r.lineage),
                "wall_sec": r.wall_sec,
            }
            for n, r in self.results.items()
        }
