"""Checkpoint manifest: per-stage lineage + counters, resumable runs.

North-rule requirement (reference behavior S17: the matcher saves raw
mappings every 100 source classes and skips already-computed keys on resume,
``mapping_prediction.py:465-504``). Here each pipeline stage writes its
output as parquet plus a manifest entry {fingerprint, rows, per-partition
counts, wall seconds}; a re-run with the same fingerprint reads the parquet
back instead of recomputing. Fingerprints chain: stage fp = hash(stage name,
config, parent fps), so editing a mid-pipeline stage invalidates exactly the
suffix that depends on it.

The workdir may be any Hadoop FileSystem URI (a local path, ``file:``,
``hdfs://``, ``s3a://``): the manifest file and each stage's ``_SUCCESS``
marker are read and written through ``storage``, the same file system
Spark writes the stage outputs to, so a resumed run finds them on every
scheme.
"""

from __future__ import annotations

import hashlib
import json
import time
from typing import Any

from pyspark.sql import SparkSession

from .. import storage


class Manifest:
    FILENAME = "_manifest.json"

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir.rstrip("/")
        self.path = f"{self.workdir}/{self.FILENAME}"
        text = storage.read_text(spark, self.path)
        self.stages: dict[str, dict[str, Any]] = {}
        if text is None:
            self._save()  # creates the workdir
        else:
            self.stages = json.loads(text).get("stages", {})

    @staticmethod
    def fingerprint(*parts: Any) -> str:
        h = hashlib.sha256()
        for p in parts:
            h.update(repr(p).encode("utf-8"))
            h.update(b"\x00")
        return h.hexdigest()[:16]

    def output_path(self, stage: str) -> str:
        return f"{self.workdir}/{stage}"

    def is_complete(self, stage: str, fp: str) -> bool:
        entry = self.stages.get(stage)
        return (
            entry is not None
            and entry.get("fingerprint") == fp
            and storage.exists(self.spark, f"{self.output_path(stage)}/_SUCCESS")
        )

    def record(
        self,
        stage: str,
        fp: str,
        rows: int,
        wall_s: float,
        partitions: dict[str, int] | None = None,
        extra: dict[str, Any] | None = None,
    ) -> None:
        self.stages[stage] = {
            "fingerprint": fp,
            "rows": rows,
            "wall_s": round(wall_s, 3),
            "partitions": partitions or {},
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            **(extra or {}),
        }
        self._save()

    def _save(self) -> None:
        storage.write_text(
            self.spark, self.path, json.dumps({"stages": self.stages}, indent=2, sort_keys=True)
        )
