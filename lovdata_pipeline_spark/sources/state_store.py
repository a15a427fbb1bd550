"""Versioned parquet state table — the pipeline's commit log.

The reference keeps processing state in one JSON file written atomically
after every document (reference: state.py:43-102,
pipeline_orchestrator.py:316-331). At 100 TB scale that is a Delta/
Iceberg table; without Delta in this container we emulate the part that
matters — atomic snapshot replacement with readers never seeing a
partial write — via versioned snapshot directories and a monotonically
increasing version number. Each mutation (mark_processed / mark_failed /
remove) is a MERGE expressed as DataFrame ops + one new snapshot.

State stays small (one row per document), so snapshots are cheap; on a
cluster this class would be swapped for `MERGE INTO` on a Delta table
with identical call sites.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from lovdata_pipeline_spark.schemas import STATE_SCHEMA

_PREFIX = "v_"
#: snapshots kept after a commit, the new one included
_KEEP = 3


class StateStore:
    """Snapshot-versioned state table keyed by ``doc_id``.

    Row shape: (doc_id, hash, status: processed|failed, error, at).
    Mirrors the semantics the reference pins in its state tests —
    mark_processed clears a previous failure (state.py:83-92), remove
    drops the row entirely (state.py:99-102).
    """

    def __init__(self, spark: SparkSession, root: str | Path):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- snapshot mechanics ------------------------------------------------

    def _versions(self) -> list[int]:
        return sorted(
            int(p.name[len(_PREFIX) :])
            for p in self.root.iterdir()
            if p.is_dir() and p.name.startswith(_PREFIX) and (p / "_SUCCESS").exists()
        )

    def read(self) -> DataFrame:
        versions = self._versions()
        if not versions:
            return self.spark.createDataFrame([], STATE_SCHEMA)
        return self.spark.read.schema(STATE_SCHEMA).parquet(
            str(self.root / f"{_PREFIX}{versions[-1]}")
        )

    def _commit(self, df: DataFrame) -> None:
        versions = self._versions()
        nxt = (versions[-1] + 1) if versions else 0
        target = self.root / f"{_PREFIX}{nxt}"
        # repartition(1), NOT coalesce(1): state is one row per document —
        # tiny by design — so one output file is right, but coalesce would
        # narrow the ENTIRE upstream merge-join plan into a single task
        # (measured 5s for a 5k-row merge); the repartition shuffle keeps
        # the joins parallel and only the k-row write is single-task.
        df.select([f.name for f in STATE_SCHEMA.fields]).repartition(1).write.mode(
            "overwrite"
        ).parquet(str(target))
        for old in versions[: max(0, len(versions) + 1 - _KEEP)]:
            shutil.rmtree(self.root / f"{_PREFIX}{old}", ignore_errors=True)

    # -- MERGE-style mutations ----------------------------------------------

    def _merge(self, updates: DataFrame) -> None:
        """Upsert by doc_id: incoming rows win (last-writer-wins MERGE)."""
        current = self.read()
        merged = current.join(updates.select("doc_id"), "doc_id", "left_anti").unionByName(
            updates
        )
        self._commit(merged)

    def mark_processed(self, docs: DataFrame, at: str) -> None:
        """docs: (doc_id, hash). Clears any prior failed row (state.py:83-92)."""
        self._merge(
            docs.select(
                "doc_id",
                "hash",
                F.lit("processed").alias("status"),
                F.lit(None).cast("string").alias("error"),
                F.lit(at).alias("at"),
            )
        )

    def mark_failed(self, docs: DataFrame, at: str) -> None:
        """docs: (doc_id, hash, error)."""
        self._merge(
            docs.select(
                "doc_id",
                "hash",
                F.lit("failed").alias("status"),
                "error",
                F.lit(at).alias("at"),
            )
        )

    def remove(self, doc_ids: DataFrame) -> None:
        """doc_ids: (doc_id). DELETE FROM state WHERE doc_id IN (...)."""
        self._commit(self.read().join(doc_ids.select("doc_id"), "doc_id", "left_anti"))

    # -- queries --------------------------------------------------------------

    def processed(self) -> DataFrame:
        return self.read().filter(F.col("status") == "processed")

    def failed(self) -> DataFrame:
        return self.read().filter(F.col("status") == "failed")

    def status_counts(self) -> DataFrame:
        """`lg status` equivalent (reference cli.py:332-347)."""
        return self.read().groupBy("status").count()
