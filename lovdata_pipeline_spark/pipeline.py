"""The orchestrated incremental pipeline (op 35).

The reference's fixed 4-stage DAG — sync → identify → process
(chunk→embed→index) → cleanup (reference:
orchestration/pipeline_orchestrator.py:116-173) — as one pass whose
outcome is decided once:

  identify   anti-join manifest vs processed state        (ops 3-8)
  decide     chunk UDF over the changed documents, then one row per
             changed or removed document: (doc_id, new hash, error,
             removed), materialized once; the pass's tallies come from it
  write      one store write: every outcome document's chunks become
             its embedded good chunks, none for a failed, emptied or
             removed one (ops 9-26); then the state commits (op 34),
             each guarded by its tally

Failure semantics match the reference's per-document contract
(file_processing_service.py:48-131): a poison document surfaces as an
error row from the chunk UDF, loses any chunks of its old version, lands
in the failed side of the state table, and is retried on every pass
until it processes (only processed state is diffed against). A document
yielding zero chunks is a *success* with no chunks ("obsolete law",
file_processing_service.py:79-89).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, functions as F

from lovdata_pipeline_spark.chunking import chunk_documents_df
from lovdata_pipeline_spark.config import PipelineConfig
from lovdata_pipeline_spark.embedding import embed_chunks_df, mock_hash_provider
from lovdata_pipeline_spark.operators.incremental import (
    filter_datasets,
    identify_changed,
    identify_removed,
)
from lovdata_pipeline_spark.sources.chunk_store import ChunkStore
from lovdata_pipeline_spark.sources.state_store import StateStore


@dataclass
class PipelineResult:
    """Summary aggregates (reference: models.py:24-28, cli exit contract)."""

    processed: int
    failed: int
    removed: int

    @property
    def total(self) -> int:
        return self.processed + self.failed + self.removed


def run_pipeline(
    documents: DataFrame,
    store: ChunkStore,
    state: StateStore,
    config: PipelineConfig | None = None,
    now: str | None = None,
    provider=None,
) -> PipelineResult:
    """Run one incremental pass over a documents DataFrame.

    ``documents`` carries the manifest columns (doc_id, dataset_name,
    relative_path, source_hash, status) plus ``xml`` content; rows with
    status ``removed`` name documents to clean up.

    ``provider`` is the embedding callable (``embedding.EmbeddingProvider``);
    default is the deterministic offline mock. Pass
    ``embedding.openai_compatible_provider(model=...)`` (optionally
    wrapped in ``embedding.rate_limited``) for real vectors.
    """
    config = config or PipelineConfig()
    at = now or datetime.now(timezone.utc).isoformat()

    manifest = filter_datasets(documents, config.dataset_pattern)
    to_process = identify_changed(
        manifest, state.processed().select("doc_id", "hash"), config.force, config.limit
    )
    removed = identify_removed(manifest)

    chunked = chunk_documents_df(to_process, config.chunk).cache()
    try:
        # The pass's one decision: a row per changed or removed document
        # with its new hash and its error. Every write below is driven by
        # this materialized frame.
        per_doc = chunked.groupBy(F.col("document_id").alias("doc_id")).agg(
            F.max("error").alias("error")
        )
        outcome = (
            to_process.select("doc_id", F.col("source_hash").alias("hash"))
            .join(per_doc, "doc_id", "left")
            .select("doc_id", "hash", "error", F.lit(False).alias("removed"))
            .unionByName(
                removed.select(
                    "doc_id",
                    F.col("source_hash").alias("hash"),
                    F.lit(None).cast("string").alias("error"),
                    F.lit(True).alias("removed"),
                )
            )
            .localCheckpoint(eager=True)
        )
        failed = F.col("error").isNotNull()
        gone = F.col("removed")
        ok = ~gone & ~failed
        tally = outcome.agg(
            F.count(F.when(ok, 1)).alias("ok"),
            F.count(F.when(failed, 1)).alias("failed"),
            F.count(F.when(gone, 1)).alias("removed"),
        ).first()

        store.upsert_chunks(
            embed_chunks_df(
                chunked.filter(F.col("error").isNull()),
                provider=provider or mock_hash_provider(config.embedding_dims),
                model_name=config.embedding_model,
                embedded_at=at,
                batch_size=config.embed_batch_size,
                dims=config.embedding_dims,
            ),
            documents=outcome.select(F.col("doc_id").alias("document_id")),
        )
        if tally["ok"]:
            state.mark_processed(outcome.filter(ok), at)
        if tally["failed"]:
            state.mark_failed(outcome.filter(failed), at)
        if tally["removed"]:
            state.remove(outcome.filter(gone))
    finally:
        chunked.unpersist()

    return PipelineResult(
        processed=tally["ok"], failed=tally["failed"], removed=tally["removed"]
    )
