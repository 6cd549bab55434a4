"""Streaming corpus ingestion with incremental near-dup detection.

The batch operator ``dedup_incremental`` run as a continuous pipeline:
document files landing in a directory are the arrivals; each micro-batch
shingle-hashes the new docs and runs the R×S PPJoin (batch prefix ×
corpus) to find each new doc's best existing match at Jaccard ≥ 0.5,
appending the matches to a decisions table. This is the dedup loop a
deployed ingest pipeline runs at 100 TB: the corpus-side prefix index is
persisted between runs; arrivals only ever pay (batch × corpus-prefix),
never corpus × corpus.

Delivery semantics mirror graph_maintenance.py exactly:
- checkpoint replay of a partially-committed batch rewrites the batch's
  own partition wholesale (repair, not freeze);
- producer re-delivery (same docs as new files → new batch id) is
  dropped by the new_doc anti-join against PRIOR batch partitions.
Both live in ``lattice.write_unseen``; the stream wiring is
``lattice.start_batch_stream``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from . import lattice

DOCS_SCHEMA = "doc_id bigint, text string"


def incremental_matches_for_batch(
    spark: SparkSession, sf_dir: str, batch: DataFrame
) -> DataFrame:
    """(new_doc, dup_of, jaccard) for a batch of arriving documents
    against the persisted corpus — per-new-doc independent, so any
    chunking of the arrivals yields the same union of matches."""
    from ..operators.dedup import ordered_shingle_hashes, ppjoin_best_match
    from ..session import load_table

    corpus = ordered_shingle_hashes(load_table(spark, "documents", sf_dir))
    return ppjoin_best_match(ordered_shingle_hashes(batch), corpus)


def _maintain_batch(matches_dir: str, sf_dir: str):
    """foreachBatch body, exposed for direct testing."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        matches = incremental_matches_for_batch(batch.sparkSession, sf_dir, batch)
        lattice.write_unseen(matches, matches_dir, batch_id, "new_doc")

    return fn


def start_dedup_maintenance_stream(
    spark: SparkSession,
    docs_dir: str,
    matches_dir: str,
    sf_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    return lattice.start_batch_stream(
        spark, DOCS_SCHEMA, docs_dir, _maintain_batch(matches_dir, sf_dir),
        checkpoint_dir, "dedup", max_files_per_trigger,
    )
