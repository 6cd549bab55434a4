"""Streaming ANN-index maintenance: new vectors → neighbor-graph edges.

The batch operator ``nsw_graph_delta`` shown as a continuous pipeline:
vector files landing in a directory are the arrivals; each micro-batch
hashes the new vectors with the index's deterministic hyperplanes,
probes the PERSISTED bucket index for candidates, computes exact-cosine
top-M edges, and appends them to the graph table. The checkpoint makes
restarts incremental and the src-level anti-join makes re-delivered
batches a no-op (effectively-once, same shape as the ingest stream's
``src_url`` MERGE guard in pipeline.py). This is the operational loop a
deployed graph index runs at 100 TB: index builds are one-time,
arrivals are per-batch edge computations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from . import lattice

VECTORS_SCHEMA = "vec_id bigint, embedding array<float>"


def _maintain_batch(graph_dir: str, sf_dir: str):
    """foreachBatch body, exposed for direct testing (the pipeline.py
    ``_upsert_batch`` pattern) — replay-repair semantics are pinned by
    ``test_graph_maintenance_replay_repairs_partial_commit``."""
    from ..operators.similarity import nsw_edges_for_batch

    def fn(batch: DataFrame, batch_id: int) -> None:
        edges = nsw_edges_for_batch(batch.sparkSession, sf_dir, batch)
        # at 100 TB the src guard becomes a bloom filter / processed-src
        # side table (O(1) per probe) instead of a scan of prior partitions
        lattice.write_unseen(edges, graph_dir, batch_id, "src")

    return fn


def start_graph_maintenance_stream(
    spark: SparkSession,
    vectors_dir: str,
    graph_dir: str,
    sf_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    return lattice.start_batch_stream(
        spark, VECTORS_SCHEMA, vectors_dir, _maintain_batch(graph_dir, sf_dir),
        checkpoint_dir, "graph", max_files_per_trigger,
    )
