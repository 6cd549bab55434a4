"""Streaming per-source ingest profile: the live data-profiler a lake
keeps alongside its tables — doc-id and document-length extrema per
source, maintained as files land.

The NINTH lattice family, and deliberately the smallest: written
against ``streaming/lattice.py`` to demonstrate (and pin, via the
registered driver key) that a new family is just a declaration — a
bounded batch→partial projection (one row per source per batch), a
min/max fold, and the idempotent lattice class. MIN and MAX are
join-semilattice operations, so re-delivered partials are absorbed
with no anti-join; every protocol property (replay repair, reading-is-
merging, crash-safe compaction) is inherited, not re-implemented.

At 100 TB this is the profile an ingest keeps live to answer "what id
range / document sizes has source X shipped so far?" without scanning
the lake — the streaming counterpart of a catalog's column statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from . import lattice
from .lattice import LatticeFamily

DOCS_SCHEMA = "doc_id bigint, text string, source string"

_PROFILE_AGGS = [
    F.min("min_doc_id").alias("min_doc_id"),
    F.max("max_doc_id").alias("max_doc_id"),
    F.min("min_chars").alias("min_chars"),
    F.max("max_chars").alias("max_chars"),
]


def profile_partial(batch: DataFrame) -> DataFrame:
    """This batch's bounded partial: one extrema row per source seen."""
    return batch.groupBy("source").agg(
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.min(F.length("text")).cast("bigint").alias("min_chars"),
        F.max(F.length("text")).cast("bigint").alias("max_chars"),
    )


def _profile_family() -> LatticeFamily:
    return LatticeFamily(
        name="profile",
        source_schema=DOCS_SCHEMA,
        partial_fn=profile_partial,
        fold_fn=lambda u: u.groupBy("source").agg(*_PROFILE_AGGS),
        empty_schema=(
            "source string, min_doc_id bigint, max_doc_id bigint, "
            "min_chars bigint, max_chars bigint"
        ),
    )


def read_profile_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """(source, min/max doc_id, min/max chars): fold of every partial."""
    return lattice.read_state(spark, _profile_family(), state_dir)


def compact_profile_state(spark: SparkSession, state_dir: str) -> None:
    lattice.compact_state(spark, _profile_family(), state_dir)


def start_profile_maintenance_stream(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    return lattice.start_maintenance_stream(
        spark, _profile_family(), docs_dir, state_dir, checkpoint_dir,
        max_files_per_trigger,
    )
