"""Streaming sketch maintenance: the five sketch lattice families —
KMV (per-source vocabulary + per-day DAU), Count-Min, log-binned
histogram, HyperLogLog registers, and the Bloom membership bitmap —
declared over the shared batch-partition protocol in ``lattice.py``.

Each family is a ``LatticeFamily``: a bounded batch→partial projection
plus the merge fold; the protocol module owns stream wiring, reading-
is-merging, and the one compaction protocol (an atomic manifest commit,
the same for the idempotent KMV/HLL/Bloom and the CMS/logbin sums).
Protocol invariants and delivery semantics are documented ONCE, on
``streaming/lattice.py``; per-family notes below are only what is
specific to the family:

- **KMV** (k smallest hashes): a bounded G-set CRDT — producer
  re-delivery of the same documents under a fresh batch id merges to
  the IDENTICAL sketch with no anti-join at all.
- **DAU** is the same KMV lattice keyed by day over user-id hashes (the
  streaming side of kmv_daily_active_users; kmv_weekly_from_daily folds
  the streamed state directly).
- **CMS / logbin** (cell-wise SUM): associative/commutative but NOT
  idempotent — replay is exactly-once (partition overwrite), wholesale
  re-delivery double-counts; the honest semantics of a counting sketch.
- **HLL** (per-register MAX): idempotent; the hardest-bounded partial
  in the family (<= keys x 256 rows/batch, three small ints each).
- **Bloom** (bitwise OR over packed 62-bit words): idempotent; the
  folded state is the EXACT bitmap resume_bloom_prefilter builds, so a
  100 TB ingest's live membership filter is maintained at O(m) state
  per batch and never rebuilt from the checkpoint table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.cms import DEPTH, WIDTH, cms_sketch, token_stream
from ..operators.selection import bloom_words
from ..operators.sketches import (
    _ID_HASH_A,
    _ID_HASH_B,
    K,
    P,
    hll_registers,
    kmv_kmin,
    kmv_merge_expr,
    logbin_hist,
    token_hash_pairs,
)
from ..sources.synthetic import saved_list
from . import lattice
from .lattice import LatticeFamily

DOCS_SCHEMA = "doc_id bigint, text string, source string"
EVENTS_SCHEMA = "event_id bigint, ts timestamp, user_id bigint"
ORDERS_SCHEMA = "o_orderkey bigint, o_totalprice double"
# saved_list's url synthesis needs the priority column too
BLOOM_ORDERS_SCHEMA = "o_orderkey bigint, o_orderpriority string"

_LOGBIN_KEYS = ["shift", "bkey", "width"]
_LOGBIN_EMPTY = "shift int, bkey bigint, width bigint, cnt bigint"
_BLOOM_EMPTY = "word bigint, bits bigint"


# --- KMV (vocabulary + DAU) ---------------------------------------------------


def dau_pairs(events: DataFrame) -> DataFrame:
    """(day, h): the per-day user-id hash pairs a DAU sketch consumes —
    the streaming side of kmv_daily_active_users."""
    return events.select(
        F.date_trunc("day", "ts").alias("day"),
        ((F.col("user_id") * _ID_HASH_A + _ID_HASH_B) % P).alias("h"),
    )


def _kmv_family(
    k: int = K,
    key: str = "source",
    key_type: str = "string",
    pairs_fn=None,
    name: str = "sketch",
    source_schema: str = DOCS_SCHEMA,
) -> LatticeFamily:
    pairs_fn = pairs_fn or token_hash_pairs
    return LatticeFamily(
        name=name,
        source_schema=source_schema,
        partial_fn=lambda b: kmv_kmin(pairs_fn(b), k, key),
        fold_fn=lambda u: u.groupBy(key).agg(kmv_merge_expr(k).alias("kmin")),
        empty_schema=f"{key} {key_type}, kmin array<bigint>",
    )


def _dau_family() -> LatticeFamily:
    return _kmv_family(
        key="day",
        key_type="timestamp",
        pairs_fn=dau_pairs,
        name="dau",
        source_schema=EVENTS_SCHEMA,
    )


def _maintain_batch(sketch_dir: str, k: int = K, key: str = "source", pairs_fn=None):
    """foreachBatch body, exposed for direct testing."""
    return lattice.maintain_batch(_kmv_family(k, key, pairs_fn=pairs_fn), sketch_dir)


def read_kmv_state(
    spark: SparkSession,
    sketch_dir: str,
    k: int = K,
    key: str = "source",
    key_type: str = "string",
) -> DataFrame:
    """(key, kmin): the current sketch — fold of every batch partial."""
    return lattice.read_state(spark, _kmv_family(k, key, key_type), sketch_dir)


def compact_kmv_state(
    spark: SparkSession, sketch_dir: str, k: int = K, key: str = "source"
) -> None:
    lattice.compact_state(spark, _kmv_family(k, key), sketch_dir)


def start_sketch_maintenance_stream(
    spark: SparkSession,
    docs_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    return lattice.start_maintenance_stream(
        spark, _kmv_family(), docs_dir, sketch_dir, checkpoint_dir,
        max_files_per_trigger,
    )


def start_dau_maintenance_stream(
    spark: SparkSession,
    events_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Streaming daily-active-users — the KMV lattice keyed by day."""
    return lattice.start_maintenance_stream(
        spark, _dau_family(), events_dir, sketch_dir, checkpoint_dir,
        max_files_per_trigger,
    )


# --- Count-Min (sum lattice) ----------------------------------------------------


def _cms_family(depth: int = DEPTH, width: int = WIDTH) -> LatticeFamily:
    return LatticeFamily(
        name="cms",
        source_schema=DOCS_SCHEMA,
        partial_fn=lambda b: cms_sketch(token_stream(b), depth, width),
        fold_fn=lambda u: u.groupBy("row_j", "cell").agg(F.sum("cnt").alias("cnt")),
        empty_schema="row_j int, cell bigint, cnt bigint",
    )


def _maintain_cms_batch(sketch_dir: str, depth: int = DEPTH, width: int = WIDTH):
    """foreachBatch body: this batch's bounded partial sketch
    (<= depth*width cells regardless of batch size)."""
    return lattice.maintain_batch(_cms_family(depth, width), sketch_dir)


def read_cms_state(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """(row_j, cell, cnt): cell-wise sum of every live batch partial."""
    return lattice.read_state(spark, _cms_family(), sketch_dir)


def compact_cms_state(spark: SparkSession, sketch_dir: str) -> None:
    lattice.compact_state(spark, _cms_family(), sketch_dir)


def start_cms_maintenance_stream(
    spark: SparkSession,
    docs_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Streaming token-frequency sketch: the live counterpart of
    cms_heavy_hitters' build stage."""
    return lattice.start_maintenance_stream(
        spark, _cms_family(), docs_dir, sketch_dir, checkpoint_dir,
        max_files_per_trigger,
    )


# --- log-binned quantile histogram (sum lattice) --------------------------------


def _logbin_partial(batch: DataFrame) -> DataFrame:
    c = batch.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
    return logbin_hist(c).drop("lower")  # lower = bkey*width, derived


def _logbin_family() -> LatticeFamily:
    return LatticeFamily(
        name="logbin",
        source_schema=ORDERS_SCHEMA,
        partial_fn=_logbin_partial,
        fold_fn=lambda u: u.groupBy(*_LOGBIN_KEYS).agg(F.sum("cnt").alias("cnt")),
        empty_schema=_LOGBIN_EMPTY,
        read_post=lambda df: df.withColumn("lower", F.col("bkey") * F.col("width")),
    )


def _maintain_logbin_batch(sketch_dir: str):
    """foreachBatch body: this batch's bounded histogram partial
    (<= ~32 buckets per price octave regardless of batch size)."""
    return lattice.maintain_batch(_logbin_family(), sketch_dir)


def read_logbin_state(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """(shift, bkey, width, cnt, lower): fold of every live partial,
    lower bound rebuilt for the quantile read-off."""
    return lattice.read_state(spark, _logbin_family(), sketch_dir)


def compact_logbin_state(spark: SparkSession, sketch_dir: str) -> None:
    lattice.compact_state(spark, _logbin_family(), sketch_dir)


def start_logbin_maintenance_stream(
    spark: SparkSession,
    orders_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Streaming price-quantile histogram: the live counterpart of
    logbin_quantile_sketch's build stage."""
    return lattice.start_maintenance_stream(
        spark, _logbin_family(), orders_dir, sketch_dir, checkpoint_dir,
        max_files_per_trigger,
    )


# --- HyperLogLog (per-register max) ---------------------------------------------


def _hll_family(
    key: str = "source", key_type: str = "string", pairs_fn=None
) -> LatticeFamily:
    pairs_fn = pairs_fn or token_hash_pairs
    return LatticeFamily(
        name="hll",
        source_schema=DOCS_SCHEMA,
        partial_fn=lambda b: hll_registers(pairs_fn(b), key),
        fold_fn=lambda u: u.groupBy(key, "reg").agg(F.max("mrho").alias("mrho")),
        empty_schema=f"{key} {key_type}, reg bigint, mrho bigint",
    )


def _maintain_hll_batch(sketch_dir: str, key: str = "source", pairs_fn=None):
    """foreachBatch body: this batch's bounded register-file partial
    (<= keys * HLL_M rows) written as its partition."""
    return lattice.maintain_batch(_hll_family(key, pairs_fn=pairs_fn), sketch_dir)


def read_hll_state(
    spark: SparkSession,
    sketch_dir: str,
    key: str = "source",
    key_type: str = "string",
) -> DataFrame:
    """(key, reg, mrho): per-register max over every batch partial."""
    return lattice.read_state(spark, _hll_family(key, key_type), sketch_dir)


def compact_hll_state(
    spark: SparkSession, sketch_dir: str, key: str = "source"
) -> None:
    lattice.compact_state(spark, _hll_family(key), sketch_dir)


def start_hll_maintenance_stream(
    spark: SparkSession,
    docs_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Streaming per-source vocabulary cardinality via HLL registers —
    the live counterpart of hll_register_sketch (over the same word
    -token hashes the KMV vocabulary stream consumes, so both sketches
    can be maintained side by side from one source)."""
    return lattice.start_maintenance_stream(
        spark, _hll_family(), docs_dir, sketch_dir, checkpoint_dir,
        max_files_per_trigger,
    )


# --- Bloom membership bitmap (bitwise OR) ----------------------------------------


def _bloom_family(urls_fn=None) -> LatticeFamily:
    urls_fn = urls_fn or (lambda b: saved_list(b).select("url").distinct())
    return LatticeFamily(
        name="bloom",
        source_schema=BLOOM_ORDERS_SCHEMA,
        partial_fn=lambda b: bloom_words(urls_fn(b)),
        fold_fn=lambda u: u.groupBy("word").agg(F.bit_or("bits").alias("bits")),
        empty_schema=_BLOOM_EMPTY,
    )


def _maintain_bloom_batch(sketch_dir: str, urls_fn=None):
    """foreachBatch body: this batch's packed-bitmap partial. ``urls_fn``
    maps the raw orders batch to its url frame; default = the saved-list
    checkpoint rows (row-wise, so per-batch application distributes over
    the batch union)."""
    return lattice.maintain_batch(_bloom_family(urls_fn), sketch_dir)


def read_bloom_state(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """(word, bits): word-wise OR over every batch partial."""
    return lattice.read_state(spark, _bloom_family(), sketch_dir)


def compact_bloom_state(spark: SparkSession, sketch_dir: str) -> None:
    lattice.compact_state(spark, _bloom_family(), sketch_dir)


def start_bloom_maintenance_stream(
    spark: SparkSession,
    orders_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Streaming saved-set membership bitmap: the live counterpart of
    resume_bloom_prefilter's build stage (operators/selection.py); the
    maintained words are broadcast-joinable by the prefilter's probe
    side exactly as the batch-built bitmap is."""
    return lattice.start_maintenance_stream(
        spark, _bloom_family(), orders_dir, sketch_dir, checkpoint_dir,
        max_files_per_trigger,
    )
