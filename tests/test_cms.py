"""Count-Min Sketch: one-sided bound, mergeability, calibration shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from collect_mobile_devices_datalake_spark.operators.cms import (
    DEPTH,
    SWEEP_WIDTHS,
    WIDTH,
    cms_estimate,
    cms_sketch,
    token_stream,
)
from collect_mobile_devices_datalake_spark.registry import REGISTRY, _ensure_loaded
from collect_mobile_devices_datalake_spark.session import load_table

from .conftest import SF_SMOKE

_ensure_loaded()


def _stream(spark):
    return token_stream(load_table(spark, "documents", SF_SMOKE)).localCheckpoint(
        eager=True
    )


def test_one_sided_over_full_vocabulary(spark):
    """est >= exact for EVERY token — the CMS guarantee, not a sample."""
    stream = _stream(spark)
    vocab = stream.groupBy("t").agg(
        F.max("h").alias("h"), F.count("*").alias("exact_count")
    )
    est = cms_estimate(vocab, cms_sketch(stream))
    bad = est.filter(F.col("est_count") < F.col("exact_count")).count()
    assert bad == 0
    assert est.count() == vocab.count()  # every token answered


def test_cellwise_sum_merge_identity(spark):
    """sketch(A ∪ B) == cell-wise sum of sketch(A) + sketch(B): the
    property that makes the sketch a shippable partial at 100 TB (and
    the state a streaming sink would fold)."""
    docs = load_table(spark, "documents", SF_SMOKE)
    a = token_stream(docs.filter(F.col("doc_id") % 2 == 0))
    b = token_stream(docs.filter(F.col("doc_id") % 2 == 1))
    merged = (
        cms_sketch(a)
        .unionByName(cms_sketch(b))
        .groupBy("row_j", "cell")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = cms_sketch(token_stream(docs))
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_sketch_size_is_bounded(spark):
    """The sketch never exceeds depth*width cells regardless of corpus."""
    sk = cms_sketch(_stream(spark))
    assert sk.count() <= DEPTH * WIDTH


def test_width_calibration_monotone(spark):
    """Total overestimate must not grow with width (cells only split)."""
    rows = (
        REGISTRY["cms_width_calibration"].spark(spark, SF_SMOKE).orderBy("width").collect()
    )
    assert [r.width for r in rows] == sorted(SWEEP_WIDTHS)
    totals = [r.total_overestimate for r in rows]
    assert totals == sorted(totals, reverse=True)
    for r in rows:
        assert r.max_overestimate >= 0 and r.total_overestimate >= 0


# --- streaming maintenance ---------------------------------------------------


def _state_map(df):
    return {(r["row_j"], r["cell"]): r["cnt"] for r in df.collect()}


def test_cms_maintenance_stream_matches_batch(spark, tmp_path):
    """Chunked streamed arrivals converge to the batch sketch; replay of
    a batch id repairs in place; compaction commits atomically through
    the manifest (an uncommitted compacted dir stays invisible)."""
    import os

    from collect_mobile_devices_datalake_spark.streaming.sketch_maintenance import (
        _maintain_cms_batch,
        compact_cms_state,
        read_cms_state,
        start_cms_maintenance_stream,
    )

    docs = load_table(spark, "documents", SF_SMOKE).select("doc_id", "text", "source")
    docs_dir = str(tmp_path / "docs_in")
    sketch_dir = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(docs_dir)
    start_cms_maintenance_stream(spark, docs_dir, sketch_dir, ckpt).awaitTermination(120)
    second.coalesce(1).write.mode("append").parquet(docs_dir)
    start_cms_maintenance_stream(spark, docs_dir, sketch_dir, ckpt).awaitTermination(120)

    want = _state_map(cms_sketch(token_stream(docs)))
    assert _state_map(read_cms_state(spark, sketch_dir)) == want and len(want) > 0

    # checkpoint replay (same batch id) rewrites wholesale: no drift
    fn = _maintain_cms_batch(sketch_dir)
    fn(first, 0)
    assert _state_map(read_cms_state(spark, sketch_dir)) == want

    # crash window: a compacted generation WITHOUT a manifest commit is
    # invisible — simulate by writing the c-dir by hand
    cms_sketch(token_stream(docs)).write.mode("overwrite").parquet(
        os.path.join(sketch_dir, "batch=c99")
    )
    assert _state_map(read_cms_state(spark, sketch_dir)) == want

    # committed compaction folds to one generation, state unchanged
    compact_cms_state(spark, sketch_dir)
    assert _state_map(read_cms_state(spark, sketch_dir)) == want
    live = [d for d in os.listdir(sketch_dir) if d.startswith("batch=")]
    # absorbed dirs are GC'd; only the committed generation remains
    # (plus the orphan c99, which stays invisible and superseded)
    assert any(d.startswith("batch=c") for d in live)

    # post-compaction arrivals keep accumulating on top of the generation
    first.coalesce(1).write.mode("append").parquet(docs_dir)
    start_cms_maintenance_stream(spark, docs_dir, sketch_dir, ckpt).awaitTermination(120)
    got = _state_map(read_cms_state(spark, sketch_dir))
    want_plus = _state_map(
        cms_sketch(token_stream(docs.unionByName(first)))
    )
    assert got == want_plus


def test_cms_second_compaction_no_double_count(spark, tmp_path):
    """Compacting twice (generation over generation) must not re-absorb
    mass: the sum lattice is not idempotent, so this is THE correctness
    property of the manifest protocol."""
    from collect_mobile_devices_datalake_spark.streaming.sketch_maintenance import (
        _maintain_cms_batch,
        compact_cms_state,
        read_cms_state,
    )

    docs = load_table(spark, "documents", SF_SMOKE).select("doc_id", "text", "source")
    sketch_dir = str(tmp_path / "sketch")
    fn = _maintain_cms_batch(sketch_dir)
    fn(docs.filter(F.col("doc_id") % 3 == 0), 0)
    fn(docs.filter(F.col("doc_id") % 3 == 1), 1)
    want = _state_map(read_cms_state(spark, sketch_dir))
    compact_cms_state(spark, sketch_dir)
    assert _state_map(read_cms_state(spark, sketch_dir)) == want
    fn(docs.filter(F.col("doc_id") % 3 == 2), 2)
    want2 = _state_map(cms_sketch(token_stream(docs)))
    assert _state_map(read_cms_state(spark, sketch_dir)) == want2
    compact_cms_state(spark, sketch_dir)
    assert _state_map(read_cms_state(spark, sketch_dir)) == want2
    compact_cms_state(spark, sketch_dir)  # no-op on a single generation
    assert _state_map(read_cms_state(spark, sketch_dir)) == want2


def test_dyadic_width_fold_identity(spark):
    """A width-w sketch is EXACTLY the mod-w cell-fold of a width-kw
    sketch built with the same row hashes — the invariant
    q_cms_width_calibration now relies on to serve three widths from
    one stream aggregation (cell = (affine(h) % P) % width, and
    (x % kw) % w == x % w whenever w | kw)."""
    stream = _stream(spark)
    w_max = max(SWEEP_WIDTHS)
    base = cms_sketch(stream, width=w_max)
    for w in SWEEP_WIDTHS:
        if w == w_max:
            continue
        assert w_max % w == 0  # the divisibility the fold needs
        folded = base.groupBy("row_j", (F.col("cell") % w).alias("cell")).agg(
            F.sum("cnt").alias("cnt")
        )
        direct = cms_sketch(stream, width=w)
        assert folded.exceptAll(direct).count() == 0
        assert direct.exceptAll(folded).count() == 0


def test_compaction_fails_fast_on_remote_root(spark):
    """The lattice manifest commits via os.replace overwrite-atomicity,
    which has no Hadoop-FS equivalent — a remote state root must refuse
    compaction UP FRONT (r12 advice closure), never die mid-protocol,
    for sum and idempotent families alike. Reads/appends stay correct
    un-compacted (no manifest -> every numeric batch dir live)."""
    import pytest

    from collect_mobile_devices_datalake_spark.streaming.sketch_maintenance import (
        compact_cms_state,
        compact_hll_state,
    )

    for compact in (compact_cms_state, compact_hll_state):
        for root in ("s3a://bucket/sketch", "hdfs://nn:8020/sketch"):
            with pytest.raises(NotImplementedError, match="atomic manifest swap"):
                compact(spark, root)
