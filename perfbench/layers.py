"""Per-layer metrics: where the traced run puts its wrappers, and how
the recorded spans become the per-layer numbers.

Conventions: a ``*_s`` or ``*_ms`` metric is the mean (or the named
percentile) per call over the run's measured phases, never a run total,
so it does not grow with the number of batches a faster commit fits
into the same seconds. Counts (``files_staged``, ``manifests_read``,
``spark_jobs``) are means per call as well. A layer the workload does
not reach reads 0.
"""

from __future__ import annotations

import time

import pyarrow.parquet as pq

from harness import Run, lake_stats, median, slope


def instrument(run: Run, cfg: dict) -> None:
    """Wrap the public module attributes the workloads go through."""
    if not run.trace:
        return
    from collect_mobile_devices_datalake_spark import catalog
    from collect_mobile_devices_datalake_spark.ingest import manifest, pipeline
    from collect_mobile_devices_datalake_spark.operators import similarity
    from collect_mobile_devices_datalake_spark.registry import REGISTRY, _ensure_loaded
    from collect_mobile_devices_datalake_spark.sources import parse
    from collect_mobile_devices_datalake_spark.streaming import pipeline as spipe
    from collect_mobile_devices_datalake_spark.streaming import sketch_maintenance as sk

    t = run.tracer

    def staged(rec, out, args, kwargs):
        rec["files"] = len(out)

    def scanned(rec, out, args, kwargs):
        lake_dir, table = args[0], args[1]
        rec["files"] = len(out)
        rec["table"] = table
        rec["manifests"] = len(manifest.manifest_paths(lake_dir))

    t.wrap(pipeline, "ingest_source", "ingest.ingest_source")
    t.wrap(pipeline, "device_specs_view", "ingest.device_specs_view.build")
    t.wrap(manifest, "commit_tables", "ingest.manifest.commit_tables")
    t.wrap(manifest, "stage_write", "ingest.manifest.stage_write", post=staged)
    t.wrap(manifest, "publish", "ingest.manifest.publish")
    t.wrap(manifest, "committed_files", "ingest.manifest.committed_files", post=scanned)
    t.wrap(manifest, "read_committed", "ingest.manifest.read_committed")
    for s in list(parse.PARSERS):
        t.wrap(parse.PARSERS, s, f"sources.parse.{s}.build")
    t.wrap(spipe, "start_ingest_stream", "streaming.start_ingest_stream")
    for fam in ("hll", "cms"):
        for fn in ("start_{}_maintenance_stream", "compact_{}_state", "read_{}_state"):
            name = fn.format(fam)
            t.wrap(sk, name, f"streaming.sketch_maintenance.{name}")
    t.wrap(similarity, "_persisted_index", "similarity.persisted_index")
    t.wrap(catalog, "spec_key_catalog", "catalog.spec_key_catalog.build")
    _ensure_loaded()
    for q in cfg["query_mix"]["mix"]:
        t.wrap(REGISTRY[q], "spark", f"operators.{q}.build")


def _named(spans, name):
    return [r for r in spans if r["name"] == name]


def _dur(r):
    return r["end"] - r["start"]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def setup_layer(run: Run) -> None:
    spans = run.tracer.spans
    run.layer["session.start_s"] = sum(_dur(r) for r in _named(spans, "session.start"))
    run.layer["sources.render_s"] = sum(_dur(r) for r in _named(spans, "sources.render"))
    # index builds happen in set-up; a cache hit is a sub-millisecond span
    run.layer["similarity.index_build_s"] = sum(
        _dur(r) for r in _named(run.tracer.under(("setup",)), "similarity.persisted_index")
    )


def ingest_layer(run: Run, roots: tuple[str, ...]) -> None:
    """ingest_source self time and Spark work per call, and the manifest
    calls made under the spans named ``roots``."""
    tr = run.tracer
    spans = tr.under(roots)
    kids = tr.children()
    calls = _named(spans, "ingest.ingest_source")
    run.layer["ingest.ingest_source.self_s"] = _mean([tr.self_time(r, kids) for r in calls])
    run.layer["ingest.spark_jobs_per_batch"] = _mean([tr.inclusive(r, "jobs", kids) for r in calls])
    run.layer["ingest.spark_tasks_per_batch"] = _mean([tr.inclusive(r, "tasks", kids) for r in calls])
    manifest_layer(run, spans)


def manifest_layer(run: Run, spans: list[dict]) -> None:
    sw = _named(spans, "ingest.manifest.stage_write")
    cf = _named(spans, "ingest.manifest.committed_files")
    run.layer["ingest.manifest.stage_write_s"] = _mean([_dur(r) for r in sw])
    run.layer["ingest.manifest.files_staged"] = _mean([r.get("files", 0) for r in sw])
    run.layer["ingest.manifest.publish_s"] = _mean(
        [_dur(r) for r in _named(spans, "ingest.manifest.publish")]
    )
    run.layer["ingest.manifest.committed_files_s"] = _mean([_dur(r) for r in cf])
    run.layer["ingest.manifest.manifests_read"] = _mean([r.get("manifests", 0) for r in cf])


def lake_layer(run: Run, lake_dir: str) -> dict[str, float]:
    """lake.* counts from disk, plus dead-letter rows from the manifests."""
    from collect_mobile_devices_datalake_spark.ingest import manifest

    st = lake_stats(lake_dir)
    dead = sum(
        pq.read_metadata(p).num_rows
        for p in manifest.committed_files(lake_dir, "dead_letter")
    )
    return {
        "lake.files": st["files"],
        "lake.bytes": st["bytes"],
        "lake.manifests": st["manifests"],
        "ingest.dead_letter_rows": dead,
    }


def parse_probe(run: Run, batches: dict[str, list[str]]) -> None:
    """sources.parse_s.<source>: seconds per batch for ``PARSERS[s]``
    alone on the run's own measured batches, forced with a noop write.
    Runs after the measured phases, so it does not move them."""
    from pyspark.sql import functions as F

    from collect_mobile_devices_datalake_spark.sources import parse

    with run.tracer.span("probe.parse"):
        for s, dirs in batches.items():
            if not dirs:
                continue
            ok = run.spark.read.parquet(*dirs).filter(F.col("status") == 200)
            t = time.perf_counter()
            with run.tracer.span(f"sources.parse.{s}"):
                parse.PARSERS[s](ok).write.format("noop").mode("overwrite").save()
            run.layer[f"sources.parse_s.{s}"] = (time.perf_counter() - t) / len(dirs)


def progress_durations(progress: list[dict], key: str) -> list[float]:
    return [
        float(p["durationMs"][key])
        for p in progress
        if p.get("numInputRows", 0) and key in p.get("durationMs", {})
    ]


def stream_layer(run: Run, progress: list[dict], restarts: list[float]) -> None:
    """streaming.* from the ingest stream's recentProgress."""
    for key in (
        "triggerExecution",
        "addBatch",
        "walCommit",
        "commitOffsets",
        "latestOffset",
        "getBatch",
        "queryPlanning",
    ):
        run.layer[f"streaming.{key}_p50_ms"] = median(progress_durations(progress, key))
    run.layer["streaming.addBatch_slope_ms_per_batch"] = slope(
        progress_durations(progress, "addBatch")
    )
    run.layer["streaming.restart_s"] = _mean(restarts)
    spans = run.tracer.under(("measure.stream",))
    run.layer["streaming.upsert_files_scanned_max"] = max(
        [
            r.get("files", 0)
            for r in _named(spans, "ingest.manifest.committed_files")
            if str(r.get("table", "")).startswith("device_specs_stream")
        ],
        default=0,
    )
    tr = run.tracer
    kids = tr.children()
    runs = _named(spans, "streaming.run")
    batches = sum(r.get("batches", 0) for r in runs)
    if batches:
        run.layer["ingest.spark_jobs_per_batch"] = (
            sum(tr.inclusive(r, "jobs", kids) for r in runs) / batches
        )
        run.layer["ingest.spark_tasks_per_batch"] = (
            sum(tr.inclusive(r, "tasks", kids) for r in runs) / batches
        )
    manifest_layer(run, spans)


def query_layer(run: Run, mix: list[str]) -> None:
    """operators.<q>_s and .spark_jobs per execution, measured passes."""
    tr = run.tracer
    spans = tr.under(("measure.queries",))
    kids = tr.children()
    for base in [f"operators.{q}" for q in mix] + [
        "ingest.device_specs_view",
        "catalog.spec_key_catalog",
    ]:
        execs = _named(spans, base)
        run.layer[f"{base}_s"] = _mean([_dur(r) for r in execs])
        if base.startswith("operators."):
            run.layer[f"{base}.spark_jobs"] = _mean([tr.inclusive(r, "jobs", kids) for r in execs])
    manifest_layer(run, spans)


def trace_summary(run: Run, wall: float) -> None:
    covered = run.tracer.top_level_coverage()
    run.layer["trace.spans"] = len(run.tracer.spans)
    run.layer["trace.gap_s"] = max(0.0, wall - covered)
    run.layer["trace.coverage"] = covered / wall if wall else 0.0

