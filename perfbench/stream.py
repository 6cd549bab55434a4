"""``stream``: open-loop stream ingest, then sketch state maintenance.

Phase A: one producer thread moves pre-rendered gsmarena page files
(``pages_per_file`` pages each) into a watched directory at the fixed
rate ``files_per_s``, an open loop: file i is due at t0 + i / rate
whatever the consumer does. The consumer restarts
``start_ingest_stream`` (availableNow) on one checkpoint as soon as each
run ends. Freshness of a file is the time from when it was due to the
publish of the lake manifest that made its records visible; the
file-to-batch mapping comes from the stream checkpoint's source log.

Phase B: one HLL stream and one CMS stream drain the ``documents`` files
(availableNow), then each state is compacted (HLL: idempotent sweep,
CMS: sum-manifest swap) and read.

Checks: the lake holds each landed status-200 page exactly once, and
the HLL and CMS states equal a batch build over the same documents.
"""

from __future__ import annotations

import glob
import json
import os
import random
import threading
import time

import pyarrow.parquet as pq

import datagen
import layers
from harness import Run, median, tail, tree_cpu_s


def _progress(query) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]


def _source_log(checkpoint: str) -> dict[str, int]:
    """{file basename: batch id} from a file-source checkpoint log."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f.read().splitlines()[1:]:  # first line is the log version
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _render_files(run: Run, part_path: str, keys_per_file: list[list[int]], out_dir: str) -> None:
    """Render gsmarena pages, one parquet file per entry of ``keys_per_file``,
    named ``f<index>.parquet`` under ``out_dir``."""
    import pandas as pd
    from pyspark.sql import functions as F

    from collect_mobile_devices_datalake_spark.sources import fixtures

    spark = run.spark
    rows = [(i, k) for i, keys in enumerate(keys_per_file) for k in keys]
    assign = spark.createDataFrame(pd.DataFrame(rows, columns=["file", "p_partkey"]))
    part = spark.read.parquet(part_path).join(assign, "p_partkey")
    pages = fixtures.spec_pages(part, "gsmarena").withColumn(
        "p_partkey", F.regexp_extract("url", r"p_(\d+)$", 1).cast("long")
    )
    tmp = out_dir + "_parts"
    (
        pages.join(assign, "p_partkey")
        .drop("p_partkey")
        .repartition("file")
        .write.partitionBy("file")
        .parquet(tmp)
    )
    os.makedirs(out_dir, exist_ok=True)
    for i in range(len(keys_per_file)):
        (src,) = glob.glob(os.path.join(tmp, f"file={i}", "*.parquet"))
        os.replace(src, os.path.join(out_dir, f"f{i:04d}.parquet"))


def _write_docs(docs_path: str, order: list[int], n_files: int, out_dir: str) -> None:
    t = pq.read_table(docs_path, columns=["doc_id", "text", "source"])
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(order) // n_files)
    for i in range(n_files):
        idx = order[i * per : (i + 1) * per]
        pq.write_table(t.take(idx), os.path.join(out_dir, f"d{i:03d}.parquet"))


def _ok_urls(path: str) -> list[str]:
    t = pq.read_table(path, columns=["url", "status"])
    return [u for u, s in zip(t["url"].to_pylist(), t["status"].to_pylist()) if s == 200]


class Producer(threading.Thread):
    """Open-loop file lander: file i is due at t0 + i / rate."""

    def __init__(self, staged: list[str], watched: str, rate: float):
        super().__init__(daemon=True)
        self.staged, self.watched, self.rate = staged, watched, rate
        self.due: list[float] = []  # wall clock, comparable with file mtimes
        self.landed: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            t0_wall, t0 = time.time(), time.perf_counter()
            for i, src in enumerate(self.staged):
                offset = i / self.rate
                delay = t0 + offset - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                os.replace(src, os.path.join(self.watched, os.path.basename(src)))
                self.due.append(t0_wall + offset)
                self.landed.append(time.time())
        except BaseException as e:  # surfaced by the consumer after join
            self.error = e


def _drain_sketch(run: Run, start, docs_dir: str, state_dir: str, ckpt: str, per_trigger: int):
    q = start(run.spark, docs_dir, state_dir, ckpt, max_files_per_trigger=per_trigger)
    q.awaitTermination()
    return _progress(q)


def _live_parts(state_dir: str) -> int:
    return sum(
        1
        for d in glob.glob(os.path.join(state_dir, "batch=*"))
        if glob.glob(os.path.join(d, "*.parquet"))
    )


def run(run: Run, cfg: dict) -> None:
    c = cfg["stream"]
    from collect_mobile_devices_datalake_spark.ingest import manifest
    from collect_mobile_devices_datalake_spark.operators.cms import cms_sketch, token_stream
    from collect_mobile_devices_datalake_spark.operators.sketches import (
        hll_registers,
        token_hash_pairs,
    )
    from collect_mobile_devices_datalake_spark.streaming import pipeline as spipe
    from collect_mobile_devices_datalake_spark.streaming import sketch_maintenance as sk

    data = run.path("data")
    rows = datagen.generate(data, c["sf"], ("part", "documents"))
    rate = c["files_per_s"]
    n_files = max(2, int(round(run.seconds * rate)))
    rng = random.Random(run.seed)
    keys = rng.sample(range(rows["part"]), (n_files + 1) * c["pages_per_file"])
    per = c["pages_per_file"]
    keys_per_file = [keys[i * per : (i + 1) * per] for i in range(n_files + 1)]
    docs_order = list(range(rows["documents"]))
    rng.shuffle(docs_order)

    staged, watched = run.path("staged"), run.path("watched")
    lake, ckpt = run.path("lake"), run.path("ckpt")
    docs_dir, warm = run.path("docs"), run.path("warm")
    hll_dir, cms_dir, sk_ckpt = run.path("hll"), run.path("cms"), run.path("sketch_ckpt")
    os.makedirs(watched, exist_ok=True)

    t_setup = time.perf_counter()
    with run.tracer.span("setup"):
        run.start_session()
        layers.instrument(run, cfg)
        spark = run.spark
        with run.tracer.span("sources.render"):
            _render_files(run, os.path.join(data, "part.parquet"), keys_per_file, staged)
            _write_docs(
                os.path.join(data, "documents.parquet"), docs_order, c["doc_files"], docs_dir
            )
        # untimed warm-up: one file through every stream, on scratch state
        os.makedirs(os.path.join(warm, "watched"))
        os.replace(
            os.path.join(staged, f"f{n_files:04d}.parquet"),
            os.path.join(warm, "watched", "w.parquet"),
        )
        with run.op("warm-up ingest stream"):
            spipe.start_ingest_stream(
                spark, os.path.join(warm, "watched"), os.path.join(warm, "lake"),
                "gsmarena", os.path.join(warm, "ckpt"),
            ).awaitTermination()
        os.makedirs(os.path.join(warm, "docs"))
        pq.write_table(
            pq.read_table(os.path.join(docs_dir, "d000.parquet")),
            os.path.join(warm, "docs", "d.parquet"),
        )
        for fam, start, compact, read in (
            ("hll", sk.start_hll_maintenance_stream, sk.compact_hll_state, sk.read_hll_state),
            ("cms", sk.start_cms_maintenance_stream, sk.compact_cms_state, sk.read_cms_state),
        ):
            with run.op(f"warm-up {fam}"):
                state = os.path.join(warm, fam)
                _drain_sketch(run, start, os.path.join(warm, "docs"), state,
                              os.path.join(warm, "sk_ckpt"), 1)
                compact(spark, state)
                read(spark, state).count()
    run.setup_s = time.perf_counter() - t_setup

    # --- phase A: open-loop ingest stream ---------------------------------
    files = [os.path.join(staged, f"f{i:04d}.parquet") for i in range(n_files)]
    producer = Producer(files, watched, rate)
    progress: list[dict] = []
    restarts: list[float] = []
    backlog_max = 0
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    with run.tracer.span("measure.stream"):
        producer.start()
        processed: dict[str, int] = {}
        streak = 0
        while True:
            finished = not producer.is_alive()
            backlog_max = max(backlog_max, len(producer.landed) - len(processed))
            if finished and len(processed) >= len(producer.landed):
                break
            failed_before = run.failed
            with run.op("ingest stream run"):
                with run.tracer.span("streaming.run") as rec:
                    t = time.perf_counter()
                    with run.tracer.adopt(rec):
                        q = spipe.start_ingest_stream(
                            spark, watched, lake, "gsmarena", ckpt, c["max_files_per_trigger"]
                        )
                        q.awaitTermination()
                    wall = time.perf_counter() - t
                    prog = [p for p in _progress(q) if p.get("numInputRows", 0)]
                    if rec is not None:
                        rec["batches"] = len(prog)
                progress += prog
                busy = sum(p["durationMs"].get("triggerExecution", 0) for p in prog) / 1000
                restarts.append(wall - busy)
                processed = _source_log(ckpt)
            streak = streak + 1 if run.failed > failed_before else 0
            if streak >= 3:
                break  # a consumer that keeps failing must not spin forever
        producer.join()
    phase_a, cpu_a = time.perf_counter() - t0, tree_cpu_s() - cpu0
    if producer.error is not None:
        run.fail("producer", repr(producer.error))

    published = {}
    for p in manifest.manifest_paths(lake):
        txn = os.path.basename(p).split("-", 1)[1][: -len(".json")]
        if txn.startswith("stream-gsmarena-"):
            published[int(txn.rsplit("-", 1)[1])] = os.stat(p).st_mtime
    fresh = []
    for i, path in enumerate(files[: len(producer.due)]):
        bid = processed.get(os.path.basename(path))
        if bid is not None and bid in published:
            fresh.append(published[bid] - producer.due[i])

    # --- phase B: sketch state ---------------------------------------------
    n_docs = rows["documents"]
    state_batches: dict[str, list[float]] = {}
    drain = compact_s = 0.0
    t0 = time.perf_counter()
    with run.tracer.span("measure.state"):
        for fam, start, compact, read, state in (
            ("hll", sk.start_hll_maintenance_stream, sk.compact_hll_state, sk.read_hll_state, hll_dir),
            ("cms", sk.start_cms_maintenance_stream, sk.compact_cms_state, sk.read_cms_state, cms_dir),
        ):
            with run.op(f"{fam} state"):
                t = time.perf_counter()
                prog = _drain_sketch(run, start, docs_dir, state, sk_ckpt, c["doc_files_per_trigger"])
                drain += time.perf_counter() - t
                state_batches[fam] = layers.progress_durations(prog, "addBatch")
                run.layer[f"lattice.{fam}.live_parts"] = _live_parts(state)
                t = time.perf_counter()
                compact(spark, state)
                dt = time.perf_counter() - t
                compact_s += dt
                run.layer[f"lattice.{fam}.compact_s"] = dt
                t = time.perf_counter()
                read(spark, state).count()
                run.layer[f"lattice.{fam}.read_s"] = time.perf_counter() - t
    phase_b = time.perf_counter() - t0

    n = stream_bytes = 0
    with run.tracer.span("verify"):
        expect = [u for f in files[: len(producer.landed)] for u in _ok_urls(
            os.path.join(watched, os.path.basename(f)))]
        with run.op("stream lake rows"):
            got = manifest.read_committed(spark, lake, "device_specs_stream/gsmarena")
            n, n_distinct = got.count(), got.select("src_url").distinct().count()
            stream_bytes = sum(
                os.path.getsize(p)
                for p in manifest.committed_files(lake, "device_specs_stream/gsmarena")
            )
            run.check("one row per landed page", n == n_distinct == len(set(expect)) == len(expect),
                      f"rows={n} distinct={n_distinct} landed={len(expect)}")
        run.check("every landed file published", len(fresh) == len(producer.due),
                  f"{len(fresh)} of {len(producer.due)}")
        docs = spark.read.parquet(docs_dir)
        for fam, read, batch, cols, state in (
            ("hll", sk.read_hll_state, hll_registers(token_hash_pairs(docs), "source"),
             ["source", "reg", "mrho"], hll_dir),
            ("cms", sk.read_cms_state, cms_sketch(token_stream(docs)),
             ["row_j", "cell", "cnt"], cms_dir),
        ):
            with run.op(f"{fam} state equals batch build"):
                s_rows = sorted(tuple(r) for r in read(spark, state).select(*cols).collect())
                b_rows = sorted(tuple(r) for r in batch.select(*cols).collect())
                run.check(f"{fam} state equals batch build", s_rows == b_rows,
                          f"{len(s_rows)} vs {len(b_rows)} rows")

    partials = state_batches.get("hll", []) + state_batches.get("cms", [])
    tail_v, tail_p = tail(fresh)
    run.named.update(
        fresh_p50_s=(median(fresh), "s"),
        fresh_tail_s=(tail_v, f"s@p{tail_p}"),
        state_batch_p50_s=(median(partials) / 1000, "s"),
        state_compact_s=(compact_s, "s"),
    )
    run.named.update(
        docs_folded_per_s=(2 * n_docs / drain if drain else 0.0, "1/s"),
        state_pass_s=(phase_b, "s"),
    )
    run.e2e.update(
        cpu_ms_per_item=1000 * cpu_a / len(expect) if expect else 0.0,
        bytes_per_item=stream_bytes / n if n else 0.0,
    )
    late = [l - d for l, d in zip(producer.landed, producer.due)]
    run.layer["loadgen.late_max_s"] = max(late, default=0.0)
    run.layer["loadgen.backlog_max_files"] = backlog_max
    run.notes.update(
        files=len(producer.due), fresh_samples=len(fresh), consumer_runs=len(restarts),
        phase_a_s=phase_a, drain_files_per_s=len(producer.due) / phase_a if phase_a else 0.0,

    )
    if run.trace:
        run.settle()
        layers.stream_layer(run, progress, restarts)
        for fam, xs in state_batches.items():
            run.layer[f"lattice.{fam}.partial_p50_ms"] = median(xs)
        run.layer.update(layers.lake_layer(run, lake))
