"""``ingest_bulk``: the bulk crawl.

Fixture pages for all five sources are rendered from ``part`` and cut
into per-source batches; each batch overlaps the previous one by a few
percent, as a re-crawl frontier does. ``ingest_source`` ingests them
into a fresh lake, round-robin over the sources in a seeded order,
until the run's time is up. Then the whole ingested frontier is
replayed once, which must commit nothing.

Checks: each batch commits exactly its new status-200 URLs (computed
from the rendered pages with pyarrow, not through the lake), the replay
commits 0, and ``device_specs_view`` holds every expected URL once.
"""

from __future__ import annotations

import os
import random
import time

import pyarrow.parquet as pq

import datagen
import layers
from harness import Run, median, tail, tree_cpu_s

SOURCES = ("gsmarena", "geekbench", "productz", "versus", "phonearena")


def plan_frontier(n_parts: int, seed: int, batches: int, size: int, overlap: float):
    """{(source, batch): [p_partkey...]}: a seeded permutation of the
    part keys per source, cut into ``batches`` batches of ``size`` new
    keys; batch b > 0 also repeats the last ``overlap`` share of b-1."""
    rng = random.Random(seed)
    ov = int(round(size * overlap))
    plan = {}
    for s in SOURCES:
        keys = list(range(n_parts))
        rng.shuffle(keys)
        for b in range(batches):
            lo = b * size - (ov if b else 0)
            plan[(s, b)] = keys[lo : (b + 1) * size]
    return plan


def render(run: Run, part_path: str, plan: dict, pages_dir: str) -> None:
    """One Spark job: render every planned page with the package's
    fixture renderers and write them partitioned by (source, batch)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from collect_mobile_devices_datalake_spark.sources import fixtures

    spark = run.spark
    rows = [(s, b, k) for (s, b), keys in plan.items() for k in keys]
    assign = spark.createDataFrame(
        pd.DataFrame(rows, columns=["src", "batch", "p_partkey"])
    )
    part = spark.read.parquet(part_path)
    frames = []
    for s in SOURCES:
        mine = assign.filter(F.col("src") == s).drop("src")
        pages = fixtures.spec_pages(
            part.join(mine.select("p_partkey").distinct(), "p_partkey", "left_semi"), s
        ).withColumn(
            "p_partkey", F.regexp_extract("url", r"p_(\d+)$", 1).cast("long")
        )
        frames.append(
            pages.join(mine, "p_partkey").drop("p_partkey").withColumn("src", F.lit(s))
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    out.write.partitionBy("src", "batch").parquet(pages_dir)


def batch_dir(pages_dir: str, s: str, b: int) -> str:
    return os.path.join(pages_dir, f"src={s}", f"batch={b}")


def ok_urls(pages_dir: str, s: str, b: int) -> set[str]:
    t = pq.read_table(batch_dir(pages_dir, s, b), columns=["url", "status"])
    return {u for u, st in zip(t["url"].to_pylist(), t["status"].to_pylist()) if st == 200}


def run(run: Run, cfg: dict) -> None:
    c = cfg["ingest_bulk"]
    from collect_mobile_devices_datalake_spark.ingest import manifest, pipeline

    data = run.path("data")
    rows = datagen.generate(data, c["sf"], ("part",))
    pages_dir, lake = run.path("pages"), run.path("lake")
    plan = plan_frontier(
        rows["part"], run.seed, c["frontier_batches"], c["batch_pages"], c["overlap"]
    )

    t_setup = time.perf_counter()
    with run.tracer.span("setup"):
        run.start_session()
        layers.instrument(run, cfg)
        spark = run.spark
        with run.tracer.span("sources.render"):
            render(run, os.path.join(data, "part.parquet"), plan, pages_dir)

        def pages(s: str, b: int):
            return spark.read.parquet(batch_dir(pages_dir, s, b))

        committed: dict[tuple[str, int], int] = {}
        for s in SOURCES:  # untimed warm-up: batch 0 of every source
            with run.op(f"warm-up {s}"):
                committed[(s, 0)] = pipeline.ingest_source(spark, pages(s, 0), lake, s)
    run.setup_s = time.perf_counter() - t_setup

    rng = random.Random(run.seed + 1)
    order = []
    for b in range(1, c["frontier_batches"]):
        order += [(s, b) for s in rng.sample(SOURCES, len(SOURCES))]

    def spec_bytes() -> int:
        return sum(os.path.getsize(p) for p in manifest.committed_files(lake, "device_specs"))

    batch_s: list[float] = []
    records = 0
    bytes0 = spec_bytes()
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    with run.tracer.span("measure.bulk"):
        for s, b in order:
            if time.perf_counter() - t0 >= run.seconds:
                break
            df = pages(s, b)
            with run.op(f"ingest {s}/{b}"):
                t = time.perf_counter()
                n = pipeline.ingest_source(spark, df, lake, s)
                batch_s.append(time.perf_counter() - t)
                committed[(s, b)] = n
                records += n
    wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
    loop_bytes = spec_bytes() - bytes0
    stats = layers.lake_layer(run, lake)

    replay_n = 0
    replay_calls: list[float] = []
    t = time.perf_counter()
    with run.tracer.span("measure.replay"):
        for s in SOURCES:
            done = [batch_dir(pages_dir, s, b) for (ss, b) in committed if ss == s]
            with run.op(f"replay {s}"):
                tc = time.perf_counter()
                replay_n += pipeline.ingest_source(spark, spark.read.parquet(*done), lake, s)
                replay_calls.append(time.perf_counter() - tc)
    replay_s = time.perf_counter() - t

    with run.tracer.span("verify"):
        seen: dict[str, set[str]] = {s: set() for s in SOURCES}
        expected_all = 0
        for s, b in sorted(committed):  # batch order per source
            urls = ok_urls(pages_dir, s, b)
            want = len(urls - seen[s])
            seen[s] |= urls
            expected_all += want
            got = committed[(s, b)]
            run.check(f"batch {s}/{b} commits its new urls", got == want, f"{got} != {want}")
        run.check("replay commits 0", replay_n == 0, f"replayed {replay_n}")
        with run.op("device_specs_view"):
            n_view = pipeline.device_specs_view(spark, lake).count()
            run.check("view holds every url once", n_view == expected_all, f"{n_view} != {expected_all}")

    total_records = sum(committed.values())
    run.named.update(
        bulk_records_per_s=(records / wall if wall else 0.0, "1/s"),
        bulk_batch_p50_s=(median(batch_s), "s"),
        resume_replay_s=(replay_s, "s"),
        resume_replay_call_p50_s=(median(replay_calls), "s"),
        lake_bytes_per_record=(spec_bytes() / total_records if total_records else 0.0, "B"),
    )
    tail_v, tail_p = tail(batch_s)
    run.named["bulk_batch_tail_s"] = (tail_v, f"s@p{tail_p}")
    run.e2e.update(
        cpu_ms_per_item=1000 * cpu / records if records else 0.0,
        bytes_per_item=loop_bytes / records if records else 0.0,
    )
    run.notes.update(batches=len(batch_s), records=records, measure_wall_s=wall)

    if run.trace:
        run.settle()
        layers.ingest_layer(run, ("measure.bulk", "measure.replay"))
        layers.parse_probe(
            run,
            {
                s: [batch_dir(pages_dir, s, b) for (ss, b) in committed if ss == s and b > 0]
                for s in SOURCES
            },
        )
        run.layer["ingest.resume.pending_ratio"] = _pending_ratio(
            pages_dir, committed
        )
        run.layer.update(stats)


def _pending_ratio(pages_dir: str, committed: dict) -> float:
    """Committed records over status-200 pages offered, measured batches."""
    offered = sum(len(ok_urls(pages_dir, s, b)) for (s, b) in committed if b > 0)
    got = sum(n for (s, b), n in committed.items() if b > 0)
    return got / offered if offered else 0.0
