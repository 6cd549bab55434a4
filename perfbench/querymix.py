"""``query_mix``: one closed-loop client running passes over a fixed mix
of registry queries, plus ``device_specs_view`` and
``catalog.spec_key_catalog`` over a small lake that set-up ingests.

Each execution is forced with ``count()``. The seed sets the order of
the mix in every pass. The first, untimed pass is the correctness check:
each query's result is compared with its registered DuckDB oracle
through ``tests/oracle_harness.compare``, or, where that oracle is too
slow for a run, with a fingerprint pinned from a run the oracle checked
(``pinned.json``, written by ``run.py --pin-oracles``). Timed passes then
check each count against the checked row count. The workload writes
nothing to the lake after set-up and parses nothing.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from collections import Counter

import datagen
import layers
from bulk import SOURCES, batch_dir, plan_frontier, render
from harness import Run, median, tail, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
SPANS = {
    "device_specs_view": "ingest.device_specs_view",
    "spec_key_catalog": "catalog.spec_key_catalog",
}


def fingerprint(df) -> dict:
    """Row count and an order-insensitive hash of the canonical rows,
    columns in name order (the oracle harness's canonical values)."""
    from tests.oracle_harness import _canon

    cols = sorted(df.columns)
    keys = sorted("|".join(_canon(r[c]) for c in cols) for r in df.select(*cols).collect())
    h = hashlib.sha256("\n".join(keys).encode()).hexdigest()
    return {"rows": len(keys), "sha256": h}


def load_pinned(sf: float) -> dict:
    """Pinned fingerprints for this data; none if the data changed (the
    check then falls back to the slow oracles)."""
    path = os.path.join(HERE, "pinned.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        pinned = json.load(f)
    if pinned["data_seed"] != datagen.DATA_SEED or pinned["sf"] != sf:
        return {}
    return pinned["queries"]


def build_lake(run: Run, pages: int, n_parts: int, data: str) -> tuple[str, int]:
    """Ingest one batch of ``pages`` pages per source; returns (lake dir,
    records)."""
    from collect_mobile_devices_datalake_spark.ingest import pipeline

    pages_dir, lake = run.path("pages"), run.path("lake")
    plan = plan_frontier(n_parts, run.seed, 1, pages, 0.0)
    with run.tracer.span("sources.render"):
        render(run, os.path.join(data, "part.parquet"), plan, pages_dir)
    n = 0
    for s in SOURCES:
        df = run.spark.read.parquet(batch_dir(pages_dir, s, 0))
        n += pipeline.ingest_source(run.spark, df, lake, s)
    return lake, n


def run(run: Run, cfg: dict) -> None:
    c = cfg["query_mix"]
    from tests.oracle_harness import compare

    from collect_mobile_devices_datalake_spark import TABLES, catalog
    from collect_mobile_devices_datalake_spark.ingest import manifest, pipeline
    from collect_mobile_devices_datalake_spark.registry import REGISTRY, _ensure_loaded

    data = run.path("data")
    rows = datagen.generate(data, c["sf"], TABLES)
    _ensure_loaded()
    mix = list(c["mix"])
    pinned = load_pinned(c["sf"])
    rng = random.Random(run.seed)

    def view():
        return pipeline.device_specs_view(run.spark, lake)

    def catalog_of():
        return catalog.spec_key_catalog(pipeline.device_specs_view(run.spark, lake))

    def execute(name: str) -> int:
        if name == "device_specs_view":
            return view().count()
        if name == "spec_key_catalog":
            return catalog_of().count()
        return REGISTRY[name].spark(run.spark, data).count()

    names = mix + ["device_specs_view", "spec_key_catalog"]
    expected_rows: dict[str, int] = {}
    verify_s = 0.0

    t_setup = time.perf_counter()
    with run.tracer.span("setup"):
        run.start_session()
        layers.instrument(run, cfg)
        with run.tracer.span("setup.lake"):
            lake, n_lake = build_lake(run, c["lake_pages_per_source"], rows["part"], data)
            lake_bytes = sum(
                os.path.getsize(p) for p in manifest.committed_files(lake, "device_specs")
            )
        # the untimed first pass doubles as the correctness check; the
        # oracle and fingerprint work is subtracted from setup_s
        for q in rng.sample(mix, len(mix)):
            with run.op(f"check {q}"):
                with run.tracer.span(f"check.{q}"):
                    df = REGISTRY[q].spark(run.spark, data)
                    if q in pinned:
                        t = time.perf_counter()
                        fp = fingerprint(df)
                        verify_s += time.perf_counter() - t
                        expected_rows[q] = fp["rows"]
                        run.check(f"{q} matches pinned fingerprint", fp == pinned[q],
                                  f"{fp} != {pinned[q]}")
                    else:
                        t = time.perf_counter()
                        rep = compare(df, REGISTRY[q].oracle, data)
                        verify_s += time.perf_counter() - t
                        expected_rows[q] = rep["spark_rows"]
                        run.check(f"{q} matches its oracle", rep["ok"], "; ".join(rep["errors"]))
        with run.op("check device_specs_view"):
            n_view = view().count()
            expected_rows["device_specs_view"] = n_view
            run.check("view holds every ingested record", n_view == n_lake, f"{n_view} != {n_lake}")
        with run.op("check spec_key_catalog"):
            t = time.perf_counter()
            want = Counter(k for r in view().select("specs").collect() for k in r["specs"])
            got = {r["spec_key"]: r["n_records"] for r in catalog_of().collect()}
            verify_s += time.perf_counter() - t
            expected_rows["spec_key_catalog"] = len(got)
            run.check("catalog counts every spec key", got == dict(want), f"{got} != {dict(want)}")
    run.setup_s = time.perf_counter() - t_setup - verify_s

    samples: dict[str, list[float]] = {q: [] for q in names}
    passes: list[float] = []
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    with run.tracer.span("measure.queries"):
        while not passes or time.perf_counter() - t0 < run.seconds:
            tp = time.perf_counter()
            for q in rng.sample(names, len(names)):
                with run.op(q):
                    t = time.perf_counter()
                    with run.tracer.span(SPANS.get(q, f"operators.{q}")):
                        n = execute(q)
                    samples[q].append(time.perf_counter() - t)
                    if n != expected_rows.get(q):
                        run.fail(f"{q} row count", f"{n} != {expected_rows.get(q)}")
            passes.append(time.perf_counter() - tp)
    wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0

    flat = [x for xs in samples.values() for x in xs]
    tail_v, tail_p = tail(flat)
    run.named.update(
        query_pass_s=(median(passes), "s"),
        query_p50_s=(median(flat), "s"),
        query_tail_s=(tail_v, f"s@p{tail_p}"),
    )
    run.named["queries_per_s"] = (len(flat) / wall if wall else 0.0, "1/s")
    run.e2e.update(
        cpu_ms_per_item=1000 * cpu / len(flat) if flat else 0.0,
        bytes_per_item=lake_bytes / n_lake if n_lake else 0.0,
    )
    run.notes.update(passes=len(passes), samples=len(flat), verify_s=verify_s)
    if run.trace:
        run.settle()
        layers.query_layer(run, mix)


def pin(run: Run, cfg: dict) -> None:
    """Check each query of ``pinned`` against its oracle and, when every
    one matches, record their fingerprints in ``pinned.json``."""
    c = cfg["query_mix"]
    from tests.oracle_harness import compare

    from collect_mobile_devices_datalake_spark import TABLES
    from collect_mobile_devices_datalake_spark.registry import REGISTRY, _ensure_loaded

    data = run.path("data")
    datagen.generate(data, c["sf"], TABLES)
    _ensure_loaded()
    run.start_session()
    out = {"data_seed": datagen.DATA_SEED, "sf": c["sf"], "queries": {}}
    for q in c["pinned"]:
        with run.op(f"pin {q}"):
            rep = compare(REGISTRY[q].spark(run.spark, data), REGISTRY[q].oracle, data)
            run.check(f"{q} matches its oracle", rep["ok"], "; ".join(rep["errors"]))
            if rep["ok"]:
                out["queries"][q] = fingerprint(REGISTRY[q].spark(run.spark, data))
    if run.failed == 0:
        with open(os.path.join(HERE, "pinned.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
