#!/usr/bin/env python3
"""Benchmark runner for the lake's write path and its query layer.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

Workloads (``perfbench/workloads.json`` holds their settings):

- ``ingest_bulk``: bulk crawl of five sources through ``ingest_source``,
  then a replay of the whole frontier (``bulk.py``);
- ``stream``: open-loop stream ingest, then HLL/CMS sketch state
  maintenance (``stream.py``);
- ``query_mix``: closed-loop passes over a fixed registry query mix
  (``querymix.py``);
- ``all``: the three above, one process each, for one seed.

Every run generates its inputs (``datagen.py``) in a fresh directory
under ``.perfbench_work/`` in the checkout, starts one Spark session on
``local[<cpus>]``, checks its outputs, stops the session and removes
the directory. All temporary files, including the JVM's, stay there.

Output: a line ``{"workload": ..., "named": {...}, "notes": {...}}``
with the workload's own named metrics (wall-clock latencies and
throughputs, error rate, and the end-to-end metrics), then, as the last line, the
result: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. A traced run also writes its
spans to ``.perfbench_out/trace-<workload>-<seed>.json``. The tracing
overhead is the traced run's named metrics minus the untraced run's,
for the same workload and seed (``overhead.py`` runs both and prints
the difference).

``--pin-oracles`` (with ``--workload query_mix``) checks the queries
whose DuckDB oracle is too slow for every run against that oracle once
and records their result fingerprints in ``pinned.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_bulk", "stream", "query_mix")


def load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def sandbox(work: str, cfg: dict, trace: bool) -> None:
    """Point every temporary and Spark directory into ``work`` and size
    the session before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = cfg["driver_memory"]
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fully committed heap from the start keeps peak RSS from
        # depending on when the collector happened to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{cfg['driver_memory']} -XX:+AlwaysPreTouch"
        ),
    }
    if trace:  # keep every job of the run for the span job counts
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    sys.path[:0] = [ROOT, HERE]


def run_one(workload: str, seed: int, seconds: float, trace: bool, pin: bool) -> dict:
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    cfg = load_json(os.path.join(HERE, "workloads.json"))
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sandbox(work, cfg, trace)
    try:
        # fails fast when the package is not beside the benchmark
        import collect_mobile_devices_datalake_spark.registry  # noqa: F401

        import bulk
        import harness
        import layers
        import querymix
        import stream
        from collect_mobile_devices_datalake_spark.operators.similarity import (
            sweep_stale_ann_indexes,
        )
        from collect_mobile_devices_datalake_spark.operators.streaming_batch import (
            sweep_stale_stream_temp_roots,
        )

        sweep_stale_stream_temp_roots()
        sweep_stale_ann_indexes()
        run = harness.Run(seed, seconds, trace, work)
        rss = harness.RssSampler()
        rss.start()
        t0 = time.perf_counter()
        try:
            if pin:
                querymix.pin(run, cfg)
            else:
                {"ingest_bulk": bulk, "stream": stream, "query_mix": querymix}[workload].run(run, cfg)
        except Exception as e:  # an escaped error fails the run, not the process
            run.fail("workload", repr(e))
            import traceback

            traceback.print_exc()
        finally:
            wall = time.perf_counter() - t0
            if trace:
                run.settle()
            run.tracer.restore()
            run.stop_session()
            peak = rss.stop()
        run.e2e["setup_s"] = run.setup_s
        run.e2e["peak_rss_mb"] = peak
        run.named["error_rate"] = (run.failed / run.attempted if run.attempted else 1.0, "1")
        for m in bench["end_to_end"]:
            run.named[m["name"]] = (run.e2e.get(m["name"], 0.0), m["unit"])
        if trace:
            layers.setup_layer(run)
            layers.trace_summary(run, wall)
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            run.tracer.dump(
                os.path.join(out, f"trace-{workload}-{seed}.json"),
                {"wall_s": wall, "layer": run.layer, "e2e": run.e2e},
            )
        print(json.dumps({
            "workload": workload,
            "named": {k: {"value": v, "unit": u} for k, (v, u) in run.named.items()},
            "notes": run.notes,
            "failures": run.failures[:20],
            **({"layer": run.layer} if trace else {}),
        }))
        specs = bench["per_layer"] if trace else bench["end_to_end"]
        values = run.layer if trace else run.e2e
        return {
            "correct": run.failed == 0,
            "attempted": max(1, run.attempted),
            "failed": run.failed if run.attempted else 1,
            "metrics": {
                m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in specs
            },
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass


def run_all(seed: int, seconds: float, trace: bool) -> dict:
    """Each workload in its own process; merged result, metrics keyed
    ``<workload>.<metric>``."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(int(trace))]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.stderr.write(out.stderr)
            raise SystemExit(f"workload {w} exited {out.returncode}")
        for line in lines[:-1]:
            print(line)
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    return merged


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin-oracles", action="store_true")
    a = ap.parse_args()
    if a.pin_oracles and a.workload != "query_mix":
        ap.error("--pin-oracles applies to --workload query_mix")
    if a.workload == "all":
        result = run_all(a.seed, a.seconds, bool(a.trace))
    else:
        result = run_one(a.workload, a.seed, a.seconds, bool(a.trace), a.pin_oracles)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
