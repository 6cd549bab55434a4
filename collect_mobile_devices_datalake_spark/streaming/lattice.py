"""The merge-lattice maintenance protocol — ONE skeleton for every
batch-partition streaming family.

Eleven certified families ride this module (r14 unification of what
was previously copied across sketch/sample/survivorship maintenance):

==============  =========================  ======================
family          merge                      lattice class
==============  =========================  ======================
kmv / dau       k smallest hashes          idempotent G-set
hll             per-register max           idempotent
bloom           bitwise OR (packed words)  idempotent
priority sample K+1 largest priorities     idempotent
survivorship    argmax by okey (+ sum leg) idempotent (argmax)
profile         per-source min/max         idempotent
lsh index       distinct bucket rows       idempotent G-set
cms             cell-wise sum              NOT idempotent
logbin          cell-wise sum              NOT idempotent
topk (MG)       counter sum + error sum    NOT idempotent
==============  =========================  ======================

(The rollup stream is NOT a member: its state is the engine's watermark
store and its append-mode finalization + derived-grain manifest commits
are the ingest lake's protocol, not a partial-fold lattice.)

Protocol invariants, stated once:

- **foreachBatch writes a BOUNDED partial** into its own ``batch=<id>``
  partition with mode=overwrite, so a checkpoint REPLAY of a partially
  committed batch rewrites the partition wholesale — repair, not
  freeze. State is O(partial-size x batches-since-compaction),
  independent of corpus size.
- **Reading IS merging**: the current state is the family fold over
  every live partial; associativity + commutativity make fold order
  irrelevant, so a reader racing the writer sees some consistent
  prefix of batches.
- **Compaction is ONE protocol for every family**: the fold is written
  to a fresh ``batch=c<gen>`` dir that readers IGNORE until ONE local
  atomic commit of ``compaction.json`` (``ingest.manifest.
  write_json_atomic``, the lake's own manifest write) names it and
  marks the absorbed inputs dead; only then are the inputs deleted. No
  crash or failed delete can leave a partial counted twice — which
  matters for every family with a SUM leg (cms, logbin, topk, and
  survivorship's ``n_events``), and costs the idempotent ones one small
  JSON write. Remote roots refuse compaction up front (``os.replace``
  overwrite-atomicity has no Hadoop ``FileSystem.rename`` equivalent);
  their appends and reads work unchanged.
- **The lattice class decides re-delivery, not the code path**:
  checkpoint replay is exactly-once for every family (partition
  overwrite). Producer re-delivery under a fresh batch id merges to the
  identical state for idempotent families — no anti-join needed — and
  double-counts for sum families, the honest semantics of any counting
  sketch (dedup upstream or use a G-set family when that matters).

A new family is a ``LatticeFamily`` declaration: name the checkpoint
subdir, give the batch→partial projection and the fold. Everything
else — stream wiring, live-partition enumeration (Hadoop FileSystem
API, so HDFS/S3 roots behave like local disk), crash-safe compaction,
replay repair — is this module. Streams whose per-batch output is not
a lattice partial (dedup decisions, graph edges) still share the
wiring (``start_batch_stream``) and the re-delivery guard
(``write_unseen``).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..ingest.manifest import empty_frame, write_json_atomic
from .fsutil import delete_dir, dir_has_parquet, is_local_root, list_batch_dirs

_MANIFEST = "compaction.json"


@dataclass(frozen=True)
class LatticeFamily:
    """One batch-partition maintenance family.

    ``partial_fn`` maps a micro-batch to its bounded partial;
    ``fold_fn`` maps the union-of-partials read to the merged state
    (the compaction fold). ``read_fold_fn`` overrides the fold on the
    READ path only — survivorship drops its okey merge column from the
    surfaced state but must keep it through compaction; ``read_post``
    appends derived columns after either fold (logbin's lower bound)."""

    name: str  # checkpoint subdir, e.g. "kmv" -> <ckpt>/kmv_maint
    source_schema: str
    partial_fn: Callable[[DataFrame], DataFrame]
    fold_fn: Callable[[DataFrame], DataFrame]
    empty_schema: str
    read_fold_fn: Callable[[DataFrame], DataFrame] | None = None
    read_post: Callable[[DataFrame], DataFrame] | None = None


def maintain_batch(family: LatticeFamily, state_dir: str):
    """foreachBatch body: this batch's bounded partial, written
    wholesale into its own partition (replay-repair semantics)."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        family.partial_fn(batch).write.mode("overwrite").parquet(
            os.path.join(state_dir, f"batch={batch_id}")
        )

    return fn


def write_unseen(out: DataFrame, state_dir: str, batch_id: int, key: str) -> None:
    """foreachBatch write for streams whose rows are owned by a ``key``
    (dedup decisions, graph edges): drop the rows whose ``key`` a PRIOR
    live partition already holds, then overwrite ``batch=<batch_id>``.

    Two mechanisms for two failure modes: checkpoint replay of a
    partially committed batch rewrites its own partition wholesale (so
    that partition is excluded from the guard — repair, not freeze);
    producer re-delivery under a fresh batch id is dropped by the
    anti-join, which reads only the pruned ``key`` column."""
    spark = out.sparkSession
    own = f"batch={batch_id}"
    others = [
        os.path.join(state_dir, d) for d in live_parts(spark, state_dir) if d != own
    ]
    if others:
        seen = spark.read.parquet(*others).select(key).distinct()
        out = out.join(seen, key, "left_anti")
    out.write.mode("overwrite").parquet(os.path.join(state_dir, own))


def _read_compaction(state_dir: str) -> dict:
    """The committed compaction manifest, ``{}`` when there is none. A
    remote root never has one (compaction refuses there up front), so
    its reads stay sound: every numeric dir is live."""
    path = os.path.join(state_dir, _MANIFEST)
    if not os.path.isfile(path):
        return {}
    with open(path) as f:
        return json.load(f)


def live_parts(spark: SparkSession, state_dir: str) -> list[str]:
    """Live partitions under the compaction-manifest rule: numeric
    ``batch=N`` dirs (stream-owned) are live unless the manifest lists
    them as absorbed; ``batch=c<gen>`` dirs (compaction-owned) are live
    ONLY when the manifest names them — an uncommitted compacted
    partition is invisible, so no crash window counts a partial twice."""
    m = _read_compaction(state_dir)
    absorbed = set(m.get("absorbed", []))
    compacted = m.get("compacted_dir")
    out = []
    for d in list_batch_dirs(spark, state_dir):
        if d in absorbed:
            continue
        if d.startswith("batch=c") and d != compacted:
            continue  # uncommitted (or superseded) compaction output
        if dir_has_parquet(spark, os.path.join(state_dir, d)):
            out.append(d)
    return out


def read_state(
    spark: SparkSession, family: LatticeFamily, state_dir: str
) -> DataFrame:
    """The current state: the family fold over every live partial.
    Reading IS merging — see the module invariants."""
    parts = [os.path.join(state_dir, d) for d in live_parts(spark, state_dir)]
    if not parts:
        out = empty_frame(spark, family.empty_schema)
    else:
        fold = family.read_fold_fn or family.fold_fn
        out = fold(spark.read.parquet(*parts))
    return family.read_post(out) if family.read_post else out


def compact_state(
    spark: SparkSession, family: LatticeFamily, state_dir: str
) -> None:
    """Fold the live partials into one fresh generation behind one
    atomic manifest commit, then GC the inputs (invariants in the module
    docstring)."""
    if not is_local_root(state_dir):
        # the commit point is os.replace overwrite-atomicity, which
        # Hadoop FileSystem.rename does not give — refuse up front;
        # un-compacted reads stay correct (every numeric batch dir
        # remains live)
        raise NotImplementedError(
            f"lattice compaction needs an atomic manifest swap; the "
            f"local-FS os.replace protocol cannot commit on {state_dir!r}. "
            "Streaming appends and reads work unchanged on remote roots; "
            "compaction requires a store-specific atomic-put strategy."
        )
    live = live_parts(spark, state_dir)
    if len(live) <= 1:
        return
    # no materialization barrier: the merged fold is written to a FRESH
    # batch=c<gen+1> dir that is never in `live`, so the write job
    # streams the fold straight from the input partitions it reads
    merged = family.fold_fn(
        spark.read.parquet(*[os.path.join(state_dir, d) for d in live])
    )
    gens = [
        int(d[len("batch=c"):])
        for d in list_batch_dirs(spark, state_dir, prefix="batch=c")
        if d[len("batch=c"):].isdigit()
    ]
    new_dir = f"batch=c{max(gens, default=-1) + 1}"
    merged.write.mode("overwrite").parquet(os.path.join(state_dir, new_dir))

    prior_absorbed = _read_compaction(state_dir).get("absorbed", [])
    write_json_atomic(  # the commit point
        os.path.join(state_dir, _MANIFEST),
        {
            "compacted_dir": new_dir,
            "absorbed": sorted(set(prior_absorbed) | set(live)),
        },
    )
    for d in live:  # GC; harmless if it fails (the manifest excludes them)
        delete_dir(spark, os.path.join(state_dir, d))


def start_batch_stream(
    spark: SparkSession,
    schema: str,
    source_dir: str,
    fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    name: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """File-source availableNow stream → ``fn`` as its foreachBatch,
    checkpointed under ``<checkpoint_dir>/<name>_maint``."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", os.path.join(checkpoint_dir, f"{name}_maint"))
        .trigger(availableNow=True)
        .start()
    )


def start_maintenance_stream(
    spark: SparkSession,
    family: LatticeFamily,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """File-source availableNow stream → bounded-partial foreachBatch."""
    return start_batch_stream(
        spark, family.source_schema, source_dir,
        maintain_batch(family, state_dir), checkpoint_dir, family.name,
        max_files_per_trigger,
    )
