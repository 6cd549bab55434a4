"""Hadoop-FileSystem helpers for the streaming maintenance state stores.

The ``batch=N`` partial directories written by foreachBatch live wherever
the deployment puts its state — local disk under pytest/bench, HDFS or S3
on a real cluster. Driver-side enumeration and deletion of those partials
must therefore go through the Hadoop FileSystem API, resolved PER PATH
(``Path.getFileSystem``), so ``file:/``, ``hdfs://`` and ``s3a://`` roots
all behave identically; ``os.listdir``/``shutil.rmtree`` would silently
break the module's 100 TB maintenance story the moment the state dir
moves off the driver's local disk.

These helpers intentionally cover only the state-store layout used by the
maintenance modules: one level of ``batch=*`` subdirectories, each holding
parquet part files.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_for(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for ``path_str``, resolved by scheme."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath


def list_batch_dirs(spark: SparkSession, base_dir: str, prefix: str = "batch=") -> list[str]:
    """Names (not full paths) of ``base_dir``'s immediate subdirectories
    starting with ``prefix``, sorted. Missing base → empty list, matching
    the semantics callers relied on with os.listdir."""
    fs, hpath = _fs_for(spark, base_dir)
    if not fs.exists(hpath):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(hpath)
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    )


def dir_has_parquet(spark: SparkSession, dir_path: str) -> bool:
    """True when ``dir_path`` holds at least one committed parquet part
    file — an empty directory (failed first write) counts as absent."""
    fs, hpath = _fs_for(spark, dir_path)
    if not fs.exists(hpath):
        return False
    return any(
        st.getPath().getName().endswith(".parquet") for st in fs.listStatus(hpath)
    )


def is_local_root(path_str: str) -> bool:
    """True when ``path_str`` resolves to the driver's local filesystem
    (a bare path or an explicit ``file:`` scheme). Protocols whose commit
    point is ``os.replace`` overwrite-atomicity (the lattice
    compaction manifest) must check this and fail fast on remote roots
    rather than corrupt state mid-protocol: Hadoop ``FileSystem.rename``
    does not overwrite, so the same manifest swap on HDFS/S3 would need a
    store-specific atomic conditional put instead."""
    scheme = path_str.split("://", 1)[0] if "://" in path_str else ""
    if not scheme and path_str.startswith("file:"):
        scheme = "file"
    return scheme in ("", "file")


def delete_dir(spark: SparkSession, dir_path: str) -> None:
    """Recursive, best-effort delete (compaction's GC step). A failed
    delete is harmless: it runs after the compaction manifest has
    committed, and the manifest already marks every input dead, so a
    leftover partial is never read again — for any lattice, sums
    included."""
    try:
        fs, hpath = _fs_for(spark, dir_path)
        fs.delete(hpath, True)
    except Exception:
        pass

