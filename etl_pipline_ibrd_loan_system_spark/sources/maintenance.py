"""Table maintenance: small-file compaction, the durable JSON writer
and the data-file lister every file-backed sink shares.

The chronic operational failure mode of any long-running ingest at
scale: streaming/micro-batch sinks and per-batch appends leave
thousands of KB-sized files per partition, and every downstream scan
then pays one task + one open per file (100 TB with 1 MB files is 10^8
scheduler tasks). Compaction rewrites a directory to size-targeted
files and atomically swaps it in.

Spark-first design notes:
- File inventory comes from the Hadoop FileSystem API (works for
  file://, hdfs://, s3a:// alike), not os.walk.
- The output file count is total_bytes / target_file_bytes — derived
  from the REAL on-disk size, not a row-count heuristic, so heavily
  compressed or wide tables both land near the target size.
- `repartition(n)` (round-robin) maximizes size uniformity of the
  output files; a `sort_cols` option instead range-sorts so the
  rewrite doubles as a clustering pass (parquet min/max row-group
  stats become selective — the poor man's Z-order on one key chain).
- The swap is write-to-temp + rename, with the previous directory
  retired to a `.pre_compact` sibling first, so a crash at any point
  leaves either the old or the new complete directory, never a mix;
  readers racing the swap see a consistent snapshot on any FS with
  atomic directory rename (HDFS; object stores need a manifest/table
  format instead — that caveat is exactly why Delta/Iceberg exist, see
  operators/scd.py MERGE notes).
- Pointers and manifests are published only by `write_json_atomic`,
  and data files are listed only by `data_files`.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import SparkSession


def _hadoop(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def write_json_atomic(path: str, obj) -> None:
    """Publish `obj` as JSON at `path` durably and atomically: readers
    see the previous complete file or the new one, never a prefix. A
    failure before the rename leaves the target untouched and removes
    the temp file."""
    tmp = f"{path}.tmp"
    try:
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(obj, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def data_files(spark: SparkSession, path: str):
    """Hadoop FileStatus of every data file under `path` (recursive,
    skipping _SUCCESS/_metadata/hidden files)."""
    fs, hpath, _ = _hadoop(spark, path)
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        status = it.next()
        if not status.getPath().getName().startswith(("_", ".")):
            yield status


def data_file_stats(spark: SparkSession, path: str) -> dict:
    """Count + total bytes of data files under `path`."""
    sizes = [status.getLen() for status in data_files(spark, path)]
    return {"n_files": len(sizes), "total_bytes": sum(sizes)}


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> dict:
    """Rewrite the parquet directory at `path` into
    ceil(total_bytes / target_file_bytes) files and atomically swap the
    result in. Returns before/after stats.

    Row-count parity is verified BEFORE the swap (the one extra count
    job is cheap next to the rewrite and turns a partial write into a
    raised error instead of data loss).
    """
    before = data_file_stats(spark, path)
    n_out = max(1, math.ceil(before["total_bytes"] / target_file_bytes))
    df = spark.read.parquet(path)
    out = (
        df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(*sort_cols)
        if sort_cols
        else df.repartition(n_out)
    )
    tmp = path.rstrip("/") + ".compact_tmp"
    retired = path.rstrip("/") + ".pre_compact"
    out.write.mode("overwrite").parquet(tmp)

    n_src = spark.read.parquet(path).count()
    n_tmp = spark.read.parquet(tmp).count()
    if n_src != n_tmp:
        raise RuntimeError(
            f"compaction row mismatch at {path}: {n_src} -> {n_tmp}; "
            "temp output left for inspection, source untouched"
        )

    fs, hpath, jvm = _hadoop(spark, path)
    tmp_p = jvm.org.apache.hadoop.fs.Path(tmp)
    retired_p = jvm.org.apache.hadoop.fs.Path(retired)
    if fs.exists(retired_p):
        fs.delete(retired_p, True)
    if not fs.rename(hpath, retired_p):
        raise RuntimeError(f"could not retire {path}")
    if not fs.rename(tmp_p, hpath):
        # roll back: put the original directory back
        fs.rename(retired_p, hpath)
        raise RuntimeError(f"could not swap compacted files into {path}")
    fs.delete(retired_p, True)
    after = data_file_stats(spark, path)
    return {"before": before, "after": after, "n_rows": n_tmp}
