"""Spark 4 Python DataSource WRITER with a real commit protocol
(`jsonl_commit` format) — the sink-side twin of the `paged_jsonl`
reader (rest_datasource.py).

The reference's sinks are driver-mediated JDBC loads
(`pyspark_dag2.py:199-210` df.write.jdbc; SURVEY §2.A6/A7/A10 —
covered by sources/sinks.py). This module completes the Python
DataSource API surface with the piece the reference never needed but
any file/object-store sink at scale does: TASK-ATTEMPT-SAFE commits.

Protocol (the same two-phase shape FileOutputCommitter / Delta commit
use, scaled down to stdlib):

  * every write task streams its rows to a STAGED file with a
    task-attempt-unique name under `<path>/_staged/` and returns
    (staged name, row count) as its commit message — so speculative /
    retried attempts each write their own file and at most one
    attempt's message reaches the driver;
  * `commit(messages)` — driver, all tasks succeeded — publishes
    exactly the staged files named in the messages (os.replace, atomic
    on a POSIX dir), writes `_MANIFEST.json` (file list + row counts)
    through maintenance.write_json_atomic, so a crash mid-write keeps
    the previous manifest whole, then `_SUCCESS` LAST, and sweeps
    orphaned staged files from lost attempts;
  * `abort(messages)` deletes staged files; committed data from prior
    jobs is never touched.
  * readers treat the MANIFEST as the source of truth: a crash between
    publish and manifest leaves stray part files that no manifest
    references — invisible, and swept by the next overwrite.

The STREAMING writer reuses the same mechanics per micro-batch with
epoch-scoped manifests (`_epoch_<id>.json`): a re-delivered epoch
(foreachBatch/DSv2 restart semantics are at-least-once) finds its
manifest already present and publishes NOTHING — at-least-once
delivery, exactly-once effect, the sink-level twin of
streaming/microbatch.py::_epoch_step's versioned-state protocol.

Scale notes: rows stream through each task (no buffering beyond the
line being written); the driver handles only one small message per
task; `os.replace` publication assumes a shared filesystem — on an
object store swap the rename for a manifest-only commit (the manifest
already carries the authoritative file list, so nothing else changes).
The class is built by a factory so cloudpickle ships it by value to
Python workers (same constraint as rest_datasource.py).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from .maintenance import write_json_atomic

FORMAT_NAME = "jsonl_commit"
MANIFEST = "_MANIFEST.json"


def make_jsonl_commit_datasource():
    """Build (by value) the DataSource class for `jsonl_commit`."""
    import uuid
    from dataclasses import dataclass

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        DataSourceWriter,
        WriterCommitMessage,
    )

    @dataclass
    class StagedFile(WriterCommitMessage):
        name: str
        n_rows: int

    def _stage_rows(path: str, iterator) -> "StagedFile":
        """Executor side: stream rows to one attempt-unique staged file."""
        staged_dir = os.path.join(path, "_staged")
        os.makedirs(staged_dir, exist_ok=True)
        name = f"attempt-{uuid.uuid4().hex}.jsonl"
        n = 0
        with open(os.path.join(staged_dir, name), "w") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict(recursive=True), default=str))
                fh.write("\n")
                n += 1
        return StagedFile(name=name, n_rows=n)

    def _sweep_staged(path: str) -> None:
        staged_dir = os.path.join(path, "_staged")
        if os.path.isdir(staged_dir):
            for f in os.listdir(staged_dir):
                try:
                    os.remove(os.path.join(staged_dir, f))
                except OSError:
                    pass

    def _publish(path: str, messages, prefix: str) -> list[dict]:
        """Move exactly the staged files the messages name into place."""
        published = []
        for i, m in enumerate(messages):
            if m is None:
                raise ValueError("commit() with a failed task message")
            final = f"{prefix}part-{i:05d}-{m.name.removeprefix('attempt-')}"
            os.replace(
                os.path.join(path, "_staged", m.name),
                os.path.join(path, final),
            )
            published.append({"file": final, "n_rows": m.n_rows})
        return published

    class JsonlDirWriter(DataSourceWriter):
        def __init__(self, options, overwrite: bool):
            self.path = options["path"]
            self.overwrite = overwrite

        def write(self, iterator):
            return _stage_rows(self.path, iterator)

        def commit(self, messages):
            if self.overwrite:
                # drop previously committed data before publishing; the
                # manifest goes last so a crash mid-overwrite leaves a
                # manifest-less (= empty to readers) directory, never a
                # half-old-half-new one
                for f in os.listdir(self.path):
                    if f.endswith(".jsonl") or f in (MANIFEST, "_SUCCESS"):
                        os.remove(os.path.join(self.path, f))
            files = _publish(self.path, messages, "")
            if not self.overwrite and os.path.exists(
                os.path.join(self.path, MANIFEST)
            ):
                with open(os.path.join(self.path, MANIFEST)) as fh:
                    files = json.load(fh)["files"] + files
            write_json_atomic(
                os.path.join(self.path, MANIFEST),
                {"files": files, "total_rows": sum(f["n_rows"] for f in files)},
            )
            with open(os.path.join(self.path, "_SUCCESS"), "w") as fh:
                fh.write("")
            _sweep_staged(self.path)  # orphans from lost/speculative attempts

        def abort(self, messages):
            for m in messages:
                if m is not None:
                    try:
                        os.remove(os.path.join(self.path, "_staged", m.name))
                    except OSError:
                        pass

    class JsonlDirStreamWriter(DataSourceStreamWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            return _stage_rows(self.path, iterator)

        def commit(self, messages, batchId):
            epoch_manifest = os.path.join(self.path, f"_epoch_{batchId}.json")
            if os.path.exists(epoch_manifest):
                # re-delivered epoch after a restart: already published —
                # publish nothing, drop the duplicate staged files
                self.abort(messages, batchId)
                return
            files = _publish(self.path, messages, f"epoch-{batchId}-")
            write_json_atomic(epoch_manifest, {"epoch": batchId, "files": files})

        def abort(self, messages, batchId):
            for m in messages:
                if m is not None:
                    try:
                        os.remove(os.path.join(self.path, "_staged", m.name))
                    except OSError:
                        pass

    class JsonlCommitDataSource(DataSource):
        @classmethod
        def name(cls):
            return FORMAT_NAME

        def writer(self, schema, overwrite: bool):
            return JsonlDirWriter(self.options, overwrite)

        def streamWriter(self, schema, overwrite: bool):
            return JsonlDirStreamWriter(self.options)

    return JsonlCommitDataSource


def register(spark: SparkSession) -> None:
    spark.dataSource.register(make_jsonl_commit_datasource())


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Batch write through the committing sink."""
    register(df.sparkSession)
    os.makedirs(path, exist_ok=True)
    df.write.format(FORMAT_NAME).mode(mode).option("path", path).save()


def read_manifest(path: str) -> dict:
    """The committed view of a sink directory: what the manifest names,
    nothing else — stray part files from a crashed job are invisible."""
    with open(os.path.join(path, MANIFEST)) as fh:
        return json.load(fh)
