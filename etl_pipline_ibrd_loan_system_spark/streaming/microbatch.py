"""Structured Streaming operators.

The reference's only streaming capability is the hourly offset-resumed
micro-batch (§2.H — covered by sources.paged_source). Beyond parity, the
engine exposes the Structured Streaming surface a modern pipeline needs:
event-time tumbling/sliding windows with watermarks, plus a foreachBatch
sink wrapper (the exactly-once JDBC-style sink pattern replacing the
reference's `write.jdbc` per DAG run, pyspark_dag2.py:428-440).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def tumbling_window_agg(
    events: DataFrame,
    ts_col: str,
    window: str,
    group_cols: list[str],
    aggs: list,
    watermark: str | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Windowed aggregation, batch or streaming (same plan shape both ways:
    pass a readStream DataFrame to stream it). Emits `window_start`/
    `window_end` timestamps instead of the window struct so results are
    hash-comparable."""
    src = events.withWatermark(ts_col, watermark) if watermark else events
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    out = src.groupBy(win.alias("w"), *group_cols).agg(*aggs)
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *group_cols,
        *[c for c in out.columns if c not in ("w", *group_cols)],
    )


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> StreamingQuery:
    """Drive a streaming aggregation to completion against the in-memory
    sink (test/verification surface; production would use foreachBatch)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    return q


def foreach_batch_append(
    stream_df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """foreachBatch sink wrapper: `batch_fn(batch_df, epoch_id)` runs once
    per micro-batch with the epoch id for idempotent writes (the streaming
    analog of the reference's per-run JDBC append)."""
    return (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def session_window_agg(
    events: DataFrame,
    ts_col: str,
    gap: str,
    group_cols: list[str],
    aggs: list,
    watermark: str | None = None,
) -> DataFrame:
    """Event-time session windows (gap-based): batch or streaming. Session
    end = last event + gap (Spark semantics); the batch plan is the
    classic gaps-and-islands and distributes by the group key."""
    src = events.withWatermark(ts_col, watermark) if watermark else events
    out = src.groupBy(
        F.session_window(F.col(ts_col), gap).alias("w"), *group_cols
    ).agg(*aggs)
    return out.select(
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        *group_cols,
        *[c for c in out.columns if c not in ("w", *group_cols)],
    )


def stateful_first_event(
    events: DataFrame, key_col: str, ts_col: str, id_col: str
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    emits the FIRST event per key across all micro-batches (state = one
    boolean per key; memory bounded by distinct keys, not events).
    Works on a streaming DataFrame; demonstrates the arbitrary-state
    API the built-in operators can't express.

    NOTE: Spark 4's successor API (transformWithStateInPandas + typed
    ValueState on RocksDB) crashed pre-user-code in rounds 4-5; round 6
    root-caused that to the driver worker's protobuf control channel
    needing a `google.protobuf` runtime this container doesn't ship,
    and unblocked it (streaming/tws.py + vendor/pbshim). Both operators
    now run against the same oracle (st1 here, st2 there); this one is
    kept as the dependency-free path."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            return iter(())
        first = None
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, id_col])
            head = pdf.iloc[0]
            if first is None or (head[ts_col], head[id_col]) < (
                first[ts_col], first[id_col]
            ):
                first = head
        if first is None:
            return iter(())
        state.update((True,))
        return iter(
            [pd.DataFrame({
                key_col: [first[key_col]],
                "first_ts": [first[ts_col]],
                "first_id": [first[id_col]],
            })]
        )

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=f"{key_col} bigint, first_ts timestamp, first_id bigint",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark: str,
) -> DataFrame:
    """Streaming deduplication with bounded state
    (`dropDuplicatesWithinWatermark`): the first row per key is emitted,
    later copies arriving within the watermark horizon are dropped, and
    key state is evicted once the watermark passes it — so state size is
    O(keys per horizon), not O(keys ever seen) as with the plain
    streaming `dropDuplicates`.

    Contract at the horizon boundary: a duplicate arriving LATER than
    `watermark` after the retained row may be re-emitted (its state was
    evicted). That is the deliberate trade for unbounded-runtime
    pipelines; size the watermark to the source's real duplication
    window (e.g. an at-least-once ingest retries within minutes, not
    days). Exact global dedup over a bounded replay = watermark spanning
    the full event-time range."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    upper: str,
    watermark: str,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join within an event-time interval: right rows
    whose `right_ts` falls in [left_ts, left_ts + upper] for the same
    key. Watermarks on BOTH inputs plus the time-range predicate are what
    let Spark evict join state: each side buffers only rows younger than
    (watermark + interval), so state is bounded by arrival rate x
    horizon, not by stream length. Without the range predicate a
    stream-stream join would have to keep every row forever.

    `how='left_outer'` additionally emits null-padded left rows — but
    only when the watermark proves no future match is possible (left
    state older than wm - interval is evicted AND emitted in the batch
    whose watermark passes it, including Spark's trailing no-data batch).
    An outer stream-stream join therefore needs the watermark to advance
    PAST the data to flush its unmatched rows — see
    stream_queries.s4/ss2 for the staged-batch protocol that proves
    this."""
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    return lw.join(
        rw,
        F.expr(
            f"l.{key} = r.{key} AND r.{right_ts} >= l.{left_ts} "
            f"AND r.{right_ts} <= l.{left_ts} + INTERVAL {upper}"
        ),
        how,
    )


_ROLLUP_POINTER = "_COMMITTED"


def _rollup_committed(state_dir: str) -> dict | None:
    """Read the atomic commit pointer, or None before the first commit."""
    import json
    import os

    path = os.path.join(state_dir, _ROLLUP_POINTER)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def read_rollup_state(spark, state_dir: str) -> DataFrame:
    """Load the last COMMITTED rollup state (the only directory a reader
    may touch — in-progress epoch writes live in sibling dirs the
    pointer doesn't reference yet)."""
    import os

    committed = _rollup_committed(state_dir)
    if committed is None:
        raise FileNotFoundError(f"no committed rollup state in {state_dir}")
    return spark.read.parquet(os.path.join(state_dir, committed["dir"]))


def streaming_rollup(
    stream_df: DataFrame,
    keys: list[str],
    value_col: str,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incrementally-maintained aggregate through a real stream: each
    micro-batch folds into PARTIAL rollup state (operators.rollup) and
    merges with the committed state table (read via read_rollup_state).

    Per-batch cost is batch-size + group-cardinality, independent of
    history — the streaming twin of m7's batch identity
    merge(partial(old), partial(new)) == partial(all).

    Delivery/restart contract (ADVICE r5): foreachBatch is AT-LEAST-ONCE
    — after a crash Spark re-delivers the last unacknowledged epoch — so
    the merge must be idempotent per epoch and the state swap must never
    destroy the previous version. `_epoch_step` is that state machine,
    shared with streaming_hll_registers; only the merge differs:
      * each epoch writes to its own subdir `v<epoch>` and then commits
        by replacing a pointer file (`_COMMITTED`, recording {epoch,
        dir}) through sources.maintenance.write_json_atomic, the engine's
        single durable writer (tmp, fsync, rename);
      * a re-delivered epoch (epoch <= committed epoch) is skipped, so
        the non-transactional double-merge can't double-count;
      * a crash mid-write leaves the pointer on the previous version —
        readers never observe a torn overwrite and the next batch merges
        against intact state (the old read-merge-OVERWRITE shape reset
        all state to the lone new delta in exactly that crash window).
    Versions older than the previous commit are pruned best-effort, so
    the state dir holds at most the committed and the previous version.
    A production deployment gets the same guarantee from a Delta/Iceberg
    MERGE — the merge logic is identical, only the commit protocol moves
    into the table format.
    """
    def upd(batch_df: DataFrame, epoch: int) -> None:
        _rollup_update(batch_df, epoch, keys, value_col, state_dir)

    return (
        stream_df.writeStream.foreachBatch(upd)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _epoch_step(
    batch_df: DataFrame,
    epoch: int,
    state_dir: str,
    merge: Callable[[DataFrame, DataFrame | None], DataFrame],
) -> bool:
    """One epoch of the versioned state both streaming state tables
    share. `merge(batch_df, prev)` folds the batch into the committed
    state (prev is None before the first commit). Returns False when
    the epoch was skipped as re-delivered."""
    import os
    import shutil

    from ..sources.maintenance import write_json_atomic

    committed = _rollup_committed(state_dir)
    if committed is not None and epoch <= committed["epoch"]:
        return False  # re-delivered epoch: already folded into state
    # explicit committed-pointer probe — a bare except around the read
    # would silently reset state on ANY transient read failure (the
    # jdbc_idempotent_append lesson from ADVICE r4)
    prev = None if committed is None else batch_df.sparkSession.read.parquet(
        os.path.join(state_dir, committed["dir"])
    )
    # materialize (localCheckpoint) BEFORE writing so the write never
    # scans files it is about to replace; write the new version dir
    # fully, then flip the pointer atomically
    vdir = f"v{epoch}"
    merge(batch_df, prev).localCheckpoint(eager=True).write.mode(
        "overwrite"
    ).parquet(os.path.join(state_dir, vdir))
    write_json_atomic(
        os.path.join(state_dir, _ROLLUP_POINTER), {"epoch": epoch, "dir": vdir}
    )
    if committed is not None:  # prune versions behind the previous commit
        for name in os.listdir(state_dir):
            if (
                name.startswith("v")
                and name not in (vdir, committed["dir"])
                and name[1:].isdigit()
                and int(name[1:]) < committed["epoch"]
            ):
                shutil.rmtree(os.path.join(state_dir, name), ignore_errors=True)
    return True


def _rollup_update(
    batch_df: DataFrame,
    epoch: int,
    keys: list[str],
    value_col: str,
    state_dir: str,
) -> bool:
    """streaming_rollup's foreachBatch body: `_epoch_step` with a
    partial-rollup merge."""
    from ..operators.rollup import merge_rollups, partial_rollup

    def merge(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        delta = partial_rollup(batch, keys, value_col)
        return delta if prev is None else merge_rollups([prev, delta], keys)

    return _epoch_step(batch_df, epoch, state_dir, merge)


def streaming_hll_registers(
    stream_df: DataFrame,
    keys: list[str],
    value_col: str,
    state_dir: str,
    checkpoint_dir: str,
    b: int = 9,
) -> StreamingQuery:
    """Approximate COUNT(DISTINCT) maintained through a real stream:
    each micro-batch's HLL registers (sketches.hll_registers) merge
    into committed per-key register state via union + MAX, through the
    same `_epoch_step` as streaming_rollup (epoch skip, versioned dir,
    durable pointer flip, pruning of superseded versions).

    The sketch twin is STRICTLY easier than the sum twin: register
    MAX is idempotent per row — even a non-transactional double-merge
    of a re-delivered epoch cannot corrupt the sketch (max(a, a) = a),
    so the epoch skip here is a cost optimization, not a correctness
    requirement (for SUM it is load-bearing). State per key is 2^b
    register rows regardless of stream length — the property that
    makes distinct-user counting over an unbounded stream feasible at
    all; exact distinct state grows with the key's cardinality.

    Read back with read_rollup_state (shared pointer format) and
    collapse with sketches.hll_estimate."""

    def upd(batch_df: DataFrame, epoch: int) -> None:
        _hll_update(batch_df, epoch, keys, value_col, state_dir, b)

    return (
        stream_df.writeStream.foreachBatch(upd)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _hll_update(
    batch_df: DataFrame,
    epoch: int,
    keys: list[str],
    value_col: str,
    state_dir: str,
    b: int = 9,
) -> bool:
    """streaming_hll_registers' foreachBatch body: `_epoch_step` with a
    register union + MAX merge."""
    from ..operators.sketches import hll_registers

    def merge(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        delta = hll_registers(batch, value_col, keys, b)
        if prev is None:
            return delta
        return (
            prev.unionByName(delta)
            .groupBy(*keys, "bucket")
            .agg(F.max("m_reg").alias("m_reg"))
        )

    return _epoch_step(batch_df, epoch, state_dir, merge)
