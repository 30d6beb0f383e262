"""Structured Streaming semantics beyond the batch-parity oracles:
watermark late-data dropping in append mode (deterministic two-batch
file stream). Batch/stream parity of windows and the stateful operator
are covered by oracles s1/h2/h3/st1."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.LongType()),
    ]
)


def _write(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_watermark_drops_late_rows(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(h, m):
        return t0 + dt.timedelta(hours=h, minutes=m)

    # batch 1: two events in window 0, one each in windows 1 and 2
    _write(spark, [(at(0, 10), 1), (at(0, 20), 1), (at(1, 10), 1), (at(2, 10), 1)], src)

    from etl_pipline_ibrd_loan_system_spark.streaming.microbatch import (
        tumbling_window_agg,
    )

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    agg = tumbling_window_agg(
        stream,
        ts_col="ts",
        window="1 hour",
        group_cols=[],
        aggs=[F.count(F.lit(1)).alias("n")],
        watermark="30 minutes",
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_test")
        .start()
    )
    try:
        q.processAllAvailable()  # watermark now 02:10 - 30m = 01:40
        # batch 2: a LATE event for window 0 (dropped) + one in window 3
        _write(spark, [(at(0, 30), 99), (at(3, 30), 1)], src)
        q.processAllAvailable()
        got = {
            r.window_start: r.n for r in spark.table("wm_test").collect()
        }
    finally:
        q.stop()
    # window 0 finalized WITHOUT the late row; window 3 still open
    assert got[at(0, 0)] == 2
    assert got[at(1, 0)] == 1
    assert got[at(2, 0)] == 1
    assert at(3, 0) not in got


def test_foreach_batch_idempotent_sink(spark, tmp_path):
    """The reference's JDBC append, streamed: foreachBatch + key-anti-join
    idempotent sink = exactly-once even if a batch function re-runs."""
    import datetime as dt

    from etl_pipline_ibrd_loan_system_spark.sources.sinks import idempotent_append
    from etl_pipline_ibrd_loan_system_spark.streaming.microbatch import (
        foreach_batch_append,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    t0 = dt.datetime(2024, 1, 1)
    _write(spark, [(t0, 1), (t0, 2)], src)

    def batch_fn(batch_df, epoch_id):
        idempotent_append(spark, batch_df.withColumn("k", F.col("v")), sink, "k")
        # simulate an at-least-once redelivery of the same batch
        idempotent_append(spark, batch_df.withColumn("k", F.col("v")), sink, "k")

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = foreach_batch_append(stream, batch_fn, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(sink)
    assert rows.count() == 2  # duplicated delivery did not duplicate rows


def test_streaming_dedup_across_batches(spark, tmp_path):
    """A duplicate key arriving in a LATER micro-batch (within the
    watermark horizon) is suppressed; new keys still flow through."""
    src = str(tmp_path / "dedup_src")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    from etl_pipline_ibrd_loan_system_spark.streaming.microbatch import (
        streaming_dedup,
    )

    KSCHEMA = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("k", T.LongType()),
        ]
    )

    def write(rows):
        spark.createDataFrame(rows, KSCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write([(t0, 1), (t0 + dt.timedelta(minutes=1), 2)])
    stream = spark.readStream.schema(KSCHEMA).parquet(src)
    out = streaming_dedup(stream, ["k"], "ts", watermark="1 hour")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_t")
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(
            r["k"] for r in spark.table("dedup_t").collect()
        ) == [1, 2]
        # batch 2: key 1 repeats (suppressed), key 3 is new (emitted)
        write([(t0 + dt.timedelta(minutes=5), 1), (t0 + dt.timedelta(minutes=6), 3)])
        q.processAllAvailable()
        assert sorted(
            r["k"] for r in spark.table("dedup_t").collect()
        ) == [1, 2, 3]
    finally:
        q.stop()


def test_streaming_rollup_matches_full_recompute(spark, tmp_path):
    """foreachBatch incremental rollup: after draining a multi-batch
    stream, the maintained state equals a full-table recompute — the
    streaming twin of m7's merge identity. maxFilesPerTrigger=1 forces
    one micro-batch per staged file, so the merge path (not just the
    first-batch path) is exercised."""
    from etl_pipline_ibrd_loan_system_spark.operators.rollup import (
        finalize_rollup,
        partial_rollup,
    )
    from etl_pipline_ibrd_loan_system_spark.streaming.microbatch import (
        read_rollup_state,
        streaming_rollup,
    )

    src = str(tmp_path / "roll_src")
    state = str(tmp_path / "roll_state")
    ckpt = str(tmp_path / "roll_ckpt")
    t0 = dt.datetime(2024, 1, 1)
    batches = [
        [(t0, 10), (t0 + dt.timedelta(hours=1), 20)],
        [(t0, 5), (t0 + dt.timedelta(hours=2), -3)],
        [(t0 + dt.timedelta(hours=3), 7)],
    ]
    for rows in batches:
        _write(spark, rows, src)
    events = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("k", (F.col("v") % 2 == 0).cast("string"))
    )
    q = streaming_rollup(events, ["k"], "v", state, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        tuple(r)
        for r in finalize_rollup(read_rollup_state(spark, state), ["k"]).collect()
    }
    full = spark.createDataFrame(
        [r for b in batches for r in b], SCHEMA
    ).withColumn("k", (F.col("v") % 2 == 0).cast("string"))
    want = {
        tuple(r)
        for r in finalize_rollup(partial_rollup(full, ["k"], "v"), ["k"]).collect()
    }
    assert got == want and got


def test_streaming_rollup_redelivered_epoch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering an already-committed
    epoch (crash-before-ack replay) must not double-merge its delta, the
    commit pointer must advance only on NEW epochs, and a stale replay of
    an older epoch after later commits must also be a no-op."""
    from etl_pipline_ibrd_loan_system_spark.operators.rollup import (
        finalize_rollup,
    )
    from etl_pipline_ibrd_loan_system_spark.streaming.microbatch import (
        _rollup_committed,
        _rollup_update,
        read_rollup_state,
    )

    state = str(tmp_path / "re_state")
    (tmp_path / "re_state").mkdir()
    b0 = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), 10), (dt.datetime(2024, 1, 1, 1), 20)], SCHEMA
    ).withColumn("k", F.lit("a"))
    b1 = spark.createDataFrame(
        [(dt.datetime(2024, 1, 2), 5)], SCHEMA
    ).withColumn("k", F.lit("a"))

    def totals():
        return {
            tuple(r)
            for r in finalize_rollup(read_rollup_state(spark, state), ["k"]).collect()
        }

    assert _rollup_update(b0, 0, ["k"], "v", state) is True
    after_e0 = totals()
    # crash-replay of epoch 0: skipped, state and pointer untouched
    assert _rollup_update(b0, 0, ["k"], "v", state) is False
    assert totals() == after_e0
    assert _rollup_committed(state)["epoch"] == 0
    # new epoch merges once
    assert _rollup_update(b1, 1, ["k"], "v", state) is True
    after_e1 = totals()
    assert after_e1 != after_e0
    # stale replay of epoch 0 AFTER epoch 1 committed: still a no-op
    assert _rollup_update(b0, 0, ["k"], "v", state) is False
    assert totals() == after_e1
    assert _rollup_committed(state)["epoch"] == 1


def test_session_windows_merge_across_batches(spark, tmp_path):
    """s3's load-bearing semantics: a session OPEN at the end of one
    micro-batch must MERGE with events arriving in later batches (state
    store), and two separate sessions must merge into one when a
    bridging event lands between them. Three single-file batches
    (maxFilesPerTrigger=1); final result must equal the batch
    session_window over the union."""
    import os

    src = str(tmp_path / "sess_src")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(m, s=0):
        return t0 + dt.timedelta(minutes=m, seconds=s)

    # user A: batch1 event at 0:00, batch2 at 0:03 (extends the open
    # session; gap 5m), batch3 at 0:20 (new session).
    # user B: batch1 at 0:00 and batch2 at 0:10 (two sessions so far),
    # batch3 at 0:05 BRIDGES them into one 0:00-0:10 session.
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user", T.StringType()),
        ]
    )
    batches = [
        [(at(0), "A"), (at(0), "B")],
        [(at(3), "A"), (at(10), "B")],
        [(at(20), "A"), (at(5), "B")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, f"b{i}")
        )

    from etl_pipline_ibrd_loan_system_spark.streaming.microbatch import (
        run_stream_to_memory,
        session_window_agg,
    )

    def agg(df):
        return session_window_agg(
            df,
            ts_col="ts",
            gap="5 minutes",
            group_cols=["user"],
            aggs=[F.count(F.lit(1)).alias("n")],
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = run_stream_to_memory(agg(stream), "sess_merge", output_mode="complete")
    try:
        q.processAllAvailable()
        got = {
            (r["user"], r["session_start"], r["session_end"], r["n"])
            for r in spark.table("sess_merge").collect()
        }
    finally:
        q.stop()
    flat = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    want = {
        (r["user"], r["session_start"], r["session_end"], r["n"])
        for r in agg(flat).collect()
    }
    assert got == want
    # the bridge actually merged: B has ONE session of 3 events
    b_sessions = [g for g in got if g[0] == "B"]
    assert len(b_sessions) == 1 and b_sessions[0][3] == 3


def test_hll_state_machine_redelivery_and_double_merge_safe(spark, tmp_path):
    """The HLL epoch updater skips re-delivered epochs like the rollup
    one — AND, unlike sum, even a forced double-merge of the same
    batch cannot change the sketch (register MAX is idempotent), so
    the final estimate survives both failure modes."""
    from etl_pipline_ibrd_loan_system_spark.operators.sketches import (
        hll_distinct,
        hll_estimate,
    )
    from etl_pipline_ibrd_loan_system_spark.streaming.microbatch import (
        _hll_update,
        read_rollup_state,
    )

    state = str(tmp_path / "state")
    import os

    os.makedirs(state)
    b1 = spark.createDataFrame(
        [("a", i) for i in range(50)] + [("b", i) for i in range(20)],
        "k string, uid long",
    )
    b2 = spark.createDataFrame(
        [("a", i) for i in range(25, 75)], "k string, uid long"
    )
    assert _hll_update(b1, 0, ["k"], "uid", state)
    assert not _hll_update(b1, 0, ["k"], "uid", state)  # re-delivery: skip
    assert _hll_update(b2, 1, ["k"], "uid", state)
    est = {
        r.k: r.est_distinct
        for r in hll_estimate(read_rollup_state(spark, state), ["k"]).collect()
    }

    full = b1.unionByName(b2)
    exact = {
        r.k: r.est_distinct for r in hll_distinct(full, "uid", ["k"]).collect()
    }
    assert est == exact  # merged stream state == batch sketch, bit-for-bit

    # forced double-merge of epoch 2 content via a higher epoch id:
    # max-merge must leave the registers (hence estimates) unchanged
    assert _hll_update(b2, 2, ["k"], "uid", state)
    est2 = {
        r.k: r.est_distinct
        for r in hll_estimate(read_rollup_state(spark, state), ["k"]).collect()
    }
    assert est2 == est


def test_hll_state_prunes_superseded_versions(spark, tmp_path):
    """Three HLL epochs leave only the committed and the previous
    version dir (the rollup pruning rule), and pruning does not change
    the estimates: they still equal the batch sketch of all rows."""
    import os

    from etl_pipline_ibrd_loan_system_spark.operators.sketches import (
        hll_distinct,
        hll_estimate,
    )
    from etl_pipline_ibrd_loan_system_spark.streaming.microbatch import (
        _hll_update,
        read_rollup_state,
    )

    state = str(tmp_path / "hll_state")
    os.makedirs(state)
    batches = [
        spark.createDataFrame(
            [("a", i) for i in range(lo, lo + 40)] + [("b", lo + i) for i in range(5)],
            "k string, uid long",
        )
        for lo in (0, 30, 60)
    ]
    for epoch, batch in enumerate(batches):
        assert _hll_update(batch, epoch, ["k"], "uid", state)
    assert sorted(n for n in os.listdir(state) if n.startswith("v")) == ["v1", "v2"]

    est = {
        r.k: r.est_distinct
        for r in hll_estimate(read_rollup_state(spark, state), ["k"]).collect()
    }
    full = batches[0].unionByName(batches[1]).unionByName(batches[2])
    exact = {
        r.k: r.est_distinct for r in hll_distinct(full, "uid", ["k"]).collect()
    }
    assert est == exact
