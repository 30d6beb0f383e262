"""As-of (point-in-time) join — the canonical operator vanilla Spark
lacks, expressed scalably as union + window instead of a range join.

`asof_join(left, right, key, ts)`: for every left row, attach the most
recent right row with the same key and right.ts <= left.ts.

Implementation (no range explosion, no per-key collect):
  1. tag both inputs and union them on (key, ts) — one dataset, one
     schema, the right-side payload packed into ONE struct column that
     is null on left rows;
  2. window partitioned by key, ordered by (ts, side) with side
     ordering putting the right row FIRST on ties (<= semantics):
     `last(right_struct, ignorenulls=True)` over unbounded-preceding
     forward-fills each left row with the latest right ROW — a single
     struct fill, so every payload column (and the matched timestamp
     the tolerance gate checks) comes from the SAME right row; per-
     column fills would mix rows whenever the newest right row carries
     a null payload value (ADVICE r5);
  3. keep the left rows and unpack the struct.

Cost: ONE shuffle on the key (the window sort) — same order as the
equi-join the naive approach would need anyway, with none of the
O(|left| x |right-per-key|) intermediate a range-condition join
produces. Skewed keys: the window partitions by key, so a single
pathological key serializes — salt by time-bucket if that ever
matters (same trick as skew.salted_agg, carry across bucket borders
like window_ops.forward_fill).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_cols: list[str] | None = None,
    suffix: str = "_asof",
    tolerance_seconds: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Left as-of join; right payload columns arrive as `<col><suffix>`
    (null when no right row matches).

    `direction` follows pandas merge_asof: "backward" (default) matches
    the latest right row with right.ts <= left.ts, "forward" the
    earliest with right.ts >= left.ts (first over the FOLLOWING frame,
    with left rows sorting before right rows on tied ts so an equal-ts
    right row is matched), "nearest" whichever of the two is closer in
    time (tie -> backward, as in pandas). All three run over the same
    single (key) exchange — backward and forward differ only in frame
    and tie-break, and nearest plans two Window nodes over one
    partitioning.

    `tolerance_seconds` bounds match staleness: a matched right row
    further than the tolerance (in either direction) yields nulls,
    exactly as if it did not exist (the sensor-join semantics: a
    reading too stale is no reading). The matched row's ts travels
    inside the SAME filled struct as the payload, so the staleness gate
    always judges the row the payload came from — no extra shuffle,
    same single window."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown as-of direction {direction!r}")
    from pyspark.sql import types as T

    right_cols = right_cols or [c for c in right.columns if c not in (key, ts)]
    # One struct per right row: (matched ts, every payload column).
    # Null payload VALUES inside a non-null struct forward-fill as a
    # unit with the row, so a newer right row with a null payload
    # correctly yields null (not an older row's stale value).
    r_struct = F.struct(
        F.col(ts).alias("__m_ts"),
        *[F.col(c).alias(c) for c in right_cols],
    )
    r_struct_type = T.StructType(
        [T.StructField("__m_ts", right.schema[ts].dataType)]
        + [T.StructField(c, right.schema[c].dataType) for c in right_cols]
    )
    l_tag = left.select(
        F.col(key),
        F.col(ts),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in left.columns if c not in (key, ts)],
        F.lit(None).cast(r_struct_type).alias("__r_row"),
    )
    r_tag = right.select(
        F.col(key),
        F.col(ts),
        F.lit(0).alias("__side"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left.columns
            if c not in (key, ts)
        ],
        r_struct.alias("__r_row"),
    )
    unioned = l_tag.unionByName(r_tag)
    # backward: right rows sort before left rows at equal ts => <= semantics
    w_back = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward: left rows sort before right rows at equal ts => >= semantics
    w_fwd = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("__side").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    is_ts = isinstance(
        left.schema[ts].dataType, (T.TimestampType, T.TimestampNTZType)
    )

    def _age(m_row):  # absolute distance, microseconds or native units
        if is_ts:
            return F.abs(
                F.unix_micros(F.col(ts).cast("timestamp"))
                - F.unix_micros(m_row["__m_ts"].cast("timestamp"))
            )
        return F.abs(F.col(ts) - m_row["__m_ts"])

    if direction == "backward":
        filled = unioned.select(
            "*", F.last("__r_row", ignorenulls=True).over(w_back).alias("__m_row")
        )
    elif direction == "forward":
        filled = unioned.select(
            "*", F.first("__r_row", ignorenulls=True).over(w_fwd).alias("__m_row")
        )
    else:  # nearest: both fills over ONE key exchange, pick the closer
        both = unioned.select(
            "*",
            F.last("__r_row", ignorenulls=True).over(w_back).alias("__m_b"),
            F.first("__r_row", ignorenulls=True).over(w_fwd).alias("__m_f"),
        )
        pick_back = F.col("__m_f").isNull() | (
            F.col("__m_b").isNotNull()
            & (_age(F.col("__m_b")) <= _age(F.col("__m_f")))
        )
        filled = both.select(
            *[c for c in both.columns if c not in ("__m_b", "__m_f")],
            F.when(pick_back, F.col("__m_b"))
            .otherwise(F.col("__m_f"))
            .alias("__m_row"),
        )
    if tolerance_seconds is None:
        fresh = F.lit(True)
    elif is_ts:
        fresh = _age(F.col("__m_row")) <= F.lit(int(tolerance_seconds * 1_000_000))
    else:  # numeric event time: tolerance in the same unit
        fresh = _age(F.col("__m_row")) <= F.lit(tolerance_seconds)
    unpacked = [
        F.when(fresh, F.col(f"__m_row.{c}")).alias(f"{c}{suffix}")
        for c in right_cols
    ]
    out = filled.select(
        *[c for c in filled.columns if c not in ("__side", "__r_row", "__m_row")],
        *unpacked,
        F.col("__side"),
    )
    return out.filter(F.col("__side") == 1).drop("__side")
