"""Sink semantics (SURVEY §2.A A6/A7/A10): parquet fast-load,
partitioned overwrite layout, and the idempotent at-least-once append
that backs the resumable paged ingest (A2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipline_ibrd_loan_system_spark.catalog import load_table
from etl_pipline_ibrd_loan_system_spark.sources import sinks


def test_fast_load_appends(spark, sf_dir, tmp_path):
    path = str(tmp_path / "sink")
    region = load_table(spark, sf_dir, "region")
    sinks.fast_load(region, path)
    sinks.fast_load(region, path)
    assert spark.read.parquet(path).count() == region.count() * 2


def test_partitioned_overwrite_prunes(spark, sf_dir, tmp_path):
    path = str(tmp_path / "part")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    sinks.partitioned_overwrite(orders, path, ["o_year"])
    one_year = spark.read.parquet(path).where(F.col("o_year") == 1995)
    plan = one_year._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the scan must carry a partition filter, and the
    # result must match a direct filter
    assert "o_year" in plan
    direct = orders.where(F.col("o_year") == 1995).count()
    assert one_year.count() == direct


def test_idempotent_append_skips_seen_keys(spark, sf_dir, tmp_path):
    path = str(tmp_path / "idem")
    region = load_table(spark, sf_dir, "region")
    n1 = sinks.idempotent_append(spark, region, path, "r_regionkey")
    assert n1 == region.count()
    # replay the same batch: nothing new written
    n2 = sinks.idempotent_append(spark, region, path, "r_regionkey")
    assert n2 == 0
    assert spark.read.parquet(path).count() == region.count()
    # a genuinely new key goes through
    extra = region.limit(1).withColumn("r_regionkey", F.lit(9999))
    n3 = sinks.idempotent_append(spark, extra, path, "r_regionkey")
    assert n3 == 1


# -- JDBC round trips against embedded Derby (VERDICT r3 item 5) --------
# Derby ships on Spark's classpath (metastore dependency), so A6/A7 get a
# real database round trip with zero extra dependencies or network: the
# embedded driver runs inside the same JVM the executors use.

def _derby(tmp_path):
    url = f"jdbc:derby:{tmp_path}/derby_db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    return url, props


def test_jdbc_overwrite_round_trip(spark, sf_dir, tmp_path):
    url, props = _derby(tmp_path)
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    sinks.jdbc_overwrite(region, url, "region_a6", properties=props)
    # overwrite again: still exactly one copy
    sinks.jdbc_overwrite(region, url, "region_a6", properties=props)
    back = spark.read.jdbc(url=url, table="region_a6", properties=props)
    assert back.count() == region.count()
    assert sorted(r[0] for r in back.select("r_regionkey").collect()) == sorted(
        r[0] for r in region.select("r_regionkey").collect()
    )


def test_jdbc_append_accumulates(spark, sf_dir, tmp_path):
    url, props = _derby(tmp_path)
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    sinks.jdbc_overwrite(region, url, "region_a7", properties=props)
    sinks.jdbc_append(region, url, "region_a7", properties=props)
    back = spark.read.jdbc(url=url, table="region_a7", properties=props)
    assert back.count() == region.count() * 2


def test_jdbc_idempotent_append_skips_seen_keys(spark, sf_dir, tmp_path):
    url, props = _derby(tmp_path)
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    n1 = sinks.jdbc_idempotent_append(
        spark, region, url, "region_idem", "r_regionkey", properties=props
    )
    assert n1 == region.count()
    # replaying the same micro-batch writes nothing
    n2 = sinks.jdbc_idempotent_append(
        spark, region, url, "region_idem", "r_regionkey", properties=props
    )
    assert n2 == 0
    # a fresh key goes through
    extra = region.limit(1).withColumn("r_regionkey", F.lit(9999))
    n3 = sinks.jdbc_idempotent_append(
        spark, extra, url, "region_idem", "r_regionkey", properties=props
    )
    assert n3 == 1
    back = spark.read.jdbc(url=url, table="region_idem", properties=props)
    assert back.count() == region.count() + 1


def test_jdbc_idempotent_append_replays_after_partial_write(spark, sf_dir, tmp_path):
    """Failure injection (VERDICT r4 item 6): a batch dies mid-write —
    some rows are committed, the offset cursor never advances, and the
    whole batch is replayed. The replay must append exactly the missing
    rows: no duplicates, no loss."""
    url, props = _derby(tmp_path)
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    keys = sorted(r[0] for r in region.select("r_regionkey").collect())
    # crash after 3 of 5 rows landed (plain append = the partial commit)
    partial = region.where(F.col("r_regionkey").isin(keys[:3]))
    sinks.jdbc_append(partial, url, "region_crash", properties=props)
    # replay of the FULL batch — at-least-once delivery after the crash
    n = sinks.jdbc_idempotent_append(
        spark, region, url, "region_crash", "r_regionkey", properties=props
    )
    assert n == 2  # only the rows the crash lost
    back = spark.read.jdbc(url=url, table="region_crash", properties=props)
    assert back.count() == region.count()
    assert sorted(r[0] for r in back.select("r_regionkey").collect()) == keys
    # second replay is a clean no-op
    assert (
        sinks.jdbc_idempotent_append(
            spark, region, url, "region_crash", "r_regionkey", properties=props
        )
        == 0
    )


def test_jdbc_idempotent_append_surfaces_read_failures(spark, sf_dir, tmp_path):
    """ADVICE r4: a failing existing-keys read that is NOT a missing
    table (here: unreachable database) must raise, never silently treat
    the batch as all-fresh."""
    import pytest

    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    bad_url = f"jdbc:derby:{tmp_path}/nonexistent_db"  # no ;create=true
    with pytest.raises(Exception, match="(?i)not found|failed"):
        sinks.jdbc_idempotent_append(
            spark, region, bad_url, "region_x", "r_regionkey",
            properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
        )


def test_compact_small_files_preserves_rows(spark, sf_dir, tmp_path):
    """40 tiny files -> size-targeted few files, same rows, atomic
    in-place swap (path unchanged, no temp/retired dirs left)."""
    import os

    from etl_pipline_ibrd_loan_system_spark.sources.maintenance import (
        compact_small_files,
        data_file_stats,
    )

    path = str(tmp_path / "frag")
    src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    src.repartition(40).write.parquet(path)
    before = data_file_stats(spark, path)
    assert before["n_files"] == 40

    target = max(1, before["total_bytes"] // 3)
    stats = compact_small_files(spark, path, target_file_bytes=target)
    assert stats["after"]["n_files"] <= 4
    assert stats["n_rows"] == src.count()
    got = spark.read.parquet(path)
    assert got.count() == src.count()
    assert sorted(r["o_orderkey"] for r in got.select("o_orderkey").collect()) == sorted(
        r["o_orderkey"] for r in src.select("o_orderkey").collect()
    )
    assert not os.path.exists(path + ".compact_tmp")
    assert not os.path.exists(path + ".pre_compact")


def test_compact_with_sort_clusters_rowgroups(spark, sf_dir, tmp_path):
    """sort_cols compaction must produce range-disjoint files so parquet
    min/max stats make key-range scans selective."""
    import os

    from etl_pipline_ibrd_loan_system_spark.sources.maintenance import (
        compact_small_files,
    )

    path = str(tmp_path / "frag2")
    src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    src.repartition(20).write.parquet(path)
    compact_small_files(
        spark,
        path,
        target_file_bytes=max(1, src.count() * 10),
        sort_cols=["o_orderkey"],
    )
    # per-file key ranges must not overlap (range partitioning + local sort)
    import pyarrow.parquet as pq

    ranges = []
    for f in os.listdir(path):
        if f.startswith(("_", ".")) or not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(path, f), columns=["o_orderkey"])
        ks = t.column("o_orderkey").to_pylist()
        assert ks == sorted(ks), "file not internally sorted"
        ranges.append((min(ks), max(ks)))
    ranges.sort()
    assert len(ranges) > 1
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo, f"overlapping file key ranges {a_hi} > {b_lo}"


def test_write_json_atomic_failure_keeps_previous_file(tmp_path, monkeypatch):
    """A write that fails before the rename (mid-dump, or at fsync)
    leaves the previous file byte-identical, creates no target where
    none existed, and leaves no temp file behind."""
    import os

    import pytest

    from etl_pipline_ibrd_loan_system_spark.sources.maintenance import (
        write_json_atomic,
    )

    target = str(tmp_path / "_MANIFEST.json")
    write_json_atomic(target, {"files": [{"file": "a", "n_rows": 3}], "total_rows": 3})
    with open(target, "rb") as fh:
        before = fh.read()

    # json.dump fails part-way: the first keys are already in the temp file
    with pytest.raises(TypeError):
        write_json_atomic(target, {"files": ["a", "b"], "bad": object()})
    fresh = str(tmp_path / "fresh.json")
    with pytest.raises(TypeError):
        write_json_atomic(fresh, {"files": ["a"], "bad": object()})

    def failing_fsync(fd):
        raise OSError("disk gone")

    monkeypatch.setattr(os, "fsync", failing_fsync)
    with pytest.raises(OSError, match="disk gone"):
        write_json_atomic(target, {"files": [], "total_rows": 0})
    monkeypatch.undo()

    with open(target, "rb") as fh:
        assert fh.read() == before
    assert os.listdir(tmp_path) == ["_MANIFEST.json"]


def test_durable_write_and_file_listing_have_one_copy():
    """The fsync'd pointer write and the Hadoop file listing each live in
    one package module, sources/maintenance.py; every other sink, table
    and state machine calls write_json_atomic / data_files."""
    import pathlib

    import etl_pipline_ibrd_loan_system_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    for needle in ("os.fsync(", "listFiles("):
        hits = sorted(
            str(p.relative_to(root))
            for p in root.rglob("*.py")
            if needle in p.read_text(encoding="utf-8")
        )
        assert hits == ["sources/maintenance.py"], (needle, hits)
