"""Tiny loan-load run through the benchmark's own loader and checks: a
2-page x 500-row backfill (paged ingest, clean, forward fill, star init,
fact), one hourly SCD2 increment (7 snaptable merges, fact append), then
every output check of perfbench/checks.py — row accounting, SCD
invariants, SCD counts against a pandas replay, FK resolution and a
DuckDB whole-pipeline replay of the per-status measures.

The perfbench modules are imported from their directory through
sys.path, exactly as perfbench/run.py imports them. Seed 1 is the
benchmark's default seed; at this size the generator needs at least 36
distinct backfill guarantors to draw an hour's changed keys from, which
seed 1 has."""

from __future__ import annotations

import os
import sys

import pytest

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)
PAGES, PAGE_ROWS, DELTA_ROWS = 2, 500, 200


@pytest.fixture(scope="module")
def perfbench():
    sys.path.insert(0, PERFBENCH)
    try:
        import checks
        import gen
        import loadbench
        from spans import Tracer

        yield gen, loadbench, checks, Tracer
    finally:
        sys.path.remove(PERFBENCH)


def test_tiny_backfill_and_increment_pass_checks(spark, tmp_path, perfbench):
    gen, lb, checks, Tracer = perfbench
    inputs = gen.build_inputs(
        1, PAGES, PAGE_ROWS, 1, DELTA_ROWS, str(tmp_path / "inputs")
    )
    tracer = Tracer(False)
    tracer.bind(spark)
    bench = lb.LoanBench(spark, tracer, inputs, PAGE_ROWS, DELTA_ROWS)
    wh = lb.Warehouse(str(tmp_path / "warehouse"))
    bench.backfill(wh)
    bench.increment(wh, 0)

    checker = checks.Checker(wh, inputs, 1)
    try:
        results = [
            r
            for check in (
                checker.ingest_and_staging, checker.scd_invariants,
                checker.scd_counts, checker.fact_fks, checker.status_replay,
            )
            for r in check()
        ]
    finally:
        checker.close()
    names = {name for name, _ok, _detail in results}
    assert {"ingested_rows", "delta0_rows", "scd_counts_delta0",
            "fact_fks_resolve", "status_measures_replay"} <= names
    failed = [r for r in results if not r[1]]
    assert not failed, failed
