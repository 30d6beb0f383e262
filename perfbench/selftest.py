"""Self-test of the benchmark itself, not of the loan pipeline:

1. the same seed gives byte-identical pages and dictionaries, and another
   seed gives other pages;
2. the output checks pass on a freshly published warehouse, and each fault
   injected into a COPY of that warehouse (or of a recorded visual) makes
   its check fail. Faults never touch the program or the original output.

    python3 perfbench/selftest.py

Prints one line per assertion and exits 0 when all hold. Takes about a
minute: one Spark session, one backfill and one hourly page.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402  (sets the paths and sizes the benchmark uses)


def _digest(d: str) -> dict[str, str]:
    out = {}
    for sub, _, files in os.walk(d):
        for f in files:
            if f.endswith((".jsonl", ".csv")):
                p = os.path.join(sub, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _copy_warehouse(src: str, dst: str) -> None:
    """Copy a warehouse and repoint the copied snaptable manifests, which
    hold absolute file paths, at the copy's files."""
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    for sub, _, files in os.walk(os.path.join(dst, "star")):
        for f in files:
            if f.startswith("v") and f.endswith(".json"):
                p = os.path.join(sub, f)
                with open(p, encoding="utf-8") as fh:
                    text = fh.read()
                with open(p, "w", encoding="utf-8") as fh:
                    fh.write(text.replace(src, dst))


def _rewrite_parquet(path: str, select_sql: str) -> None:
    """Replace one parquet file by `select_sql` over it (`t` is the file)."""
    import duckdb

    tmp = path + ".tmp"
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}')")
        con.execute(f"COPY ({select_sql}) TO '{tmp}' (FORMAT parquet)")
    finally:
        con.close()
    os.replace(tmp, path)
    # Hadoop's local file system would reject the rewrite against its checksum
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _first_file(d: str) -> str:
    for sub, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                return os.path.join(sub, f)
    raise FileNotFoundError(d)


def main() -> int:
    ok = True

    def expect(name: str, cond: bool) -> None:
        nonlocal ok
        ok &= cond
        print(f"{'ok  ' if cond else 'FAIL'} {name}")

    import gen

    base = os.path.join(run.WORK, "selftest")
    shutil.rmtree(base, ignore_errors=True)
    args = (run.BASE_PAGES, run.PAGE_ROWS, 3, run.DELTA_ROWS)
    a = gen.build_inputs(7, *args, os.path.join(base, "a"))
    gen.build_inputs(7, *args, os.path.join(base, "b"))
    gen.build_inputs(8, *args, os.path.join(base, "c"))
    da, db, dc = (_digest(os.path.join(base, x)) for x in "abc")
    expect("same seed, byte-identical pages and dictionaries", da == db and len(da) > 10)
    expect("other seed, other pages", da != dc)

    run._prepare_env(os.path.join(base, "run"), traced=False)
    sys.path.insert(0, run.ROOT)
    import loadbench as lb
    from checks import Checker
    from etl_pipline_ibrd_loan_system_spark.session import get_session
    from spans import Tracer

    spark = get_session("perfbench-selftest")
    try:
        bench = lb.LoanBench(spark, Tracer(False), a, run.PAGE_ROWS, run.DELTA_ROWS)
        wh = lb.Warehouse(os.path.join(base, "warehouse"))
        bench.backfill(wh)
        bench.increment(wh, 0)
        wh_loads = wh.loads
        seen = {(i, (2012, 2022)): bench.visual(wh, v, (2012, 2022))
                for i, v in enumerate(lb.VISUALS)}

        def checks(w, visuals=None):
            c = Checker(w, a, hours_consumed=1)
            try:
                res = (c.ingest_and_staging() + c.scd_invariants() + c.scd_counts()
                       + c.fact_fks() + c.status_replay()
                       + c.visuals(visuals or seen, lb.VISUALS))
            finally:
                c.close()
            return {name: good for name, good, _ in res}

        clean = checks(wh)
        expect("every check passes on the published warehouse", all(clean.values()))

        def faulted(label: str, inject, check: str, visuals=None) -> None:
            copy = lb.Warehouse(os.path.join(base, "faulted"))
            _copy_warehouse(wh.root, copy.root)
            copy.loads = wh_loads
            inject(copy)
            expect(f"fault '{label}' fails {check}", not checks(copy, visuals)[check])

        faulted("one landed row dropped",
                lambda w: _rewrite_parquet(_first_file(w.landing),
                                           "SELECT * FROM t LIMIT (SELECT count(*) - 1 FROM t)"),
                "ingested_rows")
        faulted("a fact FK pointed nowhere",
                lambda w: _rewrite_parquet(_first_file(w.fact_dir(0)),
                                           "SELECT * REPLACE (CAST(-1 AS BIGINT) AS fk_country) FROM t"),
                "fact_fks_resolve")
        faulted("a fact principal nudged",
                lambda w: _rewrite_parquet(
                    _first_file(w.fact_dir(0)),
                    "SELECT * REPLACE (CAST(original_principal_amount + 1 AS DECIMAL(18,0)) "
                    "AS original_principal_amount) FROM t"),
                "status_measures_replay")

        def duplicate_current(w):
            from etl_pipline_ibrd_loan_system_spark.sources import snaptable

            m = snaptable.read_manifest(os.path.join(w.star, "dim_region"))
            path = next(iter(m["buckets"].values()))[0].removeprefix("file:")
            _rewrite_parquet(path, "SELECT * FROM t UNION ALL "
                                   "(SELECT * FROM t WHERE is_current LIMIT 1)")
        faulted("a current dimension row duplicated", duplicate_current,
                "scd_invariants_dim_region")

        def t1_missed(w):
            from etl_pipline_ibrd_loan_system_spark.sources import snaptable

            root = os.path.join(w.star, "dim_guarantor")
            m = snaptable.read_manifest(root)
            for b in m["touched_buckets"]:
                for p in m["buckets"][str(b)]:
                    _rewrite_parquet(p.removeprefix("file:"),
                                     "SELECT * REPLACE ('zz' AS guarantor_country_code) FROM t")
        faulted("guarantor country codes overwritten", t1_missed, "scd_counts_delta0")

        bad = dict(seen)
        key = next(iter(bad))
        bad[key] = [tuple(r[:-1]) + (r[-1] + 1,) for r in bad[key]]
        faulted("a recorded visual altered", lambda w: None, "dashboard_visuals", bad)
        unsorted = dict(seen)
        key = next(k for k in unsorted if lb.VISUALS[k[0]].sort == "year")
        unsorted[key] = unsorted[key][::-1]
        faulted("a visual's rows out of order", lambda w: None, "dashboard_visuals", unsorted)
    finally:
        run._stop_spark(spark)
        shutil.rmtree(base, ignore_errors=True)
    print(json.dumps({"selftest": "pass" if ok else "fail"}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
