"""Output checks, run after the timed region. Each returns (name, ok, detail).

The checks read the published files (snaptable manifests and their parquet
files, the fact parquet, the staging parquet) with DuckDB, and the raw
pages and dictionaries with pandas and DuckDB. None of them reads a value
that depends on the forward fill's tie order: `project_name_` is filled
over `loan_number` alone while a loan number repeats once per snapshot, so
which of a loan's rows lends its name is shuffle-order dependent. Hence
`dim_project`'s attribute values and its SCD change counts are left out
(`FILL_ORDER_EXCLUDED`); its keys and validity intervals are still checked.
"""

from __future__ import annotations

import csv
import os

import duckdb
import pandas as pd

from etl_pipline_ibrd_loan_system_spark.plans import loan_pipeline as lp
from etl_pipline_ibrd_loan_system_spark.sources import snaptable

import gen

FILL_ORDER_EXCLUDED = "dim_project attribute values and SCD counts (project_name_ fill order)"
CHECKED_DIMS = [name for name in lp.DIM_SPECS if name != "project"]


def _files(manifest: dict) -> list[str]:
    return [p.removeprefix("file:") for fl in manifest["buckets"].values() for p in fl]


def _parquet(files: list[str]) -> str:
    quoted = ", ".join(f"'{p}'" for p in files)
    return f"read_parquet([{quoted}], hive_partitioning = false)"


def scd_diff(root: str, manifest: dict, parent: int | None) -> dict:
    """Row-level SCD outcome of one commit of a snaptable dimension:
    inserted versions, expired versions, Type-1 updates in place, and the
    current row count after the commit."""
    name = os.path.basename(root).removeprefix("dim_")
    sk = manifest["sk_col"]
    t1 = lp.DIM_SPECS[name][2]
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW new AS SELECT * FROM {_parquet(_files(manifest))}")
        current = con.execute("SELECT count(*) FROM new WHERE is_current").fetchone()[0]
        if parent is None:
            inserts = con.execute("SELECT count(*) FROM new").fetchone()[0]
            return {"inserts": inserts, "expiries": 0, "t1_updates": 0, "current_rows": current}
        old = snaptable.read_manifest(root, parent)
        con.execute(f"CREATE VIEW old AS SELECT * FROM {_parquet(_files(old))}")
        inserts = con.execute(
            f"SELECT count(*) FROM new WHERE {sk} NOT IN (SELECT {sk} FROM old)").fetchone()[0]
        expiries = con.execute(
            f"SELECT count(*) FROM new n JOIN old o USING ({sk}) "
            "WHERE o.is_current AND NOT n.is_current").fetchone()[0]
        differs = " OR ".join(f"n.{c} IS DISTINCT FROM o.{c}" for c in t1) or "false"
        t1_updates = con.execute(
            f"SELECT count(*) FROM new n JOIN old o USING ({sk}) "
            f"WHERE o.is_current AND n.is_current AND ({differs})").fetchone()[0]
    finally:
        con.close()
    return {"inserts": inserts, "expiries": expiries, "t1_updates": t1_updates,
            "current_rows": current}


# ------------------------------------------------------------ expected SCD

def read_dicts(d: str) -> dict[str, dict[str, str]]:
    """The dictionary CSVs, lowercased like the reference reads them."""
    out = {}
    for name in os.listdir(d):
        with open(os.path.join(d, name), newline="", encoding="utf-8") as fh:
            rows = list(csv.reader(fh))[1:]
        out[name] = {k.lower(): v.lower() for k, v in rows}
    return out


def staged_dims(raw: pd.DataFrame, dicts: dict, merge: bool) -> dict[str, dict]:
    """The six checked dimensions' {BK: attrs} of a staging load, replayed
    in pandas from the raw rows: snapshot filter, lowercase, recode,
    borrower overwrite, null fill, BK encode, then one row per key (the
    smallest attrs, NULLs first, compared in the order the initial load
    (`merge` false) or a merge (T1, T2, fixed) lists them)."""
    kept = raw[raw["end_of_period"].isin(gen.SNAPSHOTS)]

    def low(c):
        return kept[c].str.lower()

    def recode(s, m):
        return s.map(lambda v: m.get(v, v) if isinstance(v, str) else v)

    status = recode(low("loan_status"), dicts["Status_Cleaning.csv"])
    ltype = recode(low("loan_type"), dicts["Type_Cleaning.csv"])
    country = recode(low("country"), dicts["Countries_Cleaning.csv"])
    guarantor = recode(low("guarantor"), dicts["Countries_Cleaning.csv"])
    region = recode(low("region"), dicts["Regions_Cleaning.csv"])
    over = country.map(dicts["Borrower_cleaning.csv"])
    borrower = over.where(over.notna(), low("borrower")).fillna(gen.NOT_SPECIFIED)
    guarantor = guarantor.fillna(gen.NOT_SPECIFIED)

    def bk(s, name):
        return s.map(lambda v: int(dicts[name][v]) if v in dicts[name] else None)

    frames = {
        "region": pd.DataFrame({"region_bk": bk(region, "regions_BK.csv"), "region": region}),
        "country": pd.DataFrame({"country_bk": bk(country, "country_BK.csv"),
                                 "country": country, "country_code": low("country_code")}),
        "borrower": pd.DataFrame({"borrower_bk": bk(borrower, "borrower_BK_updated.csv"),
                                  "borrower": borrower}),
        "guarantor": pd.DataFrame({"guarantor_bk": bk(guarantor, "country_BK.csv"),
                                   "guarantor": guarantor,
                                   "guarantor_country_code": low("guarantor_country_code")}),
        "loan_status": pd.DataFrame({"loan_status_bk": bk(status, "loan_status_BK.csv"),
                                     "loan_status": status}),
        "loan_type": pd.DataFrame({"loan_type_bk": bk(ltype, "loan_type_BK.csv"),
                                   "loan_type": ltype}),
    }
    out = {}
    for name, df in frames.items():
        key, attrs, t1, t2 = lp.DIM_SPECS[name]
        fixed = [a for a in attrs if a not in t1 and a not in t2]
        order = [*t1, *t2, *fixed] if merge else attrs
        df = df[df[key].notna()]
        df = df.sort_values([key, *order], na_position="first").drop_duplicates(key)
        out[name] = {int(r[0]): tuple(None if pd.isna(v) else v for v in r[1:])
                     for r in df[[key, *attrs]].itertuples(index=False)}
    return out


def expected_scd(base: pd.DataFrame, deltas: list[pd.DataFrame], dicts: dict) -> list[dict]:
    """Per delta, summed over the checked dims: inserts, expiries,
    t1_updates, replayed from the raw rows."""
    state = staged_dims(base, dicts, merge=False)
    out = []
    for delta in deltas:
        got = {"inserts": 0, "expiries": 0, "t1_updates": 0}
        for name, rows in staged_dims(delta, dicts, merge=True).items():
            _, attrs, t1, t2 = lp.DIM_SPECS[name]
            cur = state[name]
            for key, vals in rows.items():
                if key not in cur:
                    got["inserts"] += 1
                else:
                    old = dict(zip(attrs, cur[key]))
                    new = dict(zip(attrs, vals))
                    if any(old[c] != new[c] for c in t2):
                        got["inserts"] += 1
                        got["expiries"] += 1
                    elif any(old[c] != new[c] for c in t1):
                        got["t1_updates"] += 1
                cur[key] = vals
        out.append(got)
    return out


def read_raw(paths: list[str]) -> pd.DataFrame:
    return pd.concat([pd.read_json(p, lines=True, dtype=False, convert_dates=False) for p in paths],
                     ignore_index=True)


# ------------------------------------------------------------ measures

MEASURE_SQL = {
    "loans": "COUNT(*)",
    "number_of_loans": "COUNT(DISTINCT loan_number)",
    "loan_amount": "CAST(ROUND(SUM(CAST(original_principal_amount AS DECIMAL(18,4))), 2) AS DOUBLE)",
    "repaid": "CAST(ROUND(SUM(CAST(repaid AS DECIMAL(18,4))), 2) AS DOUBLE)",
    "due1": "CAST(ROUND(SUM(CAST(due AS DECIMAL(18,4))), 2) AS DOUBLE)",
    "disbursed_amount": "CAST(ROUND(SUM(CAST(disbursed_amount AS DECIMAL(18,4))), 2) AS DOUBLE)",
    "undisbursed_amount":
        "CAST(ROUND(SUM(CAST(undisbursed_amount AS DECIMAL(18,4))), 2) AS DOUBLE)",
    "average_interest_rate":
        "ROUND(CAST(SUM(CAST(interest_rate AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6)",
    "interest_income": "CAST(ROUND(SUM(CAST(disbursed_amount AS DECIMAL(18,4)) "
                       "* CAST(interest_rate / 100 AS DECIMAL(8,4))), 2) AS DOUBLE)",
    "borrowers": "COUNT(DISTINCT fk_borrower)",
    "guarantors": "COUNT(DISTINCT fk_guarantor)",
}
STATUS_MEASURES = ["loans", "loan_amount", "repaid", "due1", "disbursed_amount"]


def _fact_glob(fact_root: str) -> str:
    return f"read_parquet('{fact_root}/load=*/*.parquet', hive_partitioning = false)"


def _dim_view(con, star: str, name: str) -> None:
    m = snaptable.read_manifest(os.path.join(star, f"dim_{name}"))
    con.execute(f"CREATE OR REPLACE VIEW dim_{name} AS SELECT * FROM {_parquet(_files(m))}")


def visual_sql(v, years: tuple[int, int]) -> str:
    """DuckDB twin of one dashboard visual (a loadbench.Visual) over the
    published files."""
    year = "(f.end_of_period_sk // 10000)"
    cols = ", ".join(f"{MEASURE_SQL[m]} AS {m}" for m in v.measures)
    where = f"WHERE {year} BETWEEN {years[0]} AND {years[1]}"
    if v.attr is None:
        return f"SELECT {cols} FROM fact f {where}"
    if v.dim is None:
        return f"SELECT {year} AS {v.attr}, {cols} FROM fact f {where} GROUP BY 1"
    return (f"SELECT d.{v.attr}, {cols} FROM fact f JOIN dim_{v.dim} d "
            f"ON d.pk_{v.dim}_sk = f.fk_{v.dim} {where} GROUP BY 1")


def raw_status_sql(pages: list[str], dicts: dict) -> tuple[str, dict[str, pd.DataFrame]]:
    """DuckDB replay of per-status measure sums straight from the raw
    pages: the whole cleaning chain, then the rows whose every fact lookup
    resolves (all six BKs, a project id and the four dates)."""
    tables = {
        f"d{i}": pd.DataFrame(sorted(m.items()), columns=["k", "v"])
        for i, m in enumerate(dicts[n] for n in (
            "Status_Cleaning.csv", "Type_Cleaning.csv", "Countries_Cleaning.csv",
            "Regions_Cleaning.csv", "Borrower_cleaning.csv", "loan_status_BK.csv",
            "loan_type_BK.csv", "country_BK.csv", "regions_BK.csv",
            "borrower_BK_updated.csv"))
    }
    cols = ", ".join(f"'{n}': '{'VARCHAR' if t == 'string' else 'DOUBLE'}'"
                     for n, t in gen.RAW_COLUMNS)
    files = ", ".join(f"'{p}'" for p in pages)
    snaps = ", ".join(f"'{s}'" for s in gen.SNAPSHOTS)
    sql = f"""
    WITH raw AS (
      SELECT * FROM read_json([{files}], format = 'newline_delimited', columns = {{{cols}}})
    ), low AS (
      SELECT lower(loan_status) ls, lower(loan_type) lt, lower(country) c,
             lower(guarantor) g, lower(region) r, lower(borrower) b,
             lower(project_id) pid, loan_number,
             first_repayment_date, last_repayment_date, board_approval_date,
             -- the fact sink's numeric(18,0) rounds half away from zero;
             -- DuckDB's own double->DECIMAL cast rounds some ties to even
             CAST(sign(original_principal_amount)
                  * floor(abs(original_principal_amount) + 0.5) AS DECIMAL(18,0))
               AS original_principal_amount,
             disbursed_amount, undisbursed_amount, interest_rate,
             repaid_to_ibrd + repaid_3rd_party AS repaid,
             due_to_ibrd + due_3rd_party AS due
      FROM raw WHERE end_of_period IN ({snaps})
    ), rec AS (
      SELECT coalesce(s.v, ls) ls, coalesce(t.v, lt) lt, coalesce(c1.v, c) c,
             coalesce(c2.v, g, '{gen.NOT_SPECIFIED}') g, coalesce(r1.v, r) r, b, low.*
             EXCLUDE (ls, lt, c, g, r, b)
      FROM low
      LEFT JOIN d0 s ON s.k = low.ls LEFT JOIN d1 t ON t.k = low.lt
      LEFT JOIN d2 c1 ON c1.k = low.c LEFT JOIN d2 c2 ON c2.k = low.g
      LEFT JOIN d3 r1 ON r1.k = low.r
    ), bor AS (
      SELECT rec.*, coalesce(o.v, rec.b, '{gen.NOT_SPECIFIED}') AS b2
      FROM rec LEFT JOIN d4 o ON o.k = rec.c
    ), resolved AS (
      SELECT bor.* FROM bor
      JOIN d5 ON d5.k = bor.ls JOIN d6 ON d6.k = bor.lt JOIN d7 kc ON kc.k = bor.c
      JOIN d7 kg ON kg.k = bor.g JOIN d8 ON d8.k = bor.r JOIN d9 ON d9.k = bor.b2
      WHERE pid IS NOT NULL AND first_repayment_date IS NOT NULL
        AND last_repayment_date IS NOT NULL AND board_approval_date IS NOT NULL
    )
    SELECT ls AS loan_status, {", ".join(f"{MEASURE_SQL[m]} AS {m}" for m in STATUS_MEASURES)}
    FROM resolved GROUP BY 1
    """
    return sql, tables


# ------------------------------------------------------------ the checks

class Checker:
    def __init__(self, wh, inputs: dict, hours_consumed: int) -> None:
        self.wh = wh
        self.inputs = inputs
        self.hours = hours_consumed
        self.dicts = read_dicts(inputs["dicts"])
        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW fact AS SELECT * FROM {_fact_glob(wh.fact)}")
        for name in lp.DIM_SPECS:
            _dim_view(self.con, wh.star, name)

    def close(self) -> None:
        self.con.close()

    def _count(self, sql: str) -> int:
        return self.con.execute(sql).fetchone()[0]

    def ingest_and_staging(self) -> list[tuple]:
        """ingested rows = generated rows; raw = staged + off-snapshot."""
        out = []
        base = self.inputs["base"]
        landed = self._count(f"SELECT count(*) FROM read_parquet('{self.wh.landing}/*/*.parquet')")
        out.append(("ingested_rows", landed == base["rows"], f"{landed} vs {base['rows']}"))
        staged = self._count(
            f"SELECT count(*) FROM read_parquet('{self.wh.staging_dir(0)}/*.parquet')")
        ok = staged + base["off_snapshot"] == base["rows"]
        out.append(("raw_eq_staged_plus_off_snapshot", ok,
                    f"{staged} + {base['off_snapshot']} vs {base['rows']}"))
        for h in range(self.hours):
            want = self.inputs["hours"][h]["rows"]
            landed = self._count(
                f"SELECT count(*) FROM read_parquet('{self.wh.delta_landing}/page={h * want}/*.parquet')")
            staged = self._count(
                f"SELECT count(*) FROM read_parquet('{self.wh.staging_dir(h + 1)}/*.parquet')")
            out.append((f"delta{h}_rows", landed == want == staged,
                        f"landed {landed}, staged {staged}, generated {want}"))
        return out

    def scd_invariants(self) -> list[tuple]:
        """At most one current row per BK; versions never overlap."""
        out = []
        for name, (key, *_rest) in lp.DIM_SPECS.items():
            dup = self._count(
                f"SELECT count(*) FROM (SELECT {key} FROM dim_{name} WHERE is_current "
                f"GROUP BY 1 HAVING count(*) > 1)")
            overlap = self._count(f"""
                SELECT count(*) FROM (
                  SELECT end_date, is_current,
                         lead(start_date) OVER (PARTITION BY {key}
                                                ORDER BY start_date, is_current) AS nxt
                  FROM dim_{name})
                WHERE (nxt IS NOT NULL AND (end_date IS NULL OR end_date > nxt))
                   OR (is_current AND end_date IS NOT NULL)
                   OR (NOT is_current AND end_date IS NULL)""")
            out.append((f"scd_invariants_dim_{name}", dup == 0 and overlap == 0,
                        f"{dup} keys with >1 current row, {overlap} overlapping versions"))
        return out

    def scd_counts(self) -> list[tuple]:
        """Each merge's SCD outcome over the checked dims equals the replay
        from the raw rows, and the guarantor outcome equals the generator's
        own key counts."""
        if not self.hours:
            return []
        base = read_raw(self.inputs["base"]["paths"])
        deltas = [read_raw([self.inputs["hours"][h]["path"]]) for h in range(self.hours)]
        want = expected_scd(base, deltas, self.dicts)
        out = []
        for h in range(self.hours):
            got = {"inserts": 0, "expiries": 0, "t1_updates": 0}
            guarantor = None
            for name in CHECKED_DIMS:
                root = os.path.join(self.wh.star, f"dim_{name}")
                m = snaptable.read_manifest(root, h + 2)
                d = scd_diff(root, m, h + 1)
                for k in got:
                    got[k] += d[k]
                if name == "guarantor":
                    guarantor = d
            keys = self.inputs["hours"][h]["keys"]
            gen_ok = guarantor == {
                "inserts": keys["t2"] + keys["new"], "expiries": keys["t2"],
                "t1_updates": keys["t1"], "current_rows": guarantor["current_rows"]}
            out.append((f"scd_counts_delta{h}", got == want[h] and gen_ok,
                        f"spark {got} vs replay {want[h]}; guarantor {guarantor} vs keys {keys}"))
        return out

    def fact_fks(self) -> list[tuple]:
        """Every fact FK resolves to a dimension row; every date FK is set."""
        bad = 0
        for name in lp.DIM_SPECS:
            bad += self._count(
                f"SELECT count(*) FROM fact WHERE fk_{name} IS NULL OR fk_{name} NOT IN "
                f"(SELECT pk_{name}_sk FROM dim_{name})")
        for c in lp.DATE_FK_COLS:
            bad += self._count(f"SELECT count(*) FROM fact WHERE {c}_sk IS NULL")
        return [("fact_fks_resolve", bad == 0, f"{bad} unresolved")]

    def status_replay(self) -> list[tuple]:
        """Per-status measures over the published fact equal a replay of
        the whole pipeline from the raw pages."""
        pages = list(self.inputs["base"]["paths"]) + [
            self.inputs["hours"][h]["path"] for h in range(self.hours)]
        sql, tables = raw_status_sql(pages, self.dicts)
        con = duckdb.connect()
        try:
            for name, df in tables.items():
                con.register(name, df)
            want = sorted(tuple(r) for r in con.execute(sql).fetchall())
        finally:
            con.close()
        cols = ", ".join(f"{MEASURE_SQL[m]} AS {m}" for m in STATUS_MEASURES)
        got = sorted(tuple(r) for r in self.con.execute(
            f"SELECT d.loan_status, {cols} FROM fact f JOIN dim_loan_status d "
            "ON d.pk_loan_status_sk = f.fk_loan_status GROUP BY 1").fetchall())
        return [("status_measures_replay", got == want,
                 "match" if got == want else f"published {got[:3]} vs replay {want[:3]}")]

    def visuals(self, seen: dict, visuals: list) -> list[tuple]:
        """Each distinct visual equals DuckDB over the same published files,
        and its rows come in the visual's sort order."""
        bad = []
        for (i, years), rows in seen.items():
            v = visuals[i]
            want = sorted(tuple(r) for r in self.con.execute(visual_sql(v, years)).fetchall())
            if v.sort == "year":
                ordered = all(a[0] < b[0] for a, b in zip(rows, rows[1:]))
            elif v.sort is not None:
                key = 1 + v.measures.index(v.sort)
                ordered = all(a[key] >= b[key] for a, b in zip(rows, rows[1:]))
            else:
                ordered = True
            if sorted(rows) != want or not ordered:
                bad.append((i, years))
        return [("dashboard_visuals", not bad,
                 f"{len(seen)} distinct visuals, mismatched {bad[:5]}")]
