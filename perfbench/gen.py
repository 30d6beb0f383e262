"""Seeded synthetic IBRD loan pages, cleaning dictionaries and hourly deltas.

Everything here is numpy/pandas on the benchmark side: the loan pipeline
only ever sees the JSONL pages and dictionary CSVs these functions write.

Shape follows FIXTURES.md sections A and B:

- 33 raw columns, 14 fiscal-year-end snapshots (30-Jun-2011 .. 30-Jun-2024)
  plus about 10% off-snapshot rows that the snapshot filter drops;
- a loan number repeats once per snapshot, so the global forward fill of
  `project_name_` (ordered by `loan_number` alone) has real ties;
- 15-30% nulls in the free-text columns, case and spelling variants for
  every recoded column;
- 10 dictionaries, with a status key that never occurs in the data and a
  raw status that no dictionary maps (its business key stays NULL), and
  a misspelt country that converges on the canonical spelling.

Hourly delta pages restate existing loans and add new ones. Their guarantor
keys follow a fixed mix (70% unchanged, 10% Type-1 change, 10% Type-2 change,
10% new), and the generator returns the exact counts so the SCD check can be
exact.
"""

from __future__ import annotations

import csv
import json
import os

import numpy as np
import pandas as pd

SNAPSHOTS = [f"30-Jun-{y}" for y in range(2011, 2025)]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]

RAW_COLUMNS = [
    ("end_of_period", "string"), ("loan_number", "string"), ("region", "string"),
    ("country_code", "string"), ("country", "string"), ("borrower", "string"),
    ("guarantor_country_code", "string"), ("guarantor", "string"),
    ("loan_type", "string"), ("loan_status", "string"), ("interest_rate", "double"),
    ("currency_of_commitment", "string"), ("project_id", "string"),
    ("project_name_", "string"), ("original_principal_amount", "double"),
    ("cancelled_amount", "double"), ("undisbursed_amount", "double"),
    ("disbursed_amount", "double"), ("repaid_to_ibrd", "double"),
    ("due_to_ibrd", "double"), ("exchange_adjustment", "double"),
    ("borrowers_obligation", "double"), ("sold_3rd_party", "double"),
    ("repaid_3rd_party", "double"), ("due_3rd_party", "double"),
    ("loans_held", "double"), ("first_repayment_date", "string"),
    ("last_repayment_date", "string"), ("agreement_signing_date", "string"),
    ("board_approval_date", "string"), ("effective_date_most_recent", "string"),
    ("closed_date_most_recent", "string"), ("last_disbursement_date", "string"),
]
RAW_DDL = ", ".join(f"{n} {t}" for n, t in RAW_COLUMNS)

REGIONS = [
    "africa", "east asia and pacific", "europe and central asia",
    "latin america and caribbean", "middle east and north africa",
    "south asia", "other",
]
# (canonical name, ISO-2 code); region index is position % len(REGIONS)
COUNTRIES = [
    ("kenya", "ke"), ("china", "cn"), ("france", "fr"), ("brazil", "br"),
    ("egypt", "eg"), ("india", "in"), ("world", "1w"), ("nigeria", "ng"),
    ("indonesia", "id"), ("turkey", "tr"), ("mexico", "mx"), ("morocco", "ma"),
    ("pakistan", "pk"), ("guyana", "gy"), ("ghana", "gh"), ("philippines", "ph"),
    ("poland", "pl"), ("argentina", "ar"), ("jordan", "jo"), ("bangladesh", "bd"),
    ("fiji", "fj"), ("ethiopia", "et"), ("vietnam", "vn"), ("romania", "ro"),
    ("colombia", "co"), ("tunisia", "tn"), ("sri lanka", "lk"), ("samoa", "ws"),
    ("uganda", "ug"), ("thailand", "th"), ("ukraine", "ua"), ("peru", "pe"),
    ("lebanon", "lb"), ("nepal", "np"), ("tonga", "to"), ("zambia", "zm"),
    ("malaysia", "my"), ("serbia", "rs"), ("chile", "cl"), ("algeria", "dz"),
    ("bhutan", "bt"), ("palau", "pw"), ("senegal", "sn"), ("mongolia", "mn"),
    ("croatia", "hr"), ("ecuador", "ec"), ("iraq", "iq"), ("maldives", "mv"),
]
# canonical type -> raw code; raw forms are the code in upper, lower and
# trailing-space variants ("FSL", "fsl", "FSL ")
LOAN_TYPES = [
    ("fixed spread loan", "fsl"), ("single currency pool loan", "scp"),
    ("currency pool loan", "cpl"), ("variable spread loan", "vsl"),
    ("non-pool", "npl"), ("single currency loan", "scl"),
    ("special structural adjustment", "sal"), ("fixed rate single currency", "frs"),
]
# canonical status -> raw label
LOAN_STATUSES = [
    ("repaid", "Fully Repaid"), ("disbursed", "Fully Disbursed"),
    ("disbursing", "Disbursing"), ("approved", "Approved"),
    ("cancelled", "Fully Cancelled"), ("effective", "Effective"),
    ("signed", "Signed"), ("terminated", "Terminated"),
    ("repaying", "Repaying"), ("transferred", "Fully Transferred"),
]
# occurs in the data but in no dictionary: recode passes it through and
# its business key stays NULL (the null-BK path)
UNMAPPED_STATUS = "Disbursing&Repaying"
# occurs in Status_Cleaning.csv but never in the data
NEVER_SEEN_STATUS = "in arrears"
NOT_SPECIFIED = "not_specified"
GUARANTOR_ALIAS = " ltd"
GUARANTOR_BK_BASE = 10000

OFF_SNAPSHOT_SHARE = 0.10
UNMAPPED_STATUS_SHARE = 0.01
BORROWERS_PER_COUNTRY = 2


def _misspell(name: str) -> str:
    """Swap two adjacent letters in the middle ('france' -> 'frnace')."""
    i = max(1, len(name) // 2 - 1)
    return name[:i] + name[i + 1] + name[i] + name[i + 2:]


def _borrower_names() -> list[str]:
    return [f"{c} {kind}" for c, _ in COUNTRIES
            for kind in ("power utility", "development bank")]


def _overwritten_countries() -> list[int]:
    """Countries whose borrower Borrower_cleaning.csv overwrites: two of
    every three."""
    return [i for i in range(len(COUNTRIES)) if i % 3 != 2]


def _ministry(country: str) -> str:
    return f"ministry of finance ({country})"


class Universe:
    """Entity counts derived from the backfill size; shared by the base
    pages, the dictionaries and every delta of one seed."""

    def __init__(self, seed: int, n_rows: int, n_hours: int) -> None:
        self.seed = seed
        self.n_rows = n_rows
        self.n_hours = n_hours  # delta pages: their new guarantor keys are reserved
        self.n_loans = -(-n_rows // len(SNAPSHOTS))
        self.n_projects = max(1, self.n_loans // 2)
        self.n_guarantors = max(40, self.n_loans // 25)
        self.delta_keys = max(40, self.n_guarantors // 4)
        self.n_new_per_hour = self.delta_keys // 10
        rng = np.random.default_rng([seed, 0])
        self.loan_country = rng.integers(0, len(COUNTRIES), self.n_loans)
        self.loan_borrower = rng.integers(0, BORROWERS_PER_COUNTRY, self.n_loans)
        self.loan_guarantor = rng.integers(0, self.n_guarantors, self.n_loans)
        self.loan_type = rng.integers(0, len(LOAN_TYPES), self.n_loans)
        self.loan_project = rng.integers(0, self.n_projects, self.n_loans)
        self.loan_principal = np.round(rng.uniform(1e5, 1e9, self.n_loans), 2)
        self.loan_rate = np.round(rng.uniform(0, 12, self.n_loans), 2)
        self.loan_approval_year = rng.integers(1990, 2011, self.n_loans)
        self.loan_approval_day = rng.integers(0, 365, self.n_loans)
        self.guarantor_code = rng.integers(0, len(COUNTRIES), self.total_guarantors())

    def guarantor_name(self, gid: int, alias: bool = False) -> str:
        return f"guarantor agency {gid:05d}" + (GUARANTOR_ALIAS if alias else "")

    def total_guarantors(self) -> int:
        return self.n_guarantors + self.n_hours * self.n_new_per_hour


# ---------------------------------------------------------------- dictionaries

def dictionaries(u: Universe) -> dict[str, list[tuple[str, str]]]:
    """The 10 FIXTURES.md section B dictionaries as {file name: rows}."""
    status_clean = [(raw.lower(), canon) for canon, raw in LOAN_STATUSES]
    status_clean.append((NEVER_SEEN_STATUS, "cancelled"))
    type_clean = []
    for canon, code in LOAN_TYPES:
        type_clean += [(code, canon), (code + " ", canon)]
    country_clean = []
    for name, _ in COUNTRIES:
        # canonical maps to itself and the misspelling converges on it
        country_clean += [(name, name), (_misspell(name), name)]
    region_clean = []
    for r in REGIONS:
        region_clean += [(r, r), (r.replace(" and ", " & "), r)]
    borrower_clean = [(COUNTRIES[i][0], _ministry(COUNTRIES[i][0]))
                      for i in _overwritten_countries()]
    borrower_bk = [(NOT_SPECIFIED, "0")]
    borrower_bk += [(b, str(i + 1)) for i, b in enumerate(_borrower_names())]
    borrower_bk += [(_ministry(COUNTRIES[i][0]), str(1000 + i))
                    for i in _overwritten_countries()]
    # the guarantor column is recoded with the country map and encoded with
    # the country BK map (FIXTURES.md lists no dictionary of its own); a
    # guarantor and its alias share one business key
    country_bk = [(c, str(i + 1)) for i, (c, _) in enumerate(COUNTRIES)]
    country_bk.append((NOT_SPECIFIED, "0"))
    for gid in range(u.total_guarantors()):
        country_bk += [(u.guarantor_name(gid), str(GUARANTOR_BK_BASE + gid)),
                       (u.guarantor_name(gid, alias=True), str(GUARANTOR_BK_BASE + gid))]
    return {
        "Status_Cleaning.csv": status_clean,
        "loan_status_BK.csv": [(c, str(i + 1)) for i, (c, _) in enumerate(LOAN_STATUSES)],
        "Type_Cleaning.csv": type_clean,
        "loan_type_BK.csv": [(c, str(i + 1)) for i, (c, _) in enumerate(LOAN_TYPES)],
        "Countries_Cleaning.csv": country_clean,
        "country_BK.csv": country_bk,
        "Regions_Cleaning.csv": region_clean,
        "regions_BK.csv": [(r, str(i + 1)) for i, r in enumerate(REGIONS)],
        "Borrower_cleaning.csv": borrower_clean,
        "borrower_BK_updated.csv": borrower_bk,
    }


def write_dictionaries(u: Universe, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, rows in dictionaries(u).items():
        with open(os.path.join(out_dir, name), "w", newline="", encoding="utf-8") as fh:
            w = csv.writer(fh)
            w.writerow(["key", "value"])
            w.writerows(rows)


# ---------------------------------------------------------------- raw rows

def _pick(rng: np.random.Generator, forms: np.ndarray) -> np.ndarray:
    """forms: (n, k) object array of alternatives; one per row."""
    return forms[np.arange(len(forms)), rng.integers(0, forms.shape[1], len(forms))]


def _date_strings(years: np.ndarray, days: np.ndarray) -> np.ndarray:
    d = pd.to_datetime(years.astype(str), format="%Y") + pd.to_timedelta(days, unit="D")
    return _fast_dates(d)


def _fast_dates(d: pd.DatetimeIndex) -> np.ndarray:
    """dd-MMM-yyyy strings, the API's date format."""
    months = np.array(MONTHS, dtype=object)[d.month.to_numpy() - 1]
    day = np.char.zfill(d.day.to_numpy().astype(str), 2).astype(object)
    return day + "-" + months + "-" + d.year.to_numpy().astype(str).astype(object)


def _with_nulls(rng, values: np.ndarray, share: float) -> np.ndarray:
    out = values.astype(object)
    out[rng.random(len(out)) < share] = None
    return out


def _rows(u: Universe, rng: np.random.Generator, loans: np.ndarray, numbers: np.ndarray,
          periods: np.ndarray, status: np.ndarray, guarantor: np.ndarray,
          guarantor_alias: np.ndarray, guarantor_code: np.ndarray) -> pd.DataFrame:
    """Raw API rows for (loan, period) pairs. `loans` picks each row's loan
    attributes, `numbers` its loan number; `guarantor` < 0 is a NULL
    guarantor. Every recoded column gets a random case/spelling variant."""
    n = len(loans)
    c_idx = u.loan_country[loans]
    c_name = np.array([c for c, _ in COUNTRIES], dtype=object)[c_idx]
    c_code = np.array([k for _, k in COUNTRIES], dtype=object)[c_idx]
    c_forms = np.stack([c_name, np.char.title(c_name.astype(str)).astype(object),
                        np.array([_misspell(c) for c, _ in COUNTRIES], dtype=object)[c_idx]],
                       axis=1)
    r_name = np.array(REGIONS, dtype=object)[c_idx % len(REGIONS)]
    r_forms = np.stack([np.char.upper(r_name.astype(str)).astype(object),
                        np.char.title(r_name.astype(str)).astype(object),
                        np.char.replace(r_name.astype(str), " and ", " & ").astype(object)],
                       axis=1)
    t_code = np.array([code for _, code in LOAN_TYPES], dtype=object)[u.loan_type[loans]]
    t_forms = np.stack([np.char.upper(t_code.astype(str)).astype(object), t_code,
                        np.char.upper(t_code.astype(str)).astype(object) + " "], axis=1)
    s_label = np.array([raw for _, raw in LOAN_STATUSES] + [UNMAPPED_STATUS],
                       dtype=object)[status]
    s_forms = np.stack([s_label, np.char.upper(s_label.astype(str)).astype(object)], axis=1)
    borrower = np.array(_borrower_names(), dtype=object)[
        c_idx * BORROWERS_PER_COUNTRY + u.loan_borrower[loans]]
    borrower = np.where(rng.random(n) < 0.5,
                        np.char.title(borrower.astype(str)).astype(object), borrower)
    g_names = np.array([u.guarantor_name(g, a) if g >= 0 else None
                        for g, a in zip(guarantor.tolist(), guarantor_alias.tolist())],
                       dtype=object)
    g_codes = np.where(guarantor >= 0,
                       np.array([k for _, k in COUNTRIES], dtype=object)[
                           np.where(guarantor_code >= 0, guarantor_code, 0)],
                       None)
    g_upper = rng.random(n) < 0.5
    g_names = np.array([g.upper() if (g is not None and up) else g
                        for g, up in zip(g_names.tolist(), g_upper.tolist())], dtype=object)
    proj = u.loan_project[loans]
    project_id = np.char.add("P", np.char.zfill(proj.astype(str), 6)).astype(object)
    project_name = np.char.add("Project ", np.char.zfill(proj.astype(str), 6)).astype(object)
    principal = u.loan_principal[loans]
    share = rng.uniform(0, 1, n)
    disbursed = np.round(principal * share, 2)
    undisbursed = np.round(principal - disbursed, 2)
    repaid_ibrd = np.round(disbursed * rng.uniform(0, 0.6, n), 2)
    due_ibrd = np.round(disbursed - repaid_ibrd, 2)
    repaid_3p = np.round(disbursed * rng.uniform(0, 0.05, n), 2)
    due_3p = np.round(disbursed * rng.uniform(0, 0.05, n), 2)
    approval_years = u.loan_approval_year[loans]
    approval = _date_strings(approval_years, u.loan_approval_day[loans])
    first_rep = _date_strings(approval_years + 5, u.loan_approval_day[loans])
    last_rep = _date_strings(approval_years + 25, u.loan_approval_day[loans])
    null = np.full(n, None, dtype=object)

    def amount(values, share):
        out = values.astype(float)
        out[rng.random(n) < share] = np.nan
        return out

    return pd.DataFrame({
        "end_of_period": periods,
        "loan_number": np.char.add("IBRD", np.char.zfill(numbers.astype(str), 6)).astype(object),
        "region": _pick(rng, r_forms),
        "country_code": np.char.upper(c_code.astype(str)).astype(object),
        "country": _pick(rng, c_forms),
        "borrower": _with_nulls(rng, borrower, 0.15),
        "guarantor_country_code": g_codes,
        "guarantor": g_names,
        "loan_type": _pick(rng, t_forms),
        "loan_status": _pick(rng, s_forms),
        "interest_rate": u.loan_rate[loans],
        "currency_of_commitment": _with_nulls(rng, np.full(n, "USD", dtype=object), 0.9),
        "project_id": _with_nulls(rng, project_id, 0.2),
        "project_name_": _with_nulls(rng, project_name, 0.3),
        "original_principal_amount": principal,
        "cancelled_amount": amount(np.round(principal * 0.01, 2), 0.15),
        "undisbursed_amount": undisbursed,
        "disbursed_amount": disbursed,
        "repaid_to_ibrd": repaid_ibrd,
        "due_to_ibrd": due_ibrd,
        "exchange_adjustment": amount(np.round(rng.uniform(-1e3, 1e3, n), 2), 0.5),
        "borrowers_obligation": np.round(principal - repaid_ibrd, 2),
        "sold_3rd_party": amount(np.zeros(n), 0.2),
        "repaid_3rd_party": repaid_3p,
        "due_3rd_party": amount(due_3p, 0.15),
        "loans_held": amount(np.round(principal * 0.5, 2), 0.2),
        "first_repayment_date": first_rep,
        "last_repayment_date": last_rep,
        "agreement_signing_date": approval,
        "board_approval_date": approval,
        "effective_date_most_recent": null,
        "closed_date_most_recent": null,
        "last_disbursement_date": null,
    })


def _statuses(rng, n: int) -> np.ndarray:
    s = rng.integers(0, len(LOAN_STATUSES), n)
    s[rng.random(n) < UNMAPPED_STATUS_SHARE] = len(LOAN_STATUSES)
    return s


def _off_snapshot_dates(rng, n: int) -> np.ndarray:
    years = rng.integers(2011, 2025, n)
    days = rng.integers(0, 360, n)
    d = pd.to_datetime(years.astype(str), format="%Y") + pd.to_timedelta(days, unit="D")
    # nudge any date that lands on 30 June off the snapshot calendar
    d = d.where(~((d.month == 6) & (d.day == 30)), d - pd.Timedelta(days=1))
    return _fast_dates(d)


def base_rows(u: Universe) -> tuple[pd.DataFrame, int]:
    """The backfill: every (loan, snapshot) pair, shuffled, truncated to
    n_rows; about 10% carry an off-snapshot date. Returns (rows,
    off-snapshot count)."""
    rng = np.random.default_rng([u.seed, 1])
    pairs = rng.permutation(u.n_loans * len(SNAPSHOTS))[: u.n_rows]
    loans = pairs // len(SNAPSHOTS)
    periods = np.array(SNAPSHOTS, dtype=object)[pairs % len(SNAPSHOTS)]
    off = rng.random(u.n_rows) < OFF_SNAPSHOT_SHARE
    periods[off] = _off_snapshot_dates(rng, int(off.sum()))
    guarantor = u.loan_guarantor[loans].copy()
    guarantor[rng.random(u.n_rows) < 0.2] = -1
    code = np.where(guarantor >= 0, u.guarantor_code[np.maximum(guarantor, 0)], -1)
    rows = _rows(u, rng, loans, loans, periods, _statuses(rng, u.n_rows), guarantor,
                 np.zeros(u.n_rows, dtype=bool), code)
    return rows, int(off.sum())


class GuarantorState:
    """The generator's own model of the current guarantor dimension:
    gid -> (alias flag, country index). Deltas read and advance it."""

    def __init__(self, u: Universe, base: pd.DataFrame) -> None:
        kept = base[base["end_of_period"].isin(SNAPSHOTS)]
        used = sorted({int(g.split()[-1]) for g in kept["guarantor"].dropna().str.lower()})
        self.alias = {g: False for g in used}
        self.code = {g: int(u.guarantor_code[g]) for g in used}
        self.next_new = u.n_guarantors


def delta_rows(u: Universe, state: GuarantorState, hour: int,
               n_rows: int) -> tuple[pd.DataFrame, dict]:
    """One hourly delta page: n_rows on-snapshot rows at 30-Jun-2024.

    Guarantor keys: `delta_keys` distinct keys, 70% unchanged restatements,
    10% Type-1 (guarantor_country_code) changes, 10% Type-2 (guarantor
    renamed to its alias, which keeps the business key) changes and 10%
    brand-new keys carried by new loan numbers. Loans keep their country,
    borrower, type and project, so no other checked dimension changes.
    Returns (rows, exact key counts) and advances `state`."""
    rng = np.random.default_rng([u.seed, 2, hour])
    k = u.delta_keys
    n_new = u.n_new_per_hour
    n_t1 = n_t2 = k // 10
    n_same = k - n_new - n_t1 - n_t2
    known = np.array(sorted(state.alias), dtype=np.int64)
    picked = rng.choice(known, n_same + n_t1 + n_t2, replace=False)
    same, t1, t2 = picked[:n_same], picked[n_same:n_same + n_t1], picked[n_same + n_t1:]
    new = np.arange(state.next_new, state.next_new + n_new)
    state.next_new += n_new
    for g in t1:
        state.code[g] = (state.code[g] + 1 + int(rng.integers(0, len(COUNTRIES) - 1))) % len(COUNTRIES)
    for g in t2:
        state.alias[g] = not state.alias[g]
    for g in new:
        state.alias[int(g)] = False
        state.code[int(g)] = int(u.guarantor_code[g])
    keys = np.concatenate([same, t1, t2, new])
    # every key gets at least one row; the rest are spread uniformly
    g_rows = np.concatenate([keys, rng.choice(keys, n_rows - len(keys))])
    rng.shuffle(g_rows)
    is_new = np.isin(g_rows, new)
    loans = rng.integers(0, u.n_loans, n_rows)
    # new keys arrive on new loan numbers past the backfill's range; their
    # other attributes are those of an existing loan
    numbers = loans.copy()
    numbers[is_new] = u.n_loans + hour * n_rows + np.arange(int(is_new.sum()))
    rows = _rows(u, rng, loans, numbers, np.full(n_rows, SNAPSHOTS[-1], dtype=object),
                 _statuses(rng, n_rows), g_rows,
                 np.array([state.alias[int(g)] for g in g_rows]),
                 np.array([state.code[int(g)] for g in g_rows]))
    counts = {"unchanged": int(n_same), "t1": int(n_t1), "t2": int(n_t2), "new": int(n_new)}
    return rows, counts


# ---------------------------------------------------------------- pages

def write_pages(rows: pd.DataFrame, out_dir: str, page_rows: int, first: int = 0) -> list[str]:
    """JSONL pages of `page_rows` rows: page-00000.jsonl, ... Returns paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, start in enumerate(range(0, len(rows), page_rows)):
        path = os.path.join(out_dir, f"page-{first + i:05d}.jsonl")
        rows.iloc[start:start + page_rows].to_json(
            path, orient="records", lines=True)
        paths.append(path)
    return paths


def build_inputs(seed: int, n_pages: int, page_rows: int, n_hours: int,
                 delta_rows_per_hour: int, out_dir: str) -> dict:
    """Write the backfill pages, n_hours delta pages and the dictionaries
    under out_dir (a cache keyed by the arguments: a complete directory is
    reused). Returns the manifest with row counts and exact delta counts."""
    done = os.path.join(out_dir, "inputs.json")
    if os.path.exists(done):
        with open(done, encoding="utf-8") as fh:
            return json.load(fh)
    u = Universe(seed, n_pages * page_rows, n_hours)
    base, off = base_rows(u)
    write_dictionaries(u, os.path.join(out_dir, "dicts"))
    base_paths = write_pages(base, os.path.join(out_dir, "base"), page_rows)
    state = GuarantorState(u, base)
    hours = []
    for h in range(n_hours):
        rows, counts = delta_rows(u, state, h, delta_rows_per_hour)
        (path,) = write_pages(rows, os.path.join(out_dir, "delta"), delta_rows_per_hour, first=h)
        hours.append({"path": path, "rows": len(rows), "keys": counts})
    manifest = {
        "seed": seed,
        "base": {"paths": base_paths, "rows": len(base), "off_snapshot": off},
        "hours": hours,
        "dicts": os.path.join(out_dir, "dicts"),
    }
    tmp = done + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(tmp, done)
    return manifest
