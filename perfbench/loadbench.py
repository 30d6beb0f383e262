"""Runs the loan pipeline for the benchmark: backfill, hourly increment and
dashboard visual, each composed only of the pipeline's public calls.

Untraced, every call runs exactly as a user would chain it: one lazy
lineage from the landed pages to the staging write, then the star and the
fact. Traced, each layer's output is persisted and counted before the next
layer starts, so each span holds that layer's own Spark work; the cost of
those barriers is the tracing overhead the benchmark reports.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import functions as F

from etl_pipline_ibrd_loan_system_spark.cache import release_pinned
from etl_pipline_ibrd_loan_system_spark.functions.measures import dashboard_query
from etl_pipline_ibrd_loan_system_spark.operators.window_ops import forward_fill
from etl_pipline_ibrd_loan_system_spark.plans import loan_pipeline as lp
from etl_pipline_ibrd_loan_system_spark.sources import snaptable
from etl_pipline_ibrd_loan_system_spark.sources.csv_dict import read_dict_csv
from etl_pipline_ibrd_loan_system_spark.sources.paged_source import (
    IncrementalPagedIngest,
    OffsetStore,
)

import gen
from checks import scd_diff
from spans import Tracer

BASE_ASOF = datetime.date(2024, 6, 30)


@dataclass(frozen=True)
class Visual:
    """One report visual: measures grouped by `attr` (None: a card), whose
    dimension is `dim` (None: DimDate's year); sorted DESC by the measure
    `sort`, ASC by year when `sort` is "year", unsorted when None."""
    page: str
    attr: str | None
    dim: str | None
    measures: tuple[str, ...]
    sort: str | None


# The report's visuals as SURVEY.md records them from Report/Layout (row
# cited beside each); the year slicer range is seeded per call. SURVEY.md
# names four of the five pages; the fifth page's visual is inferred.
VISUALS = [
    # D2: Loans / Number of Loans cards
    Visual("Loan Portfolio Overview", None, None, ("loans", "number_of_loans"), None),
    # D7, E2: Loan Amount by DimDate year, line chart, year ASC
    Visual("Loan Portfolio Overview", "year", None, ("loan_amount",), "year"),
    # C5, E2: loan_status x Disbursed Amount, DESC
    Visual("Loan Status & Performance", "loan_status", "loan_status",
           ("disbursed_amount",), "disbursed_amount"),
    # D2, E2: per-status Loans bar chart, DESC
    Visual("Loan Status & Performance", "loan_status", "loan_status", ("loans",), "loans"),
    # D4, E2: Average Interest Rate by loan_type, DESC
    Visual("Loan Type & Interest Analysis", "loan_type", "loan_type",
           ("average_interest_rate",), "average_interest_rate"),
    # D5, E2: Interest Income by loan_type, DESC (SURVEY flags the DAX as inferred)
    Visual("Loan Type & Interest Analysis", "loan_type", "loan_type",
           ("interest_income",), "interest_income"),
    # D6: Guarantors and Borrowers cards, ungrouped
    Visual("Guarantor & Borrower Analysis", None, None, ("guarantors", "borrowers"), None),
    # inferred: the unnamed fifth page, Loan Amount (D3) by region, the
    # attribute of the report's region slicer (SURVEY section 3), DESC (E2)
    Visual("(fifth page, not recorded)", "region", "region", ("loan_amount",), "loan_amount"),
]


def load_dictionaries(d: str) -> tuple[dict, dict]:
    """(recode maps, BK maps) for run_clean_pipeline from the 10 CSVs."""
    def read(name):
        return read_dict_csv(os.path.join(d, name))

    def ints(name):
        return {k: int(v) for k, v in read(name).items()}

    maps = {
        "status": read("Status_Cleaning.csv"),
        "type": read("Type_Cleaning.csv"),
        "country": read("Countries_Cleaning.csv"),
        "region": read("Regions_Cleaning.csv"),
        "borrower_by_country": read("Borrower_cleaning.csv"),
    }
    country_bk = ints("country_BK.csv")
    bk_maps = {
        "region": ints("regions_BK.csv"),
        "country": country_bk,
        "guarantor": country_bk,
        "borrower": ints("borrower_BK_updated.csv"),
        "loan_status": ints("loan_status_BK.csv"),
        "loan_type": ints("loan_type_BK.csv"),
    }
    return maps, bk_maps


def jsonl_page_fetcher(paths: list[str], page_rows: int):
    """The emulated loan API: page k of the stream is the k-th JSONL file."""
    def fetch(spark, offset: int, limit: int):
        if limit != page_rows:
            raise ValueError(f"page size {limit} != generated {page_rows}")
        k = offset // limit
        if k >= len(paths):
            return None
        return spark.read.schema(gen.RAW_DDL).json(paths[k])
    return fetch


class Warehouse:
    """One warehouse directory: landed pages, offsets, staging, the star's
    snaptables and the fact."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.landing = os.path.join(root, "landing")
        self.delta_landing = os.path.join(root, "landing_delta")
        self.staging = os.path.join(root, "staging")
        self.star = os.path.join(root, "star")
        self.fact = os.path.join(root, "fact")
        self.loads = 0  # staging/fact partitions written
        self.delta_offset = os.path.join(root, "delta_offset.json")

    def staging_dir(self, load: int) -> str:
        return os.path.join(self.staging, f"load={load}")

    def fact_dir(self, load: int) -> str:
        return os.path.join(self.fact, f"load={load}")

    def star_bytes(self) -> int:
        return _tree_bytes(self.star) + _tree_bytes(self.fact)


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class LoanBench:
    def __init__(self, spark, tracer: Tracer, inputs: dict, page_rows: int,
                 delta_rows: int) -> None:
        self.spark = spark
        self.tr = tracer
        self.inputs = inputs
        self.page_rows = page_rows
        self.delta_rows = delta_rows
        self.maps, self.bk_maps = load_dictionaries(inputs["dicts"])
        self._pinned: list = []
        self._current_rows: dict[str, int] = {}

    # -- helpers ---------------------------------------------------------

    def _barrier(self, df):
        """Traced runs only: persist and count a layer's output so the next
        span starts from it. Returns (df, row count or None)."""
        if not self.tr.enabled:
            return df, None
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._pinned.append(df)
        return df, df.count()

    def _release(self) -> None:
        for df in self._pinned:
            df.unpersist()
        self._pinned.clear()
        release_pinned()

    def _clean(self, raw, out_dir: str) -> None:
        """raw pages -> staging parquet through the clean/standardize/encode
        stages (run_clean_pipeline untraced; stage by stage traced)."""
        tr = self.tr
        if not tr.enabled:
            with tr.span("clean_stage"):
                lp.run_clean_pipeline(raw, self.maps, self.bk_maps).write.parquet(out_dir)
            return
        rows_in = raw.count()
        with tr.span("clean_stage"):
            df, n = self._barrier(lp.clean_stage(raw))
        tr.count("clean_stage.rows_in", rows_in)
        tr.count("clean_stage.rows_filtered", rows_in - n)
        with tr.span("standardize_stage"):
            df, _ = self._barrier(lp.standardize_stage(
                df, status_map=self.maps["status"], type_map=self.maps["type"],
                country_map=self.maps["country"], region_map=self.maps["region"],
                borrower_by_country=self.maps["borrower_by_country"]))
        tr.count("standardize_stage.unmapped", self._unmapped(df))
        with tr.span("encode_stage"):
            df, _ = self._barrier(lp.encode_stage(df, self.bk_maps,
                                                  forward_fill_project_names=False))
        nulls_before = df.where(F.col("project_name_").isNull()).count()
        with tr.span("forward_fill"):
            df, _ = self._barrier(forward_fill(df, ["loan_number"], "project_name_"))
            df.write.parquet(out_dir)
        nulls_after = df.where(F.col("project_name_").isNull()).count()
        tr.count("forward_fill.nulls_filled", nulls_before - nulls_after)

    def _unmapped(self, df) -> int:
        """Recoded values that no dictionary knows (they pass through)."""
        canon = {
            "loan_status": set(self.maps["status"].values()),
            "loan_type": set(self.maps["type"].values()),
            "country": set(self.maps["country"].values()),
            "region": set(self.maps["region"].values()),
        }
        return sum(
            df.where(F.col(col).isNotNull() & ~F.col(col).isin(sorted(values))).count()
            for col, values in canon.items())

    def _star_read(self, wh: Warehouse, staging):
        with self.tr.span("star_read"):
            dims = lp.load_star_snaptable(self.spark, staging, wh.star)
            if self.tr.enabled:
                dims = {k: self._barrier(v)[0] for k, v in dims.items()}
        if self.tr.enabled:
            # files one star read resolves, as of the latest read
            self.tr.values["star_read.files"] = sum(
                len(fl) for name in lp.DIM_SPECS
                for fl in snaptable.read_manifest(
                    os.path.join(wh.star, f"dim_{name}"))["buckets"].values())
        return dims

    def _fact(self, wh: Warehouse, staging, dims, load: int) -> None:
        with self.tr.span("fact"):
            lp.build_fact_loan(staging, dims).write.parquet(wh.fact_dir(load))
        if self.tr.enabled:
            rows = self.spark.read.parquet(wh.fact_dir(load)).count()
            self.tr.count("fact.rows", rows)
            self.tr.count("fact.unresolved_fk_rows", staging.count() - rows)

    def _scd_counts(self, wh: Warehouse, manifests: dict, first: bool) -> None:
        """scd.* per-layer counters for one star commit (traced only)."""
        if not self.tr.enabled:
            return
        for name, m in manifests.items():
            d = scd_diff(os.path.join(wh.star, name), m, None if first else m["parent"])
            for k in ("inserts", "expiries", "t1_updates"):
                self.tr.count(f"scd.{k}", d[k])
            self._current_rows[name] = d["current_rows"]
        self.tr.values["scd.current_rows"] = sum(self._current_rows.values())

    # -- the three operations -------------------------------------------

    def backfill(self, wh: Warehouse) -> None:
        """Full load into an empty warehouse: pages -> staging -> star v1 ->
        fact."""
        os.makedirs(wh.root)
        tr = self.tr
        paths = self.inputs["base"]["paths"]
        with tr.span("paged_source"):
            ingest = IncrementalPagedIngest(
                jsonl_page_fetcher(paths, self.page_rows), wh.landing,
                OffsetStore(os.path.join(wh.root, "offset.json")), limit=self.page_rows)
            pages = ingest.run(self.spark)
            raw = ingest.read_sink(self.spark)
            raw, rows = self._barrier(raw)
        if tr.enabled:
            tr.count("paged_source.pages", pages)
            tr.count("paged_source.rows", rows)
        self._clean(raw, wh.staging_dir(0))
        staging = self.spark.read.parquet(wh.staging_dir(0))
        with tr.span("star_init"):
            manifests = lp.init_star_snaptable(self.spark, staging, BASE_ASOF.isoformat(),
                                               wh.star)
        self._scd_counts(wh, manifests, first=True)
        dims = self._star_read(wh, staging)
        self._fact(wh, staging, dims, 0)
        wh.loads = 1
        self._release()

    def increment(self, wh: Warehouse, hour: int) -> dict:
        """One hourly delta page -> staging -> 7 SCD2 merges -> fact rows."""
        tr = self.tr
        paths = [h["path"] for h in self.inputs["hours"]]
        with tr.span("paged_source"):
            ingest = IncrementalPagedIngest(
                jsonl_page_fetcher(paths, self.delta_rows), wh.delta_landing,
                OffsetStore(wh.delta_offset), limit=self.delta_rows)
            offset = ingest.offsets.get()
            pages = ingest.run(self.spark, max_pages=1)
            # one directory per page (sources/paged_source.py layout)
            raw = self.spark.read.parquet(os.path.join(wh.delta_landing, f"page={offset}"))
            raw, rows = self._barrier(raw)
        if pages != 1:
            raise RuntimeError(f"hour {hour}: ingested {pages} pages, expected 1")
        if tr.enabled:
            tr.count("paged_source.pages", pages)
            tr.count("paged_source.rows", rows)
        load = wh.loads
        self._clean(raw, wh.staging_dir(load))
        staging = self.spark.read.parquet(wh.staging_dir(load))
        asof = (BASE_ASOF + datetime.timedelta(days=hour + 1)).isoformat()
        with tr.span("star_merge"):
            manifests = lp.apply_star_increment_snaptable(self.spark, staging, asof, wh.star)
        if tr.enabled:
            self._merge_counters(manifests)
        self._scd_counts(wh, manifests, first=False)
        dims = self._star_read(wh, staging)
        self._fact(wh, staging, dims, load)
        wh.loads += 1
        self._release()
        return manifests

    def _merge_counters(self, manifests: dict) -> None:
        touched = sum(len(m["touched_buckets"]) for m in manifests.values())
        buckets = sum(m["n_buckets"] for m in manifests.values())
        self.tr.count("star_merge.buckets_touched", touched)
        self.tr.count("star_merge.buckets", buckets)
        files = [p for m in manifests.values() for b in m["touched_buckets"]
                 for p in m["buckets"].get(str(b), [])]
        self.tr.count("star_merge.files_written", len(files))
        self.tr.count("star_merge.bytes_written_mb",
                      sum(os.path.getsize(p.removeprefix("file:")) for p in files) / 2**20)

    def published_staging(self, wh: Warehouse):
        return self.spark.read.option("basePath", wh.staging).parquet(
            *[wh.staging_dir(k) for k in range(wh.loads)])

    def visual(self, wh: Warehouse, v: Visual, years: tuple[int, int]) -> list[tuple]:
        """One dashboard visual as a fresh query: snapshot-read the star
        (DimDate is rebuilt from the published staging), join the fact to
        the dimension versions it references, run the visual's measures."""
        dims = self._star_read(wh, self.published_staging(wh))
        with self.tr.span("measures"):
            fact = self.spark.read.parquet(wh.fact)
            dd = dims["dim_date"].select(F.col("date_sk").alias("end_of_period_sk"), "year")
            joined = fact.join(dd, "end_of_period_sk")
            if v.dim is not None:
                d = dims[f"dim_{v.dim}"].select(
                    F.col(f"pk_{v.dim}_sk").alias(f"fk_{v.dim}"), F.col(v.attr))
                joined = joined.join(d, f"fk_{v.dim}")
            joined = joined.withColumn("pk_loan_number_sk", F.col("loan_number"))
            out = dashboard_query(joined, group_by=[v.attr] if v.attr else [],
                                  measures=list(v.measures), year_col="year",
                                  year_range=years,
                                  order_by_measure=None if v.sort == "year" else v.sort)
            if v.sort == "year":
                out = out.orderBy("year")
            rows = [tuple(r) for r in out.collect()]
        self._release()
        return rows
