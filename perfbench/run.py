"""Loan-load benchmark: full backfill, hourly SCD2 increment and dashboard
reads over seeded synthetic IBRD pages, timed end to end and per layer.

One run (what BENCHMARK.json's command does):

    python3 perfbench/run.py --workload full_load --seed 1 --seconds 1 --trace 0

prints human-readable lines, then, as its last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`).

Set-up starts the Spark session. For hourly_increment and dashboard it
also back-fills the warehouse and applies hourly page 0, and for dashboard
it renders every visual once, so their timed operations run warm.
full_load then times exactly one backfill, cold, as a batch run pays it;
hourly_increment times further hourly pages and dashboard further visuals,
for at least `--seconds`. Output checks run after the timed region.

All three workloads and their traced twins, with a summary table:

    python3 perfbench/run.py --all --seed 1 --seconds 1
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

BASE_PAGES = 8
PAGE_ROWS = 2500
DELTA_ROWS = 1000
CORES = 2  # see README: two of the four cores keep runs steady under host contention
WORKLOADS = ("full_load", "hourly_increment", "dashboard")
# operations per run: at least MIN_OPS, and at least --seconds of them;
# full_load times exactly one backfill, cold, as a batch run pays it, and
# dashboard renders every visual at least twice after an untimed warm-up
# pass (see README)
MIN_OPS = {"full_load": 1, "hourly_increment": 1}
# hourly_increment's storage is measured after this many timed pages, so
# it does not depend on how many pages fit in the run
STORAGE_AFTER_HOURS = 1
OPERATION = {
    "full_load": "one backfill, raw pages to published star and fact",
    "hourly_increment": "one hourly page through ingest, clean, 7 merges, fact append",
    "dashboard": "one dashboard visual, star read to sorted measures",
}


def _prepare_env(run_dir: str, traced: bool) -> None:
    """Keep Spark's scratch, temp files and event log inside the run dir.

    The session's own scratch default is /dev/shm when it has 8 GiB free,
    outside the checkout the benchmark may write to; so scratch goes to a
    disk directory in the run dir, as the session's fallback would put it.
    Driver memory stays at the session's default."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(min(CORES, os.cpu_count() or CORES))
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    if traced:
        from spans import event_log_conf

        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += event_log_conf(log_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _steal_ticks() -> int:
    with open("/proc/stat", encoding="utf-8") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def _jvm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the Spark JVM")


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples above it; the slowest sample when there are fewer than 11."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def _storage_amp(wh, inputs: dict, hours: int) -> float:
    """Bytes under the star and the fact per byte of raw pages loaded into
    the warehouse (the backfill plus `hours` hourly pages)."""
    raw = sum(os.path.getsize(p) for p in inputs["base"]["paths"])
    raw += sum(os.path.getsize(inputs["hours"][h]["path"]) for h in range(hours))
    return wh.star_bytes() / raw


def _years(rng: random.Random) -> tuple[int, int]:
    return rng.randint(2011, 2015), rng.randint(2020, 2024)


def _delta_pages(workload: str, seconds: float) -> int:
    """Hourly pages a run can consume: page 0 in set-up, then, for
    hourly_increment, its minimum plus one per second measured (an hourly
    page takes longer than a second)."""
    if workload == "full_load":
        return 0
    if workload == "dashboard":
        return 1
    return 1 + MIN_OPS[workload] + math.ceil(seconds)


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    sys.path.insert(0, ROOT)
    try:
        import etl_pipline_ibrd_loan_system_spark  # noqa: F401
    except ImportError as exc:
        raise SystemExit(f"the loan pipeline package is not importable from {ROOT}: {exc}")
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(run_dir, traced)
    import gen
    import loadbench as lb
    from checks import FILL_ORDER_EXCLUDED, Checker
    from etl_pipline_ibrd_loan_system_spark.session import get_session
    from spans import Tracer

    n_hours = _delta_pages(workload, seconds)
    inputs = gen.build_inputs(
        seed, BASE_PAGES, PAGE_ROWS, n_hours, DELTA_ROWS,
        os.path.join(WORK, "inputs", f"s{seed}-{BASE_PAGES}x{PAGE_ROWS}-{n_hours}x{DELTA_ROWS}"))
    min_ops = MIN_OPS.get(workload, 2 * len(lb.VISUALS))
    # hourly_increment stops at its last generated page
    max_ops = {"full_load": 1, "hourly_increment": n_hours - 1}.get(workload, sys.maxsize)
    tr = Tracer(traced)
    steal0, load0 = _steal_ticks(), os.getloadavg()
    rng = random.Random(seed)

    spark = None
    try:
        # ---- set-up: session, backfill, then what the workload needs warm
        t0 = time.perf_counter()
        with tr.span("session"):
            spark = get_session("perfbench")
        tr.bind(spark)
        bench = lb.LoanBench(spark, tr, inputs, PAGE_ROWS, DELTA_ROWS)
        wh = lb.Warehouse(os.path.join(run_dir, "warehouse"))
        hours = 0
        if workload != "full_load":
            bench.backfill(wh)
            bench.increment(wh, 0)
            hours = 1
        seen: dict = {}
        if workload == "dashboard":  # one untimed warm-up pass
            for i, v in enumerate(lb.VISUALS):
                years = _years(rng)
                seen[(i, years)] = bench.visual(wh, v, years)
        setup_s = time.perf_counter() - t0

        # ---- timed region
        times: list[float] = []
        failed_ops = 0
        checked = wh
        storage_amp = None
        start = time.perf_counter()
        while len(times) < max_ops and (
                len(times) < min_ops or time.perf_counter() - start < seconds):
            i = len(times)
            try:
                t = time.perf_counter()
                if workload == "full_load":
                    checked = lb.Warehouse(os.path.join(run_dir, f"full{i}"))
                    bench.backfill(checked)
                elif workload == "hourly_increment":
                    bench.increment(wh, hours)
                    hours += 1
                else:
                    vi, years = i % len(lb.VISUALS), _years(rng)
                    rows = bench.visual(wh, lb.VISUALS[vi], years)
                times.append(time.perf_counter() - t)
            except Exception:  # the benchmark's boundary: record and stop
                traceback.print_exc()
                failed_ops += 1
                break
            if workload == "dashboard":
                seen.setdefault((vi, years), rows)
            if workload == "hourly_increment" and hours == 1 + STORAGE_AFTER_HOURS:
                storage_amp = _storage_amp(checked, inputs, hours)
        elapsed = time.perf_counter() - start
        if storage_amp is None:
            storage_amp = _storage_amp(checked, inputs, hours)
        peak_rss = _jvm_hwm_mb(spark)
        master = spark.sparkContext.master

        # ---- output checks (untimed)
        results = []
        if not failed_ops:
            checker = Checker(checked, inputs, hours)
            checks = [checker.ingest_and_staging, checker.scd_invariants, checker.scd_counts,
                      checker.fact_fks,
                      checker.status_replay]
            if workload == "dashboard":
                checks.append(lambda: checker.visuals(seen, lb.VISUALS))
            try:
                for check in checks:
                    try:
                        results += check()
                    except Exception as exc:  # an unreadable output fails its check
                        traceback.print_exc()
                        results.append((getattr(check, "__name__", "check"), False, repr(exc)))
            finally:
                checker.close()
        if traced:
            tr.collect_job_counts()
    finally:
        if spark is not None:
            _stop_spark(spark)
    if traced:
        tr.fold_event_log(os.path.join(run_dir, "eventlog"))
    shutil.rmtree(run_dir, ignore_errors=True)

    failed_checks = sum(1 for _, ok, _ in results if not ok)
    p50 = statistics.median(times) if times else float("nan")
    tail_v, tail_p, n = tail(times) if times else (float("nan"), 0.0, 0)
    return {
        "workload": workload, "seed": seed, "traced": traced,
        "checks": results, "excluded": FILL_ORDER_EXCLUDED,
        "ops": len(times), "failed_ops": failed_ops, "elapsed_s": elapsed,
        "e2e": {
            "setup_s": setup_s,
            "op_p50_ms": p50 * 1e3,
            "storage_amp": storage_amp,
        },
        "peak_rss_mb": peak_rss,
        "op_ms": [t * 1e3 for t in times],
        "op_tail_ms": tail_v * 1e3, "tail_percentile": tail_p, "samples": n,
        "layers": dict(tr.values),
        "slowest_layer": tr.slowest_layer(),
        "env": {
            "master": master, "cores": os.cpu_count(),
            "steal_ticks": _steal_ticks() - steal0,
            "loadavg_start": load0[0], "loadavg_end": os.getloadavg()[0],
        },
        "attempted": len(times) + failed_ops + len(results),
        "failed": failed_ops + failed_checks,
    }


def declared(kind: str) -> dict[str, str]:
    """{metric name: unit} of BENCHMARK.json's `end_to_end` or `per_layer`."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def per_layer_metrics(res: dict) -> dict[str, float]:
    """Every per-layer metric BENCHMARK.json declares, from a traced run. A
    layer the workload never calls reports 0; any other metric the run did
    not record is an error, so a newly declared one cannot read 0 silently."""
    from spans import LAYERS

    v = dict(res["layers"])
    if v.get("star_merge.buckets"):
        v["star_merge.buckets_touched_ratio"] = (
            v["star_merge.buckets_touched"] / v["star_merge.buckets"])
    v["traced.op_p50_ms"] = res["e2e"]["op_p50_ms"]
    out = {}
    for name in declared("per_layer"):
        layer = name.split(".")[0]
        if name not in v and layer in LAYERS and f"{layer}.s" not in v:
            out[name] = 0.0
        else:
            out[name] = v[name]
    return out


def report(res: dict) -> dict:
    """Print the run's human-readable lines; return the result object."""
    w = res["workload"]
    env = res["env"]
    print(f"# {w} seed={res['seed']} traced={int(res['traced'])} master={env['master']} "
          f"cores={env['cores']} steal_ticks={env['steal_ticks']} "
          f"loadavg={env['loadavg_start']:.2f}->{env['loadavg_end']:.2f}")
    print(f"# operation: {OPERATION[w]}; {res['ops']} ops in {res['elapsed_s']:.2f} s")
    for name, ok, detail in res["checks"]:
        print(f"check {name}: {'ok' if ok else 'FAIL'} ({detail})")
    print(f"# excluded from checks: {res['excluded']}")
    e2e = declared("end_to_end")
    for k, unit in e2e.items():
        print(f"metric {k} = {res['e2e'][k]:.6g} {unit}")
    print(f"op_tail_ms = {res['op_tail_ms']:.6g} ms (p{res['tail_percentile']:.0f} "
          f"of n={res['samples']}; not a bound metric, see README)")
    print(f"peak_rss_mb = {res['peak_rss_mb']:.1f} MB (Spark JVM VmHWM; not a bound "
          "metric, see README)")
    print(f"metric failed_ratio = {res['failed'] / max(1, res['attempted']):.6g} "
          f"({res['failed']} of {res['attempted']})")
    if res["traced"]:
        units = declared("per_layer")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in per_layer_metrics(res).items()}
        for k, m in metrics.items():
            print(f"layer {k} = {m['value']:.6g} {m['unit']}")
        print(f"# slowest layer: {res['slowest_layer']}")
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in e2e.items()}
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }


def run_all(seed: int, seconds: float) -> int:
    """All workloads, untraced and traced, each in its own process; prints
    the loan-load metric names, the tracing overhead and the slowest layers."""
    rows = {}
    for w in WORKLOADS:
        for traced in (0, 1):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
                 str(seed), "--seconds", str(seconds), "--trace", str(traced), "--detail"],
                cwd=ROOT, capture_output=True, text=True, check=False)
            if out.returncode != 0:
                sys.stderr.write(out.stderr[-4000:])
                print(f"{w} trace={traced} failed with exit code {out.returncode}")
                return 1
            rows[(w, traced)] = json.loads(out.stdout.strip().splitlines()[-2])
    full, hourly, dash = (rows[(w, 0)] for w in WORKLOADS)
    attempted = sum(r["attempted"] for r in rows.values())
    failed = sum(r["failed"] for r in rows.values())
    print(f"load_s = {full['e2e']['op_p50_ms'] / 1e3:.4f} s  (full_load: one cold backfill)")
    print(f"increment_s = {hourly['e2e']['op_p50_ms'] / 1e3:.4f} s  (median hourly page)")
    print(f"query_p50_ms = {dash['e2e']['op_p50_ms']:.2f} ms")
    print(f"query_tail_ms = {dash['op_tail_ms']:.2f} ms  "
          f"(p{dash['tail_percentile']:.0f}, n={dash['samples']})")
    for w in WORKLOADS:
        r = rows[(w, 0)]["e2e"]
        print(f"storage_amp[{w}] = {r['storage_amp']:.4f} ratio")
        print(f"peak_rss_mb[{w}] = {rows[(w, 0)]['peak_rss_mb']:.1f} MB")
        print(f"setup_s[{w}] = {r['setup_s']:.3f} s")
    print(f"failed_ratio = {failed / max(1, attempted):.4g} ({failed} of {attempted})")
    for w in WORKLOADS:
        plain, traced = rows[(w, 0)], rows[(w, 1)]
        overhead = traced["e2e"]["op_p50_ms"] - plain["e2e"]["op_p50_ms"]
        print(f"tracing_overhead[{w}] = {overhead:.1f} ms per operation "
              f"(traced {traced['e2e']['op_p50_ms']:.1f} - untraced "
              f"{plain['e2e']['op_p50_ms']:.1f})")
        print(f"slowest_layer[{w}] = {traced['slowest_layer']} "
              f"({traced['layers'].get(traced['slowest_layer'] + '.s', 0):.2f} s)")
    units = declared("per_layer")
    for w in WORKLOADS:
        print(f"## per-layer, {w}")
        for k, v in per_layer_metrics(rows[(w, 1)]).items():
            print(f"{w} {k} = {v:.6g} {units[k]}")
    return 0 if failed == 0 else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload, traced and not")
    ap.add_argument("--detail", action="store_true",
                    help="also print the full run record as the next-to-last line")
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    if args.all:
        return run_all(args.seed, args.seconds)
    if args.workload is None:
        ap.error("--workload is required without --all")
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    result = report(res)
    if args.detail:
        print(json.dumps(res))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
