#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (20k taxi rows, harness scale
0.001, one gate per family, one streaming gate). Checks that:

  * every workload runs, with and without tracing, and its outputs check out;
  * every metric BENCHMARK.json names is emitted, with its unit;
  * spans nest inside their parents and no span has negative self time;
  * the benchmark's ETL pass writes the same tables and report as the
    shipped TaxiEtlMain on the same input.

Run from the root of a checkout: python3 perfbench/selftest.py
"""
import glob
import json
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

ROOT = os.getcwd()
SEED = 11
TINY = ["--taxi-rows", "20000", "--harness-scale", "0.001"]
ETL_TABLES = ["extract/extracted_data.parquet", "transform/transformed_data.parquet",
              "transform/anomalies_*.parquet", "warehouse/dim_time", "warehouse/dim_location",
              "warehouse/dim_payment", "warehouse/fact_trips"]


def fail(msg):
    print("FAIL " + msg)
    sys.exit(1)


def tiny_gates():
    """One gate per family for gates_batch, the first streaming gate for
    gates_stream."""
    first = {}
    for g in run.read_gates(run.GATES_FILES["gates_batch"]):
        first.setdefault(run.family(g), g)
    missing = set(run.GATE_FAMILIES) - set(first)
    if missing:
        fail(f"gate list has no gate for families {sorted(missing)}")
    lists = {"gates_batch": [first[f] for f in run.GATE_FAMILIES],
             "gates_stream": run.read_gates(run.GATES_FILES["gates_stream"])[:1]}
    paths = {}
    for w, gates in lists.items():
        paths[w] = os.path.join(ROOT, ".bench_out", f"selftest_{w}.txt")
        os.makedirs(os.path.dirname(paths[w]), exist_ok=True)
        with open(paths[w], "w") as fh:
            fh.write("\n".join(gates) + "\n")
    return paths


def bench(workload, trace, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), *TINY, *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        fail(f"{workload} trace={trace} exited {out.returncode}: {out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    if not result["correct"] or result["failed"]:
        fail(f"{workload} trace={trace} wrong results: {out.stderr[-2000:]}")
    trace_path = next((ln[6:] for ln in lines if ln.startswith("TRACE ")), None)
    return result, trace_path


def check_metrics(result, declared, what):
    got = result["metrics"]
    if set(got) != {m["name"] for m in declared}:
        fail(f"{what}: metrics {sorted(got)} != declared {sorted(m['name'] for m in declared)}")
    for m in declared:
        v = got[m["name"]]
        if v["unit"] != m["unit"] or not isinstance(v["value"], (int, float)):
            fail(f"{what}: {m['name']} = {v}, declared unit {m['unit']}")


def check_spans(trace_path, what):
    spans = {s["id"]: s for s in json.load(open(trace_path))["spans"]}
    if not spans:
        fail(f"{what}: no spans")
    for s in spans.values():
        if s["self_ns"] < 0:
            fail(f"{what}: span {s['name']} has negative self time")
        p = spans.get(s["parent"])
        if p and not (p["start_ns"] <= s["start_ns"] <= s["end_ns"] <= p["end_ns"]):
            fail(f"{what}: span {s['name']} is not inside its parent {p['name']}")
        if not s.get("req"):
            fail(f"{what}: span {s['name']} has no request id")


def same_tables(a_root, b_root):
    """Row multisets of every ETL output table, compared with DuckDB."""
    con = duckdb.connect()
    for t in ETL_TABLES:
        a = glob.glob(os.path.join(a_root, t))
        b = glob.glob(os.path.join(b_root, t))
        if len(a) != 1 or len(b) != 1:
            fail(f"ETL equivalence: {t} missing ({a}, {b})")
        q = "SELECT * FROM read_parquet('{}/*.parquet')"
        diff = con.sql(f"SELECT count(*) FROM (({q.format(a[0])} EXCEPT ALL {q.format(b[0])}) "
                       f"UNION ALL ({q.format(b[0])} EXCEPT ALL {q.format(a[0])}))").fetchone()[0]
        n = con.sql(f"SELECT count(*) FROM ({q.format(a[0])})").fetchone()[0]
        if diff or n == 0:
            fail(f"ETL equivalence: {t} differs from TaxiEtlMain's ({diff} rows, {n} total)")
        print(f"  same as TaxiEtlMain: {t} ({n} rows)")
    report = "transform/transformation_report.json"
    if open(os.path.join(a_root, report)).read() != open(os.path.join(b_root, report)).read():
        fail("ETL equivalence: transformation_report.json differs")


def etl_equivalence(work):
    """Runs TaxiEtlMain on the kept run's input and compares its outputs
    with the benchmark's last ETL pass."""
    try:
        ours = sorted(glob.glob(os.path.join(work, "etl", "pass*")))[-1]
        shipped = os.path.join(work, "shipped")
        classes = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                               ".bench_build"),
                               "perfbench", "scala-2.13", "classes")
        run.run_java(run.java_cmd(classes, work, "graft.taxi.TaxiEtlMain",
                                  [os.path.join(work, "data", "raw.parquet"), shipped]),
                     work, "taxi_etl_main", {"SPARK_GRAFT_CPUS": str(run.nproc())})
        same_tables(ours, shipped)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    gates_files = tiny_gates()
    kept = set(glob.glob(os.path.join(ROOT, ".bench_out", "taxi_etl-*")))
    for w in (x["name"] for x in spec["workloads"]):
        gates = ["--gates-file", gates_files[w]] if w in gates_files else []
        keep = ["--keep"] if w == "taxi_etl" else []
        r0, _ = bench(w, 0, gates + keep)
        check_metrics(r0, spec["end_to_end"], f"{w} end-to-end")
        r1, trace_path = bench(w, 1, gates)
        check_metrics(r1, spec["per_layer"], f"{w} per-layer")
        check_spans(trace_path, w)
        print(f"ok {w}: {len(r0['metrics'])} end-to-end, {len(r1['metrics'])} per-layer metrics")
    work = (set(glob.glob(os.path.join(ROOT, ".bench_out", "taxi_etl-*"))) - kept).pop()
    etl_equivalence(work)
    print("selftest passed")


if __name__ == "__main__":
    main()
