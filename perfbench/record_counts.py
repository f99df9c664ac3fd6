#!/usr/bin/env python3
"""Records the count each benchmark gate returns over the harness tables,
once, at the commit the benchmark checks later commits against.

    python3 perfbench/record_counts.py

Run from the root of a checkout. Runs every gate of gates_batch.txt and
gates_stream.txt once, in one fresh JVM per harness scale, and checks each
count against DuckDB counting the gate's oracle SQL (SparkEntry.oracleSql)
where DuckDB can run it. Writes perfbench/gate_counts.json only when no count
differs from its oracle and no gate fails.
"""
import json
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def oracle_counts(sf, oracle):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in run.HARNESS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    out = {}
    for g, sql in oracle.items():
        try:
            out[g] = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0] if sql else None
        except duckdb.Error:
            out[g] = None
    return out


def record(classes, root, scale):
    counts, bad = {}, []
    for workload in ("gates_batch", "gates_stream"):
        gates = run.read_gates(run.GATES_FILES[workload])
        work = os.path.join(root, ".bench_out", f"record-{workload}-sf{scale}")
        shutil.rmtree(work, ignore_errors=True)
        for d in ("tmp", "local", "warehouse", "cwd"):
            os.makedirs(os.path.join(work, d))
        sf = run.harness(scale)
        run.run_java(run.java_cmd(classes, work, "perfbench.Main", [
            "--workload", workload, "--seconds", 0, "--trace", 0, "--min-warm", 0,
            "--work", work, "--cores", run.nproc(), "--sf", sf,
            "--gates", ",".join(gates)]), work, "record", timeout=1800)
        res = json.load(open(os.path.join(work, "result.json")))
        want = oracle_counts(sf, res["oracle"])
        for g, got in res["passes"][0]["check"].items():
            if not isinstance(got, int) or (want[g] is not None and got != want[g]):
                bad.append(f"sf{scale} {g}: {got}, oracle {want[g]}")
            counts[g] = got
        checked = sum(want[g] is not None for g in gates)
        print(f"sf{scale} {workload}: {len(gates)} gates, {checked} checked against DuckDB")
        shutil.rmtree(work, ignore_errors=True)
    return counts, bad


def main():
    root = os.getcwd()
    classes, _ = run.build(root, os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                                 ".bench_build"))
    table, bad = {}, []
    for scale in ("0.01", "0.001"):
        table["sf" + scale], b = record(classes, root, scale)
        bad += b
    if bad:
        print("\n".join(bad))
        sys.exit(1)
    with open(run.GATE_COUNTS, "w") as fh:
        json.dump(table, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
