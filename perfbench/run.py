#!/usr/bin/env python3
"""Benchmark of the taxi ETL engine: one command per workload and seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark's JVM harness from the checkout's sources into .bench_build/. Each run
makes its inputs from the seed, runs the workload in one fresh JVM on
local[nproc], checks the outputs against DuckDB or recorded counts, and
prints as its last line one JSON object: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. perfbench/README.md describes
the workloads and every metric.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_taxi  # noqa: E402

WORKLOADS = ("taxi_etl", "gates_batch", "gates_stream")
# input sizes; the self-test shrinks them
TAXI_ROWS = 50_000
HARNESS_SCALE = "0.01"
# The gate registry's harness tables (TESTDATA.md), copied byte for byte
# and only ever read; SHA256SUMS pins their content.
HARNESS_DIR = os.path.join(HERE, "harness")
HARNESS_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings")
ETL_STAGES = ("extract", "transform", "anomaly_save", "report", "load.dim_time",
              "load.dim_location", "load.dim_payment", "load.fact")
GATE_FAMILIES = tuple("adefjmpqswx")
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HEAP = "4g"
JVM_TIMEOUT = 150
GATES_FILES = {w: os.path.join(HERE, w + ".txt") for w in ("gates_batch", "gates_stream")}
# each gate's count() over the harness tables, recorded once at the seed
# commit by record_counts.py
GATE_COUNTS = os.path.join(HERE, "gate_counts.json")
# Per-layer times that read 0 on every run of one workload (an ETL stage
# has no separate build or plan call; a gate pass rarely collects
# garbage): written to the trace record only, not reported as metrics.
TRACE_ONLY = ("build_s", "plan_s", "task_gc_s", "jvm_gc_s")


class BenchError(Exception):
    pass


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("Spark jars not found: set SPARK_HOME")
    return home


def source_digest(root):
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        base = os.path.join(root, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile the engine and the harness once per source digest."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise BenchError("engine sources (src/main/scala/graft) not found: "
                         "run from the root of a full checkout")
    out = os.path.join(build_dir, "perfbench")
    classes = os.path.join(out, "scala-2.13", "classes")
    stamp = os.path.join(out, "source.sha256")
    digest = source_digest(root)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    if not shutil.which("sbt"):
        raise BenchError("sbt not found")
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home(), BENCH_BUILD_DIR=build_dir)
    # the build resolves nothing over the network: Spark comes from
    # SPARK_HOME, the compiler from the local cache
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log(f"building engine + harness into {out} ...")
    with open(os.path.join(build_dir, "build.log"), "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.server.autostart=false", "compile"],
                            cwd=os.path.join(root, "perfbench"), env=env, stdout=fh,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            timeout=840).returncode
    if rc != 0:
        raise BenchError(f"build failed (see {build_dir}/build.log)")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes, digest


def java_cmd(classes, work, main, args):
    cp = classes + os.pathsep + os.path.join(spark_home(), "jars", "*")
    # Benchmark-only settings, not those of scripts/run.sh (default JIT,
    # -Xmx8g): a fixed heap keeps the collector's sizing out of the
    # timings, and the JIT compiles hot code after a tenth of its default
    # invocation counts, so a few warm passes bring the JVM close to steady
    # state. Set-up and cold-pass figures are taken under them too.
    return (["java", *JAVA_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}",
             "-XX:CompileThresholdScaling=0.1", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, main] + [str(a) for a in args])


def run_java(cmd, work, name, env_extra=None, timeout=JVM_TIMEOUT):
    env = dict(os.environ, **(env_extra or {}))
    with open(os.path.join(work, f"{name}.log"), "w") as fh:
        proc = subprocess.Popen(cmd, cwd=os.path.join(work, "cwd"), env=env, stdout=fh,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"{name} timed out after {timeout}s")
        finally:
            # also on SIGTERM (raised as SystemExit, see main): no JVM outlives the run
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        tail = open(os.path.join(work, f"{name}.log")).read()[-3000:]
        raise BenchError(f"{name} exited {rc}:\n{tail}")


# ---------------------------------------------------------------- box record

def box_probe(work):
    """The write probe Bench records: 256 x 4 KiB O_DSYNC writes (the
    per-fsync latency streaming commits pay) and 64 MiB buffered plus one
    fsync (the bulk lake-write shape), in MB/s."""
    path = os.path.join(work, "probe")
    try:
        fd = os.open(path, os.O_CREAT | os.O_WRONLY | os.O_DSYNC, 0o644)
        block = b"\0" * 4096
        t0 = time.perf_counter()
        for _ in range(256):
            os.write(fd, block)
        dsync = 256 * 4096 / 1e6 / (time.perf_counter() - t0)
        os.close(fd)
        fd = os.open(path, os.O_WRONLY | os.O_TRUNC)
        big = b"\0" * (1 << 20)
        t0 = time.perf_counter()
        for _ in range(64):
            os.write(fd, big)
        os.fsync(fd)
        bulk = 64 * (1 << 20) / 1e6 / (time.perf_counter() - t0)
        os.close(fd)
        return dsync, bulk
    finally:
        if os.path.exists(path):
            os.remove(path)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit_of(root, digest):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-sha256:" + digest[:16]


# ---------------------------------------------------------------- inputs

def make_inputs(args, work):
    """Inputs from the seed only. Returns the harness's arguments, the
    expected outputs and the path the measured passes read."""
    if args.workload == "taxi_etl":
        data = os.path.join(work, "data")
        os.makedirs(data)
        raw = os.path.join(data, "raw.parquet")
        expected = gen_taxi.write(raw, args.taxi_rows, args.seed)
        return ["--input", raw], expected, raw
    sf = harness(args.harness_scale)
    gates = gates_for(args.seed, args.gates_file or GATES_FILES[args.workload])
    counts = json.load(open(GATE_COUNTS))["sf" + args.harness_scale]
    missing = [g for g in gates if g not in counts]
    if missing:
        raise BenchError(f"no recorded count for {missing} at sf{args.harness_scale}")
    return ["--sf", sf, "--gates", ",".join(gates)], {g: counts[g] for g in gates}, sf


def harness(scale):
    """The harness tables at one scale, after checking them against
    SHA256SUMS: the seed never changes them."""
    sf = os.path.join(HARNESS_DIR, "sf" + scale)
    sums = dict(ln.split()[::-1] for ln in open(os.path.join(HARNESS_DIR, "SHA256SUMS")))
    for t in HARNESS_TABLES:
        rel = f"sf{scale}/{t}.parquet"
        try:
            with open(os.path.join(HARNESS_DIR, rel), "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
        except OSError as e:
            raise BenchError(f"harness table missing: {e}")
        if sums.get(rel) != digest:
            raise BenchError(f"harness table {rel} differs from SHA256SUMS")
    return sf


def read_gates(path):
    return [ln.strip() for ln in open(path) if ln.strip() and not ln.startswith("#")]


def gates_for(seed, path):
    """The fixed gate list, in a seed-permuted order."""
    names = read_gates(path)
    random.Random(seed).shuffle(names)
    return names


def family(gate):
    """A gate's family: its name's leading letters, sql* as s, win* as w."""
    lead = re.match("[a-z]+", gate).group(0)
    return {"sql": "s", "win": "w"}.get(lead, lead)


# ---------------------------------------------------------------- correctness

def check_etl(passes, expected):
    """Each pass's report and fact count against the generator's counts."""
    want = {k: expected[k] for k in ("anomalies", "valid_dedup", "fact_rows")}
    # the report's total counts the valid rows after dedup
    want["total"] = expected["valid_dedup"] + sum(expected["anomalies"].values())
    bad = [f"pass {p['pass']}: {p['check']} != {want}" for p in passes if p["check"] != want]
    return len(passes), bad


DASH_SQL = {
    "kpi": """SELECT quantile_cont(trip_distance, 0.5), round(avg(avg_speed) * 1.609, 2),
                     count(*) FROM t""",
    "daily_revenue": """SELECT round(avg(s), 2) FROM (SELECT CAST(tpep_pickup_datetime AS DATE),
                        sum(total_amount) AS s FROM t GROUP BY 1)""",
    "donut": """SELECT time_period, CAST(sum(passenger_count) AS BIGINT) AS p,
                round(sum(passenger_count) * 100.0 / sum(sum(passenger_count)) OVER (), 2)
                FROM t GROUP BY time_period ORDER BY p DESC, time_period""",
}


def same_row(a, b):
    """Exact match, except floats within one cent: the dashboard rounds
    money and percentages to cents, and a float sum's order can flip the
    last one."""
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) or isinstance(y, float):
            if x is None or y is None or abs(float(x) - float(y)) > 0.0100001:
                return False
        elif x != y:
            return False
    return True


def check_dashboard(passes, table):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{table}/*.parquet')")
    want = {q: [list(r) for r in con.sql(sql).fetchall()] for q, sql in DASH_SQL.items()}
    bad, n = [], 0
    for p in passes:
        for q, rows in p["check"].items():
            n += 1
            if len(rows) != len(want[q]) or not all(
                    same_row(a, b) for a, b in zip(rows, want[q])):
                bad.append(f"cycle {p['pass']} {q}: {rows} != {want[q]}")
    return n, bad


def check_gates(passes, want):
    """Each gate's count() in every pass against its recorded count."""
    bad, n = [], 0
    for p in passes:
        for g, got in p["check"].items():
            n += 1
            if got != want[g]:
                bad.append(f"pass {p['pass']} {g}: {got} != {want[g]}")
    return n, bad


# ---------------------------------------------------------------- metrics

def quantile(values, q):
    """Linear-interpolated quantile (q in [0, 1])."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def measured(passes):
    """The later half of the warm passes (or refreshes); pass 0 is the cold
    one. In one JVM a pass keeps getting faster while the JIT compiles, and
    the earlier warm passes absorb that."""
    return passes[1 + (len(passes) - 1) // 2:]


def end_to_end(res):
    passes = res["passes"]
    warm = measured(passes)
    # queries a user waits on: dashboard refreshes after the ETL, gates
    queries = measured(res["dash"]) if res["dash"] else warm
    query_ns = [op["ns"] for p in queries for op in p["ops"]]
    return {
        # the fresh JVM's first session, timed from JVM start
        "setup_s": (res["setup_ns"] / 1e9, "s"),
        "cold_pass_s": (passes[0]["wall_ns"] / 1e9, "s"),
        "pass_s": (statistics.median(p["wall_ns"] for p in warm) / 1e9, "s"),
        # a mean: the gates' latencies fall in separate clusters, and a
        # median between clusters jumped by a quarter from run to run
        "query_mean_ms": (statistics.fmean(query_ns) / 1e6, "ms"),
        "query_p90_ms": (quantile(query_ns, 0.9) / 1e6, "ms"),
    }


class Spans:
    """The harness's span records, indexed by id and by parent."""

    def __init__(self, records):
        self.by_id = {s["id"]: s for s in records}
        self.kids = {}
        for s in records:
            self.kids.setdefault(s["parent"], []).append(s)

    def __getitem__(self, i):
        return self.by_id[i]

    def children(self, s):
        return self.kids.get(s["id"], [])

    @staticmethod
    def secs(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    @staticmethod
    def count(s, k):
        return s.get("counts", {}).get(k, 0)


def phases(sp, passes):
    """Seconds and jobs in the build / plan / exec phases of every
    operation of the passes, summed."""
    phase = {"build": [0.0, 0], "plan": [0.0, 0], "exec": [0.0, 0]}
    for p in passes:
        for op in sp.children(sp[p["span"]]):
            if op["name"] in ETL_STAGES:
                # an ETL stage ends in a write; the whole stage executes
                phase["exec"][0] += sp.secs(op)
                phase["exec"][1] += sp.count(op, "jobs")
            for c in sp.children(op):
                phase[c["name"]][0] += sp.secs(c)
                phase[c["name"]][1] += sp.count(c, "jobs")
    return phase


def per_layer(res, extras):
    """Per measured pass: Spark work counted first, then seconds, split
    into the build / plan / exec phases of every operation."""
    sp = Spans(res["spans"])
    warm = measured(res["passes"])
    n = len(warm)
    phase = phases(sp, warm)
    # Gates memoize build-time artifacts in the JVM, so most build jobs
    # run in the cold pass only: its split is the one a build-to-execute
    # change moves.
    cold = phases(sp, res["passes"][:1])
    totals = {}
    for p in warm:
        ps = sp[p["span"]]
        for k in ("jobs", "tasks", "run_ms", "cpu_ns", "gc_ms", "input_bytes", "output_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            totals[k] = totals.get(k, 0) + sp.count(ps, k)
    wall = sum(p["wall_ns"] for p in warm) / 1e9
    spanned = sum(sp.secs(sp[p["span"]]) - sum(sp.secs(op) for op in sp.children(sp[p["span"]]))
                  for p in warm)
    m = {
        "jobs": (totals["jobs"] / n, "count"),
        "build_jobs": (phase["build"][1] / n, "count"),
        "exec_jobs": (phase["exec"][1] / n, "count"),
        "cold_build_jobs": (cold["build"][1], "count"),
        "cold_exec_jobs": (cold["exec"][1], "count"),
        "tasks": (totals["tasks"] / n, "count"),
        "files": (sum(p.get("out_files", 0) for p in warm) / n, "count"),
        "shuffle_mb": (totals["shuffle_write_bytes"] / 1e6 / n, "MB"),
        "scan_mb": (totals["input_bytes"] / 1e6 / n, "MB"),
        "scan_ratio": (totals["input_bytes"] / n / res["input_bytes"], "ratio"),
        "out_mb": (totals["output_bytes"] / 1e6 / n, "MB"),
        "spill_mb": (totals["spill_bytes"] / 1e6 / n, "MB"),
        "build_s": (phase["build"][0] / n, "s"),
        "plan_s": (phase["plan"][0] / n, "s"),
        "exec_s": (phase["exec"][0] / n, "s"),
        "untimed_s": (spanned / n, "s"),
        "cpu_s": (totals["cpu_ns"] / 1e9 / n, "s"),
        "task_gc_s": (totals["gc_ms"] / 1e3 / n, "s"),
        "jvm_gc_s": (sum(p["gc_ms"] for p in warm) / 1e3 / n, "s"),
        "util": (totals["run_ms"] / 1e3 / (wall * res["cores"]), "ratio"),
        "peak_heap_mb": (res["peak_heap_bytes"] / 1e6, "MB"),
        "traced_pass_s": (statistics.median(p["wall_ns"] for p in warm) / 1e9, "s"),
    }
    m.update(extras)
    return m


def steps(res, workload, left_mb):
    """Step-level figures per measured pass (dashboard queries: per
    measured refresh), named after the step: ETL stages, dashboard queries
    and gate families."""
    sp = Spans(res["spans"])
    out = {}

    def add(key, v, n):
        out[key] = out.get(key, 0) + v / n

    def each_op(passes):
        for p in passes:
            for op in sp.children(sp[p["span"]]):
                yield op, {c["name"]: c for c in sp.children(op)}

    warm = measured(res["passes"])
    n = len(warm)
    if workload == "taxi_etl":
        for op, _ in each_op(warm):
            k = "etl." + op["name"]
            add(k + ".s", sp.secs(op), n)
            add(k + ".jobs", sp.count(op, "jobs"), n)
            add(k + ".shuffle_mb", sp.count(op, "shuffle_write_bytes") / 1e6, n)
            add(k + ".out_mb", sp.count(op, "output_bytes") / 1e6, n)
            add(k + ".run_s", sp.count(op, "run_ms") / 1e3, n)
        for st in ETL_STAGES:
            k = "etl." + st
            out[k + ".util"] = out.pop(k + ".run_s") / (out[k + ".s"] * res["cores"])
        passes = [sp[p["span"]] for p in warm]
        out["etl.scan_ratio"] = sum(sp.count(s, "input_bytes") for s in passes) / n / \
            res["input_bytes"]
        out["etl.files"] = sum(p["out_files"] for p in warm) / n
        out["etl.gc_s"] = sum(sp.count(s, "gc_ms") for s in passes) / 1e3 / n
        out["etl.spill_mb"] = sum(sp.count(s, "spill_bytes") for s in passes) / 1e6 / n
        out["etl.untimed_s"] = sum(sp.secs(s) - sum(sp.secs(o) for o in sp.children(s))
                                   for s in passes) / n
        cycles = measured(res["dash"])
        for op, ph in each_op(cycles):
            k = op["name"]
            for name in ("build", "plan", "exec"):
                add(f"{k}.{name}_ms", sp.secs(ph[name]) * 1e3, len(cycles))
            add(k + ".jobs", sp.count(op, "jobs"), len(cycles))
            add(k + ".tasks", sp.count(op, "tasks"), len(cycles))
            add(k + ".scan_mb", sp.count(op, "input_bytes") / 1e6, len(cycles))
    else:
        stream = workload == "gates_stream"
        # the measured passes, then the cold pass (as cold_*)
        for passes, pre in ((warm, ""), (res["passes"][:1], "cold_")):
            for op, ph in each_op(passes):
                k = "stream" if stream else "gates." + family(op["name"][len("gate."):])
                for name in ("build", "plan", "exec"):
                    if name in ph:
                        add(f"{k}.{pre}{name}_s", sp.secs(ph[name]), len(passes))
                for name in ("build", "exec"):
                    if name in ph:
                        add(f"{k}.{pre}{name}_jobs", sp.count(ph[name], "jobs"), len(passes))
        if stream:
            trig = [ms for p in warm for g in p["trigger_ms"].values() for ms in g]
            out["stream.triggers"] = len(trig) / n
            out["stream.trigger_ms_p50"] = statistics.median(trig) if trig else 0.0
            out["stream.tmp_left_mb"] = left_mb
        else:
            out["gates.shuffle_mb"] = sum(sp.count(sp[p["span"]], "shuffle_write_bytes")
                                          for p in warm) / 1e6 / n
            out["gates.tmp_left_mb"] = left_mb
    return dict(sorted(out.items()))


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    # smaller inputs for the self-test; the benchmark's figures use the defaults
    ap.add_argument("--taxi-rows", type=int, default=TAXI_ROWS)
    ap.add_argument("--harness-scale", default=HARNESS_SCALE, choices=("0.01", "0.001"))
    ap.add_argument("--gates-file")
    args = ap.parse_args()

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    try:
        classes, digest = build(root, build_dir)
        result, box, trace_path = run(root, classes, digest, args)
    except (BenchError, subprocess.SubprocessError, OSError, ValueError) as e:
        log(f"perfbench: {e}")
        sys.exit(2)
    print("BOX " + json.dumps(box, sort_keys=True))
    if trace_path:
        print("TRACE " + trace_path)
    print(json.dumps(result))


def run(root, classes, digest, args):
    cores = nproc()
    work = os.path.join(root, ".bench_out", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "cwd"):
        os.makedirs(os.path.join(work, d))
    try:
        load_before = os.getloadavg()[0]
        dsync, bulk = box_probe(work)
        harness_args, expected, scanned = make_inputs(args, work)
        run_java(java_cmd(classes, work, "perfbench.Main", [
            "--workload", args.workload, "--seconds", args.seconds, "--trace", args.trace,
            "--work", work, "--cores", cores, *harness_args]), work, "harness")
        res = json.load(open(os.path.join(work, "result.json")))
        res["input_bytes"] = (os.path.getsize(scanned) if os.path.isfile(scanned)
                              else dir_bytes(scanned))
        load_after = os.getloadavg()[0]

        if args.workload == "taxi_etl":
            attempted, bad = check_etl(res["passes"], expected)
            table = os.path.join(res["passes"][-1]["out_dir"], "transform",
                                 "transformed_data.parquet")
            n, bad_dash = check_dashboard(res["dash"], table)
            attempted, bad = attempted + n, bad + bad_dash
        else:
            attempted, bad = check_gates(res["passes"], expected)
        for b in bad[:10]:
            log("WRONG " + b)
        # what the library left behind in the run's scratch directories
        left_mb = sum(dir_bytes(os.path.join(work, d))
                      for d in ("tmp", "local", "warehouse", "cwd")) / 1e6

        box = {"nproc": cores, "max_heap_mb": round(res["max_heap_bytes"] / 1e6, 1),
               "load_before": load_before, "load_after": load_after,
               "contended": load_before > cores,
               "dsync_mb_s": round(dsync, 3), "bulk_mb_s": round(bulk, 3),
               "commit": commit_of(root, digest), "passes": len(res["passes"]),
               "ops_per_pass": len(res["passes"][0]["ops"])}
        trace_path = None
        if args.trace:
            layers = per_layer(res, {
                "tmp_left_mb": (left_mb, "MB"),
                "error_rate": (len(bad) / attempted, "ratio"),
                "box.dsync_mb_s": (dsync, "MB/s"), "box.bulk_mb_s": (bulk, "MB/s"),
                "box.load_before": (load_before, "load"),
                "box.load_after": (load_after, "load")})
            metrics = {k: v for k, v in layers.items() if k not in TRACE_ONLY}
            trace_dir = os.path.join(root, ".bench_out", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json")
            with open(trace_path, "w") as fh:
                json.dump({"box": box, "layers": {k: v for k, (v, _) in layers.items()},
                           "steps": steps(res, args.workload, left_mb),
                           "spans": res["spans"]}, fh, indent=1, ensure_ascii=False)
        else:
            metrics = end_to_end(res)
        result = {"correct": not bad, "attempted": attempted, "failed": len(bad),
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
        return result, box, trace_path
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
