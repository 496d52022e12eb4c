#!/usr/bin/env python3
"""Layered benchmark of the coddspark engine. Run from the repository root:

    python3 perfbench/run.py --workload <ivm_stream|catalogue> \\
        --seed <n> --seconds <s> --trace <0|1>

It builds the program from `src/main/scala` (once per source tree), makes
the inputs from the seed, runs the workload in one JVM for `--seconds`,
checks every op's output, prints a metrics table, and prints as its last
line one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with `--trace 0`, the per-layer ones with `--trace 1`).
Everything it writes stays under `.bench_build`, `.bench_data` and
`.bench_out` in the current directory. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("ivm_stream", "catalogue")
SF = 0.01             # scale factor of the base tables
DELTA_FRAC = 0.015    # ivm_stream: each slice is this share of the stable half
MAX_SLICES = 40       # ivm_stream: delta slices materialized per run
SETUPS = 3            # set-ups per run; setup_s is their median
HEAP = "3g"
RUN_LIMIT_S = 170     # a run must end within 180 s

END_TO_END = [("op_p50_s", "s"), ("op_tail_s", "s"), ("ops_per_s", "1/s"),
              ("setup_s", "s"), ("state_mb", "MB")]
# the catalogue slice: single-task (corr_matrix, linkage_ed1), job-count
# bound (events_rfm), shuffle heavy (graph_wl), global pin registries
# (linkage_ed1, basket_pairs). An odd count puts the median op on one slot,
# not between two.
SLOTS = ["corr_matrix", "events_rfm", "graph_wl", "linkage_ed1", "basket_pairs"]
PER_LAYER = (
    [("core.insert_s", "s"), ("core.stabilize_s", "s"),
     ("core.evaluate_s", "s"), ("core.consume_s", "s"),
     ("instance.blocks_held", "count"), ("instance.state_mb_per_op", "MB"),
     ("instance.blocks_after_close", "count"), ("tables.ingest_s", "s")]
    + [(f"slot.{s}_s", "s") for s in SLOTS]
    + [("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
       ("spark.tasks_per_op", "count"), ("spark.driver_only_s_per_op", "s"),
       ("spark.in_job_s_per_op", "s"), ("spark.task_s_per_op", "s"),
       ("spark.effective_parallelism", "ratio"),
       ("spark.shuffle_write_mb_per_op", "MB"),
       ("spark.shuffle_read_mb_per_op", "MB"),
       ("spark.spill_mb_per_op", "MB"),
       ("spark.records_read_per_delta_row", "ratio"),
       ("spark.tasks_per_op_growth", "ratio"),
       ("catalyst.plan_s_per_op", "s"), ("catalyst.actions_per_op", "count"),
       ("jvm.gc_s_per_op", "s")])
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


# ----------------------------------------------------------------- build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BenchError("Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def scalac(jars, classpath, out, sources):
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-cp",
           os.pathsep.join(classpath + [os.path.join(jars, "*")]),
           "-d", out] + sources
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if done.returncode != 0:
        raise BenchError(f"compile failed:\n{done.stdout[-4000:]}")


def build(jars):
    """Compile the program and the harness into `.bench_build`, keyed by a
    hash of their sources; reuse an earlier build of the same sources."""
    program = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise BenchError("no program sources under src/main/scala")
    h = hashlib.sha256()
    for path in program + harness:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    out = os.path.join(".bench_build", "perfbench-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "ok")):
        return out
    for old in glob.glob(os.path.join(".bench_build", "perfbench-*")):
        shutil.rmtree(old)
    classes = os.path.join(out, "classes")
    scalac(jars, [], classes, program)
    scalac(jars, [classes], os.path.join(out, "bench"), harness)
    open(os.path.join(out, "ok"), "w").close()
    return out


# ------------------------------------------------------------------ data

def base_tables(sf):
    """Base tables for `sf`, generated once per generator version; the
    oracle cache lives beside them."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()[:16]
    out = os.path.join(".bench_data", f"sf{sf}-{stamp}")
    if not os.path.exists(os.path.join(out, "ok")):
        for old in glob.glob(os.path.join(".bench_data", f"sf{sf}-*")):
            shutil.rmtree(old)
        gen.write(out, sf)
        open(os.path.join(out, "ok"), "w").close()
    return out


# ------------------------------------------------------------------- run

def java_cmd(build_dir, jars, tmp, main, args):
    cp = os.pathsep.join([os.path.join(build_dir, "bench"),
                          os.path.join(build_dir, "classes"),
                          os.path.join(jars, "*")])
    # no perf-data file in the system temp dir; Spark's scratch space and
    # the JVM's temp dir stay under the run's output directory
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
             f"-Djava.io.tmpdir={os.path.abspath(tmp)}"]
            + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, main] + [str(a) for a in args])


def run_jvm(build_dir, jars, args, out_dir, timeout):
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = java_cmd(build_dir, jars, tmp, "perfbench.Main", args)
    with open(os.path.join(out_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(10, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"JVM did not finish within {timeout:.0f} s")
    if code != 0:
        with open(os.path.join(out_dir, "jvm.log")) as f:
            tail = f.read()[-4000:]
        raise BenchError(f"JVM exited with {code}:\n{tail}")
    with open(os.path.join(out_dir, "record.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def cell(v):
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon(df):
    """Hash a frame the way the project's oracle gate does: columns sorted
    by name, rows sorted on the typed values, cells rendered as Python
    scalars."""
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df = df.sort_values(by=cols, kind="mergesort", na_position="last")
    h = hashlib.sha256()
    for row in zip(*(df[c].tolist() for c in cols)):
        h.update("\x1f".join(cell(v) for v in row).encode() + b"\x1e")
    return h.hexdigest()


def summary(df):
    """What a result is compared on: row count, column dtypes, content hash."""
    return {"rows": len(df), "dtypes": {c: str(df[c].dtype) for c in df.columns},
            "hash": canon(df)}


def connect(data_dir):
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def expected(con, data_dir, sql):
    """The oracle's summary for `sql`, cached beside the base tables: the
    tables never change for a scale factor, and some oracles take minutes."""
    path = os.path.join(data_dir, "oracle-" + hashlib.sha256(sql.encode()).hexdigest()[:16] + ".json")
    if not os.path.exists(path):
        with open(path + ".tmp", "w") as f:
            json.dump(summary(con.execute(sql).fetchdf()), f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def cache_oracles(build_dir, jars, data_dir):
    """Fill the oracle cache for the catalogue slice, so that no timed run
    waits for DuckDB."""
    tmp = os.path.join(".bench_out", "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        done = subprocess.run(java_cmd(build_dir, jars, tmp, "perfbench.Oracles", SLOTS),
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              text=True, timeout=120)
    except subprocess.TimeoutExpired:
        raise BenchError("reading the oracle SQL timed out")
    if done.returncode != 0:
        raise BenchError("could not read the oracle SQL of the catalogue slice")
    oracles = json.loads(done.stdout.strip().splitlines()[-1])
    con = connect(data_dir)
    for sql in oracles.values():
        expected(con, data_dir, sql)
    con.close()


def oracle_check(record, data_dir, out_dir, corrupt):
    """Compare each written slot result with its DuckDB oracle. Returns
    {name: (expected row count, failure or None)}."""
    with open(os.path.join(out_dir, "oracles.json")) as f:
        oracles = json.load(f)
    con = connect(data_dir)
    verdicts = {}
    for name in record["written"]:
        if name not in oracles:
            verdicts[name] = (None, "no oracle SQL")
            continue
        files = sorted(glob.glob(os.path.join(out_dir, "results", name, "*.parquet")))
        got = summary(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
        exp = expected(con, data_dir, oracles[name])
        n_exp = exp["rows"] + (1 if corrupt else 0)
        fail = None
        if sorted(got["dtypes"]) != sorted(exp["dtypes"]):
            fail = f"columns {sorted(got['dtypes'])} != {sorted(exp['dtypes'])}"
        elif got["rows"] != n_exp:
            fail = f"rows {got['rows']} != {n_exp}"
        else:
            drift = [c for c, t in got["dtypes"].items() if t != exp["dtypes"][c]
                     and not (t.startswith("int") and exp["dtypes"][c].startswith("int"))]
            if drift:
                fail = f"dtypes differ in {drift}"
            elif got["hash"] != exp["hash"]:
                fail = "content hash differs from the oracle"
        verdicts[name] = (n_exp, fail)
    con.close()
    return verdicts


# --------------------------------------------------------------- metrics

def tail(values):
    """The highest percentile with at least ten samples beyond it, but never
    below p90 (nearest rank): a run of fewer than 100 ops reports its p90.
    Returns (value, percentile, samples beyond it)."""
    xs = sorted(values)
    n = len(xs)
    k = max(n - 11, math.ceil(0.9 * n) - 1)
    return xs[k], 100.0 * (k + 1) / n, n - 1 - k


def end_to_end(record, lat):
    value, pct, beyond = tail(lat)
    metrics = {
        "op_p50_s": statistics.median(lat),
        "op_tail_s": value,
        "ops_per_s": len(lat) / sum(lat),
        "setup_s": statistics.median(s for s, _ in record["setups"]),
        "state_mb": record["storage_peak_mb"],
    }
    note = f"op_tail_s is p{pct:.1f} of {len(lat)} ops ({beyond} beyond it)"
    return metrics, note


def union_s(intervals, lo, hi):
    """Seconds of [lo, hi] (epoch ms) covered by the union of intervals."""
    total, end = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total / 1000.0


def per_layer(record):
    ops = record["ops"]
    traced = [i for i, o in enumerate(ops) if o["traced"]]
    n = max(1, len(traced))
    spans = [dict(zip(("id", "parent", "name", "op", "start_ns", "end_ns"), s))
             for s in record["spans"]]
    window = {i: (ops[i]["start_ns"] / 1e6, ops[i]["end_ns"] / 1e6) for i in traced}

    def span_s(name):
        return sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
                   if s["name"] == name and s["op"] in window) / n

    spark = {int(k): v for k, v in record["spark"].items()}
    zero = {"jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0, "shuffle_write": 0,
            "shuffle_read": 0, "spill": 0, "records_read": 0, "job_intervals": []}
    per_op = [spark.get(i, zero) for i in traced]
    in_job = [union_s([(s, e) for _, s, e in c["job_intervals"]], *window[i])
              for i, c in zip(traced, per_op)]
    wall = [(ops[i]["end_ns"] - ops[i]["start_ns"]) / 1e9 for i in traced]
    task_s = sum(c["task_ms"] for c in per_op) / 1000.0
    delta_rows = sum(ops[i]["delta_rows"] for i in traced)
    q = max(1, len(per_op) // 4)
    first_q = sum(c["tasks"] for c in per_op[:q]) / q
    last_q = sum(c["tasks"] for c in per_op[-q:]) / q
    plans = [(t, s) for t, s in record["catalyst"]
             if any(lo <= t <= hi for lo, hi in window.values())]
    by_slot = {}
    for o in ops:
        for slot, _, ns in o["parts"]:
            by_slot.setdefault(slot, []).append(ns / 1e9)
    m = {
        "core.insert_s": span_s("insert"),
        "core.stabilize_s": span_s("stabilize"),
        "core.evaluate_s": span_s("evaluate"),
        "core.consume_s": span_s("consume"),
        "instance.blocks_held": record["blocks_end"],
        "instance.state_mb_per_op":
            (record["storage_end_mb"] - record["storage_start_mb"]) / len(ops),
        "instance.blocks_after_close": record["blocks_after_close"],
        "tables.ingest_s": statistics.median(g for _, g in record["setups"]),
    }
    for slot in SLOTS:
        m[f"slot.{slot}_s"] = statistics.median(by_slot.get(slot, [0.0]))
    m.update({
        "spark.jobs_per_op": sum(c["jobs"] for c in per_op) / n,
        "spark.stages_per_op": sum(c["stages"] for c in per_op) / n,
        "spark.tasks_per_op": sum(c["tasks"] for c in per_op) / n,
        "spark.driver_only_s_per_op": (sum(wall) - sum(in_job)) / n,
        "spark.in_job_s_per_op": sum(in_job) / n,
        "spark.task_s_per_op": task_s / n,
        "spark.effective_parallelism":
            task_s / (sum(in_job) * record["cores"]) if sum(in_job) else 0.0,
        "spark.shuffle_write_mb_per_op":
            sum(c["shuffle_write"] for c in per_op) / 1e6 / n,
        "spark.shuffle_read_mb_per_op":
            sum(c["shuffle_read"] for c in per_op) / 1e6 / n,
        "spark.spill_mb_per_op": sum(c["spill"] for c in per_op) / 1e6 / n,
        "spark.records_read_per_delta_row":
            sum(c["records_read"] for c in per_op) / delta_rows if delta_rows else 0.0,
        "spark.tasks_per_op_growth": last_q / first_q if first_q else 0.0,
        "catalyst.plan_s_per_op": sum(s for _, s in plans) / n,
        "catalyst.actions_per_op": len(plans) / n,
        "jvm.gc_s_per_op": record["gc_s"] / len(ops),
    })
    return m, spans, traced, wall


def self_times(spans, record, traced):
    """Per span name: calls, total seconds, self seconds (minus children)."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + (s["end_ns"] - s["start_ns"])
    rows = {}
    for s in spans:
        r = rows.setdefault(s["name"], [0, 0.0, 0.0])
        d = s["end_ns"] - s["start_ns"]
        r[0] += 1
        r[1] += d / 1e9
        r[2] += (d - child.get(s["id"], 0)) / 1e9
    jobs = [iv for i in traced for iv in record["spark"].get(str(i), {}).get("job_intervals", [])]
    rows["spark job"] = [len(jobs), sum(e - s for _, s, e in jobs) / 1000.0, None]
    return rows


def write_trace(path, spans, record, traced):
    """Spans and Spark jobs (parented to their op span) as one JSON list."""
    op_span = {s["op"]: s["id"] for s in spans if s["name"] == "op"}
    out = list(spans)
    for i in traced:
        for job, s, e in record["spark"].get(str(i), {}).get("job_intervals", []):
            out.append({"id": f"job-{job}", "parent": op_span.get(i, -1),
                        "name": "job", "op": i, "start_ns": s * 1000000,
                        "end_ns": e * 1000000})
    with open(path, "w") as f:
        json.dump(out, f)


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF)
    ap.add_argument("--corrupt-check", action="store_true",
                    help="self-test: corrupt the expected outputs")
    a = ap.parse_args()
    try:
        jars = spark_jars()
        build_dir = build(jars)
        data_dir = base_tables(a.sf)
        stamp = os.path.join(data_dir, "oracles-" + os.path.basename(build_dir))
        if not os.path.exists(stamp):
            cache_oracles(build_dir, jars, data_dir)
            open(stamp, "w").close()
        t_start = time.time()  # the first run builds; the time limit starts here
        out_dir = os.path.join(".bench_out", f"{a.workload}-t{a.trace}")
        shutil.rmtree(out_dir, ignore_errors=True)
        input_dir = os.path.join(out_dir, "inputs")
        if a.workload == "ivm_stream":
            gen.inputs(data_dir, input_dir, a.seed, DELTA_FRAC, MAX_SLICES)
        cores = len(os.sched_getaffinity(0))
        record = run_jvm(build_dir, jars, [
            a.workload, a.seed, a.seconds, a.trace, os.path.abspath(data_dir),
            os.path.abspath(input_dir), os.path.abspath(out_dir), cores,
            SETUPS, int(a.corrupt_check), ",".join(SLOTS)], out_dir,
            RUN_LIMIT_S - (time.time() - t_start))
        ops = record["ops"]
        if not ops:
            raise BenchError("no op completed in the timed phase")
        failures = [o["failure"] for o in ops]
        if record["written"]:
            verdicts = oracle_check(record, data_dir, out_dir, a.corrupt_check)
            for i, o in enumerate(ops):
                for slot, rows, _ in o["parts"]:
                    n_exp, fail = verdicts.get(slot, (None, "not checked"))
                    if failures[i] is None and fail is not None:
                        failures[i] = f"{slot}: {fail}"
                    elif failures[i] is None and rows != n_exp:
                        failures[i] = f"{slot} returned {rows} rows, oracle {n_exp}"
        shutil.rmtree(os.path.join(out_dir, "results"), ignore_errors=True)
        shutil.rmtree(os.path.join(out_dir, "tmp"), ignore_errors=True)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    lat = [(o["end_ns"] - o["start_ns"]) / 1e9 for o in ops]
    failed = sum(f is not None for f in failures)
    for o, f in zip(ops, failures):
        if f is not None:
            print(f"FAILED {o['name']}: {f}")
    e2e, note = end_to_end(record, lat)
    print(f"workload {a.workload}, seed {a.seed}, {a.seconds} s, trace {a.trace}, "
          f"local[{record['cores']}], sf {a.sf}")
    print(f"end to end ({note}):")
    for name, unit in END_TO_END:
        print(f"  {name:<34} {e2e[name]:>14.6f} {unit}")
    print(f"  {'failed_frac':<34} {failed / len(ops):>14.6f} fraction "
          f"({failed} of {len(ops)} ops)")
    first_op = (record["first_op_ms"] - record["jvm_start_ms"]) / 1000.0
    print(f"  (JVM start to first timed op: {first_op:.3f} s; "
          f"set-ups {[round(s, 3) for s, _ in record['setups']]})")
    metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    if a.trace:
        layers, spans, traced, wall = per_layer(record)
        print("per layer (means over traced ops):")
        for name, unit in PER_LAYER:
            print(f"  {name:<34} {layers[name]:>14.6f} {unit}")
        core = [sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
                    if s["op"] == i and s["parent"] >= 0 and s["name"] in
                    ("insert", "stabilize", "evaluate", "consume")) for i in traced]
        shares = [c / w for c, w in zip(core, wall) if w > 0]
        if shares:
            print(f"core.* calls cover {100 * statistics.mean(shares):.2f}% of op "
                  f"wall time (lowest op {100 * min(shares):.2f}%)")
        untraced = [s for s, o in zip(lat, ops) if not o["traced"]]
        tr = [s for s, o in zip(lat, ops) if o["traced"]]
        if tr and untraced:
            print(f"tracing overhead: traced op_p50_s {statistics.median(tr):.6f} - "
                  f"untraced {statistics.median(untraced):.6f} = "
                  f"{statistics.median(tr) - statistics.median(untraced):+.6f} s")
        print(f"{'span':<12} {'calls':>7} {'total s':>12} {'self s':>12}")
        for name, (calls, total, self_s) in self_times(spans, record, traced).items():
            self_col = "" if self_s is None else f"{self_s:12.4f}"
            print(f"{name:<12} {calls:>7} {total:12.4f} {self_col:>12}")
        trace_path = os.path.join(out_dir, "trace.json")
        write_trace(trace_path, spans, record, traced)
        print(f"spans written to {trace_path}")
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
