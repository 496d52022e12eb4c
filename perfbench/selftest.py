#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001, from the repository root:

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it checks that
  * a plain run passes its output checks and prints every end-to-end metric
    with its unit, in the table and in the final JSON line;
  * a traced run does the same for every per-layer metric;
  * a run whose expected outputs are corrupted inside the benchmark's own
    check path (not the program) reports failed ops;
and that a directory holding only BENCHMARK.json and the benchmark's files
makes the benchmark exit non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

SF = "0.001"
SECONDS = "3"


def run(args, cwd="."):
    done = subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=900)
    return done.returncode, done.stdout


def result(out):
    lines = out.strip().splitlines()
    return json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            problems.append(what)

    for w in (x["name"] for x in spec["workloads"]):
        base = ["--workload", w, "--seed", "7", "--seconds", SECONDS, "--sf", SF]
        for trace, metrics in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            code, out = run(base + ["--trace", trace])
            r = result(out)
            expect(code == 0 and r is not None, f"{w} trace {trace}: exits 0 with a result")
            if r is None:
                print(out[-3000:])
                continue
            expect(r["failed"] == 0 and r["correct"] and r["attempted"] >= 1,
                   f"{w} trace {trace}: {r['attempted']} ops, none failed")
            for m in metrics:
                got = r["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"]
                       and isinstance(got["value"], (int, float)),
                       f"{w} trace {trace}: {m['name']} reported in {m['unit']}")
                expect(any(line.split()[:1] == [m["name"]] and line.rstrip().endswith(m["unit"])
                           for line in out.splitlines()),
                       f"{w} trace {trace}: {m['name']} printed with its unit")
            expect(set(r["metrics"]) == {m["name"] for m in metrics},
                   f"{w} trace {trace}: no metric beyond BENCHMARK.json")
        code, out = run(base + ["--trace", "0", "--corrupt-check"])
        r = result(out)
        expect(code == 0 and r is not None and r["failed"] > 0 and not r["correct"],
               f"{w}: a corrupted expected output drives failed_frac above 0"
               + (f" ({r['failed']} of {r['attempted']})" if r else ""))

    bare = os.path.join(".bench_out", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    for p in spec["paths"]:
        shutil.copytree(p, os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy("BENCHMARK.json", bare)
    code, out = run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                     "--seconds", SECONDS, "--trace", "0"], cwd=bare)
    expect(code != 0 and result(out) is None,
           "a directory with only the benchmark exits non-zero without a result")
    shutil.rmtree(bare, ignore_errors=True)
    print("self-test " + ("passed" if not problems else f"FAILED: {len(problems)} problem(s)"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
