"""Self-test of the benchmark (not of the program).

    python3 perfbench/selftest.py            # checker, generator and spec cases
    python3 perfbench/selftest.py --run W    # also one short run of workload W

Cases:
  - BENCHMARK.json keeps the contract's shape (keys, names, units, bounds);
  - the harness's self-test: the same seed generates identical inputs, two
    seeds different ones, and a seeded wrong answer fails the batch-collect
    checker and the continuous-collect fingerprint;
  - the registry-board oracle comparison rejects a seeded wrong answer and a
    int/float kind split, and accepts the true answer;
  - with --run: the last output line carries exactly BENCHMARK.json's
    metric names and units, for --trace 0 and --trace 1.
Exits non-zero if any case fails.
"""

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
failures = []


def expect(what, ok):
    print(f"[selftest] {'ok  ' if ok else 'FAIL'} {what}")
    if not ok:
        failures.append(what)


def spec_cases():
    s = run.spec()
    expect("BENCHMARK.json has exactly the contract's keys",
           set(s) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"})
    names = [w["name"] for w in s["workloads"]] + \
        [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    expect("names are valid and unique",
           all(NAME.match(n) for n in names) and len(set(names)) == len(names))
    expect("units are valid",
           all(UNIT.match(m["unit"]) for m in s["end_to_end"] + s["per_layer"]))
    expect("bounds are within 0.25",
           all(0 < m["bound"] <= 0.25 for m in s["end_to_end"]))
    setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
    expect("setup_s is present, in s, lower is better",
           len(setup) == 1 and setup[0]["unit"] == "s"
           and setup[0]["better"] == "lower")


def oracle_cases():
    import duckdb
    con = duckdb.connect()
    con.sql("CREATE TABLE t AS SELECT range AS k, range * 2 AS v FROM range(50)")
    expect("oracle accepts the true answer",
           oracle.compare(con, "SELECT v, k FROM t", "SELECT k, v FROM t") is None)
    expect("oracle rejects a wrong value",
           oracle.compare(con, "SELECT k, CASE WHEN k = 7 THEN v + 1 ELSE v END AS v FROM t",
                          "SELECT k, v FROM t") is not None)
    expect("oracle rejects a missing row",
           oracle.compare(con, "SELECT k, v FROM t WHERE k <> 3",
                          "SELECT k, v FROM t") is not None)
    expect("oracle rejects an int/float kind split",
           oracle.compare(con, "SELECT k, CAST(v AS DOUBLE) AS v FROM t",
                          "SELECT k, v FROM t") is not None)


def harness_cases():
    cp = build.build()
    d = os.path.join(build.BUILD, "selftest")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    try:
        cmd = run.jvm_cmd(cp, [d], d)
        cmd[cmd.index("perfbench.Main")] = "perfbench.SelfTest"
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=600)
        print(r.stdout, end="")
        expect("harness self-test", r.returncode == 0)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def run_case(workload):
    s = run.spec()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "2", "--trace", str(trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
        lines = r.stdout.strip().splitlines()
        last = json.loads(lines[-1]) if r.returncode == 0 and lines else {}
        got = {k: v["unit"] for k, v in last.get("metrics", {}).items()}
        want = {m["name"]: m["unit"] for m in s[key]}
        expect(f"--trace {trace}: printed names and units match BENCHMARK.json",
               got == want)
        expect(f"--trace {trace}: keys of the last line",
               set(last) == {"correct", "attempted", "failed", "metrics"})


def main():
    spec_cases()
    oracle_cases()
    harness_cases()
    if "--run" in sys.argv:
        run_case(sys.argv[sys.argv.index("--run") + 1])
    if failures:
        print(f"[selftest] {len(failures)} case(s) failed")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
