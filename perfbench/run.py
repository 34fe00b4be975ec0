"""Benchmark command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness from
source (perfbench/build.py), generates the workload's inputs from the seed,
runs it in one JVM on local[nproc], checks every output, and prints the
workload's named metrics, its correctness verdict and the measurement
conditions, then, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). See perfbench/README.md.
"""

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

RUN_LIMIT_S = 170  # one run's JVM, from its start
# BENCHMARK.json lists the first two, whose regressions are checked
WORKLOADS = ["batch_collect", "registry_board", "continuous_collect",
             "interactive_query"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def heap_gb():
    """Half the host's memory, clamped to [2, 8] GiB (the tier-1 rule)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def jvm_cmd(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xmx{heap_gb()}g", "-XX:ReservedCodeCacheSize=2g", "-XX:-UsePerfData",
             "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-cp", cp, "perfbench.Main"] + args)


def run_jvm(cmd, log_path, limit_s):
    """Run the harness JVM; returns its result dict, or None on failure."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                             cwd=ROOT, text=True)
        try:
            out, _ = p.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            print(f"[perfbench] harness exceeded {limit_s} s; log in "
                  f"{os.path.relpath(log_path, ROOT)}", file=sys.stderr)
            return None
    if p.returncode != 0:
        print(f"[perfbench] harness exited {p.returncode}; log in "
              f"{os.path.relpath(log_path, ROOT)}", file=sys.stderr)
        return None
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not lines:
        print("[perfbench] harness printed no result", file=sys.stderr)
        return None
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def board_check(res, run_dir):
    """DuckDB oracle over each board's warm-up results (the workload's own
    and, in a traced run, the small board of its layer probes): every wrong
    query counts one failure per timed execution of it (`runs.json`)."""
    import oracle
    checked, bad = 0, []
    for results in sorted(glob.glob(os.path.join(run_dir, "**", "board_results"),
                                    recursive=True)):
        verdict = oracle.check_board(
            results, os.path.join(os.path.dirname(results), "tables"))
        runs_file = os.path.join(results, "runs.json")
        runs = json.load(open(runs_file)) if os.path.isfile(runs_file) else {}
        checked += len(verdict)
        for q, why in verdict.items():
            if not why:
                continue
            n = max(1, int(runs.get(q, 0)))
            key = "query:OracleMismatch"
            res["errors"][key] = res["errors"].get(key, 0) + n
            res["error_samples"].setdefault(key, f"{q}: {why}")
            res["failed"] += n
            bad.append(q)
    if checked:
        res["oracle"] = {"checked": checked, "mismatched": sorted(bad)}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = time.time()
    try:
        bench = spec()
        cp = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        print(f"[perfbench] cannot run: {e}", file=sys.stderr)
        return 2
    if a.workload not in WORKLOADS:
        print(f"[perfbench] unknown workload {a.workload}; one of {WORKLOADS}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(build.BUILD, "run",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log_dir = os.path.join(build.BUILD, "logs")
    os.makedirs(log_dir, exist_ok=True)
    try:
        res = run_jvm(
            jvm_cmd(cp, ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--dir", run_dir],
                    run_dir),
            os.path.join(log_dir, f"{a.workload}-{a.seed}-t{a.trace}.log"),
            RUN_LIMIT_S)
        if res is None:
            return 1
        board_check(res, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    key = "per_layer" if a.trace else "end_to_end"
    want = [(m["name"], m["unit"]) for m in bench[key]]
    have = res["layers"] if a.trace else {k: v["value"] for k, v in res["e2e"].items()}
    missing = [n for n, _ in want if have.get(n) is None]
    if missing:
        print(f"[perfbench] harness did not report {missing}", file=sys.stderr)
        return 1
    attempted, failed = int(res["attempted"]), int(res["failed"])
    named = res["named"]
    named["failed_frac"] = {"value": failed / max(attempted, 1), "unit": "1"}
    for k in ("setup_s", "peak_rss_mb"):
        named[k] = res["e2e"][k]
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "metrics": named}, sort_keys=True))
    print(json.dumps({"workload": a.workload,
                      "verdict": "correct" if failed == 0 else "FAILED",
                      "attempted": attempted, "failed": failed,
                      "errors": res["errors"],
                      "error_samples": res["error_samples"],
                      **({"oracle": res["oracle"]} if "oracle" in res else {})},
                     sort_keys=True))
    print(json.dumps({"workload": a.workload, "inputs": res["inputs"],
                      "detail": res["extra"],
                      "conditions": {**res["conditions"],
                                     "wall_s": time.time() - t_start}},
                     sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": have[n], "unit": u} for n, u in want}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
