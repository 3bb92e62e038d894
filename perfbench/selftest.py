#!/usr/bin/env python3
"""Self-tests of the benchmark. Run from the repository root:

    python3 perfbench/selftest.py

1. BENCHMARK.json declares exactly the metrics metrics.py computes.
2. Each workload runs on a tiny smoke input, untraced and traced, is
   correct, and prints exactly the BENCHMARK.json metric names of its mode.
3. A corrupted checksum is counted as a failed op.
4. Without graft's sources beside it, the benchmark exits non-zero and
   prints no result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

FAILURES = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILURES.append(what)


def bench(*extra, cwd="."):
    r = subprocess.run([sys.executable, "-B", os.path.join(HERE, "run.py"), "--seed", "7",
                        "--seconds", "1", "--size", "smoke", *extra],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    try:
        return r.returncode, json.loads(lines[-1]) if lines else None, r.stderr
    except json.JSONDecodeError:
        return r.returncode, None, r.stderr


def main():
    with open("BENCHMARK.json") as f:
        decl = json.load(f)
    better = lambda n: "higher" if n in metrics.HIGHER_IS_BETTER else "lower"
    e2e = [(m["name"], m["unit"], m["better"], m["bound"]) for m in decl["end_to_end"]]
    check(e2e == [(n, u, better(n), b) for n, u, b in metrics.END_TO_END], "BENCHMARK.json end_to_end")
    check([(m["name"], m["unit"], m["better"]) for m in decl["per_layer"]]
          == [(n, u, better(n)) for n, u in metrics.per_layer()], "BENCHMARK.json per_layer")
    names = {0: [m["name"] for m in decl["end_to_end"]], 1: [m["name"] for m in decl["per_layer"]]}

    for w in [x["name"] for x in decl["workloads"]]:
        for trace in (0, 1):
            code, res, err = bench("--workload", w, "--trace", str(trace))
            check(code == 0 and res is not None, f"{w} trace={trace} runs" + ("" if res else err[-2000:]))
            if res:
                check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{w} trace={trace} keys")
                check(list(res["metrics"]) == names[trace], f"{w} trace={trace} metric names")
                check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                      f"{w} trace={trace} correct ({res['failed']} of {res['attempted']} failed)")

    code, res, _ = bench("--workload", "udf_ladder", "--trace", "1", "--corrupt", "remote.ipc.call")
    check(res is not None and not res["correct"] and res["failed"] >= 1
          and res["metrics"]["ops_failed_frac"]["value"] > 0,
          "corrupted checksum counts as a failed op")

    bare = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build"),
                        "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy("BENCHMARK.json", bare)
    r = subprocess.run([sys.executable, "-B", "perfbench/run.py", "--workload", "udf_ladder",
                        "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
    check(r.returncode != 0 and not r.stdout.strip(), "fails without graft's sources")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"== {len(FAILURES)} failed ==")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
