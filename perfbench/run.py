#!/usr/bin/env python3
"""graft benchmark: UDF tier ladder and oracle SQL mix.

    python3 perfbench/run.py --workload <udf_ladder|sql_mix> --seed <n>
                             --seconds <s> --trace <0|1> [--size full|smoke]
                             [--corrupt <op name>]

Run it from the repository root. It compiles graft's main sources and the
benchmark's own Scala sources (perfbench/src) with the Scala compiler in the
Spark distribution, launches one JVM per run on a `local[nproc]` session,
checks every op's output, and prints one JSON line as the last line of
stdout. `--trace 0` reports the end-to-end metrics of BENCHMARK.json,
`--trace 1` the per-layer ones. Everything it writes goes under
$CARGO_TARGET_DIR (default `.bench_build`); each run leaves its samples,
spans, logs and a `result.json` artifact with the host conditions in
`<build>/runs/<workload>-s<seed>-t<trace>/`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

T_START = time.monotonic()
DEADLINE_S = 170.0
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SCALA_VERSION = "2.13.17"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        die("graft sources (src/main/scala) not found; run from the repository root")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    res = sorted(p for p in glob.glob("src/main/resources/**/*", recursive=True) if os.path.isfile(p))
    return main, bench, res


def build(build_dir):
    """Compile graft + the benchmark once per source state; returns the class dir."""
    main, bench, res = sources()
    h = hashlib.sha256(SCALA_VERSION.encode())
    for p in main + bench + res:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".ok")):
        return out
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    compiler = ":".join(os.path.join(SPARK_JARS, f"scala-{j}-{SCALA_VERSION}.jar")
                        for j in ("compiler", "library", "reflect"))
    jars = ":".join(sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))))
    t0 = time.monotonic()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                        "-nowarn", "-usejavacp:false", "-cp", jars, "-d", out] + main + bench,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        die("compile failed:\n" + r.stdout[-4000:])
    for p in res:
        dst = os.path.join(out, os.path.relpath(p, "src/main/resources"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(out, ".ok"), "w").close()
    print(f"perfbench: compiled in {time.monotonic() - t0:.1f} s", file=sys.stderr)
    return out


def host_sample():
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": load, "iowait_ticks": cpu[4], "steal_ticks": cpu[7] if len(cpu) > 7 else 0}


def host_conditions(before, after, versions):
    tick = os.sysconf("SC_CLK_TCK")
    return {"loadavg_start": before["loadavg"], "loadavg_end": after["loadavg"],
            "iowait_s": (after["iowait_ticks"] - before["iowait_ticks"]) / tick,
            "steal_s": (after["steal_ticks"] - before["steal_ticks"]) / tick,
            "nproc": os.cpu_count(), **versions}


def stop_group(pgid):
    """Stop every process left in the JVM's process group and wait for each."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_jvm(classes, args, run_dir, t0_ns):
    # a fixed heap size keeps the peak RSS from depending on heap resizing
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--out", run_dir, "--t0-ns", str(t0_ns), "--size", args.size]
           + (["--corrupt", args.corrupt] if args.corrupt else []))
    env = dict(os.environ, PYTHONDONTWRITEBYTECODE="1", TMPDIR=f"{run_dir}/tmp")
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(f"{run_dir}/jvm.out", "w") as so, open(f"{run_dir}/jvm.err", "w") as se:
        p = subprocess.Popen(cmd, stdout=so, stderr=se, env=env, start_new_session=True)
        try:
            code = p.wait(timeout=max(10.0, DEADLINE_S - (time.monotonic() - T_START)))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(p.pid)
            p.wait()
    return code


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["udf_ladder", "sql_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full")
    ap.add_argument("--corrupt", default=None, help="op whose checksum is altered (self-test)")
    args = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = build(build_dir)
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0_ns = time.time_ns()  # set-up time counts from here: inputs, JVM start, setup
    if args.workload == "sql_mix":
        import gen_tables
        gen_tables.write(os.path.join(run_dir, "tables"), args.seed)
    before = host_sample()
    code = run_jvm(classes, args, run_dir, t0_ns)
    after = host_sample()
    samples = metrics.load(os.path.join(run_dir, "samples.jsonl"))
    fatal = [s for s in samples if s["kind"] == "fatal"]
    if code != 0 or fatal or not any(s["kind"] == "pass" for s in samples):
        die(f"benchmark JVM failed (exit {code}); see {run_dir}/jvm.err "
            + (fatal[0]["error"] if fatal else ""))
    ops = [s for s in samples if s["kind"] == "op"]
    if args.workload == "sql_mix":
        metrics.oracle_check(ops, os.path.join(run_dir, "tables"), os.path.join(run_dir, "oracle_sql.json"))
    spans = metrics.load(os.path.join(run_dir, "spans.jsonl")) if args.trace else []
    values = metrics.compute(args.workload, samples, spans, bool(args.trace))
    units = metrics.units(bool(args.trace))
    host = next(s for s in samples if s["kind"] == "host")
    failed = [o for o in ops if not o["ok"]]
    result = {"correct": not failed, "attempted": len(ops), "failed": len(failed),
              "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"args": vars(args), "result": result,
                   "host": host_conditions(before, after, {"jvm": host["jvm"], "spark": host["spark"]}),
                   "failures": [{"name": o["name"], "pass": o["pass"], "error": o["error"]}
                                for o in failed],
                   "detail": metrics.detail(samples)}, f, indent=1)
    for o in failed[:10]:
        print(f"perfbench: FAILED {o['name']} (pass {o['pass']}): {o['error']}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
