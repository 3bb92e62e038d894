"""Metric definitions and their computation from a run's samples and spans.

`END_TO_END` and `per_layer()` are the metric lists BENCHMARK.json declares
(perfbench/selftest.py checks that they match); `compute` derives every one
of them from `samples.jsonl` (one record per setup, pass and op) and, for
traced runs, `spans.jsonl`.
"""
import json
import math
import os
import statistics
import sys

TIERS = ["functions.codegen", "functions.invoke", "plans.columnar", "wasm.row", "wasm.batch",
         "runtime.script", "remote.ipc", "remote.python", "remote.js",
         "remote.flight.chunk", "remote.flight.stream"]
IDENTITY = ["functions.invoke", "runtime.script", "remote.ipc", "remote.python", "remote.js",
            "remote.flight.chunk", "remote.flight.stream"]
TABLE = ["functions.invoke", "wasm.row", "runtime.script", "remote.ipc", "remote.python",
         "remote.js", "remote.flight.chunk"]
AGG = ["functions.invoke", "wasm.row", "runtime.script", "remote.ipc", "remote.python", "remote.js"]
REMOTE = [t for t in TIERS if t.startswith("remote.")]
LAYERS = ["bench", "Graft", "SparkEntry", "catalyst", "exec", "functions", "plans", "wasm",
          "runtime", "remote", "remote.flight"]
EXEC = [("exec.action_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
        ("exec.tasks", "count"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
        ("exec.gc_s", "s"), ("exec.sched_delay_s", "s"), ("exec.shuffle_write_mb", "MB"),
        ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"), ("exec.core_util", "fraction")]

END_TO_END = [("setup_s", "s", 0.25), ("pass_s", "s", 0.25), ("op_s_p50", "s", 0.25),
              ("op_s_p90", "s", 0.25), ("udf_rows_per_s_geomean", "rows/s", 0.25),
              ("peak_rss_mb", "MB", 0.1)]
HIGHER_IS_BETTER = {"udf_rows_per_s_geomean", "exec.core_util", "op_samples"}


def per_layer():
    m = [("Graft.install_s", "s"), ("SparkEntry.build_s", "s"), ("SparkEntry.build_jobs", "count"),
         ("SparkEntry.build_share", "fraction"), ("catalyst.analysis_s", "s"),
         ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s")] + EXEC
    m.append(("ladder.floor_ns_per_row", "ns"))
    for t in TIERS:
        m.append((f"{t}.call_ns_per_row", "ns"))
        if t in IDENTITY:
            m += [(f"{t}.marshal_ns_per_row", "ns"), (f"{t}.guest_ns_per_row", "ns")]
        if t != "functions.codegen":
            m.append((f"{t}.vs_codegen", "ratio"))
        if t in TABLE:
            m.append((f"{t}.table_ns_per_row", "ns"))
        if t in AGG:
            m.append((f"{t}.agg_ns_per_row", "ns"))
        if t in REMOTE:
            m += [(f"{t}.wire_bytes_per_row", "bytes"), (f"{t}.sidecar_cpu_s", "s"),
                  (f"{t}.task_wait_frac", "fraction")]
    m += [(f"self.{layer}_s", "s") for layer in LAYERS]
    m += [("trace.overhead_frac", "fraction"), ("ops_failed_frac", "fraction"),
          ("op_samples", "count")]
    return m


def units(trace):
    return dict(per_layer()) if trace else {n: u for n, u, _ in END_TO_END}


def load(path):
    if not os.path.isfile(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Nearest-rank quantile of the samples `xs`."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, math.ceil(q * len(xs)) - 1))] if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


# ---- correctness of sql_mix results ---------------------------------------

def _rows(con, sql, norm):
    """Sorted, normalized rows of `sql`, as tools/check.py compares them."""
    df = con.sql(sql).df()
    cols = sorted(df.columns)
    return cols, sorted((tuple(norm(v) for v in r) for r in df[cols].itertuples(index=False, name=None)),
                        key=repr)


def oracle_check(ops, data_dir, oracle_path):
    """Compare every sql_mix result with DuckDB on the query's oracle SQL; a
    mismatch marks the op failed. The table list and cell normalization are
    those of the repository's oracle checker, tools/check.py."""
    sys.path.insert(0, "tools")
    from check import TABLES, norm
    import duckdb
    with open(oracle_path) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    want = {}
    for o in ops:
        if not o["ok"]:
            continue
        try:
            if o["name"] not in want:
                want[o["name"]] = _rows(con, oracle[o["name"]], norm)
            got = _rows(con, f"SELECT * FROM '{o['result']}/*.parquet'", norm)
        except Exception as e:  # an unreadable result is a wrong result
            o["ok"], o["error"] = False, f"oracle compare: {e}"
            continue
        if got != want[o["name"]]:
            o["ok"], o["error"] = False, "result differs from the DuckDB oracle"


# ---- metrics --------------------------------------------------------------

def _passes(samples, traced):
    return [s for s in samples if s["kind"] == "pass" and s["traced"] == traced]


def _ops(samples, passes):
    ids = {p["i"] for p in passes}
    return [s for s in samples if s["kind"] == "op" and s["pass"] in ids]


def _rows_per_s(workload, ops):
    """udf_ladder: geometric mean over tiers of the call rung's rows/s.
    sql_mix has no UDF rows of its own: each query counts as one row, so the
    metric is the geometric mean over queries of 1 / (median query time)."""
    by = {}
    for o in ops:
        if o["ok"] and o["s"] > 0:
            by.setdefault(o["name"], []).append(o["s"])
    if workload == "udf_ladder":
        rows = ops[0]["rows"] if ops else 0
        return geomean([rows / median(v) for k, v in by.items() if k.endswith(".call")])
    return geomean([1 / median(v) for v in by.values()])


def end_to_end(workload, samples):
    passes = _passes(samples, False)
    ops = _ops(samples, passes)
    op_s = [o["s"] for o in ops]
    rss = [s["mb"] for s in samples if s["kind"] == "rss"]
    return {"setup_s": next(s["s"] for s in samples if s["kind"] == "setup"),
            "pass_s": median([p["s"] for p in passes]),
            "op_s_p50": quantile(op_s, 0.5), "op_s_p90": quantile(op_s, 0.9),
            "udf_rows_per_s_geomean": _rows_per_s(workload, ops),
            "peak_rss_mb": rss[0] if rss else 0.0}


class SpanTree:
    """Spans of one run with every parent resolved. Listener spans that were
    not caused by a benchmark span (parent -1: catalyst phases, stray jobs)
    hang under the innermost benchmark span that contains them in time."""

    def __init__(self, spans):
        self.by_id = {s["id"]: s for s in spans}
        bench = sorted((s for s in spans if s["layer"] not in ("exec", "catalyst")
                        or s["name"] == "action"), key=lambda s: s["end"] - s["start"])
        for s in spans:
            if s["parent"] == -1:
                inner = next((b for b in bench if b["start"] <= s["start"] and s["end"] <= b["end"]),
                             None)
                s["parent"], s["op"] = (inner["id"], inner["op"]) if inner else (0, 0)
        self.depth = {}
        for s in spans:
            d, p, seen = 0, s["parent"], set()
            while p in self.by_id and p not in seen:
                seen.add(p)
                d += 1
                p = self.by_id[p]["parent"]
            self.depth[s["id"]] = d

    def within(self, start, end):
        return [s for s in self.by_id.values() if start <= s["start"] and s["start"] < end]

    def self_times(self, spans):
        """Wall time of the window attributed to the layer of the deepest span
        active at each instant (so the layers' self times add up to the
        window's covered time)."""
        spans = [s for s in spans if s["end"] > s["start"]]
        events = sorted([(s["start"], 1, s["id"]) for s in spans] +
                        [(s["end"], 0, s["id"]) for s in spans])
        active, out, prev = set(), {}, None
        for t, starts, sid in events:
            if active and t > prev:
                top = self.by_id[max(active, key=self.depth.get)]
                out[top["layer"]] = out.get(top["layer"], 0.0) + (t - prev) / 1e9
            (active.add if starts else active.discard)(sid)
            prev = t
        return out


def _exec_fields(tasks, jobs, stages, actions, cores):
    f = {"exec.action_s": sum((s["end"] - s["start"]) / 1e9 for s in actions),
         "exec.jobs": len(jobs), "exec.stages": len(stages), "exec.tasks": len(tasks)}
    for key in ("run_s", "cpu_s", "gc_s", "sched_delay_s", "shuffle_write_mb", "shuffle_read_mb",
                "spill_mb"):
        name = {"run_s": "exec.task_run_s", "cpu_s": "exec.task_cpu_s"}.get(key, f"exec.{key}")
        f[name] = sum(t["attrs"].get(key, 0.0) for t in tasks)
    f["exec.core_util"] = (f["exec.task_run_s"] / (f["exec.action_s"] * cores)
                           if f["exec.action_s"] > 0 else 0.0)
    return f


def layer_values(workload, samples, spans):
    """Per-layer metrics: span-derived ones are per-pass totals (median over the
    traced passes); per-op timings come from the untraced passes of the run."""
    cores = next(s for s in samples if s["kind"] == "host")["cores"]
    tree = SpanTree(spans)
    traced, plain = _passes(samples, True), _passes(samples, False)
    per_pass = []
    for p in traced:
        sp = tree.within(p["start_ns"], p["end_ns"])
        kind = lambda n: [s for s in sp if s["name"] == n and s["layer"] == "exec"]
        v = _exec_fields(kind("task"), kind("job"), kind("stage"), kind("action"), cores)
        builds = [s for s in sp if s["name"] == "SparkEntry.build"]
        build_ids = {s["id"] for s in builds}
        v["SparkEntry.build_s"] = sum((s["end"] - s["start"]) / 1e9 for s in builds)
        v["SparkEntry.build_jobs"] = sum(1 for s in kind("job") if s["parent"] in build_ids)
        op_s = sum(o["s"] for o in samples if o["kind"] == "op" and o["pass"] == p["i"])
        v["SparkEntry.build_share"] = v["SparkEntry.build_s"] / op_s if op_s else 0.0
        for ph in ("analysis", "optimization", "planning"):
            v[f"catalyst.{ph}_s"] = sum((s["end"] - s["start"]) / 1e9 for s in sp
                                        if s["layer"] == "catalyst" and s["name"] == ph)
        selfs = tree.self_times(sp)
        for layer in LAYERS:
            v[f"self.{layer}_s"] = selfs.get(layer, 0.0)
        per_pass.append(v)
    out = {k: median([v[k] for v in per_pass]) for k in per_pass[0]} if per_pass else {}
    installs = [s for s in spans if s["name"] == "Graft.install"]
    out["Graft.install_s"] = median([(s["end"] - s["start"]) / 1e9 for s in installs])

    ops = _ops(samples, plain)
    med = {}
    for o in ops:
        med.setdefault(o["name"], []).append(o)
    t = lambda name: median([o["s"] for o in med.get(name, [])])
    if workload == "udf_ladder":
        n = ops[0]["rows"]
        ns = lambda name: t(name) / n * 1e9
        floor, codegen = ns("ladder.floor"), ns("functions.codegen.call")
        out["ladder.floor_ns_per_row"] = floor
        for tier in TIERS:
            call = ns(f"{tier}.call")
            out[f"{tier}.call_ns_per_row"] = call
            if tier in IDENTITY:
                ident = ns(f"{tier}.identity")
                out[f"{tier}.marshal_ns_per_row"] = ident - floor
                out[f"{tier}.guest_ns_per_row"] = call - ident
            if tier != "functions.codegen":
                out[f"{tier}.vs_codegen"] = call / codegen if codegen else 0.0
            if tier in TABLE:
                out[f"{tier}.table_ns_per_row"] = ns(f"{tier}.table")
            if tier in AGG:
                out[f"{tier}.agg_ns_per_row"] = ns(f"{tier}.agg")
            if tier in REMOTE:
                calls = med.get(f"{tier}.call", [])
                out[f"{tier}.wire_bytes_per_row"] = median([o["wire_bytes"] / n for o in calls])
                out[f"{tier}.sidecar_cpu_s"] = median([o["sidecar_cpu_s"] for o in calls])
                rung = [s for s in spans if s["name"] == f"{tier}.call"]
                tasks = [s for s in spans if s["name"] == "task" and s["op"] in {r["op"] for r in rung}]
                run = sum(s["attrs"].get("run_s", 0.0) for s in tasks)
                cpu = sum(s["attrs"].get("cpu_s", 0.0) for s in tasks)
                out[f"{tier}.task_wait_frac"] = 1 - cpu / run if run else 0.0
    tp, up = median([p["s"] for p in traced]), median([p["s"] for p in plain])
    out["trace.overhead_frac"] = tp / up - 1 if up else 0.0
    all_ops = [s for s in samples if s["kind"] == "op"]
    out["ops_failed_frac"] = sum(1 for o in all_ops if not o["ok"]) / max(1, len(all_ops))
    out["op_samples"] = len(_ops(samples, traced + plain))
    return out


def compute(workload, samples, spans, trace):
    """Every metric of the run's mode; a metric the workload does not
    exercise (say, a tier metric on sql_mix) reads 0."""
    values = layer_values(workload, samples, spans) if trace else end_to_end(workload, samples)
    return {name: values.get(name, 0) for name in units(trace)}


def detail(samples):
    """Per-op medians, the sample count, the setup time and every pass time:
    the artifact's explanation of the metrics."""
    ops = _ops(samples, _passes(samples, False))
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["s"])
    return {"op_median_s": {k: median(v) for k, v in by.items()}, "op_samples": len(ops),
            "setup_s": next(s["s"] for s in samples if s["kind"] == "setup"),
            "pass_s": [(p["s"], p["traced"]) for p in samples if p["kind"] == "pass"]}
