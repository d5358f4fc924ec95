"""Per-layer metrics and the span ledger of a traced run.

The driver records Spark jobs and stages with their event times and the
query executions Catalyst planned; this module assigns them to the
query that was running, builds spans (workload > query > job > stage,
each with its self time) and sums the layers per pass.

Layer metrics name the warm-pass value; the same metric with a ".cold"
suffix is the cold pass of a fresh JVM. Both are medians over the
processes of the run.
"""
import statistics

# metric -> unit; the order is the order of BENCHMARK.json
LAYER_UNITS = {
    "catalyst.plan_ms": "ms",
    "catalyst.rule_ms": "ms",
    "catalyst.executions": "count",
    "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "driver.gap_ms": "ms",
    "executor.run_ms": "ms",
    "executor.cpu_ms": "ms",
    "executor.gc_ms": "ms",
    "executor.busy_frac": "ratio",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "spill.bytes": "bytes",
    "input.rows": "rows",
    "output.write_bytes": "bytes",
    "tree.job_ms": "ms",
    "ops.job_ms": "ms",
    "functions.job_ms": "ms",
    "io.job_ms": "ms",
    "entry.job_ms": "ms",
}
MODULES = ("tree", "ops", "functions", "io", "entry")


def _union_ms(intervals):
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def module(frame):
    """graft module of a stack frame such as
    "graft.ops.KnnGraph$.nnDescent(KnnGraph.scala:120)": the package under
    graft, "entry" for graft's top-level objects and the benchmark driver
    (whose only jobs write query results), "spark" for no graft frame."""
    parts = frame.split("(", 1)[0].split(".")
    if parts[0] == "graft" and len(parts) > 3:
        return parts[1]
    return "entry" if parts[0] in ("graft", "perfbench") else "spark"


def pass_wall(proc, pass_no):
    return sum(int(x["wall_ns"]) for x in proc["runs"] if x["pass"] == pass_no) / 1e9


def _query_runs(proc, run_id):
    """Per traced query run: its layer figures and its spans."""
    stages = {s["id"]: s for s in proc["stages"]}
    figures, spans = [], []
    for x in proc["runs"]:
        q0, q1 = int(x["start_ms"]), int(x["end_ms"])
        wall_ms = int(x["wall_ns"]) / 1e6
        jobs = [j for j in proc["jobs"] if q0 <= j["start_ms"] <= q1 and j["end_ms"] >= 0]
        done = [stages[i] for j in jobs for i in j["stages"] if i in stages]
        union = _union_ms((max(j["start_ms"], q0), min(j["end_ms"], q1)) for j in jobs)
        execs = [e for e in proc["executions"] if e["run"] == f"{x['query']}#{x['pass']}"]
        f = {
            "query": x["query"], "pass": x["pass"], "wall_ms": wall_ms,
            "jobs_union_ms": union,
            "catalyst.plan_ms": sum(e["analysis_ms"] + e["optimization_ms"]
                                    + e["planning_ms"] for e in execs),
            "catalyst.rule_ms": int(x["rule_ns"]) / 1e6,
            "catalyst.executions": len(execs),
            "codegen.compiles": int(x["compiles"]),
            "codegen.compile_ms": int(x["compile_ns"]) / 1e6,
            "scheduler.jobs": len(jobs),
            "scheduler.stages": len(done),
            "scheduler.tasks": sum(s["tasks"] for s in done),
            "driver.gap_ms": max(0.0, wall_ms - union),
            "executor.run_ms": sum(s["run_ms"] for s in done),
            "executor.cpu_ms": sum(s["cpu_ns"] for s in done) / 1e6,
            "executor.gc_ms": sum(s["gc_ms"] for s in done),
            "shuffle.write_bytes": sum(s["shuffle_write_bytes"] for s in done),
            "shuffle.read_bytes": sum(s["shuffle_read_bytes"] for s in done),
            "spill.bytes": sum(s["spill_bytes"] for s in done),
            "input.rows": sum(s["input_rows"] for s in done),
            "output.write_bytes": sum(s["output_bytes"] for s in done),
        }
        for m in MODULES:
            f[f"{m}.job_ms"] = 0.0
        qid = f"{run_id}/{x['query']}#{x['pass']}"
        spans.append({"id": qid, "parent": run_id, "kind": "query", "name": x["query"],
                      "start_ms": q0, "end_ms": q1, "self_ms": f["driver.gap_ms"]})
        for j in jobs:
            dur = j["end_ms"] - j["start_ms"]
            mod = module(j["site"])
            if mod in MODULES:
                f[f"{mod}.job_ms"] += dur
            js = [stages[i] for i in j["stages"] if i in stages]
            jid = f"{run_id}/job{j['id']}"
            spans.append({"id": jid, "parent": qid, "kind": "job", "name": j["site"],
                          "module": mod, "start_ms": j["start_ms"], "end_ms": j["end_ms"],
                          "self_ms": dur - _union_ms(
                              (s["submit_ms"], s["done_ms"]) for s in js)})
            for s in js:
                spans.append({"id": f"{run_id}/stage{s['id']}", "parent": jid,
                              "kind": "stage", "name": f"stage {s['id']}",
                              "start_ms": s["submit_ms"], "end_ms": s["done_ms"],
                              "self_ms": s["done_ms"] - s["submit_ms"], "tasks": s["tasks"]})
        figures.append(f)
    if figures:
        spans.insert(0, {"id": run_id, "parent": None, "kind": "workload",
                         "start_ms": min(s["start_ms"] for s in spans),
                         "end_ms": max(s["end_ms"] for s in spans), "self_ms": 0.0})
    return figures, spans


def _pass_totals(figures, cores):
    t = {k: sum(f[k] for f in figures) for k in LAYER_UNITS if k != "executor.busy_frac"}
    wall = sum(f["wall_ms"] for f in figures)
    t["executor.busy_frac"] = t["executor.run_ms"] / (wall * cores) if wall else 0.0
    return t


def ledger(m, untraced_warm_s):
    """The traced run's artifact; its "per_layer" entry maps each metric
    to (value, unit). The tracing overhead is this run's warm_s minus
    `untraced_warm_s`."""
    cores = m["cores"]
    all_figs, all_spans, cold, warm = [], [], [], []
    for k, proc in enumerate(m["processes"]):
        run_id = f"{m['workload']}-seed{m['seed']}-proc{k}"
        figs, spans = _query_runs(proc, run_id)
        all_figs += figs
        all_spans += spans
        for p in sorted({f["pass"] for f in figs}):
            totals = _pass_totals([f for f in figs if f["pass"] == p], cores)
            (cold if p == 0 else warm).append(totals)
    per_layer = {}
    for k, unit in LAYER_UNITS.items():
        per_layer[k] = (statistics.median(t[k] for t in warm), unit)
        per_layer[k + ".cold"] = (statistics.median(t[k] for t in cold), unit)

    per_layer["trace.overhead_s"] = (m["end_to_end"]["warm_s"][0] - untraced_warm_s, "s")
    per_query = {}
    for q in dict.fromkeys(f["query"] for f in all_figs):
        for cold_pass, wall, suffix in ((True, "cold_s", ".cold"), (False, "warm_s", "")):
            qf = [f for f in all_figs if f["query"] == q and (f["pass"] == 0) == cold_pass]
            per_query[f"query.{q}.{wall}"] = statistics.median(f["wall_ms"] for f in qf) / 1000
            for key, name in (("scheduler.jobs", "jobs"), ("driver.gap_ms", "gap_ms"),
                              ("codegen.compiles", "compiles")):
                per_query[f"query.{q}.{name}{suffix}"] = statistics.median(f[key] for f in qf)
    coverage = [{"query": f["query"], "pass": f["pass"], "wall_ms": f["wall_ms"],
                 "jobs_union_ms": f["jobs_union_ms"], "gap_ms": f["driver.gap_ms"],
                 "accounted": (f["jobs_union_ms"] + f["driver.gap_ms"]) / f["wall_ms"]}
                for f in all_figs]
    return {
        "workload": m["workload"], "seed": m["seed"], "nproc": m["nproc"],
        "cores": cores, "inputs": m["inputs"],
        "load1": [r["load1"] for r in m["processes"]],
        "end_to_end_traced": {k: v for k, (v, _) in m["end_to_end"].items()},
        "untraced_warm_s": untraced_warm_s,
        "per_layer": per_layer,
        "per_query": per_query,
        "query_runs": all_figs,
        "coverage": coverage,
        "spans": all_spans,
        "checks": m["checks"],
    }

