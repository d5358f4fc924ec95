#!/usr/bin/env python3
"""End-to-end benchmark of graft's driver queries.

    python3 perfbench/run.py --workload fit --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The first call compiles src/main/scala
and perfbench/src into .bench_build/; inputs, per-process scratch and
trace artifacts go to .bench_work/. Each measured process is a fresh
JVM: session set-up and a fixed warm-up, one cold pass over the
workload's queries, then warm passes. Every query's output is checked
against its DuckDB oracle over the same inputs. The last stdout line is
one JSON object: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1 (see BENCHMARK.json).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import check  # noqa: E402
import gen_data  # noqa: E402
import layers  # noqa: E402

ROOT = Path.cwd()
WORK = ROOT / ".bench_work"
DEFAULT_SEED = 1

# Why each workload exists is recorded in BENCHMARK.json. The lists are
# fixed and ordered: a fit that follows another fit reads much faster
# than the same fit run first in a process.
# `passes` is one cold pass plus the warm passes whose median is warm_s.
# The first warm passes still wait on the JIT and read slowest, so there
# are enough later ones for the median to fall past them.
WORKLOADS = {
    "fit": {"queries": ["q_regtree_fit_predict", "q_dt_categorical"],
            "inputs": "base", "passes": 7},
    "scan": {"queries": ["q_text_quality", "q_dt_classify", "q_dedup_incr"],
             "inputs": "scaled", "passes": 6},
}
# Warm-up queries belong to no workload, so no measured query is
# pre-warmed; they load and JIT the session's common paths. They read
# the small "warmup" inputs, so set-up does not grow with a workload's.
WARMUP = ["q1_agg"]
# Rows per table in each input set; "scaled" is a 10x ScaleUp-style
# copy of a base of the given size.
SIZES = {
    "base": {"docs": 1000, "embs": 400, "lines": 60_000, "factor": 1},
    "scaled": {"docs": 250, "embs": 100, "lines": 50_000, "factor": 10},
    "warmup": {"docs": 100, "embs": 100, "lines": 6000, "factor": 1},
}
# the row counts of the sf0.001 test data
SMOKE_SIZES = {
    "base": {"docs": 500, "embs": 500, "lines": 6000, "factor": 1},
    "scaled": {"docs": 50, "embs": 50, "lines": 600, "factor": 10},
    "warmup": SIZES["warmup"],
}
HEAP = "2g"
PROCESS_TIMEOUT_S = 160
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def inputs(kind, seed, sizes):
    """Generate (or reuse) the seeded input directory for `kind`."""
    path = WORK / "data" / f"{size_key(kind, sizes)}-seed{seed}"
    if (path / "manifest.json").exists():
        return path, json.loads((path / "manifest.json").read_text())
    s = sizes[kind]
    tables = gen_data.base(seed, s["docs"], s["embs"], s["lines"])
    if s["factor"] > 1:
        tables = gen_data.scaled(tables, s["factor"])
    tmp = path.with_name(path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    manifest = gen_data.write(tables, tmp)
    tmp.rename(path)
    return path, manifest


def size_key(kind, sizes):
    s = sizes[kind]
    return f"{kind}-d{s['docs']}-e{s['embs']}-l{s['lines']}-x{s['factor']}"


def run_process(classes, data, warmup_data, queries, passes, trace, cores, out):
    """One fresh JVM; returns its result.json with the launch time added."""
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={out / 'tmp'}"]
           + [a for p in JAVA_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(classes), "perfbench.Driver",
              f"data={data}", f"out={out}", f"queries={','.join(queries)}",
              f"warmup={','.join(WARMUP)}", f"warmupData={warmup_data}",
              f"passes={passes}", f"cores={cores}", f"trace={int(trace)}"])
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    load_before = os.getloadavg()[0]
    launch_ms = time.time() * 1000.0
    with open(out / "jvm.log", "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=PROCESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    result_file = out / "result.json"
    if rc != 0 or not result_file.exists():
        tail = (out / "jvm.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"benchmark JVM failed ({rc}):\n{tail}")
    r = json.loads(result_file.read_text())
    r["launch_ms"] = launch_ms
    r["load1"] = [load_before, os.getloadavg()[0]]
    return r


def end_to_end(procs):
    warm = [layers.pass_wall(r, p) for r in procs
            for p in {x["pass"] for x in r["runs"]} if p > 0]
    return {
        "setup_s": (statistics.median(
            (int(r["ready_ms"]) - r["launch_ms"]) / 1000 for r in procs), "s"),
        "cold_s": (statistics.median(layers.pass_wall(r, 0) for r in procs), "s"),
        "warm_s": (statistics.median(warm), "s"),
        "peak_rss_mb": (statistics.median(
            int(r["peak_rss_kb"]) / 1024 for r in procs), "MB"),
    }


def measure(workload, seed, seconds, trace, sizes, cores):
    spec = WORKLOADS[workload]
    classes = build.ensure(ROOT, ROOT / ".bench_build")
    data, manifest = inputs(spec["inputs"], seed, sizes)
    warmup_data, _ = inputs("warmup", seed, sizes)
    procs, checks = [], []
    started = time.monotonic()
    while not procs or time.monotonic() - started < seconds:
        out = WORK / "runs" / f"{workload}-{seed}-{os.getpid()}-{len(procs)}"
        r = run_process(classes, data, warmup_data, spec["queries"], spec["passes"],
                        trace, cores, out)
        checks += check.outputs(data, r["runs"], WORK / "duckdb_tmp")
        procs.append(r)
        shutil.rmtree(out, ignore_errors=True)
    failed = sum(1 for c in checks if not c["ok"])
    e2e = end_to_end(procs)
    if not trace:
        store = untraced_store(workload, spec["inputs"], sizes)
        warm = json.loads(store.read_text()) if store.exists() else {}
        warm[str(seed)] = e2e["warm_s"][0]
        store.parent.mkdir(parents=True, exist_ok=True)
        store.write_text(json.dumps(warm))
    return {
        "workload": workload, "seed": seed, "trace": trace,
        "nproc": os.cpu_count(), "cores": cores,
        "inputs": manifest, "processes": procs, "checks": checks,
        "attempted": len(checks), "failed": failed,
        "end_to_end": e2e,
    }


def untraced_store(workload, kind, sizes):
    return WORK / "untraced_warm_s" / f"{workload}-{size_key(kind, sizes)}.json"


def untraced_warm(workload, seed, sizes, cores):
    """warm_s of untraced runs of this workload in this checkout: the same
    seed's if there is one, else the median over seeds; with none yet,
    measures one untraced process now."""
    store = untraced_store(workload, WORKLOADS[workload]["inputs"], sizes)
    warm = json.loads(store.read_text()) if store.exists() else {}
    if str(seed) in warm:
        return warm[str(seed)]
    if warm:
        return statistics.median(warm.values())
    return measure(workload, seed, 0, False, sizes, cores)["end_to_end"]["warm_s"][0]


def report(m, metrics):
    e2e = m["end_to_end"]
    loads = ", ".join(f"{a:.2f}->{b:.2f}" for r in m["processes"] for a, b in [r["load1"]])
    sizes = ", ".join(f"{t} {v['rows']} rows/{v['mb']} MB" for t, v in sorted(m["inputs"].items()))
    print(f"workload {m['workload']} seed {m['seed']} trace {int(m['trace'])}: "
          f"nproc {m['nproc']}, cores used {m['cores']}, "
          f"{len(m['processes'])} process(es), load1 {loads}; inputs: {sizes}")
    for name, (value, unit) in e2e.items():
        print(f"  {name} = {value:.4f} {unit}")
    print("  set-up split (s): " + ", ".join(
        f"session {(int(r['session_ms']) - r['launch_ms']) / 1000:.2f} + warm-up "
        f"{(int(r['warmed_ms']) - int(r['session_ms'])) / 1000:.2f} + settle "
        f"{(int(r['ready_ms']) - int(r['warmed_ms'])) / 1000:.2f}" for r in m["processes"]))
    print(f"  error_rate = {m['failed'] / m['attempted']:.4f} "
          f"({m['failed']} of {m['attempted']} query runs failed or mismatched)")
    for c in m["checks"]:
        if not c["ok"]:
            print(f"  FAILED {c['query']} pass {c['pass']}: {c['detail']}")
    result = {
        "correct": m["failed"] == 0,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    # stdout can be cut short; the run's record also goes to a file
    record = {k: m[k] for k in ("workload", "seed", "trace", "nproc", "cores", "inputs")}
    record.update(load1=[r["load1"] for r in m["processes"]],
                  query_s=[query_walls(r) for r in m["processes"]],
                  end_to_end={k: v for k, (v, _) in e2e.items()}, **result)
    with open(WORK / "results.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(result))


def query_walls(proc):
    """{query: [wall s of each pass]} of one process."""
    walls = {}
    for x in proc["runs"]:
        walls.setdefault(x["query"], []).append(int(x["wall_ns"]) / 1e9)
    return walls


def traced_metrics(m, sizes):
    ledger = layers.ledger(m, untraced_warm(m["workload"], m["seed"], sizes, m["cores"]))
    path = WORK / "trace" / f"{m['workload']}-seed{m['seed']}.json"
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(ledger, indent=1, sort_keys=True))
    print(f"trace ledger written to {path.relative_to(ROOT)}")
    return ledger["per_layer"]


def smoke(cores):
    """Each workload once untraced and once traced, on tiny inputs: every
    named metric must be present and no query may fail."""
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    names = [x["name"] for x in spec["end_to_end"] + spec["per_layer"]]
    bad = []
    for w in WORKLOADS:
        plain = measure(w, DEFAULT_SEED, 0, False, SMOKE_SIZES, cores)
        report(plain, plain["end_to_end"])
        traced = measure(w, DEFAULT_SEED, 0, True, SMOKE_SIZES, cores)
        per_layer = traced_metrics(traced, SMOKE_SIZES)
        report(traced, per_layer)
        missing = [n for n in names if n not in {**plain["end_to_end"], **per_layer}]
        failed = plain["failed"] + traced["failed"]
        if missing or failed:
            bad.append(f"{w}: missing {missing}, {failed} query runs failed")
    if bad:
        sys.exit("smoke failed: " + "; ".join(bad))
    print("smoke ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    cores = min(len(os.sched_getaffinity(0)), 4)
    if a.smoke:
        return smoke(cores)
    if not a.workload:
        ap.error("--workload is required")
    m = measure(a.workload, a.seed, a.seconds, bool(a.trace), SIZES, cores)
    if a.trace:
        metrics = traced_metrics(m, SIZES)
    else:
        metrics = m["end_to_end"]
    report(m, metrics)


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError) as e:
        sys.exit(f"perfbench: {e}")
