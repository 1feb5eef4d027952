#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload surface_cold --seed 1 --seconds 10 --trace 0

Builds the harness (once per checkout), runs one workload in one JVM, checks
the program's outputs, and prints one JSON line last: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1. A human-readable table of
the same numbers goes to stderr. See README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import lib  # noqa: E402

WORK = os.path.join(HERE, ".work")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
REFERENCE = os.path.join(HERE, "reference", "surface_sf0.01.json")
CLASSPATH = os.path.join(WORK, "classpath.txt")
TMP = os.path.join(WORK, "tmp")  # the JVMs' temporary files stay in the checkout
WORKLOADS = ("surface_cold", "laplace_n256")
PANEL_STRIDE = 32   # one query in 32 per family, at least one per family
# untimed surface passes between the check and the timed ones; a traced run
# skips them, as its untraced pass warms the traced one and the run must end
# within its time limit
WARMUP_PASSES = 1
LAPLACE_N = 256
JVM_TIMEOUT_S = 170
MB = 1048576.0

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


# ---- build -----------------------------------------------------------------

def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        yield os.path.join(ROOT, f)
        yield os.path.join(HERE, f)


def build():
    """Compile the program and the harness with sbt and record the class
    path, unless a build newer than every source is already there."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(p) <= stamp for p in sources() if os.path.exists(p)):
            return
    if shutil.which("sbt") is None:
        sys.exit("perfbench: sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={TMP}", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + [env.get("SBT_OPTS", "")]).strip()
    log("perfbench: building the program and the harness")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export harness/Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=700)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        log(r.stdout[-4000:] + r.stderr[-4000:])
        sys.exit("perfbench: build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    log(f"perfbench: built in {time.time() - t0:.1f} s")


def harness(mode, out, *args, timeout=JVM_TIMEOUT_S):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={TMP}", "-XX:-UsePerfData",
            f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
            f"-Dderby.system.home={WORK}",
            "-cp", cp, "perfbench.Harness", mode, f"out={out}", f"cores={cores()}", *args]
    if os.path.exists(out):
        os.remove(out)
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                            text=True)
    try:
        _, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: harness did not finish within {timeout} s")
    for line in err.splitlines():
        if line.startswith("[perfbench]"):
            log(line)
    if proc.returncode != 0 or not os.path.exists(out):
        log(err[-4000:])
        sys.exit(f"perfbench: harness exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


# ---- metrics ---------------------------------------------------------------

def m(value, unit):
    return {"value": value, "unit": unit}


def trace_layers(spans, jobs, stages, tasks, root_ids):
    """Listener spans attributed to benchmark spans, then the self time per
    span kind and the idle time under the given roots."""
    lspans = lib.listener_spans(spans, jobs, stages, tasks)
    every = spans + lspans
    by_id = {s["id"]: s for s in every}
    task_spans = [s for s in lspans if s["name"] == "task"]
    selfs = {}
    idle = 0.0
    for rid in root_ids:
        for _, (name, ms) in lib.self_times(every, rid).items():
            layer = lib.layer_of(name)
            selfs[layer] = selfs.get(layer, 0.0) + ms
        idle += lib.idle_ms(by_id[rid], task_spans)
    return every, selfs, idle


def task_totals(tasks):
    return {k: sum(x.get(k, 0) for x in tasks) for k in
            ("run_ms", "cpu_ns", "gc_ms", "sw_bytes", "sw_records", "sr_bytes",
             "fetch_wait_ms", "spill_bytes")}


def surface_metrics(res, order, trace, seconds):
    with open(REFERENCE) as f:
        ref = json.load(f)["queries"]
    checks = res["checks"]
    bad = {n for n in order if not lib.check_ok(checks.get(n, {"error": "missing"}), ref.get(n))}
    untraced = [p for p in res["passes"] if p["label"] != "traced"]
    for p in res["passes"]:
        bad |= {q["name"] for q in p["queries"] if not q["ok"]}
    for n in sorted(bad):
        log(f"perfbench: FAILED {n}: {checks.get(n)} reference {ref.get(n)}")
    per_query = {}
    for p in untraced:
        for q in p["queries"]:
            per_query.setdefault(q["name"], []).append(q["wall_s"])
    pass_s = statistics.median(sum(q["wall_s"] for q in p["queries"]) for p in untraced)
    out = {
        "attempted": len(order), "failed": len(bad),
        "e2e": {
            "pass_s": m(pass_s, "s"),
            "query_gmean_s": m(statistics.geometric_mean(
                statistics.median(w) for w in per_query.values()), "s"),
            "setup_s": m(statistics.median(res["setup_s"]), "s"),
            "peak_heap_mb": m(max(q["heap_mb"] for p in untraced for q in p["queries"]), "MB"),
        },
    }
    log(f"perfbench: {len(untraced)} untraced pass(es) of {len(order)} queries in {seconds} s")
    if not trace:
        return out
    tp = next(p for p in res["passes"] if p["label"] == "traced")
    spans = tp["spans"]
    roots = [q["span"] for q in tp["queries"]]
    every, selfs, idle = trace_layers(spans, tp["jobs"], tp["stages"], tp["tasks"], roots)
    by_id = {s["id"]: s for s in every}
    tasks = task_totals(tp["tasks"])
    traced_pass = sum(q["wall_s"] for q in tp["queries"])

    def stage_ids(pred):
        return {s["id"] for s in tp["stages"] if pred(s)}

    def jobs_with(ids, jobs):
        return [j for j in jobs if set(j["stages"]) & ids]

    schema_jobs = jobs_with(stage_ids(lambda s: s["tables"]), tp["jobs"])
    construct_ids = {s["job"] for s in every if s["name"] == "job"
                     and by_id.get(s["parent"], {}).get("name") == "construct"}
    construct_jobs = [j for j in tp["jobs"] if j["id"] in construct_ids]
    ck_jobs = jobs_with(stage_ids(lambda s: s["name"].startswith(
        ("localCheckpoint at", "checkpoint at"))), construct_jobs)

    def span_s(kind):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == kind) / 1000

    exec_wall = span_s("execute")
    phase = lambda k: sum(q["phases_ms"].get(k, 0.0) for q in tp["queries"]) / 1000
    coverage = min((sum(by_id[c]["end"] - by_id[c]["start"] for c in
                        [s["id"] for s in spans if s["parent"] == q["span"]])
                    / max(1e-9, by_id[q["span"]]["end"] - by_id[q["span"]]["start"]))
                   for q in tp["queries"])
    # the tail pools the traced pass with the untraced ones: one pass alone
    # has too few queries for ten samples beyond any upper percentile
    t = lib.tail([q["wall_s"] for p in res["passes"] for q in p["queries"]]) or (0, 0.0, 0)
    layer = {
        "tables.schema_jobs": m(len(schema_jobs), "count"),
        "tables.schema_job_s": m(sum(j["end"] - j["start"] for j in schema_jobs) / 1000, "s"),
        "tables.read_ms": m(sum(res["tables_read_ms"].values()), "ms"),
        "construct.wall_s": m(span_s("construct"), "s"),
        "construct.jobs": m(len(construct_jobs), "count"),
        "construct.checkpoint_jobs": m(len(ck_jobs), "count"),
        "catalyst.analysis_s": m(phase("analysis"), "s"),
        "catalyst.optimization_s": m(phase("optimization"), "s"),
        "catalyst.planning_s": m(phase("planning"), "s"),
        "catalyst.plan_wall_s": m(span_s("plan"), "s"),
        "execute.wall_s": m(exec_wall, "s"),
        "query.tail_s": m(t[1], "s"),
        "query.tail_pct": m(t[0], "%"),
        "query.tail_beyond": m(t[2], "count"),
        "trace.span_coverage": m(coverage, "ratio"),
    }
    layer.update(common_layers(tp, selfs, idle, tasks, exec_wall, traced_pass,
                               traced_pass / pass_s - 1, res))
    out["layer"] = layer
    out["trace"] = {"spans": every, "self_ms": selfs}
    return out


def common_layers(tp, selfs, idle, tasks, busy_wall_s, traced_s, overhead, res):
    total_self = sum(selfs.values()) / 1000
    return {
        "sched.jobs": m(len(tp["jobs"]), "count"),
        "sched.stages": m(len(tp["stages"]), "count"),
        "sched.tasks": m(len(tp["tasks"]), "count"),
        "sched.idle_s": m(idle / 1000, "s"),
        "task.run_s": m(tasks["run_ms"] / 1000, "s"),
        "task.cpu_s": m(tasks["cpu_ns"] / 1e9, "s"),
        "task.gc_s": m(tasks["gc_ms"] / 1000, "s"),
        "task.busy_frac": m(tasks["run_ms"] / 1000 / (cores() * max(1e-9, busy_wall_s)), "ratio"),
        "shuffle.write_mb": m(tasks["sw_bytes"] / MB, "MB"),
        "shuffle.read_mb": m(tasks["sr_bytes"] / MB, "MB"),
        "shuffle.fetch_wait_s": m(tasks["fetch_wait_ms"] / 1000, "s"),
        "shuffle.records": m(tasks["sw_records"], "count"),
        "mem.spill_mb": m(tasks["spill_bytes"] / MB, "MB"),
        "mem.held_rdds": m(max(q["held_rdds"] for q in tp.get("queries", [tp])), "count"),
        "mem.held_mb": m(max(q["held_mb"] for q in tp.get("queries", [tp])), "MB"),
        "self.driver_s": m(selfs.get("driver", 0.0) / 1000, "s"),
        "self.construct_s": m(selfs.get("construct", 0.0) / 1000, "s"),
        "self.plan_s": m(selfs.get("plan", 0.0) / 1000, "s"),
        "self.execute_s": m(selfs.get("execute", 0.0) / 1000, "s"),
        "self.solve_s": m(selfs.get("solve", 0.0) / 1000, "s"),
        "self.job_s": m(selfs.get("job", 0.0) / 1000, "s"),
        "self.stage_s": m(selfs.get("stage", 0.0) / 1000, "s"),
        "self.task_s": m(selfs.get("task", 0.0) / 1000, "s"),
        "self.sum_frac": m(total_self / max(1e-9, traced_s), "ratio"),
        "trace.overhead_frac": m(overhead, "ratio"),
        "env.sentinel_s": m(max(res["sentinel_s"]), "s"),
    }


def laplace_metrics(res, trace):
    exp = res["expected"]
    solves = res["solves"]
    bad = [s for s in solves if not lib.grid_ok(s, exp)]
    for s in bad:
        log(f"perfbench: FAILED solve {s['label']}: iterations {s.get('iterations')} "
            f"diff {s.get('final_diff')} digest {s.get('grid_digest')} expected {exp}")
    untraced = [s for s in solves if s["label"] != "traced"]
    solve_s = statistics.median(s["solve_s"] for s in untraced)
    out = {
        "attempted": len(solves), "failed": len(bad),
        "e2e": {
            "pass_s": m(solve_s, "s"),
            "query_gmean_s": m(solve_s, "s"),
            "setup_s": m(statistics.median(res["setup_s"]), "s"),
            "peak_heap_mb": m(max(s["heap_mb"] for s in untraced), "MB"),
        },
    }
    log(f"perfbench: {len(untraced)} untraced solve(s), scalar baseline "
        f"{exp['scalar_s']:.3f} s, {exp['iterations']} iterations")
    if not trace:
        return out
    ts = next(s for s in solves if s["label"] == "traced")
    every, selfs, idle = trace_layers(ts["spans"], ts["jobs"], ts["stages"], ts["tasks"],
                                      [ts["span"]])
    tasks = task_totals(ts["tasks"])
    supersteps = sum(1 for s in ts["stages"] if s["name"].startswith("count at BlockSolver")) - 1
    blocks = min(cores(), LAPLACE_N)
    # ghost rows per superstep: 2k rows (k = 16 iterations) of N doubles on
    # each side of each of the blocks-1 inner boundaries
    predicted = supersteps * 2 * (blocks - 1) * 2 * 16 * LAPLACE_N * 8 / MB
    layer = {"trace.span_coverage": m(1.0, "ratio")}  # the solve is one span
    layer.update(common_layers(ts, selfs, idle, tasks, ts["solve_s"], ts["solve_s"],
                               ts["solve_s"] / solve_s - 1, res))
    layer.update({
        "solver.iterations": m(ts["iterations"], "count"),
        "solver.supersteps": m(supersteps, "count"),
        "solver.ghost_mb": m(tasks["sw_bytes"] / MB, "MB"),
        "solver.ghost_mb_predicted": m(predicted, "MB"),
        "solver.busy_frac": layer["task.busy_frac"],
        "solver.idle_s": layer["sched.idle_s"],
        "solver.scalar_s": m(exp["scalar_s"], "s"),
    })
    out["layer"] = layer
    out["trace"] = {"spans": every, "self_ms": selfs}
    return out


# ---- main ------------------------------------------------------------------

def program_present():
    return os.path.exists(os.path.join(ROOT, "build.sbt")) and \
        os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))


def record(out_path):
    """Write the reference digests and cold times of every query."""
    build()
    res = harness("record", os.path.join(WORK, "record.json"), f"dir={FIXTURES}", timeout=3600)
    with open(out_path, "w") as f:
        json.dump({"fixtures": "sf0.01", "queries": res["queries"]}, f, indent=1, sort_keys=True)
        f.write("\n")
    errors = [n for n, q in res["queries"].items() if "error" in q]
    log(f"perfbench: recorded {len(res['queries'])} queries, {len(errors)} errors {errors}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="FILE",
                    help="record reference digests of every query, then exit")
    a = ap.parse_args()
    if not program_present():
        sys.exit("perfbench: the program's sources are not next to the benchmark")
    os.makedirs(TMP, exist_ok=True)
    if a.record:
        return record(a.record)
    if not a.workload:
        ap.error("--workload is required")
    build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(WORK, f"result-{tag}.json")
    if a.workload == "surface_cold":
        with open(REFERENCE) as f:
            names = json.load(f)["queries"].keys()
        order = lib.seeded_order(lib.panel(names, PANEL_STRIDE), a.seed)
        res = harness("surface", out, f"dir={FIXTURES}", f"queries={','.join(order)}",
                      f"warmup={0 if a.trace else WARMUP_PASSES}", f"seconds={a.seconds}",
                      f"trace={a.trace}")
        r = surface_metrics(res, order, a.trace, a.seconds)
    else:
        res = harness("laplace", out, f"dir={FIXTURES}", f"n={LAPLACE_N}",
                      f"seconds={a.seconds}", f"trace={a.trace}")
        r = laplace_metrics(res, a.trace)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {x["name"]: x["unit"]
                    for x in json.load(f)["per_layer" if a.trace else "end_to_end"]}
    got = r["layer"] if a.trace else r["e2e"]
    wrong = sorted(k for k, v in got.items() if declared.get(k) != v["unit"])
    if wrong or (not a.trace and set(got) != set(declared)):
        sys.exit(f"perfbench: metrics differ from BENCHMARK.json: {wrong or sorted(declared)}")
    # a layer the workload does not load reports 0
    metrics = {k: got.get(k, m(0, u)) for k, u in declared.items()}
    if a.trace:
        path = os.path.join(WORK, f"trace-{tag}.json")
        with open(path, "w") as f:
            json.dump({"run": tag, "spans": r["trace"]["spans"],
                       "self_ms": r["trace"]["self_ms"], "metrics": metrics,
                       "end_to_end": r["e2e"]}, f)
        log(f"perfbench: trace written to {os.path.relpath(path, ROOT)}")
    log(f"perfbench: fail_frac {r['failed'] / r['attempted']:.4f} "
        f"({r['failed']} of {r['attempted']})")
    for k, v in {**r["e2e"], **metrics}.items():
        log(f"  {k:28s} {v['value']:>14.6g} {v['unit']}")
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
