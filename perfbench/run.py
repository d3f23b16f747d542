#!/usr/bin/env python3
"""graft benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload interactive_sf01 --seed 1 \
        --seconds 24 --trace 0

Run from the root of a graft checkout.  The first run builds graft with
the repository's own sbt build, builds the harness in
``perfbench/harness`` against it, and generates the inputs; all of that
is cached under ``.bench_build/perfbench`` and kept out of every timing.

Workloads (see ``perfbench/README.md``):

- ``interactive_sf01``: a pinned set of registry queries at sf0.1, one
  from each of the twelve ``*Entry`` objects, in a fixed order; each
  query runs twice back to back (cold, then warm).
- ``elt_pipeline``: seeded landing batches pushed through incremental
  ELT cycles built from graft's public API.

Each run starts one fresh JVM (``local[nproc]``) in a fresh private
working directory.  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the same plan untraced and then traced, in a JVM
each, and prints the per-layer metrics.  Every query result is checked
against a pinned fingerprint and every ELT run against an independent
recomputation; a mismatch makes the command exit 1.

Other modes: ``--smoke`` (a seconds-long size of every workload),
``--crosscheck`` (traced job/stage/task counts against
``graft.tools.StageProfile``), ``--pin`` (re-pin fingerprints).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import datagen  # noqa: E402
import elt_check  # noqa: E402

WORKLOADS = ["interactive_sf01", "elt_pipeline"]
# set-up ends with this registry query on sf0.1 (scan, exchange, sort,
# window, decimal aggregation).  No workload measures it, so JIT and class
# loading are past their first query while every measured query still
# plans and compiles its own code cold.
WARMUP = ["q19_window_funcs"]
XMX = "3g"
DEADLINE_S = 170    # a run that is not done by then fails
# median CPU time of the harness's host-speed kernel (HostSpeed in
# Main.scala) on the VM the benchmark was defined on (4 vCPUs, Xeon, quiet
# host): the ref_* metrics are CPU seconds at that speed.  A fixed unit,
# never re-measured, or figures from different days stop being comparable.
KERNEL_REF_MS = 8.8

PER_LAYER = [
    "session.start_ms", "session.warmup_ms",
    "sources.load_ms", "sources.files_listed", "sources.scans",
    "sources.bytes_read", "sources.rows_read",
    "entry.build_ms", "entry.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "codegen.compiles", "codegen.compile_ms", "codegen.warm_misses",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.job_ms",
    "sched.launch_wait_ms", "sched.deser_ms", "sched.ungrouped_jobs",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.busy_frac",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "spill.disk_bytes", "spill.mem_bytes",
    "plans.persisted_rdds", "plans.cached_bytes", "plans.cache_entries",
    "writer.ms", "writer.bytes", "writer.files", "dag.ms", "snapshot.ms",
    "checks.ms", "freshness.ms",
    "jvm.gc_ms", "jvm.jit_ms", "jvm.classes_loaded",
    "trace.overhead_frac",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            h.update(base.encode() + open(base, "rb").read())
            continue
        for root, dirs, files in os.walk(base):
            dirs[:] = sorted(d for d in dirs if d not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(root, f)
                h.update(p.encode() + b"\0" + open(p, "rb").read())
    return h.hexdigest()


def sbt(cwd, args, log_path, cache):
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
        "-Dsbt.server.autostart=false", "-Xmx2g",
        f"-Dsbt.global.base={os.path.join(cache, 'sbt-global')}"]
        + ([f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}"]
           if os.path.exists(os.path.expanduser("~/.sbt/repositories")) else []))
    with open(log_path, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true"] + args,
                           cwd=cwd, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        tail = open(log_path).read()[-3000:]
        raise BenchError(f"sbt {' '.join(args)} failed in {cwd}:\n{tail}")


def build(root, cache):
    """Compile graft (the repository's build) and the harness; return the
    JVM classpath.  Rebuilt only when their sources change."""
    harness = os.path.join(HERE, "harness")
    key = tree_hash([os.path.join(root, "build.sbt"), os.path.join(root, "src", "main"),
                     os.path.join(root, "project", "build.properties"), harness])
    stamp = os.path.join(cache, "build.json")
    if os.path.exists(stamp):
        b = json.load(open(stamp))
        if b["key"] == key:
            return b["classpath"]
    os.makedirs(cache, exist_ok=True)
    log("building graft and the harness (first run in this checkout)")
    t0 = time.time()
    graft_log = os.path.join(cache, "build-graft.log")
    sbt(root, ["compile", "export Runtime/fullClasspath"], graft_log, cache)
    # the exported classpath is the last line sbt prints
    graft_cp = [l.strip() for l in open(graft_log) if l.strip()][-1]
    if not graft_cp.startswith(os.sep):
        raise BenchError(f"no classpath in {graft_log}")
    sbt(harness, [f"-Dgraft.classpath={graft_cp}", "compile"],
        os.path.join(cache, "build-harness.log"), cache)
    cp = [os.path.join(harness, "target", "scala-2.13", "classes")] + \
        graft_cp.split(os.pathsep)
    json.dump({"key": key, "classpath": cp}, open(stamp, "w"))
    log(f"built in {time.time() - t0:.0f} s")
    return cp


# ---------------------------------------------------------------- plans

def load_pins():
    return json.load(open(os.path.join(HERE, "pins.json")))


def rounds(seconds, cost_s):
    """How many times a run goes through work that takes `cost_s`."""
    return max(1, int(seconds // cost_s))


def interactive_plan(seconds, pins):
    """The pinned interactive set (one query per Entry object), each query
    cold then warm, in a fixed order: which query comes first decides who
    pays first-use JIT and class loading, and a seeded order moved the
    cold median by a quarter between seeds."""
    qs = sorted(pins["interactive"])
    rounds_ = rounds(seconds, sum(q["pair_s"] for q in pins["interactive"].values()))
    return [[("cold", q), ("warm", q)] for _ in range(rounds_) for q in qs]


def elt_cycles(seconds, pins):
    return max(3, rounds(seconds, pins["elt_cycle_s"]))


# ---------------------------------------------------------------- JVMs

def java_cmd(cp, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # fixed, pre-touched heap, so G1's timing-dependent sizing does not move
    # the resident set (rss_peak_mb subtracts it again); C1 only, since the
    # C2 compiles running beside the queries doubled a run's CPU time; no
    # perf-data file outside the working directory
    cmd = ["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           "-XX:TieredStopAtLevel=1",
           "-XX:-UsePerfData", "-Duser.language=en", "-Duser.country=US",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=.", "-Djava.io.tmpdir=tmp"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", ":".join(cp), "perfbench.Main"] + args


def steal_ticks():
    f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return f[7], sum(f)


def run_jvm(cp, work, plan_lines, data, cpus, trace, deadline, staged=None):
    """One fresh JVM in a fresh working directory; returns its result
    with the set-up time measured from launch to `READY`."""
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "plan.txt"), "w") as fh:
        fh.write("".join(f"{op} {arg}\n" for op, arg in plan_lines))
    args = ["--data", data, "--warmup", ",".join(WARMUP),
            "--plan", "plan.txt",
            "--out", "out.json", "--cpus", str(cpus), "--trace", str(trace)]
    if staged:
        args += ["--staged", staged]
    err = open(os.path.join(work, "stderr.log"), "w")
    st0 = steal_ticks()
    t0 = time.perf_counter()
    proc = subprocess.Popen(java_cmd(cp, args), cwd=work, stdout=subprocess.PIPE,
                            stderr=err, stdin=subprocess.DEVNULL, text=True)
    setup_s, done = None, False
    try:
        import selectors
        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise BenchError("run exceeded its deadline")
            if not sel.select(timeout=min(left, 5)):
                continue
            line = proc.stdout.readline()
            if not line:
                break
            if line.strip() == "READY":
                setup_s = time.perf_counter() - t0
            elif line.strip() == "DONE":
                done = True
        proc.wait(timeout=max(1, deadline - time.monotonic()))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        err.close()
    if proc.returncode != 0 or not done or setup_s is None:
        tail = open(os.path.join(work, "stderr.log")).read()[-4000:]
        raise BenchError(f"benchmark JVM failed (exit {proc.returncode}):\n{tail}")
    res = json.load(open(os.path.join(work, "out.json")))
    res["setup_s"] = setup_s
    st1 = steal_ticks()
    res["steal_frac"] = (st1[0] - st0[0]) / max(1, st1[1] - st0[1])
    return res


# ---------------------------------------------------------------- metrics

def tail_stat(values):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); None below 21 samples, where that percentile is
    the median or lower."""
    v = sorted(values)
    n = len(v)
    if n <= 20:
        return None
    pct = int(100 * (n - 10) / n)
    k = min(n - 1, max(0, int(round(pct / 100 * (n - 1)))))
    return v[k], pct


def rss_parts(res):
    """rss_peak_mb in two parts (MB): resident memory outside the heap at its
    peak (VmHWM less the heap, which is pre-touched whole at launch), and
    the peak heap occupancy right after a collection."""
    return {"native_mb": (res["rss_hwm_kb"] * 1024 - res["heap_committed_bytes"]) / 2**20,
            "heap_after_gc_mb": res["heap_peak_after_gc_bytes"] / 2**20}


def host_speed(res):
    """How much slower than the reference this host ran the fixed kernel
    during the run: median kernel CPU time over the pinned reference."""
    ks = [k for r in res["records"] for k in r["kernel_ms"]]
    return statistics.median(ks) / KERNEL_REF_MS, len(ks)


def end_to_end(workload, res, expected_rows):
    """The end-to-end metrics of one untraced JVM, as (value, unit, samples):
    the gated ones (BENCHMARK.json) and the rest, which are printed but not
    gated (see perfbench/README.md)."""
    recs = res["records"]
    wall = res["wall_ms"] / 1000
    lats = [r["lat_ms"] / 1000 for r in recs]
    cpu = [r["cpu_ms"] / 1000 for r in recs]
    slow, n_kernel = host_speed(res)
    if workload == "elt_pipeline":
        cold, warm = [0], list(range(1, len(recs)))
        cycle = lats
        rows = expected_rows
    else:
        cold = [i for i, r in enumerate(recs) if r["op"] == "cold"]
        warm = [i for i, r in enumerate(recs) if r["op"] == "warm"]
        by_name = {}
        for x, r in zip(lats, recs):
            by_name[r["name"]] = by_name.get(r["name"], 0.0) + x
        cycle = list(by_name.values())
        rows = sum(r.get("rows", 0) for r in recs)
    cpu_s = res["cpu_ms"] / 1000
    cold_cpu = statistics.fmean(cpu[i] for i in cold)
    warm_cpu = statistics.fmean(cpu[i] for i in warm)
    gated = {
        "setup_s": (res["setup_s"], "s", 1),
        "ref_cpu_s": (cpu_s / slow, "s", 1),
        "ref_cold_cpu_s": (cold_cpu / slow, "s", len(cold)),
        "ref_warm_cpu_s": (warm_cpu / slow, "s", len(warm)),
        "rss_peak_mb": (sum(rss_parts(res).values()), "MB", 1),
        "heap_retained_mb": (res["heap_retained_bytes"] / 2**20, "MB", 1),
        "disk_write_mb": (res["disk_write_bytes"] / 2**20, "MB", 1),
    }
    cold_l, warm_l = [lats[i] for i in cold], [lats[i] for i in warm]
    printed = {
        "cpu_s": (cpu_s, "s", 1),
        "cold_cpu_s": (cold_cpu, "s", len(cold)),
        "warm_cpu_s": (warm_cpu, "s", len(warm)),
        "host_slowdown": (slow, "ratio", n_kernel),
        "wall_s": (wall, "s", 1),
        "cold_p50_s": (statistics.median(cold_l), "s", len(cold_l)),
        "warm_p50_s": (statistics.median(warm_l), "s", len(warm_l)),
        "cycle_p50_s": (statistics.median(cycle), "s", len(cycle)),
        "rows_per_s": (rows / wall, "rows/s", 1),
        "host_steal_frac": (res["steal_frac"], "ratio", 1),
    }
    return gated, printed, {"cold_tail_s": (tail_stat(cold_l), len(cold_l)),
                            "warm_tail_s": (tail_stat(warm_l), len(warm_l))}


def record_layers(rec, span, children, cpus, first):
    """Per-layer metrics of one query or cycle from its traced span."""
    c = dict(span["counters"])
    ph = {s["name"]: s for s in children}
    out = {k: c.get(k, 0.0) for k in PER_LAYER if "." in k}
    out["entry.build_ms"] = ph["build"]["dur_ms"] if "build" in ph else 0.0
    out["entry.build_jobs"] = (ph["build"]["counters"].get("sched.jobs", 0.0)
                               if "build" in ph else 0.0)
    out["codegen.warm_misses"] = 0.0 if first else c.get("codegen.compiles", 0.0)
    out["exec.busy_frac"] = c.get("exec.run_ms", 0.0) / max(1e-9, rec["lat_ms"] * cpus)
    if rec["op"] == "cycle":
        out["sources.load_ms"] = sum(ph[p]["dur_ms"] for p in
                                     ("sources", "cursor", "cursor_save") if p in ph)
        for step in ("writer", "dag", "snapshot", "checks", "freshness"):
            out[f"{step}.ms"] = ph[step]["dur_ms"] if step in ph else 0.0
        out["writer.bytes"] = rec.get("writer.bytes", 0)
        out["writer.files"] = rec.get("writer.files", 0)
    else:
        out["sources.load_ms"] = rec.get("sources.load_ms", 0.0)
    for k in ("plans.persisted_rdds", "plans.cached_bytes", "plans.cache_entries"):
        out[k] = rec.get(k, 0)
    out.pop("session.start_ms", None)
    out.pop("session.warmup_ms", None)
    out.pop("trace.overhead_frac", None)
    return out


def per_layer(res, cpus):
    """Per-record layer metrics and their workload sums."""
    spans = res["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    top = [s for s in spans if s["parent"] == -1]
    incl = {i["id"]: i["counters"] for i in res["inclusive"]}
    rows, seen = [], set()
    recs = iter(res["records"])
    for s in top:
        if s["kind"] == "setup":
            continue
        rec = next(recs)
        span = dict(s, counters=incl[s["id"]])
        first = rec["op"] == "cold" or (rec["op"] == "cycle" and not seen)
        seen.add(rec["op"])
        rows.append((rec["op"], rec["name"],
                     record_layers(rec, span, kids.get(s["id"], []), cpus, first)))
    total = {k: 0.0 for k in PER_LAYER}
    for _, _, m in rows:
        for k, v in m.items():
            total[k] += v
    setup = [s for s in top if s["kind"] == "setup"]
    for s in setup:
        sc = incl[s["id"]]
        for k in ("codegen.compiles", "codegen.compile_ms", "jvm.gc_ms", "jvm.jit_ms",
                  "jvm.classes_loaded", "sources.files_listed"):
            total[k] += sc.get(k, 0.0)
    total["session.start_ms"] = res["session.start_ms"]
    total["session.warmup_ms"] = res["session.warmup_ms"]
    run_ms = total["exec.run_ms"]
    total["exec.busy_frac"] = run_ms / max(1e-9, res["wall_ms"] * cpus)
    return rows, total


# ---------------------------------------------------------------- checks

def check_fingerprints(res, pins, data_hash):
    """Queries whose result differs from the fingerprint pinned for this
    data set (failed queries are reported by the caller)."""
    want = pins["fingerprints"]
    if want["data_hash"] != data_hash:
        raise BenchError("pinned fingerprints are for another data set; "
                         "re-pin with --pin")
    return [f"{r['name']} ({r['op']}): fingerprint {r['fp']} != pinned "
            f"{want['queries'].get(r['name'])}"
            for r in res["records"]
            if r.get("ok") and r["fp"] != want["queries"].get(r["name"])]


# ---------------------------------------------------------------- main

def stamp(root, args, cpus, data_hash, res0):
    # the commit only when the checkout itself is the work tree, not a
    # directory inside some other repository
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10).stdout.split()
    except Exception:
        out = []
    commit = (out[1] if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(root)
              else "")
    return {"commit": commit or "unknown (not a git checkout)",
            "source_hash": tree_hash([os.path.join(root, "src", "main")])[:16],
            "nproc": os.cpu_count(), "master": f"local[{cpus}]", "xmx": XMX,
            "jdk": res0.get("jdk"), "spark": res0.get("spark"),
            "data_hash": data_hash, "seed": args.seed, "workload": args.workload,
            "confs": res0.get("confs")}


def prepare(root):
    cache = os.path.join(root, ".bench_build", "perfbench")
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise BenchError("not the root of a graft checkout: build.sbt and "
                         "src/main/scala/graft are required")
    cp = build(root, cache)
    data = os.path.join(cache, "data")
    os.makedirs(data, exist_ok=True)
    return cache, cp, datagen.base(data, 0.1)


def fresh_dir(cache, tag):
    d = os.path.join(cache, "runs", f"{tag}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(d)
    return d


def run_workload(args, cache, cp, base, cpus, t_end, smoke=False):
    """Run the workload's seeded plan in a fresh JVM, and with --trace 1 once
    more in a traced one.  Returns (untraced result, traced result or None,
    rows merged by the ELT run, failures, data hash)."""
    pins = load_pins()
    w = args.workload
    data, data_hash = base
    if w == "interactive_sf01":
        plan = interactive_plan(args.seconds, pins)[:2 if smoke else None]
    else:
        n = 2 if smoke else elt_cycles(args.seconds, pins)
        plan = [[("cycle", str(c))] for c in range(n)]
    plan = [x for unit in plan for x in unit]
    fails = []

    def one_pass(trace):
        work = fresh_dir(cache, f"{w}-s{args.seed}-t{trace}")
        try:
            staged, batches = None, None
            if w == "elt_pipeline":
                staged = os.path.join(work, "staged")
                batches = datagen.elt_batch_rows(args.seed, len(plan), **pins["elt_batch"])
                datagen.write_elt_landing(staged, batches)
            res = run_jvm(cp, work, plan, data, cpus, trace, t_end, staged)
            fails.extend(f"{r['name']} ({r['op']}): {r.get('error')}"
                         for r in res["records"] if not r.get("ok"))
            if w == "elt_pipeline":
                exp = elt_check.expected(batches)
                fails.extend(f"elt final state: {b}" for b in elt_check.compare(exp, res))
                res["expected_rows"] = exp["merged_rows"]
            else:
                fails.extend(check_fingerprints(res, pins, data_hash))
            return res
        finally:
            shutil.rmtree(work, ignore_errors=True)

    untraced = one_pass(0)
    traced = one_pass(1) if args.trace else None
    return untraced, traced, untraced.get("expected_rows", 0), fails, data_hash


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload at a seconds-long size")
    ap.add_argument("--crosscheck", action="store_true",
                    help="compare traced job counts with graft.tools.StageProfile")
    ap.add_argument("--pin", action="store_true",
                    help="profile the registry and rewrite perfbench/pins.json")
    args = ap.parse_args()
    root = os.getcwd()
    t_start = time.monotonic()
    try:
        cache, cp, base = prepare(root)
        cpus = os.cpu_count()
        if args.pin or args.crosscheck or args.smoke:
            import tools
            return tools.main(args, root, cache, cp, base, cpus)
        if not args.workload:
            raise BenchError("--workload is required")
        t_end = time.monotonic() + DEADLINE_S
        untraced, traced, rows, fails, data_hash = run_workload(
            args, cache, cp, base, cpus, t_end)
    except BenchError as e:
        log(f"error: {e}")
        return 2
    attempted = sum(len(r["records"]) for r in (untraced, traced) if r)
    info = stamp(root, args, cpus, data_hash, untraced)
    print(json.dumps({"stamp": info}))
    for f in fails:
        log(f"FAILED {f}")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.trace:
        rows_l, total = per_layer(traced, cpus)
        for op, name, m in rows_l:
            print(json.dumps({"trace_record": {"op": op, "name": name, "metrics": m}}))
        total["trace.overhead_frac"] = traced["wall_ms"] / untraced["wall_ms"] - 1
        out = os.path.join(cache, "traces", f"{args.workload}-s{args.seed}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as fh:
            json.dump({"stamp": info, "spans": traced["spans"]}, fh)
        log(f"spans written to {os.path.relpath(out, root)}")
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {k: {"value": total[k], "unit": units[k]} for k in PER_LAYER}
    else:
        e2e, printed, tails = end_to_end(args.workload, untraced, rows)
        failed_frac = len(fails) / max(1, attempted)
        for k, v in e2e.items():
            print(f"{k:18s} {v[0]:.6g} {v[1]}  (n={v[2]})")
        print(f"{'':18s} rss_peak_mb = {rss_parts(untraced)}")
        # reported, not gated: see perfbench/README.md
        for k, v in printed.items():
            print(f"{k:18s} {v[0]:.6g} {v[1]}  (n={v[2]}, not gated)")
        for k, (t, n) in tails.items():
            print(f"{k:18s} " + (f"{t[0]:.6g} s  (n={n} p{t[1]}, not gated)" if t else
                                 f"n/a  (n={n}: a tail needs more than 20 samples)"))
        print(f"{'failed_frac':18s} {failed_frac:.6g} ratio  (n={attempted}, not gated)")
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": not fails, "attempted": attempted,
                      "failed": len(fails), "metrics": metrics}))
    log(f"done in {time.monotonic() - t_start:.1f} s")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
