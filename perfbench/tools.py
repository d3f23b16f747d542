"""Maintenance modes of ``perfbench/run.py``: ``--pin``, ``--crosscheck``
and ``--smoke``.

``--pin`` profiles a stratified subset of the registry at sf0.1 (two
passes in differently composed JVMs), keeps the queries that succeed
with the same fingerprint in every execution,
and rewrites ``perfbench/pins.json``: the pinned fingerprints, the
interactive set (the cheapest such query of each ``*Entry`` object)
with reference costs, and the sizing constants the plans are cut from.
Pin only from a commit that passes DuckDB parity; ``--pin`` also runs
``tools/parity.py`` on the interactive set when the checkout has it and
replaces any query that fails it.

``--crosscheck`` runs the benchmark's queries with ``.count()`` as the
action under the tracer and under ``graft.tools.StageProfile`` and
compares per-query job, stage and task counts.

``--smoke`` runs every workload at a seconds-long size.
"""
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

import datagen
import elt_check

HERE = os.path.dirname(os.path.abspath(__file__))
PER_ENTRY = 5
ELT_BATCH = {"new_per_cycle": 2000, "updates_per_cycle": 1000}


def registry(run, cp, cache):
    work = run.fresh_dir(cache, "list")
    try:
        subprocess.run(run.java_cmd(cp, ["--list", "reg.txt"]), cwd=work, check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        return [l.split() for l in open(os.path.join(work, "reg.txt")) if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)


def jvm(run, cp, cache, plan, data, cpus, trace=0):
    work = run.fresh_dir(cache, "pin")
    try:
        return run.run_jvm(cp, work, plan, data, cpus, trace, time.monotonic() + 3000)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def pin(run, root, cache, cp, base, cpus):
    entries = {}
    for e, q in registry(run, cp, cache):
        if q not in run.WARMUP:
            entries.setdefault(e, []).append(q)
    rng = random.Random(0)
    subset = {q: e for e, qs in sorted(entries.items())
              for q in rng.sample(sorted(qs), min(PER_ENTRY, len(qs)))}
    names = sorted(subset)
    samples = {q: [] for q in names}
    for p, chunk in enumerate((12, 17)):
        order = names[p::2] + names[1 - p::2] if p else names
        for i in range(0, len(order), chunk):
            plan = [(op, q) for q in order[i:i + chunk] for op in ("cold", "warm")]
            res = jvm(run, cp, cache, plan, base[0], cpus)
            for r in res["records"]:
                samples[r["name"]].append(r)
            run.log(f"pin pass {p}: {min(i + chunk, len(order))}/{len(order)}")
    stable = {q: rs[0]["fp"] for q, rs in samples.items()
              if all(r.get("ok") for r in rs) and len({r["fp"] for r in rs}) == 1}
    pool = {}
    for q in stable:
        rs = samples[q]
        cold = statistics.median(r["lat_ms"] for r in rs if r["op"] == "cold") / 1000
        warm = statistics.median(r["lat_ms"] for r in rs if r["op"] == "warm") / 1000
        pool[q] = {"entry": subset[q], "cold_s": round(cold, 3),
                   "warm_s": round(warm, 3), "pair_s": round(cold + warm, 3)}
    # parity-check the chosen set; a failing query gives way to the next
    # cheapest of its Entry object
    parity_bad = set()
    while True:
        chosen = interactive_set({q: p for q, p in pool.items() if q not in parity_bad})
        bad = parity(run, root, cache, base[0], sorted(chosen), cp, cpus)
        if not bad:
            break
        parity_bad |= bad
    cycle = pin_elt(run, cache, cp, base, cpus)
    pins = {
        "note": "written by perfbench/run.py --pin; see perfbench/README.md",
        "fingerprints": {"data_hash": base[1],
                         "queries": {q: stable[q] for q in chosen}},
        "interactive": chosen,
        "elt_cycle_s": round(cycle, 3),
        "elt_batch": ELT_BATCH,
        "parity_failed": sorted(parity_bad),
        "unstable": sorted(set(names) - set(stable)),
    }
    with open(os.path.join(HERE, "pins.json"), "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=False)
        fh.write("\n")
    run.log(f"pinned {len(chosen)} interactive queries")
    return 0


def interactive_set(pool):
    """One query per Entry object: its cheapest stable, parity-passing
    query, so the set stays in the interactive regime."""
    best = {}
    for q, p in pool.items():
        if p["entry"] not in best or p["pair_s"] < pool[best[p["entry"]]]["pair_s"]:
            best[p["entry"]] = q
    return {q: pool[q] for q in sorted(best.values())}


def pin_elt(run, cache, cp, base, cpus):
    """Median cycle time of a short ELT run, to size the elt plan."""
    work = run.fresh_dir(cache, "pin-elt")
    try:
        batches = datagen.elt_batch_rows(0, 6, **ELT_BATCH)
        datagen.write_elt_landing(os.path.join(work, "staged"), batches)
        res = run.run_jvm(cp, work, [("cycle", str(c)) for c in range(6)], base[0],
                          cpus, 0, time.monotonic() + 600, os.path.join(work, "staged"))
        bad = elt_check.compare(elt_check.expected(batches), res)
        if bad:
            raise run.BenchError(f"ELT pipeline failed its check: {bad}")
        return statistics.median(r["lat_ms"] for r in res["records"][1:]) / 1000
    finally:
        shutil.rmtree(work, ignore_errors=True)


def parity(run, root, cache, data, names, cp, cpus):
    """Queries failing the repository's DuckDB parity check on the data."""
    tool = os.path.join(root, "tools", "parity.py")
    if not os.path.exists(tool):
        run.log("no tools/parity.py in this checkout; parity not re-checked")
        return set()
    out = os.path.join(cache, "parity-out")
    shutil.rmtree(out, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_VERIFY_ONLY=",".join(names),
               SPARK_GRAFT_CPUS=str(cpus))
    work = os.path.join(cache, "parity-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = [c if c != "perfbench.Main" else "graft.Verify" for c in
           run.java_cmd(cp, [])] + [data, out]
    subprocess.run(cmd, cwd=work, env=env, check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)
    r = subprocess.run([sys.executable, tool, data, out], capture_output=True, text=True)
    bad = {m.group(1) for m in re.finditer(r"^\s*✗ (q\w+)", r.stdout, re.M)}
    tail = [l for l in r.stdout.splitlines() if l.strip()][-1:]
    run.log(f"parity on the pin data: {tail}")
    shutil.rmtree(work, ignore_errors=True)
    return bad


def crosscheck(run, root, cache, cp, base, cpus):
    """Per-query jobs/stages/tasks: tracer vs graft.tools.StageProfile, on
    the interactive set plus q01 and q03, at sf0.1."""
    queries = ["q01_full_scan_agg", "q03_join_star"] + sorted(run.load_pins()["interactive"])
    res = jvm(run, cp, cache, [("count", q) for q in queries], base[0], cpus, trace=1)
    spans = [s for s in res["inclusive"] if s["kind"] == "query"]
    mine = {s["name"].split(" ", 1)[1]: tuple(int(s["counters"].get(k, 0)) for k in
                                             ("sched.jobs", "sched.stages", "sched.tasks"))
            for s in spans}
    work = run.fresh_dir(cache, "stageprofile")
    try:
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=base[0], SPARK_GRAFT_CPUS=str(cpus),
                   SPARK_GRAFT_PROFILE_RUNS="1")
        cmd = [c if c != "perfbench.Main" else "graft.tools.StageProfile" for c in
               run.java_cmd(cp, [])] + [",".join(queries)]
        out = subprocess.run(cmd, cwd=work, env=env, capture_output=True, text=True,
                             timeout=900).stdout
    finally:
        shutil.rmtree(work, ignore_errors=True)
    theirs = {m.group(1): (int(m.group(2)), int(m.group(3)), int(m.group(4)))
              for m in re.finditer(r"\[profile\] (\S+) .*?jobs=(\d+) stages=(\d+) "
                                   r"tasks=(\d+)", out)}
    ok = True
    for q in queries:
        same = mine.get(q) == theirs.get(q)
        ok &= same
        print(f"{'ok  ' if same else 'DIFF'} {q}: tracer jobs/stages/tasks={mine.get(q)} "
              f"StageProfile={theirs.get(q)}")
    return 0 if ok else 1


def smoke(run, args, cache, cp, base, cpus):
    """Every workload at a seconds-long size, untraced and traced."""
    ok = True
    for w in run.WORKLOADS:
        for trace in (0, 1):
            a = type(args)(**dict(vars(args), workload=w, seconds=2, trace=trace))
            t0 = time.monotonic()
            fails = run.run_workload(
                a, cache, cp, base, cpus, time.monotonic() + 900, smoke=True)[3]
            ok &= not fails
            print(f"{'ok  ' if not fails else 'FAIL'} {w} trace={trace} "
                  f"{time.monotonic() - t0:.1f} s {fails[:3]}")
    return 0 if ok else 1


def main(args, root, cache, cp, base, cpus):
    import run
    if args.pin:
        return pin(run, root, cache, cp, base, cpus)
    if args.crosscheck:
        return crosscheck(run, root, cache, cp, base, cpus)
    return smoke(run, args, cache, cp, base, cpus)
