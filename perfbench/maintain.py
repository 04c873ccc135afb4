#!/usr/bin/env python3
"""Regenerates the benchmark's committed records. Not part of a run.

    python3 perfbench/maintain.py select     # selection.json: per-query traced numbers
    python3 perfbench/maintain.py choose     # workloads.json from selection.json
    python3 perfbench/maintain.py reference  # reference.json: output digests
    python3 perfbench/maintain.py oracle     # reference.json: DuckDB confirmation
    python3 perfbench/maintain.py baseline   # baseline.json: per-layer counters
    python3 perfbench/maintain.py steady     # spread of each end-to-end metric

Run from the root of a checkout, with nothing else loading the machine.
"""
import json
import os
import statistics
import subprocess
import sys

import metrics
import run

REFERENCE_SEEDS = (1, 2, 3)
# Counters that must repeat exactly between two traced runs at one seed.
EXACT = ("jobs", "stages", "tasks")


def dump(name, obj):
    with open(os.path.join(run.HERE, name), "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")


def select():
    """Two traced passes over the whole catalog on prebuilt layouts: pass 1
    is cold, pass 2 warm. Busy share is pass-2 executor run time over
    (cores x query wall time); layout roots are those named in the
    physical plans of either pass."""
    cp = run.build()
    run.prepare(cp)
    out = os.path.join(run.BUILD, "select")
    _, recs, _ = run.run_jvm(cp, "select", run.SHARED_LAYOUTS, ["all"], out,
                             6000, timeout_s=3000)
    counters = {c["group"]: c for c in recs if c["kind"] == "counters"}
    rows = {}
    for q in (r for r in recs if r["kind"] == "query"):
        e = rows.setdefault(q["name"], {"module": q["module"], "roots": set()})
        c = counters[f"{q['pass']}:{q['name']}"]
        wall = q["build_s"] + q["exec_s"]
        e["roots"].update(c["layout_roots"])
        e[f"pass{q['pass']}_s"] = round(wall, 3)
        if q["pass"] == 2:
            e["busy"] = round(c["run_ms"] / 1e3 / (run.CORES * wall), 3)
            e["jobs"] = c["jobs"]
        e["ok"] = e.get("ok", True) and q["ok"]
    for e in rows.values():
        e["roots"] = sorted(e["roots"])
    dump("selection.json", {"cores": run.CORES, "sf_dir": os.path.basename(run.SF_DIR),
                            "queries": rows})


def choose():
    """Applies the selection rules in workloads.json to selection.json and
    rewrites each workload's query list."""
    sel = run.load("selection.json")["queries"]
    wls = run.load("workloads.json")
    for w in wls["workloads"] + wls["dropped"]:
        rule = w["rule"]
        pool = sorted(n for n, e in sel.items() if e["ok"]
                      and bool(e["roots"]) == rule["reads_layouts"]
                      and rule["busy_min"] <= e["busy"] < rule["busy_max"]
                      and set(e["roots"]) <= set(rule.get("roots", e["roots"])))
        w["pool"] = len(pool)
        w["queries"] = pool[rule.get("offset", 0)::rule["every"]]
        w["cold_pass_s_at_selection"] = round(
            sum(sel[n]["pass1_s"] for n in w["queries"]), 1)
    dump("workloads.json", wls)


def reference():
    """Digests of every workload query at several seeds (orders); a query
    whose digest differs between them is checked by row count only."""
    cp = run.build()
    wls = run.load("workloads.json")
    old = run.load("reference.json")["queries"] \
        if os.path.exists(os.path.join(run.HERE, "reference.json")) else {}
    seen = {}
    for w in wls["workloads"]:
        for seed in REFERENCE_SEEDS:
            _, _, recs, _ = run.one_run(cp, w, seed, 600, "time", "ref")
            for q in recs:
                if q["kind"] == "query":
                    seen.setdefault(q["name"], []).append(q)
    out = {}
    for name, qs in sorted(seen.items()):
        bad = [q for q in qs if not q["ok"]]
        if bad:
            sys.exit(f"{name} failed while recording references: {bad[0]['error']}")
        stable = len({q["digest"] for q in qs}) == 1
        rows = {q["rows"] for q in qs}
        if len(rows) != 1:
            sys.exit(f"{name} row count varies between runs: {sorted(rows)}")
        out[name] = {"rows": qs[0]["rows"], "digest": qs[0]["digest"],
                     "check": "digest" if stable else "rows",
                     "oracle": old.get(name, {}).get("oracle", "not checked")}
    dump("reference.json", {"cores": run.CORES, "sf_dir": os.path.basename(run.SF_DIR),
                            "seeds": REFERENCE_SEEDS, "queries": out})


def oracle():
    """Dumps every referenced query with graft.Verify at the benchmark's
    width and compares the dumps with DuckDB through tools/check_oracle.py."""
    cp = run.build()
    ref = run.load("reference.json")
    names = sorted(ref["queries"])
    out = os.path.join(run.BUILD, "verify")
    cmd = run.spark_java(run.SHARED_LAYOUTS) + [
        "-cp", cp, "graft.Verify", run.SF_DIR, out, ",".join(names)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(run.CORES))
    subprocess.run(cmd, check=True, env=env, cwd=run.BUILD,
                   stdout=subprocess.DEVNULL)
    res = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools/check_oracle.py"),
                          run.SF_DIR, out], capture_output=True, text=True)
    verdict = {}
    for line in res.stdout.splitlines():
        if line.startswith("ok   "):
            verdict[line.split()[1]] = "ok"
        elif line.startswith("FAIL "):
            name, msg = line[5:].split(":", 1)
            verdict[name] = "disagrees: " + msg.strip()[:200]
    for name, e in ref["queries"].items():
        e["oracle"] = verdict.get(name, "no oracle")
    dump("reference.json", ref)


def baseline():
    """Per-layer counters of each workload at seed 1, from two traced runs;
    names the queries whose job, stage or task counts differ between them."""
    cp = run.build()
    wls = run.load("workloads.json")
    bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    names = [m["name"] for m in bench["per_layer"]]
    out = {}
    for w in wls["workloads"]:
        _, _, t0recs, _ = run.one_run(cp, w, 1, 600, "time", "base")
        untraced = next(r["s"] for r in t0recs if r["kind"] == "pass")
        runs = [run.one_run(cp, w, 1, 600, "trace", f"base{i}") for i in (1, 2)]
        per_q = []
        for _, _, recs, _ in runs:
            per_q.append({c["group"]: c for c in recs if c["kind"] == "counters"})
        differ = {}
        for name in w["queries"]:
            d = {k: [per_q[0][name][k], per_q[1][name][k]] for k in EXACT
                 if per_q[0][name][k] != per_q[1][name][k]}
            if d:
                differ[name] = d
        _, _, recs, spans = runs[0]
        layer = run.per_layer(recs, spans, untraced, names)
        out[w["name"]] = {
            "seed": 1,
            "per_layer": {k: round(v, 6) for k, (v, _) in layer.items()},
            "counts_differing_between_two_traced_runs": differ,
            "per_query": {n: {k: per_q[0][n][k] for k in EXACT + (
                "shuffle_write_b", "sql_execs")} for n in sorted(w["queries"])},
        }
    dump("baseline.json", out)


def steady(seeds=range(101, 111)):
    """Runs every workload once per seed, one fresh run each, and prints each
    end-to-end metric's median and quartile spread next to a third of its
    bound (the spread a steady metric stays under)."""
    bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    for w in run.load("workloads.json")["workloads"]:
        vals = {}
        for seed in seeds:
            out = subprocess.run(
                [sys.executable, os.path.join(run.HERE, "run.py"), "--workload",
                 w["name"], "--seed", str(seed), "--seconds",
                 str(bench["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True, check=True).stdout
            res = json.loads(out.splitlines()[-1])
            if not res["correct"]:
                print(f"{w['name']} seed {seed}: output check failed", flush=True)
            for k, v in res["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
        for m in bench["end_to_end"]:
            v = vals[m["name"]]
            print(f"{w['name']:14} {m['name']:16} median {statistics.median(v):10.4f}"
                  f"  spread {metrics.spread(v):.4f}  bound/3 {m['bound'] / 3:.4f}"
                  f"  values {' '.join(f'{x:.3f}' for x in v)}", flush=True)


if __name__ == "__main__":
    cmds = {f.__name__: f for f in (select, choose, reference, oracle, baseline,
                                    steady)}
    if len(sys.argv) != 2 or sys.argv[1] not in cmds:
        sys.exit(__doc__)
    cmds[sys.argv[1]]()
