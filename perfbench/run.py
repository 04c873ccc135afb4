#!/usr/bin/env python3
"""Catalog benchmark: one cold JVM per run, then session start, layouts
and one closed-loop pass over a workload's queries.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload fixed-cost --seed 1 --seconds 30 --trace 0

The first run builds the program and the benchmark's runner into
`.bench_build/` with the Scala compiler that ships in Spark's jars, and
builds the shared layouts the warm workloads re-register, untimed. Each run then starts a fresh JVM (`perfbench/jvm/Runner.scala`),
checks every query's output against `reference.json`, prints one line
per metric and, last, one JSON object. `--trace 1` reports the per-layer
metrics instead, from a traced run (Spark listener counters and spans,
written next to the run's records); its tracing overhead is taken against
the untraced runs made earlier in the same checkout, or against one made
first at the same seed. See README.md for the metrics and workloads.

Environment: SPARK_HOME (default: the installation that holds
`spark-submit` on the PATH) for Spark's jars, and PERFBENCH_SF_DIR
(default `~/testdata/sf0.1`, see TESTDATA.md) for the read-only fixture
parquet.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SHARED_LAYOUTS = os.path.join(BUILD, "layouts")
STAMP = os.path.join(BUILD, "build.stamp")
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(
    os.path.dirname(os.path.realpath(shutil.which("spark-submit") or ".")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
# the bench-scale fixture of TESTDATA.md; the references are taken on it
SF_DIR = os.environ.get("PERFBENCH_SF_DIR",
                        os.path.expanduser(os.path.join("~", "testdata", "sf0.1")))
CORES = 4  # fixed session width: the reference digests are taken at it
RUN_LIMIT_S = 170  # all JVMs of one invocation, after build and prepare
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "jvm/*.scala")))
    if not prog or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail(f"no program sources under {ROOT}/src/main/scala")
    return prog, bench


def scalac(files, classpath, out, log):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", tmp, "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        fail(f"compile failed (exit {rc}); see {log}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Compile the program and the runner unless the sources are unchanged
    since the last build in this checkout. Returns the runner classpath."""
    prog, bench = sources()
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        fail(f"no Scala compiler in {SPARK_JARS}")
    h = hashlib.sha256()
    for p in prog + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    bench_classes = os.path.join(BUILD, "bench-classes")
    jars = os.path.join(SPARK_JARS, "*")
    cp = os.pathsep.join([classes, bench_classes, jars])
    if os.path.exists(STAMP) and built_stamp() == stamp:
        return cp
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    scalac(prog, jars, classes, os.path.join(BUILD, "compile-program.log"))
    scalac(bench, os.pathsep.join([classes, jars]), bench_classes,
           os.path.join(BUILD, "compile-bench.log"))
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built program and runner in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return cp


def built_stamp():
    """Hash of the sources the classes in .bench_build were compiled from."""
    with open(STAMP) as f:
        return f.read()


def spark_java(tmpdir):
    """The JVM command line that Spark 4 on JDK 17 needs outside
    spark-submit, writing its temporary files under `tmpdir` only."""
    cmd = ["java", "-XX:-UsePerfData", "-Xmx4g", "-Xss8m",
           f"-Djava.io.tmpdir={tmpdir}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'jvm/log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd


def run_jvm(cp, mode, tmpdir, queries, run_dir, deadline_s, timeout_s,
            layouts="all"):
    """One Runner JVM. Returns (launch epoch s, records, spans)."""
    os.makedirs(run_dir, exist_ok=True)
    os.makedirs(tmpdir, exist_ok=True)
    local = os.path.join(BUILD, "spark-local")
    shutil.rmtree(local, ignore_errors=True)
    os.makedirs(local)
    qfile = os.path.join(run_dir, "queries.txt")
    with open(qfile, "w") as f:
        f.write("\n".join(queries) + "\n")
    cmd = spark_java(tmpdir) + [
        f"-Dspark.local.dir={local}",
        f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Runner",
        mode, SF_DIR, str(CORES), qfile, run_dir, str(deadline_s), layouts]
    log = os.path.join(run_dir, "jvm.log")
    t_launch = time.time()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                cwd=BUILD)
        try:
            rc = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{mode} JVM timed out; see {log}")
    if rc != 0:
        with open(log) as lf:
            tail_lines = lf.read().splitlines()[-5:]
        fail(f"{mode} JVM exited {rc}; see {log}: " + " | ".join(tail_lines))
    with open(os.path.join(run_dir, "records.jsonl")) as f:
        records = [json.loads(line) for line in f]
    spans = []
    span_file = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(span_file):
        with open(span_file) as f:
            spans = [json.loads(line) for line in f]
    return t_launch, records, spans


def prepare(cp):
    """Builds every layout once into the checkout's shared root, untimed;
    workloads with prebuilt layouts only re-register them."""
    marker = os.path.join(SHARED_LAYOUTS, ".prepared")
    if not os.path.exists(marker):
        print("[perfbench] building the shared layouts once (untimed)",
              file=sys.stderr)
        run_jvm(cp, "prepare", SHARED_LAYOUTS, [], os.path.join(BUILD, "prepare"),
                0, timeout_s=800)
        open(marker, "w").close()


def one_run(cp, wl, seed, seconds, mode, tag, timeout_s=RUN_LIMIT_S):
    """One run of a workload. A cold workload gets a fresh, empty layout
    root, removed again after the run."""
    run_dir = os.path.join(BUILD, "runs", f"{wl['name']}-s{seed}-{tag}")
    shutil.rmtree(run_dir, ignore_errors=True)
    cold = wl["layouts"] == "cold"
    root = os.path.join(run_dir, "layouts") if cold else SHARED_LAYOUTS
    order = metrics.permute(wl["queries"], seed)
    try:
        t_launch, recs, spans = run_jvm(
            cp, mode, root, order, run_dir, deadline_s=3 * seconds,
            layouts=",".join(wl.get("inventory", ["all"])), timeout_s=timeout_s)
    finally:
        if cold:
            shutil.rmtree(root, ignore_errors=True)
    return run_dir, t_launch, recs, spans


def untraced(cp, wl, seed, seconds, timeout_s):
    """(launch epoch s, records) of an untraced run, noted in the run's
    directory with the build it measured."""
    _, t_launch, recs, _ = one_run(cp, wl, seed, seconds, "time", "t0", timeout_s)
    done = {"stamp": built_stamp(), "pass_s": by_kind(recs)["pass"][0]["s"]}
    with open(os.path.join(BUILD, "runs", f"{wl['name']}-s{seed}-t0", "done.json"),
              "w") as f:
        json.dump(done, f)
    return t_launch, recs


def earlier_pass_s(wl):
    """Median pass_s of the untraced runs of this build and workload made
    earlier in this checkout, or None."""
    stamp = built_stamp()
    found = []
    for p in glob.glob(os.path.join(BUILD, "runs", f"{wl['name']}-s*-t0", "done.json")):
        with open(p) as f:
            d = json.load(f)
        if d["stamp"] == stamp:
            found.append(d["pass_s"])
    return statistics.median(found) if found else None


def by_kind(recs):
    by = {}
    for r in recs:
        by.setdefault(r["kind"], []).append(r)
    return by


def check(queries, reference):
    """(names of queries that threw, {name: why} of wrong outputs)."""
    failed = [q["name"] for q in queries if not q["ok"]]
    wrong = {}
    for q in queries:
        why = q["ok"] and metrics.check_output(q, reference.get(q["name"]))
        if why:
            wrong[q["name"]] = why
    return failed, wrong


def end_to_end(t_launch, by, failed, wrong):
    """({name: (value, unit)}, {name: note}) of an untraced run."""
    setup = by["setup_done"][0]
    queries = by["query"]
    checked = len(queries) - len(failed)
    walls = [q["build_s"] + q["exec_s"] for q in queries if q["ok"]] or [0.0]
    setup_s = setup["epoch_ms"] / 1e3 - t_launch
    pass_s = by["pass"][0]["s"]
    p, tail_v = metrics.tail(walls)
    m = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "total_s": (setup_s + pass_s, "s"),
        "query_p50_s": (statistics.median(walls), "s"),
        "query_tail_s": (tail_v, "s"),
        "failed_frac": (len(failed) / len(queries), "ratio"),
        "wrong_frac": (len(wrong) / max(1, checked), "ratio"),
        "peak_rss_mb": (by["end"][0]["vm_hwm_kb"] / 1024.0, "MB"),
        "layout_disk_mb": (setup["layout_bytes"] / 1e6, "MB"),
    }
    notes = {
        "query_tail_s": f"p{p} of {len(walls)} queries, "
                        f"{sum(w > tail_v for w in walls)} beyond",
        "failed_frac": f"{len(failed)}/{len(queries)} {' '.join(failed)}",
        "wrong_frac": f"{len(wrong)}/{checked} "
                      + " ".join(f"{k} ({v})" for k, v in sorted(wrong.items())),
    }
    return m, notes


def per_layer(recs, spans, untraced_pass_s, names):
    """The traced run's per-layer metrics, one for each of `names`. A layout
    entry or catalog module that the program no longer has reads 0."""
    by = by_kind(recs)
    queries = by["query"]
    counters = {c["group"]: c for c in by["counters"]}
    qc = [counters[q["name"]] for q in queries]
    tot = lambda k: float(sum(c[k] for c in qc))
    pass_s = by["pass"][0]["s"]
    st = metrics.self_time_by_name(spans)
    layouts = {r["name"]: r["s"] for r in by["layout"]}
    m = {
        "harness.session_s": (st.get("harness.session", 0.0), "s"),
        "harness.reset_s": (sum(q["reset_s"] for q in queries), "s"),
        "sources.warm_s": (sum(layouts.values()), "s"),
        "sources.files": (float(by["setup_done"][0]["layout_files"]), "count"),
        "queries.build_s": (sum(q["build_s"] for q in queries), "s"),
        "queries.exec_s": (sum(q["exec_s"] for q in queries), "s"),
    }
    for n in names:
        part = n.split(".")
        if len(part) == 3 and part[0] == "sources" and part[2] == "s":
            m[n] = (layouts.get(part[1], 0.0), "s")
        elif len(part) == 3 and part[0] == "queries" and part[2] == "s":
            m[n] = (sum(q["build_s"] + q["exec_s"] for q in queries
                        if q["module"] == part[1]), "s")
    m.update({
        "plan.analysis_s": (tot("analysis_ms") / 1e3, "s"),
        "plan.optimization_s": (tot("optimization_ms") / 1e3, "s"),
        "plan.planning_s": (tot("planning_ms") / 1e3, "s"),
        "plan.sql_execs": (tot("sql_execs"), "count"),
        "codegen.compile_s": (sum(q["compile_ns"] for q in queries) / 1e9, "s"),
        "codegen.compiles": (float(sum(q["compiles"] for q in queries)), "count"),
        "sched.jobs": (tot("jobs"), "count"),
        "sched.stages": (tot("stages"), "count"),
        "sched.tasks": (tot("tasks"), "count"),
        "sched.tasks_failed": (tot("tasks_failed"), "count"),
        "sched.delay_s": (tot("delay_ms") / 1e3, "s"),
        "sched.deserialize_s": (tot("deser_ms") / 1e3, "s"),
        "sched.jobs_per_query": (tot("jobs") / len(queries), "count"),
        "exec.run_s": (tot("run_ms") / 1e3, "s"),
        "exec.cpu_s": (tot("cpu_ns") / 1e9, "s"),
        "exec.gc_s": (tot("gc_ms") / 1e3, "s"),
        "exec.busy_frac": (tot("run_ms") / 1e3 / (CORES * pass_s), "ratio"),
        "shuffle.read_mb": (tot("shuffle_read_b") / 1e6, "MB"),
        "shuffle.write_mb": (tot("shuffle_write_b") / 1e6, "MB"),
        "shuffle.spill_mb": (tot("spill_b") / 1e6, "MB"),
        "storage.checkpointed_rdds": (float(sum(q["checkpointed_rdds"]
                                                for q in queries)), "count"),
        "trace.overhead_frac": (pass_s / untraced_pass_s - 1.0, "ratio"),
    })
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    sources()  # fail fast when the checkout holds no program
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wl = next((w for w in load("workloads.json")["workloads"]
               if w["name"] == a.workload), None)
    if wl is None:
        fail(f"unknown workload {a.workload}")
    reference = load("reference.json")["queries"]
    cp = build()
    prepare(cp)  # in the first run of any workload, which may take long
    # the runs themselves must end within the run limit
    t_start = time.time()
    left = lambda: RUN_LIMIT_S - (time.time() - t_start)

    if not a.trace:
        t_launch, recs = untraced(cp, wl, a.seed, a.seconds, left())
        by = by_kind(recs)
        failed, wrong = check(by["query"], reference)
        e2e, notes = end_to_end(t_launch, by, failed, wrong)
        for k, (v, unit) in e2e.items():
            print(f"{wl['name']} {k} = {v:.6g} {unit}"
                  + (f"  [{notes[k]}]" if k in notes else ""))
        shown, reported = e2e, [m["name"] for m in bench["end_to_end"]]
        attempted = len(by["query"])
    else:
        # trace.overhead_frac compares with the untraced runs made earlier
        # in this checkout; without any, one runs first at this seed
        base = earlier_pass_s(wl)
        if base is None:
            _, recs = untraced(cp, wl, a.seed, a.seconds, left())
            base = by_kind(recs)["pass"][0]["s"]
        run_dir, _, recs, spans = one_run(cp, wl, a.seed, a.seconds, "trace",
                                          "t1", left())
        queries = by_kind(recs)["query"]
        attempted = len(queries)
        failed, wrong = check(queries, reference)
        print(f"{wl['name']} traced run: {len(failed)}/{attempted} failed, "
              f"{len(wrong)}/{attempted - len(failed)} wrong "
              + " ".join(failed + sorted(wrong)))
        reported = [m["name"] for m in bench["per_layer"]]
        shown = per_layer(recs, spans, base, reported)
        for k in reported:
            print(f"{wl['name']} {k} = {shown[k][0]:.6g} {shown[k][1]}")
        with open(os.path.join(run_dir, "self_time.json"), "w") as f:
            json.dump(metrics.self_time_by_name(spans), f, indent=1, sort_keys=True)
        print(f"spans: {os.path.join(run_dir, 'spans.jsonl')}")
    out = {
        "correct": not failed and not wrong,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": shown[k][0], "unit": shown[k][1]}
                    for k in reported},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
