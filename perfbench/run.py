#!/usr/bin/env python3
"""Benchmark one workload of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. Builds the engine and the harness from
source on first use (sbt, offline), generates the workload's inputs from
the seed, runs the harness JVM (graftbench.Main) on a local[nproc]
session, checks the outputs, prints a report, and prints one JSON result
as the last line. `--trace 0` reports the end-to-end metrics named in
BENCHMARK.json, `--trace 1` the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import metrics  # noqa: E402

WORKLOADS = ("criteo_feed", "curation_loops")
# seconds a run may take after the build; the harness JVM is killed past it
DEADLINE_S = 170
# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt)
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            if "target" in d.split(os.sep):
                continue
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_logged(cmd, cwd, env, log, deadline):
    """Run `cmd` in its own process group with output to `log`; kill the
    whole group if it outlives `deadline` or this process is stopped.
    Returns the exit code, or "timeout"."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def build(deadline):
    """Compile the engine (with its own build) and the harness with sbt
    when their sources changed; return the runtime classpath."""
    stamp = os.path.join(HERE, "target", "bench.stamp")
    cp_file = os.path.join(HERE, "target", "bench.classpath")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    log = os.path.join(HERE, "target", "build.log")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    code = run_logged(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         f"-Djava.io.tmpdir={tmp}", "compile",
         "Compile/copyResources", "export Runtime/fullClasspath"],
        HERE, env, log, deadline)
    with open(log) as f:
        lines = f.read().splitlines()
    if code != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def run_jvm(cp, args, work, deadline):
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log = os.path.join(work, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/local")
    code = run_logged(cmd, work, env, log, deadline)
    if code != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        die(f"harness exited with {code}", 4)


def main():
    t_start = time.time()
    # a plain kill still runs the cleanup that stops the harness JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no engine sources under {ROOT}/src/main/scala/graft")

    cp = build(t_start + 900)
    t0 = time.time()
    deadline = t0 + DEADLINE_S
    cores = len(os.sched_getaffinity(0))
    out_root = os.path.join(ROOT, ".bench_out")
    work = os.path.join(out_root,
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        py_gen = []
        if a.workload != "criteo_feed":
            import tables
            for _ in range(3):
                g0 = time.time()
                tables.generate(data, a.seed)
                py_gen.append(time.time() - g0)
        result_file = os.path.join(work, "result.json")
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--data", data, "--work", work, "--cores", str(cores),
                     "--out", result_file], work, deadline)
        with open(result_file) as f:
            result = json.load(f)
        if py_gen:
            result["inputs"] = tables.digest(data)
        checks = [(c["name"], c["ok"], c["detail"]) for c in result["checks"]]
        if result["oracle"]:
            import oracle
            checks += oracle.compare(os.path.join(work, "check"), data,
                                     result["oracle"])
        report(a, result, checks, t0, py_gen, out_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, result, checks, t0, py_gen, out_root):
    errors = [o for o in result["ops"] if o["error"]]
    bad = [c for c in checks if not c[1]]
    attempted = len(result["ops"])
    failed = len(errors) + len(bad)
    setup = metrics.setup_seconds(result, t0, py_gen)
    e2e, notes = metrics.end_to_end(result, setup, failed, attempted)
    print(f"workload {a.workload} seed {a.seed} cores {result['cores']} "
          f"ops/pass {len(result['op_names'])}: "
          f"{' '.join(result['op_names'])}")
    for name, ok, detail in checks:
        print(f"check {'PASS' if ok else 'FAIL'} {name}: {detail}")
    for o in errors:
        print(f"error pass {o['pass']} {o['name']}: {o['error']}")
    session = (result["session_ready_ms"] - result["jvm_start_ms"]) / 1000
    gens = " ".join(f"{g:.2f}" for g in py_gen or result["gen_s"])
    print(f"set-up: session {session:.2f} s, generations {gens} s, "
          f"warm-up pass {result['warmup_s']:.2f} s")
    timed = metrics.ops_of(result, metrics.timed_passes(result, False))
    for name in result["op_names"]:
        mine = [o for o in timed if o["name"] == name]
        p50 = metrics.median([o["latency_s"] for o in mine])
        jobs = sorted({o["counts"]["jobs"] for o in mine})
        print(f"op {name}: p50 {p50:.3f} s, jobs {jobs}")
    print("pass walls: " + " ".join(
        f"{p['wall_s']:.3f}{'t' if p['traced'] else ''}"
        for p in result["passes"]) + "; heap after GC: " + " ".join(
        f"{p['heap_after_gc_mb']:.1f}" for p in result["passes"]))
    print(f"jobs per op repeat across passes: {metrics.jobs_repeat(result)}")
    for k, unit in metrics.END_TO_END.items():
        v = e2e[k]
        shown = "n/a" if v is None else f"{v:.6g}"
        note = f"  ({notes[k]})" if k in notes else ""
        print(f"metric {k} {shown} {unit}{note}")
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.trace:
        layers = metrics.per_layer(result)
        for k, unit in metrics.PER_LAYER.items():
            print(f"layer {k} {layers[k]:.6g} {unit}")
        probs = metrics.tree_problems(result["spans"])
        print(f"span tree: {len(result['spans'])} spans, "
              f"{'ok' if not probs else '; '.join(probs[:5])}")
        trace_file = os.path.join(
            out_root, f"trace-{a.workload}-s{a.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({k: result[k] for k in
                       ("op_names", "inputs", "ops", "spans")}, f)
        chosen = {m["name"]: (layers[m["name"]], m["unit"])
                  for m in spec["per_layer"]}
    else:
        chosen = {m["name"]: (e2e[m["name"]], m["unit"])
                  for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in chosen.items()}}))


if __name__ == "__main__":
    main()
