"""Turn one run's raw records (written by graftbench.Main) into the
benchmark's end-to-end and per-layer metrics."""
import statistics

MB = 1e6

# name -> unit, for every metric the report prints
END_TO_END = {
    "setup_s": "s", "pass_s": "s", "read_p50_s": "s", "read_tail_s": "s",
    "write_p50_s": "s", "rows_per_s": "1/s", "fail_frac": "ratio",
    "shuffle_mb": "MB", "spill_mb": "MB", "heap_peak_mb": "MB",
}
PER_LAYER = {
    "operators.call_s": "s", "operators.call_jobs": "count",
    "plans.plan_s": "s", "plans.vocab_s": "s",
    "sources.scan_s": "s", "sources.read_records": "count",
    "sources.read_mb": "MB", "sources.write_mb": "MB",
    "functions.features_s": "s", "spark.exec_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.in_job_s": "s",
    "spark.outside_jobs_s": "s", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.task_gc_s": "s",
    "spark.task_deser_s": "s", "spark.fetch_wait_s": "s",
    "spark.in_job_parallelism": "ratio", "spark.spill_mb": "MB",
    "machine.control_s": "s", "trace.overhead_frac": "ratio",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples); None when there are fewer than 11."""
    xs = sorted(xs)
    k = len(xs) - 10
    if k < 1:
        return None
    return xs[k - 1], 100.0 * k / len(xs), len(xs)


def timed_passes(result, traced):
    return [p for p in result["passes"] if p["traced"] == traced]


def ops_of(result, passes):
    idx = {p["index"] for p in passes}
    return [o for o in result["ops"] if o["pass"] in idx
            and o["kind"] != "probe"]


def setup_seconds(result, t0, py_gen_s):
    """Wall seconds from the end of the build to the first timed op,
    with each repeated input generation counted once, at its median."""
    wall = result["first_timed_ms"] / 1000.0 - t0
    for gens in (py_gen_s, result["gen_s"]):
        if gens:
            wall -= sum(gens) - median(gens)
    return wall


def end_to_end(result, setup_s, failed, attempted):
    passes = timed_passes(result, traced=False)
    ops = ops_of(result, passes)
    reads = [o["latency_s"] for o in ops if o["kind"] == "read"]
    per_read = {}
    for o in ops:
        if o["kind"] == "read":
            per_read.setdefault(o["name"], []).append(o["latency_s"])
    writes = [o["latency_s"] for o in ops if o["kind"] == "write"]
    epochs = [o["latency_s"] for o in ops if o["name"] == "epoch"]
    t = tail(reads)
    m = {
        "setup_s": setup_s,
        "pass_s": median([p["wall_s"] for p in passes]),
        # the median across read ops of each op's median over passes,
        # so one slow pass does not decide which op the median falls on
        "read_p50_s": median([median(v) for v in per_read.values()]),
        "read_tail_s": t[0] if t else None,
        "write_p50_s": median(writes) if writes else None,
        "rows_per_s": (median([result["rows"] / e for e in epochs])
                       if epochs else None),
        "fail_frac": failed / attempted,
        "shuffle_mb": median([p["counts"]["shuffle_bytes"] / MB
                              for p in passes]),
        "spill_mb": median([p["counts"]["spill_bytes"] / MB
                            for p in passes]),
        "heap_peak_mb": max(p["heap_after_gc_mb"] for p in passes),
    }
    notes = {"read_tail_s": (f"p{t[1]:.1f} of {t[2]} reads" if t else
                             f"n/a: {len(reads)} reads, need 11"),
             "read_p50_s": f"{len(per_read)} read ops, {len(reads)} reads",
             "pass_s": f"{len(passes)} passes"}
    return m, notes


def self_times(spans):
    """Span id -> self seconds: its duration minus the part of its
    interval its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0, s["start_ns"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], reach), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def tree_problems(spans):
    """Ways the spans fail to form one properly nested tree per op."""
    by_id = {s["id"]: s for s in spans}
    probs = []
    for s in spans:
        if s["end_ns"] < s["start_ns"]:
            probs.append(f"span {s['id']} ends before it starts")
        if s["parent"] == -1:
            if s["name"] != "op":
                probs.append(f"root span {s['id']} is {s['name']}, not op")
            continue
        p = by_id.get(s["parent"])
        if p is None:
            probs.append(f"span {s['id']} has no parent {s['parent']}")
        elif not (p["start_ns"] <= s["start_ns"] and
                  s["end_ns"] <= p["end_ns"] and p["op"] == s["op"]):
            probs.append(f"span {s['id']} is not inside its parent")
    selfs = self_times(spans)
    for root in (s for s in spans if s["parent"] == -1):
        tree = [s["id"] for s in spans if s["op"] == root["op"]]
        total = sum(selfs[i] for i in tree)
        wall = (root["end_ns"] - root["start_ns"]) / 1e9
        if abs(total - wall) > 1e-6:
            probs.append(f"op {root['op']}: self times {total} != {wall}")
    return probs


def per_layer(result):
    traced = timed_passes(result, traced=True)
    plain = timed_passes(result, traced=False)
    op_pass = {o["id"]: o["pass"] for o in result["ops"]}
    spans = result["spans"]

    def span_total(name, pass_index, field=None):
        hit = [s for s in spans if s["name"] == name
               and op_pass.get(s["op"]) == pass_index]
        if field is None:
            return sum(s["end_ns"] - s["start_ns"] for s in hit) / 1e9
        return sum(s["counts"][field] for s in hit)

    def per_pass(f):
        return median([f(p) for p in traced])

    def counts(field, scale=1.0):
        return per_pass(lambda p: p["counts"][field] / scale)

    def in_job_s(p):
        return sum(o["in_job_ms"] for o in ops_of(result, [p])) / 1000.0

    task_run = counts("task_run_ms", 1000.0)
    in_job = per_pass(in_job_s)
    plain_wall = median([p["wall_s"] for p in plain])
    return {
        "operators.call_s": per_pass(
            lambda p: span_total("operators.call", p["index"])),
        "operators.call_jobs": per_pass(
            lambda p: span_total("operators.call", p["index"], "jobs")),
        "plans.plan_s": per_pass(
            lambda p: span_total("plans.plan", p["index"])),
        "plans.vocab_s": per_pass(
            lambda p: span_total("plans.vocab", p["index"])),
        "sources.scan_s": per_pass(
            lambda p: span_total("sources.scan", p["index"])),
        "sources.read_records": counts("input_records"),
        "sources.read_mb": counts("input_bytes", MB),
        "sources.write_mb": per_pass(
            lambda p: sum(o["written_bytes"] for o in ops_of(result, [p]))
            / MB),
        "functions.features_s": per_pass(
            lambda p: span_total("functions.features", p["index"])),
        "spark.exec_s": per_pass(
            lambda p: span_total("spark.exec", p["index"])),
        "spark.jobs": counts("jobs"),
        "spark.stages": counts("stages"),
        "spark.tasks": counts("tasks"),
        "spark.in_job_s": in_job,
        "spark.outside_jobs_s": per_pass(
            lambda p: p["wall_s"] - in_job_s(p)),
        "spark.task_run_s": task_run,
        "spark.task_cpu_s": counts("task_cpu_ns", 1e9),
        "spark.task_gc_s": counts("task_gc_ms", 1000.0),
        "spark.task_deser_s": counts("task_deser_ms", 1000.0),
        "spark.fetch_wait_s": counts("fetch_wait_ms", 1000.0),
        "spark.in_job_parallelism": task_run / in_job if in_job else 0.0,
        "spark.spill_mb": counts("spill_bytes", MB),
        "machine.control_s": median([p["control_s"] for p in traced]),
        "trace.overhead_frac": (median([p["wall_s"] for p in traced])
                                / plain_wall - 1.0),
    }


def jobs_repeat(result):
    """True when every op ran the same number of jobs in every timed
    untraced pass."""
    seen = {}
    for o in ops_of(result, timed_passes(result, traced=False)):
        seen.setdefault(o["name"], set()).add(o["counts"]["jobs"])
    return all(len(v) == 1 for v in seen.values())
