"""Metric arithmetic for perfbench: percentiles with their sample-count
rule, span self time, output checks, and the end-to-end and per-layer
tables. Pure functions over the driver's result record, so each rule is
unit-tested on its own (test_perfbench.py)."""
import math
import statistics

# A percentile is supported when at least this many samples lie beyond it
# (p90 needs 100 samples, p50 needs 20).
TAIL_SAMPLES = 10


def percentile(values, q):
    """Nearest-rank percentile, q in (0, 1]."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    return s[max(0, math.ceil(q * len(s)) - 1)]


def supported(n, q):
    """True when `n` samples leave TAIL_SAMPLES beyond the q-th
    percentile."""
    return n * (1 - q) >= TAIL_SAMPLES - 1e-9


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals
                     if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover;
    overlapping children count once."""
    s, e = span["start_us"], span["end_us"]
    return (e - s) - covered([(c["start_us"], c["end_us"]) for c in children],
                             s, e)


def span_file(result):
    """Every span of the traced pass -- operation, call, job, stage --
    with its parent and self time, as written to spans.json."""
    tr = result["trace"]
    ids = {s["id"] for s in tr["spans"]}
    out = [dict(s, kind="call" if s["parent"] != -1 else "op")
           for s in tr["spans"]]
    for op in tr["ops"]:
        for j in op["jobs"]:
            out.append({"id": f"job-{j['id']}", "kind": "job",
                        "parent": j["span"] if j["span"] in ids else op["span"],
                        "name": f"job {j['id']}",
                        "start_us": j["start_ms"] * 1000,
                        "end_us": j["end_ms"] * 1000})
        for st in op["stages"]:
            out.append({"id": f"stage-{st['id']}", "kind": "stage",
                        "parent": f"job-{st['job']}",
                        "name": f"stage {st['id']}",
                        "start_us": st["start_ms"] * 1000,
                        "end_us": st["end_ms"] * 1000})
    kids = {}
    for s in out:
        kids.setdefault(s["parent"], []).append(s)
    for s in out:
        s["self_us"] = self_time(s, kids.get(s["id"], []))
    return out


# ---- output checks -------------------------------------------------------

def land_failures(op, entry):
    """Why a landing operation's outputs differ from the planted answer
    (empty when they match). Row order of the diff and of the ALTER
    lines is not part of the facade's contract, so both compare as
    sorted lists."""
    if not op["ok"]:
        return ["error: " + op.get("error", "")]
    out, bad = op["out"], []
    if [list(m) for m in out["metadata"]] != entry["columns"]:
        bad.append("metadata")
    if out["table_ddl"] != entry["table_ddl"]:
        bad.append("table_ddl")
    if sorted(map(list, out["diffs"]), key=lambda d: d[0]) != entry["diffs"]:
        bad.append("diffs")
    col = out["column_ddl"]
    if sorted(col.split("\n") if col else []) != entry["column_ddl"]:
        bad.append("column_ddl")
    return bad


def count_failed(ops, is_bad):
    return sum(1 for op in ops if is_bad(op))


# ---- end-to-end -------------------------------------------------------------

def end_to_end(result, setup_s):
    """The window is whole passes over the run's operations. A rate or a
    per-operation cost is taken per pass and reported as the median over
    the passes; a latency percentile is taken over the operations, each
    at its median latency across the passes. So one slow pass -- the
    first, while the JIT is still compiling, or one the host slowed --
    moves no figure on its own."""
    w = result["window"]
    passes = w["passes"]
    per_pass = len(w["ops"]) // len(passes)
    lat = {}
    for op in w["ops"]:
        lat.setdefault(op["name"], []).append(op["s"])
    per_op = [statistics.median(v) for v in lat.values()]
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (statistics.median(per_pass / p["wall_s"]
                                        for p in passes), "op/s"),
        "op_p50_s": (percentile(per_op, 0.5), "s"),
        "op_p90_s": (percentile(per_op, 0.9), "s"),
        "cpu_s_per_op": (statistics.median(p["cpu_s"] / per_pass
                                           for p in passes), "s"),
    }, {"op_p50_s": supported(len(per_op), 0.5),
        "op_p90_s": supported(len(per_op), 0.9)}


# ---- per-layer ---------------------------------------------------------------

FACADE_CALLS = ["load", "metadata", "table_ddl", "diff", "column_ddl"]
FACADE_JOBS = ["load", "metadata", "diff", "column_ddl"]


def _stage_sum(ops, key):
    return sum(s.get(key, 0) for op in ops for s in op["stages"])


def per_layer(result, manifest, modules, failed_ratio):
    """Per-layer table from the traced pass. Metrics that do not apply to
    a workload (facade calls on gate_light, entry/operator split on the
    landing flows) read 0."""
    tr = result["trace"]
    ops = tr["ops"]
    n = len(ops)
    spans = {s["id"]: s for s in tr["spans"]}
    calls = {}
    for s in tr["spans"]:
        if s["parent"] != -1:
            calls.setdefault(s["parent"], []).append(s)
    # job spans, parented by the call whose local property they carried
    # (or by the operation when a job escaped every call)
    job_spans = []
    for op in ops:
        for j in op["jobs"]:
            parent = j["span"] if j["span"] in spans else op["span"]
            job_spans.append({"parent": parent, "op": op["span"],
                              "start_us": j["start_ms"] * 1000,
                              "end_us": j["end_ms"] * 1000})

    def call_spans(name):
        return [c for op in ops for c in calls.get(op["span"], [])
                if c["name"] == name]

    def ms(spans_):
        return sum(s["end_us"] - s["start_us"] for s in spans_) / 1000.0

    def jobs_in(name):
        ids = {c["id"] for c in call_spans(name)}
        return sum(1 for j in job_spans if j["parent"] in ids)

    m = {}
    for c in FACADE_CALLS:
        m[f"facade.{c}_ms"] = (ms(call_spans(c)) / n, "ms")
    for c in FACADE_JOBS:
        m[f"facade.{c}_jobs"] = (jobs_in(c) / n, "count")

    facts = tr["facts"]
    by_name = {e["name"]: e for e in manifest} if manifest else {}
    rows = sum(by_name[op["name"]]["rows"] for op in ops) if by_name else 0
    meta_s = ms(call_spans("metadata")) / 1000.0
    m["inference.rows_per_s"] = (rows / meta_s if meta_s else 0.0, "1/s")
    cols = sum(len(by_name[op["name"]]["columns"]) for op in ops) \
        if by_name else 0
    decided = sum(facts[op["name"]].get("footer_decided", 0) for op in ops)
    m["inference.footer_decided_ratio"] = (decided / cols if cols else 0.0,
                                           "ratio")
    m["inference.scanned_cols_per_op"] = ((cols - decided) / n if by_name
                                          else 0.0, "count")

    m["entry.build_ms_per_op"] = (ms(call_spans("build")) / n, "ms")
    m["entry.build_jobs_per_op"] = (jobs_in("build") / n, "count")
    m["entry.exec_ms_per_op"] = (ms(call_spans("exec")) / n, "ms")
    gate = not by_name
    for mod in modules:
        mine = [op for op in ops if op["module"] == mod] if gate else []
        k = len(mine)
        m[f"operators.{mod}.ms"] = (
            sum(op["s"] for op in mine) * 1000 / k if k else 0.0, "ms")
        m[f"operators.{mod}.jobs"] = (
            sum(len(op["jobs"]) for op in mine) / k if k else 0.0, "count")

    gaps = []
    for op in ops:
        s = spans[op["span"]]
        mine = [j for j in job_spans if j["op"] == op["span"]]
        gaps.append(self_time(s, mine) / 1000.0)
    mb = 1024.0 * 1024.0
    m.update({
        "spark.jobs_per_op": (sum(len(op["jobs"]) for op in ops) / n, "count"),
        "spark.stages_per_op": (sum(len(op["stages"]) for op in ops) / n,
                                "count"),
        "spark.tasks_per_op": (_stage_sum(ops, "tasks") / n, "count"),
        "spark.planning_ms_per_op": (
            sum(op["rule_ms"] + op["physical_planning_ms"] for op in ops) / n,
            "ms"),
        "spark.codegen_compiles_per_op": (
            sum(op["codegen_compiles"] for op in ops) / n, "count"),
        "spark.codegen_ms_per_op": (
            sum(op["codegen_ns"] for op in ops) / 1e6 / n, "ms"),
        "spark.driver_gap_ms_per_op": (sum(gaps) / n, "ms"),
        "spark.executor_run_ms_per_op": (_stage_sum(ops, "run_ms") / n, "ms"),
        "spark.executor_cpu_ms_per_op": (_stage_sum(ops, "cpu_ns") / 1e6 / n,
                                         "ms"),
        "spark.input_mb_per_op": (_stage_sum(ops, "input_b") / mb / n, "MB"),
        "spark.shuffle_read_mb_per_op": (
            _stage_sum(ops, "shuffle_read_b") / mb / n, "MB"),
        "spark.shuffle_write_mb_per_op": (
            _stage_sum(ops, "shuffle_write_b") / mb / n, "MB"),
        "spark.spill_mb_per_op": (_stage_sum(ops, "spill_b") / mb / n, "MB"),
        "spark.result_kb_per_op": (_stage_sum(ops, "result_b") / 1024.0 / n,
                                   "KB"),
        "spark.task_failures": (sum(op["task_failures"] for op in ops),
                                "count"),
        "jvm.gc_ms_per_op": (sum(op["gc_ms"] for op in ops) / n, "ms"),
        "jvm.heap_peak_mb": (tr["heap_peak_mb"], "MB"),
        "bench.tracing_overhead_ratio": (
            tr["untraced_s"] / tr["traced_s"], "ratio"),
        "bench.failed_ratio": (failed_ratio, "ratio"),
        "bench.cores": (result["cores"], "count"),
    })
    return m
