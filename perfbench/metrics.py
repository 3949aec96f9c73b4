"""Summary statistics of one benchmark record.

A record (written by `graft.perfbench.Main`) holds every op with its
wall time and verdict, the workload's op mix and, for traced runs, the
span tree
workload → op → step → build/action → job → stage. Everything here is a
pure function of that record, so the self-tests can feed it by hand.
"""
import statistics

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "op_median_ms": "ms",
}

PIPELINE_STEPS = [
    "bronze.csv_ingest", "bronze.jdbc_ingest",
    "silver.client_application", "silver.bureau_summary",
    "silver.payment_behavior", "silver.previous_applications",
    "gold.client_risk_profile", "gold.portfolio_risk", "gold.datamart_jdbc",
]

PER_LAYER = dict(
    [(f"{s}_s", "s") for s in PIPELINE_STEPS] + [
        ("silver.keep_ratio", "ratio"),
        ("sources.frame_build_ms", "ms"),
        ("serving.action_ms", "ms"),
        ("catalyst.analysis_ms", "ms"),
        ("catalyst.optimization_ms", "ms"),
        ("catalyst.planning_ms", "ms"),
        ("codegen.compile_ms", "ms"),
        ("scheduler.jobs", "count"),
        ("scheduler.stages", "count"),
        ("scheduler.tasks", "count"),
        ("scheduler.driver_gap_ms", "ms"),
        ("scheduler.task_retries", "count"),
        ("executor.task_ms", "ms"),
        ("executor.cpu_ms", "ms"),
        ("executor.gc_ms", "ms"),
        ("executor.busy_ratio", "ratio"),
        ("shuffle.write_mb", "MB"),
        ("shuffle.read_mb", "MB"),
        ("shuffle.fetch_wait_ms", "ms"),
        ("spill.disk_mb", "MB"),
        ("io.input_mb", "MB"),
        ("io.output_mb", "MB"),
        ("stage.skew_max", "ratio"),
        ("trace.overhead_ratio", "ratio"),
    ])

# Clock skew allowed between the client thread's spans and the
# scheduler's event timestamps when checking that a child lies inside its
# parent.
NEST_SLACK_MS = 50.0


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, q, min_beyond=10):
    """Nearest-rank q-th percentile, or None unless at least `min_beyond`
    samples lie strictly above it (a tail needs samples to be a tail)."""
    if not xs:
        return None
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    value = s[k]
    beyond = sum(1 for x in s if x > value)
    return value if beyond >= min_beyond else None


def error_rate(ops):
    return sum(1 for o in ops if not o["ok"]) / len(ops) if ops else 1.0


def timing_samples(ops, traced=False):
    """Wall times of correct ops after the warm-up: a failed op is never
    a sample."""
    return [o["wall_ms"] for o in ops
            if o["ok"] and not o.get("warm") and o["traced"] == traced]


def mix_median(ops, mix):
    """Median wall time of each op kind, weighted by the kind's share of
    the workload's fixed mix: unlike one median pooled over kinds of
    different cost, it does not jump when the drawn mix shifts a little."""
    meds = {k: median(timing_samples([o for o in ops if o["kind"] == k])) for k in mix}
    return sum(w * meds[k] for k, w in mix.items()) / sum(mix.values())


def end_to_end(rec):
    ops = rec["ops"]
    walls = timing_samples(ops)
    kinds = sorted({o["kind"] for o in ops})
    out = {"setup_s": median(rec["setup_s"]), "op_median_ms": mix_median(ops, rec["mix"])}
    detail = {"error_rate": error_rate(ops), "op_p90_ms": percentile(walls, 90),
              # closed loop, one client: 1 / mean op time
              "ops_per_s": len(walls) / (sum(walls) / 1e3) if walls else float("nan"),
              "op_kinds": {k: median(timing_samples([o for o in ops if o["kind"] == k]))
                           for k in kinds}}
    w = rec["workload"]
    if w.startswith("medallion"):
        detail["batch_s"] = out["op_median_ms"] / 1e3
        detail["batch_rows_per_s"] = median(
            [o["source_rows"] for o in ops if o["ok"]]) / detail["batch_s"]
    elif w.startswith("serving"):
        detail["serve_p50_ms"] = median(walls)
        detail["serve_p90_ms"] = detail["op_p90_ms"]
        detail["serve_rps"] = detail["ops_per_s"]
    return out, detail


# ---- spans ---------------------------------------------------------------

def _union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def children_index(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def self_times(spans):
    """Self time of every span: its duration minus the part covered by
    its children (children clipped to the parent, overlaps counted once)."""
    kids = children_index(spans)
    return {s["id"]: (s["end"] - s["start"]) -
            _union_ms([(c["start"], c["end"]) for c in kids.get(s["id"], [])],
                      s["start"], s["end"])
            for s in spans}


def nesting_violations(spans, slack=NEST_SLACK_MS):
    """Spans whose parent is missing or that stick out of their parent."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        if s["parent"] == 0:
            continue
        p = by_id.get(s["parent"])
        if p is None or s["start"] < p["start"] - slack or s["end"] > p["end"] + slack:
            bad.append(s)
    return bad


def layer_self_ms(spans):
    """Self time summed by layer over the traced ops: span kind, with
    pipeline steps by name (the workload root also spans untraced ops)."""
    st = self_times(spans)
    out = {}
    for s in spans:
        if s["kind"] == "workload":
            continue
        layer = s["name"] if s["kind"] == "step" else s["kind"]
        out[layer] = out.get(layer, 0.0) + st[s["id"]]
    return out


def _descendants(root_id, kids):
    stack, out = [root_id], []
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c["id"])
    return out


def per_op_layers(op_span, kids, cores):
    desc = _descendants(op_span["id"], kids)
    jobs = [s for s in desc if s["kind"] == "job"]
    stages = [s for s in desc if s["kind"] == "stage"]
    wall = op_span["end"] - op_span["start"]
    a = op_span.get("attrs", {})

    def stage_sum(key):
        return sum(s["attrs"].get(key, 0.0) for s in stages)

    skews = [s["attrs"]["task_max_ms"] / s["attrs"]["task_median_ms"] for s in stages
             if s["attrs"].get("tasks", 0) >= 2 and s["attrs"].get("task_median_ms", 0) > 0]
    mb = 1 << 20
    layers = {
        "sources.frame_build_ms": sum(s["end"] - s["start"] for s in desc if s["kind"] == "build"),
        "serving.action_ms": sum(s["end"] - s["start"] for s in desc if s["kind"] == "action"),
        "catalyst.analysis_ms": a.get("analysis_ms", 0.0),
        "catalyst.optimization_ms": a.get("optimization_ms", 0.0),
        "catalyst.planning_ms": a.get("planning_ms", 0.0),
        "codegen.compile_ms": a.get("codegen_ms", 0.0),
        "scheduler.jobs": float(len(jobs)),
        "scheduler.stages": float(len(stages)),
        "scheduler.tasks": stage_sum("tasks"),
        "scheduler.driver_gap_ms": wall - _union_ms([(j["start"], j["end"]) for j in jobs],
                                                    op_span["start"], op_span["end"]),
        "scheduler.task_retries": a.get("task_retries", 0.0),
        "executor.task_ms": stage_sum("task_ms"),
        "executor.cpu_ms": stage_sum("cpu_ms"),
        "executor.gc_ms": stage_sum("gc_ms"),
        "executor.busy_ratio": stage_sum("task_ms") / (wall * cores) if wall > 0 else 0.0,
        "shuffle.write_mb": stage_sum("shuffle_write_b") / mb,
        "shuffle.read_mb": stage_sum("shuffle_read_b") / mb,
        "shuffle.fetch_wait_ms": stage_sum("fetch_wait_ms"),
        "spill.disk_mb": stage_sum("spill_disk_b") / mb,
        "io.input_mb": stage_sum("input_b") / mb,
        "io.output_mb": stage_sum("output_b") / mb,
        "stage.skew_max": max(skews) if skews else 1.0,
    }
    for s in desc:
        if s["kind"] == "step":
            layers[f"{s['name']}_s"] = layers.get(f"{s['name']}_s", 0.0) + \
                (s["end"] - s["start"]) / 1e3
    return layers


def per_layer(rec):
    """Per-layer medians over the traced, correct ops. A layer a workload
    never enters (e.g. Bronze ingest while serving) reads 0."""
    spans = rec.get("spans", [])
    kids = children_index(spans)
    by_id = {s["id"]: s for s in spans}
    cores = rec["host"]["cores"]
    rows = [per_op_layers(by_id[o["span"]], kids, cores)
            for o in rec["ops"] if o["ok"] and o["traced"] and o["span"] in by_id]
    out = {}
    for name in PER_LAYER:
        vals = [r.get(name, 0.0) for r in rows]
        out[name] = median(vals) if vals else 0.0
    out["scheduler.task_retries"] = sum(r["scheduler.task_retries"] for r in rows)
    keep = [o["keep_ratio"] for o in rec["ops"] if o["ok"] and "keep_ratio" in o]
    out["silver.keep_ratio"] = median(keep) if keep else 0.0
    out["trace.overhead_ratio"] = overhead_ratio(rec["ops"])
    return out


def overhead_ratio(ops):
    """Traced ÷ untraced median wall, per op kind, then the median over
    the kinds with at least two timed samples each way (0 when none has)."""
    ratios = []
    for k in sorted({o["kind"] for o in ops}):
        same = [o for o in ops if o["kind"] == k]
        t, u = timing_samples(same, True), timing_samples(same, False)
        if len(t) >= 2 and len(u) >= 2:
            ratios.append(median(t) / median(u))
    return median(ratios) if ratios else 0.0
