#!/usr/bin/env python3
"""Repository benchmark: builds the library, makes seeded inputs, runs one
workload in a closed loop, checks every op, and reports.

    python3 perfbench/run.py --workload serving_sf0.01 --seed 1 --seconds 15 --trace 0

Run from the repository root. Human-readable metrics go to stdout; the
last stdout line is one bounded JSON object
`{"correct", "attempted", "failed", "metrics"}` carrying the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`). The full
record (every op, every span, host and drift data) is written to
`<build dir>/perfbench/results/`.
"""
import argparse
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import fixture  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = {  # name -> (scale factor, oracle queries checked by its ops)
    "medallion_sf0.01": (0.01, ["q60_medallion_profile", "q61_medallion_portfolio"]),
    "serving_sf0.01": (0.01, []),
}

# BASELINE.md: the reference's per-layer wall times on the full Home
# Credit data (43.3M Silver input rows; Spark 3.5 standalone, 1 worker).
REFERENCE_STEPS = {
    "bronze.csv_ingest": "~249 s for 4 CSVs (bureau 29 s, bureau_balance 79 s, "
                         "installments 79 s, previous_application 62 s)",
    "bronze.jdbc_ingest": "~58 s (application_train, 307,511 rows)",
    "silver.client_application": "~87 s (663,766 rows in, 7 validation jobs)",
    "silver.bureau_summary": "~34 s (1.7M bureau x 27.3M balance rows)",
    "silver.payment_behavior": "~60 s, cache materialize 39 s (13.6M rows)",
    "silver.previous_applications": "~33 s (1.67M rows)",
    "gold.client_risk_profile": "Gold both tables 42 s (663,758 profiles)",
    "gold.portfolio_risk": "(inside the 42 s above; 3 segment rows)",
    "gold.datamart_jdbc": "~19 s (61 s Gold+datamart minus 42 s Gold)",
}

JVM_TIMEOUT_MARGIN_S = 150


def host_info(root):
    mem_kb = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem_kb,
            "git_commit": commit, "python": platform.python_version()}


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests in between."""
    if not before or not after or after[1] <= before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def heap_for(mem_kb):
    """A quarter of the machine, between 2 and 6 GiB."""
    gib = (mem_kb or 8 << 20) // (1 << 20)
    return f"{max(2, min(6, gib // 4))}g"


def run_jvm(args, built, work, fixture_dir, oracle_dir, record_path, host):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(host["nproc"]),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ["java", f"-Xmx{host['jvm_xmx']}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *build.JAVA_OPENS, "-cp", built["classpath"], "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--fixture", fixture_dir, "--oracle", oracle_dir, "--work", work,
           "--record", record_path, "--setup-reps", str(args.setup_reps),
           "--fail-op", str(args.fail_op)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = p.wait(timeout=args.seconds + JVM_TIMEOUT_MARGIN_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    return code, log_path


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def print_report(rec, e2e, detail, layers, sf):
    print(f"== perfbench {rec['workload']} seed={rec['seed']} trace={int(rec['trace'])} "
          f"(sf{sf}, {rec['host']['master']}, Spark {rec['host']['spark_version']})")
    h = rec["host"]
    print(f"host: nproc={h['nproc']} mem_total_kb={h['mem_total_kb']} "
          f"-Xmx{h['jvm_xmx']} commit={h['git_commit']} "
          f"source_digest={h['source_digest'][:12]} canary_s={rec['canary_s']:.4f} "
          f"cpu_steal_share={h['cpu_steal_share']}")
    ops = rec["ops"]
    print(f"ops: attempted={len(ops)} failed={sum(1 for o in ops if not o['ok'])} "
          f"error_rate={detail['error_rate']:.4f}")
    for name, unit in metrics.END_TO_END.items():
        print(f"  {name:32s} {e2e[name]:14.4f} {unit}")
    for name, value in detail.items():
        if name in ("op_kinds", "error_rate"):
            continue
        shown = "n/a (fewer than 10 samples beyond it)" if value is None else f"{value:.4f}"
        print(f"  {name:32s} {shown}")
    for k, v in detail["op_kinds"].items():
        print(f"  op {k:29s} {v:14.2f} ms (median)")
    if layers:
        for name, unit in metrics.PER_LAYER.items():
            print(f"  {name:32s} {layers[name]:14.4f} {unit}")
        self_ms = metrics.layer_self_ms(rec.get("spans", []))
        print("self time by layer over traced ops (ms): " +
              ", ".join(f"{k}={v:.0f}" for k, v in sorted(self_ms.items())))
    steps = [o["steps"] for o in ops
             if o["ok"] and not o["traced"] and not o["warm"] and o["steps"]]
    if steps:
        print(f"pipeline steps: this run (sf{sf}, local[{h['cores']}], median of "
              f"{len(steps)}) vs reference (BASELINE.md, full Home Credit scale)")
        for s in metrics.PIPELINE_STEPS:
            ms = metrics.median([x[s] for x in steps if s in x])
            print(f"  {s:30s} {ms / 1e3:9.3f} s   | {REFERENCE_STEPS[s]}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale (self-tests)")
    ap.add_argument("--setup-reps", type=int, default=3)
    ap.add_argument("--fail-op", type=int, default=-1,
                    help="mark op N failed (self-test of the error accounting)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    try:
        built = build.build(root)
    except (build.BuildError, OSError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1
    sf, oracles = WORKLOADS[args.workload]
    sf = args.sf or sf
    host = host_info(root)
    host.update(source_digest=built["digest"], jvm_xmx=heap_for(host["mem_total_kb"]))

    out_dir = build.build_dir(root)
    work = os.path.join(out_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        fixture_dir, oracle_dir = os.path.join(work, "fixture"), os.path.join(work, "oracle")
        t0 = time.time()
        rows = fixture.generate(fixture_dir, sf, args.seed)
        fixture.run_oracles(fixture_dir, fixture.load_oracle_sql(built["oracle_sql"]),
                            oracles, oracle_dir)
        inputs_s = time.time() - t0
        record_path = os.path.join(work, "record.json")
        jiffies = cpu_jiffies()
        code, log_path = run_jvm(args, built, work, fixture_dir, oracle_dir, record_path, host)
        host["cpu_steal_share"] = steal_share(jiffies, cpu_jiffies())
        if code != 0 or not os.path.exists(record_path):
            print(f"perfbench: JVM exited with {code}\n{tail(log_path)}", file=sys.stderr)
            return 1
        with open(record_path) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec["host"].update(host)
    rec.update({"sf": sf, "fixture_rows": rows, "inputs_s": inputs_s})
    e2e, detail = metrics.end_to_end(rec)
    layers = metrics.per_layer(rec) if args.trace else None
    rec["summary"] = {"end_to_end": e2e, "detail": detail, "per_layer": layers}
    results = os.path.join(out_dir, "results")
    os.makedirs(results, exist_ok=True)
    full = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(full, "w") as f:
        json.dump(rec, f)

    print_report(rec, e2e, detail, layers, sf)
    print(f"full record: {os.path.relpath(full, root)}")
    for o in rec["ops"]:
        if not o["ok"]:
            print(f"  failed op {o['i']} ({o['kind']}): {str(o['error'])[:300]}")
    ops = rec["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    chosen = (metrics.PER_LAYER if args.trace else metrics.END_TO_END)
    values = layers if args.trace else e2e
    finite = all(math.isfinite(values[n]) for n in chosen)
    print(json.dumps({
        "correct": failed == 0 and finite,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {n: {"value": values[n] if math.isfinite(values[n]) else 0.0, "unit": u}
                    for n, u in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
