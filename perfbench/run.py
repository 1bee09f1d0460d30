#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark program (perfbench/build.py), stages seeded
inputs (perfbench/gen.py), runs the workload in one JVM
(perfbench.Main), checks every output against its DuckDB oracle or its
invariants (perfbench/checks.py) and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (perfbench/layers.py). The line before it carries the
details (peak RSS, tail latency, failed fraction, NDCG, sample counts).
Everything the run writes stays under .perfbench_work/ at the
repository root and is removed at exit.
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

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("olap_mix", "reco_nightly", "corpus_curation")
JVM_HEAP = "2g"
RUN_LIMIT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "jdk.internal.ref", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def percentile(xs, p):
    """Linear-interpolated percentile of a sorted list, p in [0, 1]."""
    if len(xs) == 1:
        return xs[0]
    k = p * (len(xs) - 1)
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(lat):
    """Latency at the highest percentile with >= 10 samples beyond it;
    None when fewer than 20 samples."""
    n = len(lat)
    if n < 20:
        return None
    p = 1.0 - 10.0 / n
    return percentile(sorted(lat), p), round(100 * p, 1), n


def run_jvm(classes, workload, seed, seconds, trace, work, in_dir, deadline,
            extra=()):
    out = os.path.join(work, "run.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap size: growing it from the small default made one
    # operation's CPU time swing by a third between runs (README,
    # "Memory"); pages are still touched only as the collector uses them
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", *ADD_OPENS,
           "-Djdk.reflect.useDirectMethodHandle=false",
           "-Dio.netty.tryReflectionSetAccessible=true",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-cp", f"{classes}:{build.classpath()}",
           "perfbench.Main", "--workload", workload, "--in", in_dir,
           "--work", os.path.join(work, "ops"), "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--out", out, *extra]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: JVM run failed ({rc})")
    with open(out) as f:
        return json.load(f)


def end_to_end(run, lat, failed, attempted):
    """(gated metrics, detail)."""
    ok_ops = [o for o in run["ops"] if o["ok"] and not o["traced"]]
    m = {
        "setup_s": (run["setup_s"], "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_cpu_s": (statistics.median(o["info"]["cpu_ns"] / 1e9 for o in ok_ops), "s"),
        "heap_peak_mb": (run["heap_peak_mb"], "MB"),
    }
    detail = {"samples": len(lat),
              "rss_peak_mb": {"value": run["rss_peak_mb"], "unit": "MB"},
              "ops_per_s": {"value": len(ok_ops) / run["phase_s"], "unit": "1/s"},
              "failed_frac": failed / attempted,
              "jobs_per_op": [o["jobs"] for o in run["ops"]],
              "digests": sorted({o["info"]["digest"] for o in ok_ops
                                 if "digest" in o["info"]}),
              "cpus": run["cpus"], "clients": run["clients"]}
    t = tail(lat)
    if t:
        detail["op_tail_s"] = {"value": t[0], "unit": "s",
                               "percentile": t[1], "n": t[2]}
    ndcg = [o["info"]["ndcg"] for o in run["ops"] if "ndcg" in o["info"]]
    if ndcg:
        detail["ndcg_at_10"] = {"value": statistics.median(ndcg),
                                "unit": "ratio"}
    return m, detail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S

    classes = build.build()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "in")
    try:
        t0 = time.time()
        staged = gen.stage(a.workload, a.seed, in_dir)
        t1 = time.time()
        run = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace, work,
                      in_dir, deadline)
        t2 = time.time()
        bad = checks.check(a.workload, run, in_dir)
        walls = {"stage_s": t1 - t0, "jvm_s": t2 - t1,
                 "check_s": time.time() - t2, "finish_s": run["finish_s"]}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    ops = run["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"] or o["id"] in bad)
    lat = [(o["end_ns"] - o["start_ns"]) / 1e9 for o in ops
           if o["ok"] and o["id"] not in bad and not o["traced"]]
    if attempted == 0 or not lat:
        why = [o["err"] for o in ops if o["err"]] + sorted(bad.values())
        raise SystemExit(f"perfbench: no operation completed and passed "
                         f"its check: {why[:3]}")
    if a.trace:
        metrics = layers.per_layer(run)
        detail = {"traced_ops": sum(1 for o in ops if o["traced"])}
    else:
        metrics, detail = end_to_end(run, lat, failed, attempted)
    detail["staged_rows"] = staged
    detail["walls"] = {k: round(v, 2) for k, v in walls.items()}
    detail["check_failures"] = sorted(bad.items())[:10]
    print("# detail " + json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
