"""Per-layer metrics from a traced run (perfbench.Main --trace 1).

A span is one layer call inside one operation: (id, parent, op, name,
start_ns, end_ns). Its self time is its duration minus the part of it
covered by its child spans (the union of their intervals, so children
that overlap each other are not subtracted twice). Spans of different
operations never subtract from each other, even when two clients run
them at the same time: only parent links count.

Layer times are reported as the mean per traced operation of the summed
self time of the layer's spans. Spark counters (jobs, tasks, shuffle,
...) are attributed to spans by the listener and summed the same way.
Spans named "diag" (extra counting done only to derive ratios) and
their descendants are excluded from every metric.
"""
import statistics

# name -> unit, in output order
METRICS = {
    "sources.load_s": "s",
    "sources.scan_task_s": "s",
    "sources.rows_read_per_row_out": "ratio",
    "sources.publish_s": "s",
    "sources.publish_mb": "MB",
    "spark.plan.analysis_s": "s",
    "spark.plan.optimization_s": "s",
    "spark.plan.planning_s": "s",
    "spark.codegen.compile_s": "s",
    "spark.codegen.compilations": "count",
    "spark.exec.jobs": "count",
    "spark.exec.tasks": "count",
    "spark.exec.task_run_s": "s",
    "spark.exec.task_cpu_s": "s",
    "spark.exec.sched_wait_s": "s",
    "spark.exec.gc_s": "s",
    "spark.exec.peak_task_mem_mb": "MB",
    "spark.exec.spill_mb": "MB",
    "spark.exec.failed_tasks": "count",
    "spark.shuffle.write_mb": "MB",
    "spark.shuffle.read_mb": "MB",
    "spark.shuffle.fetch_wait_s": "s",
    "streaming.ingest_s": "s",
    "streaming.dup_drop_frac": "ratio",
    "reco.interactions_s": "s",
    "reco.als_fit_s": "s",
    "reco.als_recommend_s": "s",
    "reco.cg_s": "s",
    "reco.eval_s": "s",
    "reco.candidates_per_user": "count",
    "reco.candidate_hit_frac": "ratio",
    "ml.features_s": "s",
    "ml.lr_fit_s": "s",
    "ml.score_s": "s",
    "text.tokenize_s": "s",
    "llmops.admit_s": "s",
    "llmops.admit_keep_frac": "ratio",
    "llmops.exact_dedup_s": "s",
    "llmops.chunk_s": "s",
    "llmops.minhash_s": "s",
    "llmops.minhash_pairs": "count",
    "llmops.minhash_pair_precision": "ratio",
    "llmops.semantic_dedup_s": "s",
    "llmops.ann_candidates_per_vector": "count",
    "functions.cosine_pairs": "count",
    "ops.checkpoint_s": "s",
    "ops.cc_s": "s",
    "ops.cc_rounds": "count",
    "trace.overhead_frac": "ratio",
}
# layer-time metric -> span name
SPAN_TIMES = {m: m[:-2] for m in METRICS
              if m.endswith("_s") and not m.startswith(("spark.", "trace."))
              and m not in ("sources.scan_task_s",)}


def union_ns(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self time in ns}: duration minus the union of the
    children's intervals clipped to the span."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        if s["parent"] in by_id:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        st, en = s["start_ns"], s["end_ns"]
        cover = union_ns([(max(st, c["start_ns"]), min(en, c["end_ns"]))
                          for c in kids.get(s["id"], [])
                          if c["end_ns"] > st and c["start_ns"] < en])
        out[s["id"]] = (en - st) - cover
    return out


def excluded(spans, name="diag"):
    """Ids of spans named `name` and all their descendants."""
    parent = {s["id"]: s["parent"] for s in spans}
    names = {s["id"]: s["name"] for s in spans}
    out = set()
    for sid in parent:
        x = sid
        while x in parent:
            if names[x] == name:
                out.add(sid)
                break
            x = parent[x]
    return out


def layer_times(spans, ops):
    """{span name: mean self seconds per op over the given op ids}."""
    drop = excluded(spans)
    st = self_times(spans)
    tot = {}
    for s in spans:
        if s["op"] in ops and s["id"] not in drop:
            tot[s["name"]] = tot.get(s["name"], 0) + st[s["id"]]
    return {k: v / 1e9 / max(1, len(ops)) for k, v in tot.items()}


def per_layer(run):
    ops = run["ops"]
    traced = {o["id"] for o in ops if o["traced"] and o["ok"]}
    n = max(1, len(traced))
    spans = run["spans"]
    drop = excluded(spans)
    in_ops = [s for s in spans if s["op"] in traced and s["id"] not in drop]
    stats = [run["span_stats"].get(str(s["id"]), {}) for s in in_ops]

    def tot(key):
        return sum(x.get(key, 0) for x in stats)

    times = layer_times(spans, traced)
    # set-up loads are traced too (op -1): one set-up's share is added
    setup_load = layer_times(spans, {-1}).get("sources.load", 0.0)
    cnt = run["counters"]

    def ratio(a, b):
        return cnt.get(a, 0.0) / cnt[b] if cnt.get(b) else 0.0

    # rows an operation hands back: the query result (olap_mix) or the
    # published artifact (digest = "rows:hash-sum")
    rows_out = sum(run["check"].get("result_rows", {}).get(o["name"], 0)
                   or int(o["info"].get("digest", "0:").split(":")[0])
                   for o in ops if o["id"] in traced)
    # each client's first operation warms the JVM; leave it out
    first = {min(o["id"] for o in ops if o["client"] == c)
             for c in {o["client"] for o in ops}}
    untr = [(o["end_ns"] - o["start_ns"]) for o in ops
            if o["ok"] and not o["traced"] and o["id"] not in first]
    trc = [(o["end_ns"] - o["start_ns"]) for o in ops if o["ok"] and o["traced"]]
    overhead = ((statistics.median(trc) - statistics.median(untr))
                / statistics.median(untr)) if untr and trc else 0.0
    cg_ns = sum(o["info"].get("compile_ns", 0) for o in ops if o["id"] in traced)
    cg_n = sum(o["info"].get("compilations", 0) for o in ops if o["id"] in traced)
    publish_mb = [o["info"]["publish_mb"] for o in ops
                  if o["id"] in traced and "publish_mb" in o["info"]]
    v = {
        "sources.scan_task_s": tot("scan_run_ns") / 1e9 / n,
        "sources.rows_read_per_row_out":
            tot("input_records") / rows_out if rows_out else 0.0,
        "sources.publish_mb": sum(publish_mb) / n,
        "spark.plan.analysis_s": tot("analysis_ms") / 1e3 / n,
        "spark.plan.optimization_s": tot("optimization_ms") / 1e3 / n,
        "spark.plan.planning_s": tot("planning_ms") / 1e3 / n,
        "spark.codegen.compile_s": cg_ns / 1e9 / n,
        "spark.codegen.compilations": cg_n / n,
        "spark.exec.jobs": tot("jobs") / n,
        "spark.exec.tasks": tot("tasks") / n,
        "spark.exec.task_run_s": tot("run_ns") / 1e9 / n,
        "spark.exec.task_cpu_s": tot("cpu_ns") / 1e9 / n,
        "spark.exec.sched_wait_s": tot("sched_wait_ms") / 1e3 / n,
        "spark.exec.gc_s": tot("gc_ms") / 1e3 / n,
        "spark.exec.peak_task_mem_mb":
            max([x.get("peak_mem_b", 0) for x in stats] or [0]) / 1e6,
        "spark.exec.spill_mb": tot("spill_b") / 1e6 / n,
        "spark.exec.failed_tasks": tot("failed_tasks") / n,
        "spark.shuffle.write_mb": tot("shuffle_write_b") / 1e6 / n,
        "spark.shuffle.read_mb": tot("shuffle_read_b") / 1e6 / n,
        "spark.shuffle.fetch_wait_s": tot("fetch_wait_ms") / 1e3 / n,
        "streaming.dup_drop_frac":
            1.0 - ratio("events_clean", "events_raw") if cnt.get("events_raw") else 0.0,
        "reco.candidates_per_user": ratio("cand_rows", "cand_users"),
        "reco.candidate_hit_frac": ratio("cand_hits", "cand_rows"),
        "llmops.admit_keep_frac": ratio("docs_en", "docs_in"),
        "llmops.minhash_pairs": cnt.get("minhash_pairs", 0.0) / n,
        "llmops.minhash_pair_precision":
            ratio("minhash_pairs", "minhash_candidates"),
        "llmops.ann_candidates_per_vector":
            2 * ratio("lsh_candidates", "vectors"),
        "functions.cosine_pairs": cnt.get("lsh_candidates", 0.0) / n,
        # hashMin runs one count action per round; the traced run adds
        # one more action that materializes the labels
        "ops.cc_rounds": sum(max(0, x.get("executions", 0) - 1) for s, x in
                             zip(in_ops, stats) if s["name"] == "ops.cc") / n,
        "trace.overhead_frac": overhead,
    }
    for m, span in SPAN_TIMES.items():
        v[m] = times.get(span, 0.0)
    v["sources.load_s"] = times.get("sources.load", 0.0) + setup_load
    return {k: (v[k], u) for k, u in METRICS.items()}
