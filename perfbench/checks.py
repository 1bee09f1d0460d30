"""Output checks for the perfbench workloads, run after the timed window.

`check(workload, run, in_dir)` returns {op_id: reason} for every
operation whose output is wrong; the caller counts those as failed.

- olap_mix: each query that ran is compared with its DuckDB oracle
  (`SparkEntry.oracleSql`) over the staged tables, with the comparison
  of tools/check.py (columns and rows sorted, exact cells).
- reco_nightly: the first operation's published top-10 lists are checked
  against the staged events, recomputed here outside the engine: one
  list of 10 distinct items, ranked 1..10, for exactly the held-out
  users that have training events; only items with training events;
  NDCG@10 of those lists against the held-out (user, item) pairs equal
  to the NDCG the engine reports, and inside the band
  `RankerPipeline.endToEnd` pins. Where perfbench/pinned.json has a
  digest for the run's core count and seed, the lists must match it.
  Every operation publishes the same lists (digest).
- corpus_curation: the first operation's published corpus equals the
  independent reference in perfbench/reference.py (the q96 pipeline
  followed by q105's semantic dedup at the workload's threshold,
  computed outside the engine) on the
  staged corpus; every later operation publishes the same digest.
- reco_nightly and corpus_curation: every untraced operation launches
  the same number of Spark jobs (nothing is served from a memo).
"""
import importlib.util
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import reference

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NDCG_BAND = (0.05, 0.30)
SPLIT_US = 1706054400000000  # RecoNightly.splitNs: 2024-01-24T00:00Z
TOP_K = 10


def _check_py():
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(got: pd.DataFrame, exp: pd.DataFrame):
    """None when equal, else a one-line reason (tools/check.py rules)."""
    cp = _check_py()
    g, e = cp.canon(got), cp.canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    plain = (int, float, str, type(None))
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), e[c].tolist())):
            if not isinstance(a, plain) or not isinstance(b, plain):
                a, b = str(a), str(b)
            if not cp.cmp_cell(a, b):
                return f"col={c} row={i}: got={a!r} exp={b!r}"
    return None


def connect(in_dir, tables):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        p = os.path.join(in_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def same_jobs(ops):
    """Ops whose Spark job count differs from the first untraced op's."""
    base = [o for o in ops if o["ok"] and not o["traced"]]
    if not base:
        return {}
    want = base[0]["jobs"]
    return {o["id"]: f"jobs {o['jobs']} != {want} (memoized work?)"
            for o in base if o["jobs"] != want}


def same_digest(ops):
    good = [o for o in ops if o["ok"]]
    if not good:
        return {}
    want = good[0]["info"].get("digest")
    return {o["id"]: f"digest {o['info'].get('digest')} != {want}"
            for o in good if o["info"].get("digest") != want}


def check_olap(run, in_dir):
    c = run["check"]
    if "finish_error" in c:
        return {o["id"]: c["finish_error"] for o in run["ops"]}
    con = connect(in_dir, ["region", "nation", "customer", "supplier", "part",
                           "orders", "lineitem", "events", "documents",
                           "embeddings"])
    bad_names = {}
    for name, sql in c["oracle"].items():
        got = pd.read_parquet(os.path.join(c["results_dir"], name))
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:  # oracle failure is a check failure
            bad_names[name] = f"oracle error: {e}"
            continue
        why = compare(got, exp)
        if why:
            bad_names[name] = why
    return {o["id"]: f"{o['name']}: {bad_names[o['name']]}"
            for o in run["ops"] if o["name"] in bad_names}


def pinned(workload, cpus, seed):
    """Digest pinned for this core count and seed, or None."""
    with open(os.path.join(HERE, "pinned.json")) as f:
        return json.load(f).get(workload, {}).get(str(cpus), {}).get(str(seed))


def reco_split(in_dir):
    """(train users, train items, {user: held-out items}) from the staged
    events: duplicate deliveries dropped (first event_id per user and
    timestamp), item id from props, split at SPLIT_US."""
    t = pq.read_table(os.path.join(in_dir, "events.parquet"),
                      columns=["event_id", "ts", "user_id", "props"])
    ev = pd.DataFrame({
        "event_id": t.column("event_id").to_numpy(),
        "ts": t.column("ts").cast(pa.int64()).to_numpy(),
        "user_id": t.column("user_id").to_numpy(),
        "item_id": t.column("props").to_pandas()
        .str.extract(r'"k":\s*(\d+)')[0].astype("int64").to_numpy()})
    ev = ev.sort_values("event_id").drop_duplicates(["user_id", "ts"])
    train = ev[ev.ts < SPLIT_US]
    held = ev[ev.ts >= SPLIT_US].groupby("user_id")["item_id"].agg(set)
    return set(train.user_id), set(train.item_id), held.to_dict()


def reco_lists_reason(lists, ndcg, n_users, in_dir):
    """None when the published top-10 lists (user_id, item_id, rn) agree
    with the staged events and the engine's NDCG, else why not."""
    train_users, train_items, held = reco_split(in_dir)
    if n_users != len(held):
        return f"n_users {n_users} != {len(held)} held-out users"
    want_users = set(held) & train_users
    got_users = set(lists.user_id)
    if got_users != want_users:
        return (f"{len(got_users ^ want_users)} users differ from the "
                f"{len(want_users)} held-out users with training events")
    if not set(lists.item_id) <= train_items:
        return "a listed item has no training events"
    dcg = {}
    for u, g in lists.groupby("user_id"):
        g = g.sort_values("rn")
        if list(g.rn) != list(range(1, TOP_K + 1)) or g.item_id.nunique() != TOP_K:
            return f"user {u}: not {TOP_K} distinct items ranked 1..{TOP_K}"
        dcg[u] = sum(1 / math.log2(r + 1)
                     for r, i in zip(g.rn, g.item_id) if i in held[u])
    want = np.mean([dcg.get(u, 0.0) /
                    sum(1 / math.log2(i + 2) for i in range(min(TOP_K, len(s))))
                    for u, s in held.items()])
    if abs(want - ndcg) > 1e-9:
        return f"ndcg {ndcg} != {want} recomputed from the published lists"
    return None


def check_reco(run, in_dir):
    ops = run["ops"]
    bad = {}
    for o in ops:
        n = o["info"].get("ndcg")
        if o["ok"] and not (NDCG_BAND[0] <= n <= NDCG_BAND[1]):
            bad[o["id"]] = f"ndcg {n} outside {NDCG_BAND}"
    first = next((o for o in ops if o["ok"]), None)
    if first is not None:
        why = reco_lists_reason(pd.read_parquet(first["info"]["dest"]),
                                first["info"]["ndcg"],
                                first["info"]["n_users"], in_dir)
        want = pinned("reco_nightly", run["cpus"], run["seed"])
        if why is None and want and first["info"]["digest"] != want:
            why = f"digest {first['info']['digest']} != pinned {want}"
        if why:
            bad.update({o["id"]: f"top-10: {why}" for o in ops})
    bad.update(same_digest(ops))
    bad.update(same_jobs(ops))
    return bad


def check_corpus(run, in_dir):
    ops = run["ops"]
    bad = {}
    first = next((o for o in ops if o["ok"]), None)
    if first is not None:
        got = pd.read_parquet(first["info"]["dest"])
        exp = reference.curate(
            pd.read_parquet(os.path.join(in_dir, "documents.parquet"),
                            columns=["doc_id", "text"]),
            pd.read_parquet(os.path.join(in_dir, "embeddings.parquet"),
                            columns=["vec_id", "embedding"]),
            first["info"]["semantic_cos"])
        why = compare(got, exp)
        if why:
            bad = {o["id"]: f"reference: {why}" for o in ops}
    bad.update(same_digest(ops))
    bad.update(same_jobs(ops))
    return bad


def check(workload, run, in_dir):
    return {"olap_mix": check_olap, "reco_nightly": check_reco,
            "corpus_curation": check_corpus}[workload](run, in_dir)
