"""Seeded input generator for the perfbench workloads.

Every table is synthesized from the seed alone (no fixture files are
read), in the same schema and value distributions as the engine's
TPC-H-shaped fixtures, so the engine's loaders (`graft.sources.Tables`)
and the DuckDB oracles see the layout they were written for. The same
seed writes byte-identical parquet files; a different seed writes
different ones.

    python3 perfbench/gen.py --workload olap_mix --seed 1 --out DIR
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 cardinalities of the relational fixture
SIZES = {"customer": 15000, "supplier": 1000, "part": 20000,
         "orders": 150000, "lineitem": 600000, "events": 100000,
         "documents": 5000, "embeddings": 2000}
WORDS = ("batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream "
         "merge data join vector customer").split()
# one langId marker word per non-English profile (TextAnalysis.markerSets)
MARKERS = {"en": ["the", "a"], "es": ["el", "la"], "de": ["der", "die"],
           "fr": ["le", "les"]}
LANG_ID_KEEP = {"the", "and", "of", "to", "is", "with", "that", "for",
                "el", "la", "de", "que", "y", "los", "las", "una", "por",
                "der", "die", "das", "und", "ist", "nicht", "mit", "ein",
                "le", "les", "des", "est", "dans", "pour", "et"}
CJK = "数据查询表格流式向量连接排序"
DAY_US = 86_400_000_000
EPOCH_US = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * DAY_US
# reco: interactions carry item ids 0..N_ITEMS-1 in props {"k": id}
N_ITEMS = 100
N_USERS = 400
RECO_EVENTS = 24000
# corpus: base corpus size and structure-preserving amplification
CORPUS_BASE_DOCS = 5000
CORPUS_FACTOR = 4
DIM = 64


def rng(seed, stream):
    return np.random.default_rng([seed, stream])


def ts_col(us):
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def write(table, path):
    # fixed writer options: byte-identical output for identical inputs
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, store_schema=False)


def date_us(r, n, start, end_incl):
    d0 = (dt.date(*start) - dt.date(1970, 1, 1)).days
    d1 = (dt.date(*end_incl) - dt.date(1970, 1, 1)).days
    return r.integers(d0, d1 + 1, n).astype("int64") * DAY_US


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def relational(seed):
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)})
    r = rng(seed, 1)
    n = SIZES["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n).astype("int32")),
        "c_acctbal": money(r, -999.99, 9999.99, n),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n)})
    r = rng(seed, 2)
    n = SIZES["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n).astype("int32")),
        "s_acctbal": money(r, -999.99, 9999.99, n)})
    r = rng(seed, 3)
    n = SIZES["part"]
    adj = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
    noun = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "cap"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n, dtype="int64"),
        "p_name": np.char.add(np.char.add(r.choice(adj, n), " "),
                              r.choice(noun, n)),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n).astype(str)),
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n),
        "p_size": pa.array(r.integers(1, 51, n).astype("int32")),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1)})
    r = rng(seed, 4)
    n = SIZES["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": r.integers(0, SIZES["customer"], n).astype("int64"),
        "o_orderstatus": r.choice(["F", "O", "P"], n),
        "o_totalprice": money(r, 1000.0, 500000.0, n),
        "o_orderdate": ts_col(date_us(r, n, (1995, 1, 1), (2001, 8, 1))),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n)})
    r = rng(seed, 5)
    n = SIZES["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, SIZES["orders"], n).astype("int64"),
        "l_partkey": r.integers(0, SIZES["part"], n).astype("int64"),
        "l_suppkey": r.integers(0, SIZES["supplier"], n).astype("int64"),
        "l_linenumber": pa.array(r.integers(1, 8, n).astype("int32")),
        "l_quantity": r.integers(1, 51, n).astype("float64"),
        "l_extendedprice": money(r, 900.0, 105000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n),
        "l_linestatus": r.choice(["F", "O"], n),
        "l_shipdate": ts_col(date_us(r, n, (1995, 1, 2), (2001, 11, 4)))})
    return t


def events(seed, n=SIZES["events"], dup_every=0):
    """Event stream over 30 days. Item ids (props.k) follow a mild
    power law; with `dup_every` > 0 every dup_every-th event is also
    delivered a second time with a new delivery id (event_id + 1e7) and
    the same logical key (user_id, ts) — the at-least-once redelivery
    the streaming dedup must remove."""
    r = rng(seed, 6)
    ts = np.sort(EPOCH_US + r.integers(0, 30 * DAY_US, n))
    users = r.integers(0, N_USERS, n)
    pop = 1.0 / np.arange(1, N_ITEMS + 1) ** 0.2
    items = r.permutation(N_ITEMS)[r.choice(N_ITEMS, n, p=pop / pop.sum())]
    cols = {
        "event_id": np.arange(n, dtype="int64"),
        "ts": ts,
        "user_id": users.astype("int64"),
        "event_type": r.choice(["click", "error", "purchase", "signup",
                                "view"], n),
        "value": np.round(r.exponential(50.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ', items.astype(str)), "}")}
    if dup_every:
        # (user_id, ts) must be a unique logical key before redelivery
        key = cols["user_id"] * (40 * DAY_US) + (cols["ts"] - EPOCH_US)
        _, first = np.unique(key, return_index=True)
        keep = np.sort(first)
        cols = {k: v[keep] for k, v in cols.items()}
        cols["event_id"] = np.arange(len(keep), dtype="int64")
        dup = np.nonzero(cols["event_id"] % dup_every == 0)[0]
        redelivered = {k: v[dup] for k, v in cols.items()}
        redelivered["event_id"] = redelivered["event_id"] + 10_000_000
        cols = {k: np.concatenate([cols[k], redelivered[k]]) for k in cols}
    out = dict(cols)
    out["ts"] = ts_col(cols["ts"])
    return pa.table(out)


def documents(seed, n, stream=7, cjk=True):
    """Synthetic multilingual corpus: English-profile docs carry "the"/
    "a", other profiles carry their own markers, zh docs are mostly CJK
    (with cjk=False they are plain vocabulary words, as in the sf0.1
    fixture the relational gates were written against).
    ~5% of docs are near-duplicates (a copy plus one token) and ~0.3%
    exact duplicates of an earlier doc."""
    r = rng(seed, stream)
    langs = r.choice(["en", "en", "en", "es", "de", "fr", "zh"], n)
    texts = []
    for i in range(n):
        lang = str(langs[i])
        m = int(r.integers(10, 101))
        toks = list(r.choice(WORDS, m))
        if lang == "zh" and cjk:
            toks = ["".join(r.choice(list(CJK), 4)) if j % 3 else t
                    for j, t in enumerate(toks)]
        else:
            marks = MARKERS.get(lang, MARKERS["en"])
            for j in r.choice(m, max(1, m // 12), replace=False):
                toks[j] = marks[int(r.integers(0, len(marks)))]
        texts.append(" ".join(toks))
    u = r.random(n)
    for i in range(1, n):
        src = int(r.integers(0, i))
        if u[i] < 0.05:
            texts[i] = texts[src] + " dup"
            langs[i] = langs[src]
        elif u[i] < 0.053:
            texts[i] = texts[src]
            langs[i] = langs[src]
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})


def unit(v):
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")


def embeddings(seed, n, near_dup_frac=0.05, stream=8):
    """Random unit vectors; a near_dup_frac share are near-duplicates of
    another vector at cosine ~0.95 (1 / sqrt(1 + DIM * 0.04^2)), where
    Similarity.NearDupDesignCosMilli expects them."""
    r = rng(seed, stream)
    v = unit(r.standard_normal((n, DIM)))
    src = r.integers(0, n, n)
    near = r.random(n) < near_dup_frac
    v[near] = unit(v[src[near]] + 0.04 * r.standard_normal((near.sum(), DIM)))
    return v


def emb_table(ids, vecs, labels):
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, DIM, dtype="int32"))
    return pa.table({
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype("int32"))})


def amplified_corpus(seed, base=CORPUS_BASE_DOCS, factor=CORPUS_FACTOR,
                     id_shift=10_000_000):
    """Base corpus ×factor in the style of ScaleCorpus.amplifyDocsLangId
    and amplifyEmbeddings: copy k>0 suffixes every non-marker token with
    "cp<k>" (in-copy duplicate structure kept, copies mutually disjoint)
    and flips embedding signs with a per-copy ±1 pattern (in-copy
    cosines kept). vec_id equals doc_id."""
    docs = documents(seed, base)
    texts = docs.column("text").to_pylist()
    vecs = embeddings(seed, base)
    labels = rng(seed, 9).integers(0, 10, base)
    flips = rng(seed, 10).choice([-1.0, 1.0], (factor, DIM)).astype("float32")
    flips[0] = 1.0
    d_parts, e_parts = [], []
    for k in range(factor):
        ids = np.arange(base, dtype="int64") + k * id_shift
        if k == 0:
            tk = texts
        else:
            tk = [" ".join(w if w.lower() in LANG_ID_KEEP
                           else w + f"cp{k}" for w in t.split())
                  for t in texts]
        d_parts.append(pa.table({
            "doc_id": ids, "text": tk,
            "lang": docs.column("lang"), "source": docs.column("source"),
            "n_chars": np.array([len(t) for t in tk], dtype="int64")}))
        e_parts.append(emb_table(ids, vecs * flips[k], labels))
    return pa.concat_tables(d_parts), pa.concat_tables(e_parts)


def stage(workload, seed, out):
    """Write the workload's input tables under `out` (created) and
    return {table: rows}."""
    os.makedirs(out, exist_ok=True)
    if workload == "olap_mix":
        tables = relational(seed)
        tables["events"] = events(seed)
        tables["documents"] = documents(seed, SIZES["documents"], cjk=False)
        n = SIZES["embeddings"]
        tables["embeddings"] = emb_table(
            np.arange(n), embeddings(seed, n), rng(seed, 9).integers(0, 10, n))
    elif workload == "reco_nightly":
        # item catalog docs: doc_id == item_id
        tables = {"events": events(seed, n=RECO_EVENTS, dup_every=7),
                  "documents": documents(seed, N_ITEMS, stream=11)}
    elif workload == "corpus_curation":
        d, e = amplified_corpus(seed)
        tables = {"documents": d, "embeddings": e}
    else:
        raise SystemExit(f"unknown workload {workload}")
    for name, t in tables.items():
        write(t, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(stage(a.workload, a.seed, a.out))
