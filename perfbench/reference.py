"""Independent reference of the corpus_curation pipeline, for its output
check.

The engine's own DuckDB oracles for this chain (q96 llmPipelineE2e and
q105 semanticDedup) replay every stage in SQL; they take minutes on a
few thousand documents, far longer than a benchmark run may take. This
module computes the same result from the same specification with
hashlib and numpy in seconds:

  admission (non-null, >= 20 chars after trimming spaces) -> language
  gate (TextAnalysis.langIdScalar == "en") -> exact dedup (min doc_id
  per text) -> portable MinHash (word 2-shingles, md5 -> 32-bit, 32
  affine hashes mod 4294967291, 8 bands of 4, estimated Jaccard >= 0.3)
  -> connected components (min-id label; survivors are unpaired docs
  and component minima) -> semantic dedup of the survivors' embeddings
  (portable sign-LSH at the operating point Similarity.autoPlanes /
  lshTablesFor derive, cosine rounded to 6 places >= a threshold, min-id
  clusters, keep the minima) -> 200-char chunks with 50-char overlap.

tests/test_reference.py pins this module against the DuckDB oracles on a
corpus small enough for them.
"""
import hashlib
import math
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

MARKERS = [
    ("en", {"the", "and", "of", "to", "is", "with", "that", "for"}),
    ("es", {"el", "la", "de", "que", "y", "los", "las", "una", "por"}),
    ("de", {"der", "die", "das", "und", "ist", "nicht", "mit", "ein"}),
    ("fr", {"le", "la", "les", "des", "est", "une", "dans", "pour", "et"}),
]
JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
P = 4294967291
MASK64 = (1 << 64) - 1
NUM_HASHES, BANDS, JACCARD = 32, 8, 0.3
NEAR_DUP_OCC, DESIGN_COS_MILLI, RECALL_PPM = 32, 900, 900000
CHUNK, OVERLAP = 200, 50


def lang_id(text):
    t = text or ""
    n = max(len(t), 1)
    cjk = sum(1 for ch in t if "一" <= ch <= "鿿")
    if cjk / n > 0.2:
        return "zh"
    s = t.lower().strip("".join(chr(c) for c in range(33)))
    toks = JAVA_WS.split(s) if s else []
    best, score = "und", 0
    for lang, words in MARKERS:
        sc = sum(1 for w in toks if w in words)
        if sc > score:
            best, score = lang, sc
    return best


def constants(n):
    x = 0x243F6A8885A308D3

    def nxt():
        nonlocal x
        x = (x + 0x9E3779B97F4A7C15) & MASK64
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK64
        return z ^ (z >> 31)
    out = []
    for _ in range(n):
        a = (nxt() & 0x7FFFFFFF) | 1
        b = nxt() & 0x7FFFFFFF
        out.append((a, b))
    return np.array([c[0] for c in out], dtype=np.uint64), \
        np.array([c[1] for c in out], dtype=np.uint64)


def md5_32(s, cache):
    h = cache.get(s)
    if h is None:
        h = int.from_bytes(hashlib.md5(s.encode()).digest()[:4], "big")
        cache[s] = h
    return h


def signatures(texts):
    a, b = constants(NUM_HASHES)
    cache, sigs = {}, []
    for text in texts:
        toks = [w for w in JAVA_WS.split((text or "").lower()) if w]
        if len(toks) < 2:
            sh = {" ".join(toks)}
        else:
            sh = {toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)}
        h = np.array([md5_32(s, cache) for s in sh], dtype=np.uint64)
        sigs.append(((a[:, None] * h[None, :] + b[:, None]) % np.uint64(P)).min(axis=1))
    return np.array(sigs, dtype=np.uint64).reshape(len(texts), NUM_HASHES)


def components(ids, pairs):
    """{id: min id of its connected component} over the pair graph."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def minhash_pairs(ids, texts):
    sig = signatures(texts)
    rows = NUM_HASHES // BANDS
    cand = set()
    for band in range(BANDS):
        groups = {}
        for i, key in enumerate(map(bytes, sig[:, band * rows:(band + 1) * rows])):
            groups.setdefault(key, []).append(i)
        for g in groups.values():
            for x in range(len(g)):
                for y in range(x + 1, len(g)):
                    cand.add((g[x], g[y]))
    out = []
    for i, j in cand:
        if (sig[i] == sig[j]).sum() / NUM_HASHES >= JACCARD:
            out.append((min(ids[i], ids[j]), max(ids[i], ids[j])))
    return out


def lsh_planes(n, occ=NEAR_DUP_OCC):
    j = 1
    while j < 62 and (n - 1) // (1 << j) >= occ:
        j += 1
    return j


def lsh_tables(planes):
    p = math.floor((1.0 - math.acos(DESIGN_COS_MILLI / 1000.0) / math.pi) * 1e6)
    per = 1000000
    for _ in range(planes):
        per = per * p // 1000000
    miss, limit = 1000000 - per, 1000000 - RECALL_PPM
    t, r = 1, miss
    while r > limit and t < 4096:
        r = r * miss // 1000000
        t += 1
    return t


def signs(tables, planes, dim):
    s = np.empty((tables, planes, dim), dtype=np.int64)
    for t in range(tables):
        for j in range(planes):
            for d in range(dim):
                h = hashlib.md5(f"{t}_{j}_{d}".encode()).digest()
                s[t, j, d] = 1 if h[0] & 0x80 else -1
    return s


def semantic_keep(ids, vecs, cos_t):
    """Ids kept by semantic dedup at cosine >= cos_t (cluster minima,
    unclustered ids)."""
    n, dim = vecs.shape
    if n == 0:
        return set()
    planes = lsh_planes(n)
    tables = lsh_tables(planes)
    q = np.floor(vecs.astype(np.float64) * 1000).astype(np.int64)
    sg = signs(tables, planes, dim)
    weights = (1 << np.arange(planes)).astype(np.int64)
    cand = set()
    for t in range(tables):
        bucket = ((q @ sg[t].T) > 0).astype(np.int64) @ weights
        order = np.argsort(bucket, kind="stable")
        bs = bucket[order]
        cuts = np.nonzero(np.diff(bs))[0] + 1
        for g in np.split(order, cuts):
            if len(g) > 1:
                g = np.sort(g)
                for x in range(len(g)):
                    for y in range(x + 1, len(g)):
                        cand.add((g[x], g[y]))
    if not cand:
        return set(ids)
    c = np.array(sorted(cand), dtype=np.int64)
    v = vecs.astype(np.float64)
    dot = np.einsum("ij,ij->i", v[c[:, 0]], v[c[:, 1]])
    nrm = np.sqrt((v * v).sum(axis=1))
    cos = dot / (nrm[c[:, 0]] * nrm[c[:, 1]])
    near = cos >= cos_t - 6e-7
    edges = []
    for (i, j), x, ok in zip(c, cos, near):
        if ok and Decimal(float(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP) >= Decimal(str(cos_t)):
            edges.append((int(ids[i]), int(ids[j])))
    comp = components(ids, edges)
    return {int(i) for i in ids if comp.get(int(i), int(i)) == int(i)}


def chunks(doc_ids, texts):
    stride = CHUNK - OVERLAP
    rows = []
    for d, t in zip(doc_ids, texts):
        n = len(t)
        k = 1 if n <= CHUNK else math.ceil((n - CHUNK) / stride) + 1
        rows.extend((d, i, t[i * stride:i * stride + CHUNK]) for i in range(k))
    return pd.DataFrame(rows, columns=["doc_id", "chunk_idx", "chunk_text"])


def curate(docs: pd.DataFrame, emb: pd.DataFrame, cos_t) -> pd.DataFrame:
    """docs: doc_id, text; emb: vec_id, embedding; cos_t: the semantic
    dedup threshold. Returns the curated chunks (doc_id, chunk_idx,
    chunk_text)."""
    d = docs[docs["text"].notna()]
    d = d[d["text"].map(lambda t: len(t.strip(" ")) >= 20)]
    d = d[d["text"].map(lang_id) == "en"]
    d = d.sort_values("doc_id").drop_duplicates("text", keep="first")
    ids = d["doc_id"].to_numpy()
    texts = d["text"].tolist()
    comp = components(ids, minhash_pairs(ids, texts))
    surv = d[[comp.get(int(i), int(i)) == int(i) for i in ids]]
    e = emb[emb["vec_id"].isin(set(surv["doc_id"]))].sort_values("vec_id")
    vecs = np.array(e["embedding"].tolist(), dtype=np.float32).reshape(len(e), -1)
    keep = semantic_keep(e["vec_id"].to_numpy(), vecs, cos_t)
    kept = surv[surv["doc_id"].isin(keep)]
    return chunks(kept["doc_id"].tolist(), kept["text"].tolist())
