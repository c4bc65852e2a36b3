"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed: the same seed gives the same
files, byte for byte in content, and the digest printed by run.py proves it.
The program under test only ever sees the files written here.

Near-duplicates are planted far from the dedup operators' Jaccard threshold
(0.8 over 3-word shingles): a planted variant differs from its template by
exactly one word substitution, and templates are at least 100 words long, so
two members of one group score at least about 0.88. Unrelated documents draw
their words from a large vocabulary and score about 0. The checks can thus be
exact instead of riding the LSH boundary.
"""
import collections
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes (also stated in BENCHMARK.json and README.md) -------------------
SERVE_ROWS = 4000
SERVE_DIM = 32
SERVE_CLUSTERS = 16
SERVE_OPS = 600           # more than any run can consume
SERVE_WARM_OPS = 4

INGEST_ARRIVALS = 32      # more than any run can consume
INGEST_DOCS_PER_ARRIVAL = 100
INGEST_HOT_TEMPLATES = 4

CURATE_DOCS = 24000
CURATE_WARM_DOCS = 3000
CURATE_SOURCES = ["web", "books", "code", "wiki", "forums"]

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]
JACCARD_TAU = 0.8
PLANTED_MIN_JACCARD = 0.85


def _vocab(rng, n):
    """n distinct lowercase pseudo-words built from 2-4 syllables."""
    syl = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "zu",
           "an", "el", "or", "ix", "ub", "ga", "he", "jo", "qu", "wy"]
    words = set()
    while len(words) < n:
        lens = rng.integers(2, 5, size=n).tolist()
        idx = rng.integers(0, len(syl), size=(n, 4)).tolist()
        words.update("".join(syl[i] for i in row[:k]) for row, k in zip(idx, lens))
    out = sorted(words)
    rng.shuffle(out)
    return np.array(out[:n])


def _words(rng, vocab, n, stop_rate):
    w = rng.choice(vocab, size=n)
    mask = rng.random(n) < stop_rate
    w[mask] = rng.choice(STOPWORDS, size=int(mask.sum()))
    return w


def _variant(rng, vocab, template_words):
    """One word substituted at a random position (never a no-op)."""
    w = template_words.copy()
    i = int(rng.integers(0, len(w)))
    new = w[i]
    while new == w[i]:
        new = vocab[int(rng.integers(0, len(vocab)))]
    w[i] = new
    return w


def shingles(text):
    w = text.split()
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


class Digest:
    def __init__(self):
        self.h = hashlib.sha256()

    def add(self, *parts):
        for p in parts:
            if isinstance(p, np.ndarray):
                self.h.update(p.tobytes())
            else:
                self.h.update(str(p).encode())

    def hex(self):
        return self.h.hexdigest()[:16]


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# ---- serve ------------------------------------------------------------------

SCAN_KINDS = ("range_narrow", "range_wide", "agg_stats", "group_filtered")
# (nprobes of 16 cells, filter) of the knn ops in one round of serve traffic
KNN_SHAPES = ((4, None), (8, None), (16, None), (8, None),
              (4, "category"), (16, "category"), (8, "price"), (16, "price"))


def scan_sql(op, table):
    """SQL text of a scan op; `table` is the engine's table reference."""
    k = op["kind"]
    if k in ("range_narrow", "range_wide"):
        return (f"SELECT vec_id, category, price_cents FROM {table} "
                f"WHERE price_cents BETWEEN {op['lo']} AND {op['hi']} "
                f"ORDER BY vec_id LIMIT 100")
    if k == "agg_stats":
        return (f"SELECT count(*), min(price_cents), max(price_cents), sum(qty) "
                f"FROM {table}")
    if k == "group_filtered":
        return (f"SELECT category, count(*), sum(qty), min(vec_id) FROM {table} "
                f"WHERE price_cents < {op['hi']} GROUP BY category ORDER BY category")
    raise ValueError(k)


def gen_serve(seed, out):
    rng = np.random.default_rng([seed, 1])
    d = Digest()
    centers = rng.normal(0.0, 1.0, size=(SERVE_CLUSTERS, SERVE_DIM))
    # uneven cluster sizes; query traffic is Zipf-skewed over clusters
    size_w = rng.uniform(0.5, 1.5, SERVE_CLUSTERS)
    assign = rng.choice(SERVE_CLUSTERS, size=SERVE_ROWS, p=size_w / size_w.sum())
    vecs = (centers[assign] + rng.normal(0.0, 0.35, size=(SERVE_ROWS, SERVE_DIM))
            ).astype(np.float32)
    vec_id = np.arange(SERVE_ROWS, dtype=np.int64)
    category = rng.integers(0, 10, SERVE_ROWS).astype(np.int32)
    price = rng.integers(100, 100000, SERVE_ROWS).astype(np.int64)
    qty = rng.integers(1, 50, SERVE_ROWS).astype(np.int32)
    d.add(vecs, category, price, qty)
    offsets = pa.array(np.arange(0, SERVE_ROWS * SERVE_DIM + 1, SERVE_DIM, dtype=np.int32))
    table = pa.table({
        "vec_id": vec_id,
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel())),
        "category": category, "price_cents": price, "qty": qty})
    _write(table, os.path.join(out, "vectors.parquet"))
    np.save(os.path.join(out, "vectors.npy"), vecs)

    zipf_p = 1.0 / np.arange(1, SERVE_CLUSTERS + 1) ** 1.1
    zipf_p /= zipf_p.sum()
    cluster_rank = rng.permutation(SERVE_CLUSTERS)

    def knn_op(op_id, r, nprobes, filt):
        c = cluster_rank[r.choice(SERVE_CLUSTERS, p=zipf_p)]
        q = centers[c] + r.normal(0.0, 0.35, SERVE_DIM)
        f = ("" if filt is None else
             f"category < {int(r.integers(3, 8))}" if filt == "category" else
             f"price_cents < {int(r.integers(30000, 90000))}")
        return {"id": op_id, "type": "knn", "query": [round(float(x), 5) for x in q],
                "nprobes": nprobes, "filter": f}

    def scan_op(op_id, r, kind):
        op = {"id": op_id, "type": "scan", "kind": kind}
        if kind == "range_narrow":
            lo = int(r.integers(100, 99000))
            op.update(lo=lo, hi=lo + int(r.integers(50, 400)))
        elif kind == "range_wide":
            lo = int(r.integers(100, 30000))
            op.update(lo=lo, hi=lo + int(r.integers(30000, 60000)))
        elif kind == "group_filtered":
            op.update(hi=int(r.integers(5000, 95000)))
        op["sql"] = scan_sql(op, "{table}")
        return op

    def make_ops(n, prefix, r):
        """Rounds of ROUND ops in seeded order: every round holds the same
        op shapes, so the traffic mix does not drift with the seed or with
        how many ops a run completes."""
        ops = []
        while len(ops) < n:
            rnd = len(ops) // (len(KNN_SHAPES) + len(SCAN_KINDS))
            shapes = [("knn", s) for s in KNN_SHAPES] + [("scan", k) for k in SCAN_KINDS]
            for i in r.permutation(len(shapes)):
                t, s = shapes[i]
                op_id = f"{prefix}{len(ops)}"
                op = knn_op(op_id, r, *s) if t == "knn" else scan_op(op_id, r, s)
                op["round"] = rnd
                ops.append(op)
        return ops[:n]

    ops = make_ops(SERVE_OPS, "q", np.random.default_rng([seed, 2]))
    warm = make_ops(SERVE_WARM_OPS, "w", np.random.default_rng([seed, 3]))
    d.add(json.dumps(ops), json.dumps(warm))
    for name, rows in (("ops.jsonl", ops), ("warm_ops.jsonl", warm)):
        with open(os.path.join(out, name), "w") as f:
            for o in rows:
                f.write(json.dumps(o) + "\n")
    return {"digest": d.hex(), "rows": SERVE_ROWS, "dim": SERVE_DIM,
            "input_bytes": os.path.getsize(os.path.join(out, "vectors.parquet"))}


# ---- ingest -----------------------------------------------------------------

def gen_ingest(seed, out):
    """Arrival files arrivals/part-NNNNN.parquet plus groups.json, which maps
    every planted doc to its group (the template's id)."""
    rng = np.random.default_rng([seed, 11])
    d = Digest()
    vocab = _vocab(rng, 20000)
    templates = {}            # template id -> word array
    group = {}                # doc id -> template id (planted docs only)
    hot = []
    texts = {}
    os.makedirs(os.path.join(out, "arrivals"), exist_ok=True)
    for a in range(INGEST_ARRIVALS):
        ids, rows = [], []
        for j in range(INGEST_DOCS_PER_ARRIVAL):
            doc = a * 1000 + j
            r = rng.random()
            if a == 0 and j < INGEST_HOT_TEMPLATES:
                w = _words(rng, vocab, int(rng.integers(100, 140)), 0.1)
                templates[doc] = w
                hot.append(doc)
                group[doc] = doc
            elif j < INGEST_HOT_TEMPLATES:
                # one variant of every hot template per arrival: buckets
                # that keep growing with history (skew), below the LSH cap
                t = hot[j]
                w = _variant(rng, vocab, templates[t])
                group[doc] = t
            elif r < 0.12 and len(templates) > len(hot):
                keys = [k for k in templates if k not in hot]
                t = keys[int(rng.integers(0, len(keys)))]
                w = _variant(rng, vocab, templates[t])
                group[doc] = t
            elif r < 0.2:
                w = _words(rng, vocab, int(rng.integers(100, 140)), 0.1)
                templates[doc] = w
                group[doc] = doc
            else:
                w = _words(rng, vocab, int(rng.integers(30, 140)), 0.1)
            text = " ".join(w)
            texts[doc] = text
            ids.append(doc)
            rows.append(text)
        d.add(json.dumps(ids), json.dumps(rows))
        _write(pa.table({"doc_id": pa.array(ids, pa.int64()),
                         "text": pa.array(rows, pa.string())}),
               os.path.join(out, "arrivals", f"part-{a:05d}.parquet"))
    # the streaming entry point takes its schema from a documents table
    _write(pa.table({"doc_id": pa.array([], pa.int64()),
                     "text": pa.array([], pa.string())}),
           os.path.join(out, "documents.parquet"))
    with open(os.path.join(out, "groups.json"), "w") as f:
        json.dump({str(k): v for k, v in group.items()}, f)
    _check_planted(texts, group)
    return {"digest": d.hex(), "arrivals": INGEST_ARRIVALS,
            "docs_per_arrival": INGEST_DOCS_PER_ARRIVAL}


def _check_planted(texts, group):
    """Every planted pair must sit well above the dedup threshold."""
    by = {}
    for doc, g in group.items():
        by.setdefault(g, []).append(doc)
    lo = 1.0
    for members in by.values():
        sets = [shingles(texts[m]) for m in members]
        for i in range(len(sets)):
            for j in range(i + 1, len(sets)):
                lo = min(lo, len(sets[i] & sets[j]) / len(sets[i] | sets[j]))
    assert lo >= PLANTED_MIN_JACCARD, f"planted pair at Jaccard {lo:.3f}"


# ---- curate -----------------------------------------------------------------

def _corpus(rng, vocab, n, id_base):
    ids, srcs, texts, groups = [], [], [], []
    templates = []
    src_p = np.array([0.35, 0.25, 0.2, 0.15, 0.05])
    for i in range(n):
        doc = id_base + i
        r = rng.random()
        src = CURATE_SOURCES[int(rng.choice(len(CURATE_SOURCES), p=src_p))]
        if r < 0.04 and texts:
            k = int(rng.integers(0, len(texts)))       # exact copy
            text, g = texts[k], groups[k]
        elif r < 0.12 and templates:
            t = templates[int(rng.integers(0, len(templates)))]
            text = " ".join(_variant(rng, vocab, t[1]))
            g = t[0]
        else:
            long_doc = r < 0.2
            nw = int(rng.integers(100, 160)) if long_doc else int(rng.integers(20, 160))
            w = _words(rng, vocab, nw, float(rng.choice([0.0, 0.05, 0.15, 0.3])))
            text, g = " ".join(w), doc
            if long_doc:
                templates.append((doc, w))
        ids.append(doc)
        srcs.append(src)
        texts.append(text)
        groups.append(g)
    return ids, srcs, texts, groups


def gen_curate(seed, out):
    rng = np.random.default_rng([seed, 21])
    d = Digest()
    vocab = _vocab(rng, 20000)
    info = {}
    for name, n, base in (("corpus", CURATE_DOCS, 1), ("warm", CURATE_WARM_DOCS, 10_000_001)):
        ids, srcs, texts, groups = _corpus(rng, vocab, n, base)
        d.add(json.dumps(ids), json.dumps(srcs), json.dumps(texts))
        path = os.path.join(out, f"{name}.parquet")
        _write(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "source": pa.array(srcs, pa.string()),
            "text": pa.array(texts, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}), path)
        with open(os.path.join(out, f"{name}_groups.json"), "w") as f:
            json.dump(groups, f)
        sizes = collections.Counter(groups)
        _check_planted(dict(zip(ids, texts)),
                       {d: g for d, g in zip(ids, groups) if sizes[g] > 1})
        info[name] = {"docs": n, "bytes": os.path.getsize(path)}
    return {"digest": d.hex(), **info}


GENERATORS = {"serve": gen_serve, "ingest": gen_ingest, "curate": gen_curate}
