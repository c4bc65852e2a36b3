"""Output checks: a wrong answer makes its op a failed op.

The references are computed outside graft, from the generated files:
numpy for exact nearest neighbours, DuckDB for SQL (the curate replays run
the operators' own oracle SQL, which the JVM program writes to oracles.json),
and the generator's planted groups plus a Python re-verification of
Jaccard for near-duplicate pairs.
"""
import copy
import glob
import json
import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

# A knn answer must recover at least this share of the exact top-10: IVF_PQ
# is approximate, so a correct search may miss a few true neighbours, but an
# answer built from the wrong rows shares none. The mean recall is its own
# metric.
RECALL_FLOOR = 0.5
DIST_TOL = 1e-4


@dataclass
class Verdict:
    ok: bool
    why: str = ""
    recall: float = 1.0
    # the check that failed; the self-test asserts each corruption is
    # caught by the check it targets
    check: str = ""


def _fail(check, why, recall=0.0):
    return Verdict(False, why, recall, check)


def _norm(v):
    if isinstance(v, float) and v.is_integer():
        return int(v)
    return v


def _rows(rows):
    return [[_norm(x) for x in r] for r in rows]


class ServeChecker:
    def __init__(self, inputs, out):
        self.x = np.load(os.path.join(inputs, "vectors.npy")).astype(np.float64)
        self.db = duckdb.connect()
        self.db.execute("CREATE TABLE vecs AS SELECT vec_id, category, price_cents, qty "
                        f"FROM read_parquet('{os.path.join(inputs, 'vectors.parquet')}')")
        self.ops = {}
        with open(os.path.join(inputs, "ops.jsonl")) as f:
            for line in f:
                o = json.loads(line)
                self.ops[o["id"]] = o
        self.masks = {}

    def _mask(self, filt):
        if filt not in self.masks:
            where = f"WHERE {filt}" if filt else ""
            ids = np.array([r[0] for r in self.db.execute(
                f"SELECT vec_id FROM vecs {where}").fetchall()], dtype=np.int64)
            m = np.zeros(len(self.x), dtype=bool)
            m[ids] = True
            self.masks[filt] = m
        return self.masks[filt]

    def check(self, r):
        if not r["ok"]:
            return _fail("error", r["error"])
        o = self.ops[r["id"]]
        if o["type"] == "scan":
            want = _rows(self.db.execute(o["sql"].replace("{table}", "vecs")).fetchall())
            got = _rows(r["result"])
            return Verdict(True) if got == want else _fail(
                "scan", f"scan rows differ: {got[:3]} vs {want[:3]}")
        q = np.array(o["query"], dtype=np.float64)
        ids, d = self._candidates(o)
        order = np.lexsort((ids, d))[:10]
        exact = set(ids[order].tolist())
        got = r["result"]
        if len(got) != len(exact):
            return _fail("count", f"{len(got)} rows, want {len(exact)}")
        got_ids = [int(g[0]) for g in got]
        if len(set(got_ids)) != len(got_ids):
            return _fail("distinct", "duplicate ids")
        mask = self._mask(o["filter"])
        if not all(0 <= i < len(mask) and mask[i] for i in got_ids):
            return _fail("filter", "a returned row does not satisfy the filter")
        dists = [float(g[1]) for g in got]
        if dists != sorted(dists):
            return _fail("order", "not ordered by distance")
        true_d = np.sqrt(((self.x[got_ids] - q) ** 2).sum(axis=1))
        if np.abs(true_d - np.array(dists)).max() > DIST_TOL:
            return _fail("distance", "reported distance differs from the exact distance")
        recall = len(exact & set(got_ids)) / len(exact)
        if recall < RECALL_FLOOR:
            return _fail("recall", f"recall {recall:.2f} below floor", recall)
        return Verdict(True, recall=recall)

    def _candidates(self, o, filtered=True):
        """Ids of the rows that satisfy the op's filter (or, with
        filtered=False, of those that violate it) and their exact distances
        to the op's query point."""
        mask = self._mask(o["filter"])
        ids = np.nonzero(mask if filtered else ~mask)[0]
        q = np.array(o["query"], dtype=np.float64)
        return ids, np.sqrt(((self.x[ids] - q) ** 2).sum(axis=1))

    def corruptions(self, r):
        """(check, corrupted answer) pairs: each answer is wrong in a way
        that only the named check can see."""
        o = self.ops[r["id"]]
        if o["type"] == "scan":
            bad = copy.deepcopy(r)
            if not bad["result"]:
                bad["result"] = [[1]]
            else:
                row = bad["result"][0]
                row[-1] = (row[-1] or 0) + 1
            return [("scan", bad)]
        res = r["result"]
        n = len(res)
        out = []
        short = copy.deepcopy(r)
        short["result"] = res[:-1]
        out.append(("count", short))
        twice = copy.deepcopy(r)
        twice["result"][-1] = list(res[-2])
        out.append(("distinct", twice))
        if n >= 2 and res[0][1] < res[-1][1]:
            swapped = copy.deepcopy(r)
            swapped["result"] = res[::-1]
            out.append(("order", swapped))
        skew = copy.deepcopy(r)
        skew["result"][-1][1] = res[-1][1] + 0.5
        out.append(("distance", skew))
        # n far rows that satisfy the filter, with their exact distances in
        # ascending order: a well-formed answer that shares no true neighbour
        ids, d = self._candidates(o)
        far = np.argsort(-d, kind="stable")[:n][::-1]
        wrong = copy.deepcopy(r)
        wrong["result"] = [[int(ids[i]), float(d[i])] for i in far]
        out.append(("recall", wrong))
        if o["filter"]:
            # the last row swapped for the nearest row that violates the
            # filter and still sorts last, with its exact distance
            vids, vd = self._candidates(o, filtered=False)
            ok = np.nonzero(vd >= res[-2][1])[0]
            if len(ok):
                i = ok[np.argmin(vd[ok])]
                bad = copy.deepcopy(r)
                bad["result"][-1] = [int(vids[i]), float(vd[i])]
                out.append(("filter", bad))
        return out


def _arrival_texts(inputs, upto):
    texts = {}
    for f in sorted(glob.glob(os.path.join(inputs, "arrivals", "part-*.parquet")))[:upto + 1]:
        t = pq.read_table(f).to_pydict()
        texts.update(zip(t["doc_id"], t["text"]))
    return texts


class IngestChecker:
    def __init__(self, inputs, out):
        self.inputs = inputs
        with open(os.path.join(inputs, "groups.json")) as f:
            self.group = {int(k): v for k, v in json.load(f).items()}
        self.members = {}
        for doc, g in self.group.items():
            self.members.setdefault(g, []).append(doc)
        self.texts = {}

    def expected(self, k):
        """Planted pairs whose later member arrived with arrival k."""
        lo, hi = k * 1000, k * 1000 + 999
        pairs = set()
        for g, docs in self.members.items():
            for b in docs:
                if lo <= b <= hi:
                    for a in docs:
                        if a < b:
                            pairs.add((a, b))
        return pairs

    def check(self, r):
        if not r["ok"]:
            return _fail("error", r["error"])
        k = r["result"]["arrival"]
        if k * 1000 not in self.texts:
            self.texts = _arrival_texts(self.inputs, k + 8)
        want = self.expected(k)
        got = {}
        for a, b, j in r["result"]["pairs"]:
            a, b = int(a), int(b)
            if (a, b) in got:
                return _fail("twice", f"pair {(a, b)} reported twice")
            got[(a, b)] = float(j)
        for (a, b), j in got.items():
            if not a < b:
                return _fail("normalized", f"pair {(a, b)} not normalized")
            real = gen.jaccard(self.texts[a], self.texts[b])
            if real < gen.JACCARD_TAU or abs(real - j) > 1e-6:
                return _fail("jaccard", f"pair {(a, b)} reports {j}, raw texts give {real:.6f}")
        found = len(want & set(got))
        if set(got) != want:
            return _fail("planted", f"{found}/{len(want)} planted pairs found, "
                                    f"{len(set(got) - want)} unplanted", found / max(1, len(want)))
        return Verdict(True)

    def corruptions(self, r):
        """(check, corrupted answer) pairs, as in ServeChecker."""
        out = []
        pairs = r["result"]["pairs"]
        if pairs:
            drop = copy.deepcopy(r)
            drop["result"]["pairs"] = pairs[1:]
            out.append(("planted", drop))
            skew = copy.deepcopy(r)
            skew["result"]["pairs"][0][2] = pairs[0][2] - 0.05
            out.append(("jaccard", skew))
            # the same pair stored twice, as a replayed micro-batch would
            dup = copy.deepcopy(r)
            dup["result"]["pairs"].append(list(pairs[0]))
            out.append(("twice", dup))
            flipped = copy.deepcopy(r)
            a, b, j = pairs[0]
            flipped["result"]["pairs"][0] = [b, a, j]
            out.append(("normalized", flipped))
        k = r["result"]["arrival"]
        bogus = copy.deepcopy(r)
        bogus["result"]["pairs"].append([k * 1000, k * 1000 + 1, 0.9])
        out.append(("jaccard", bogus))
        return out


class CurateChecker:
    def __init__(self, inputs, out):
        with open(os.path.join(out, "oracles.json")) as f:
            orc = json.load(f)
        corpus = os.path.join(inputs, "corpus.parquet")
        with open(os.path.join(inputs, "corpus_groups.json")) as f:
            groups = json.load(f)
        db = duckdb.connect()
        db.execute(f"CREATE TABLE corpus AS SELECT * FROM read_parquet('{corpus}')")
        ids = [r[0] for r in db.execute("SELECT doc_id FROM corpus ORDER BY doc_id").fetchall()]
        group = dict(zip(ids, groups))
        # exact dedup: the dedup_exact oracle over the corpus
        db.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM corpus")
        survivors = [r[0] for r in db.execute(orc["dedup_exact"]).fetchall()]
        n_in = len(ids)
        # canonical: one doc per planted group, the best quality (ties: min id)
        db.register("survivors", pa.table({"doc_id": pa.array(survivors, pa.int64())}))
        db.execute("CREATE OR REPLACE VIEW documents AS SELECT c.* FROM corpus c "
                   "SEMI JOIN survivors s ON c.doc_id = s.doc_id")
        quality = {r[0]: r[-1] for r in db.execute(orc["text_quality"]).fetchall()}
        best = {}
        for d in survivors:
            g = group[d]
            if g not in best or (quality[d], -d) > (quality[best[g]], -best[g]):
                best[g] = d
        kept = sorted(best.values())
        db.register("kept", pa.table({"doc_id": pa.array(kept, pa.int64())}))
        db.execute("CREATE OR REPLACE VIEW documents AS SELECT c.* FROM corpus c "
                   "SEMI JOIN kept k ON c.doc_id = k.doc_id")
        sample = sorted((r[0], r[1]) for r in db.execute(orc["sample_token_budget"]).fetchall())
        self.want = {
            "n_in": n_in, "n_out": len(survivors), "n_dropped": n_in - len(survivors),
            "n_canonical": len(kept), "n_kept": len(kept),
            "quality_passing": sum(1 for d in kept if quality[d] >= orc["quality_min"])}
        self.sample = sample

    def check(self, r):
        if not r["ok"]:
            return _fail("error", r["error"])
        res = r["result"]
        for k, v in self.want.items():
            if res[k] != v:
                return _fail(k, f"{k} = {res[k]}, replay gives {v}")
        got = sorted((s, int(d)) for s, d in res["sample"])
        if got != self.sample:
            hit = len(set(got) & set(self.sample))
            return _fail("sample", f"sample differs ({hit}/{len(self.sample)} shared)",
                         hit / max(1, len(self.sample)))
        return Verdict(True)

    def corruptions(self, r):
        """(check, corrupted answer) pairs, as in ServeChecker."""
        out = []
        for k in self.want:
            bad = copy.deepcopy(r)
            bad["result"][k] += 1
            out.append((k, bad))
        bad = copy.deepcopy(r)
        bad["result"]["sample"] = bad["result"]["sample"][1:]
        out.append(("sample", bad))
        return out


CHECKERS = {"serve": ServeChecker, "ingest": IngestChecker, "curate": CurateChecker}


def self_test(checker, results):
    """Feed every check corrupted answers. Returns {check: (caught, total)},
    where a corruption counts as caught only if the check it targets is the
    one that rejects it."""
    tally = {}
    for r in results:
        if not r["ok"]:
            continue
        for check, bad in checker.corruptions(r):
            caught, total = tally.get(check, (0, 0))
            tally[check] = (caught + (checker.check(bad).check == check), total + 1)
    return tally
