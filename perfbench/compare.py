#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

A run set is a directory of `<workload>.t<trace>.jsonl` files, one line per
run: the last stdout line of run.py. For example:

    for s in 1 2 3 4 5 6 7 8 9 10; do
      python3 perfbench/run.py --workload serve --seed $s --seconds 10 \
          --trace 0 | tail -1 >> runs/base/serve.t0.jsonl
    done

For each workload it prints every end-to-end metric's median and quartiles
on both sides, the change against the metric's bound from BENCHMARK.json,
and the spread (quartile distance / median) of each side; then the median
per-layer metrics of the traced runs with their change, and the tracing
overhead (the traced runs' op_p50_ms against the untraced runs' median).
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    sets = {}
    for f in sorted(glob.glob(os.path.join(d, "*.t[01].jsonl"))):
        w, t = os.path.basename(f)[:-len(".jsonl")].rsplit(".t", 1)
        with open(f) as fh:
            sets[(w, int(t))] = [json.loads(line) for line in fh if line.strip()]
    return sets


def values(runs, name):
    return [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]


def quart(v):
    if len(v) < 2:
        return (v[0], v[0], v[0]) if v else (float("nan"),) * 3
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def spread(v):
    q1, med, q3 = quart(v)
    return (q3 - q1) / med if med else float("nan")


def fmt(x):
    return f"{x:.4g}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    base, new = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted({w for w, _ in base} | {w for w, _ in new}):
        b0, n0 = base.get((w, 0), []), new.get((w, 0), [])
        print(f"== {w}: {len(b0)} base runs, {len(n0)} new runs (untraced)")
        print(f"{'metric':<22}{'base q1/med/q3':>32}{'new q1/med/q3':>32}"
              f"{'change':>9}{'bound':>7}{'spreads':>15}  verdict")
        for name, m in e2e.items():
            bv, nv = values(b0, name), values(n0, name)
            if not bv or not nv:
                continue
            bq, nq = quart(bv), quart(nv)
            change = (nq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
            worse = change if m["better"] == "lower" else -change
            if worse > m["bound"]:
                verdict = "WORSE"
            elif max(spread(bv), spread(nv)) > m["bound"] and name != "setup_s":
                verdict = "unresolved"
            else:
                verdict = "ok"
            print(f"{name:<22}{'/'.join(map(fmt, bq)):>32}{'/'.join(map(fmt, nq)):>32}"
                  f"{change:>+9.1%}{m['bound']:>7}"
                  f"{spread(bv):>7.1%}{spread(nv):>8.1%}  {verdict}")
        b1, n1 = base.get((w, 1), []), new.get((w, 1), [])
        if b1 or n1:
            print(f"-- {w} per-layer medians: {len(b1)} base, {len(n1)} new traced runs")
            names = list((b1 or n1)[0]["metrics"])
            for name in names:
                bv, nv = values(b1, name), values(n1, name)
                bm = statistics.median(bv) if bv else float("nan")
                nm = statistics.median(nv) if nv else float("nan")
                ch = f"{(nm - bm) / bm:+.1%}" if bv and nv and bm else ""
                print(f"  {name:<38}{fmt(bm):>12}{fmt(nm):>12}{ch:>9}")
            for label, t0, t1 in (("base", b0, b1), ("new", n0, n1)):
                p0, p1 = values(t0, "op_p50_ms"), values(t1, "trace.op_p50_ms")
                if p0 and p1:
                    over = statistics.median(p1) / statistics.median(p0) - 1
                    print(f"  tracing overhead ({label}): traced op_p50_ms "
                          f"{fmt(statistics.median(p1))} vs untraced "
                          f"{fmt(statistics.median(p0))} ({over:+.1%})")
        print()


if __name__ == "__main__":
    main()
