#!/usr/bin/env python3
"""Noise- and data-aware comparison of two BENCH.json artifacts.

Finishes what the r17 instrument started (SURVEY §7 r17(2)): the artifact
now carries per-key noise bands, end-of-run __spaced re-medians and
data-side denominators (streaming batches / input rows / sink rows, lance
manifest commits). This tool encodes the adjudication rules the r16 judge
had to apply by hand, so a cross-round wall-time swing is classified
mechanically:

  1. A key's settled time is min(primary, __spaced) when a spaced
     re-median exists — a first-slot/spaced disagreement is bench-order
     noise by construction, and the faster of the two is the code's cost.
  2. A delta only counts when it clears BOTH rounds' noise bands
     (|new - old| > max(noise_old, noise_new)) AND the ratio clears
     RATIO_MIN — sub-band swings are host scheduling, not plans.
  3. A streaming key with data denominators on both sides is compared
     per input row (wall / input_rows); if the per-row ratio is within
     RATIO_MIN the swing is workload growth (more batches/rows), not a
     regression. Unequal batch counts are reported — trigger machinery
     dominates at small SF, so more batches legitimately cost more wall.

Usage: tools/bench_compare.py OLD.json NEW.json [--ratio 1.5]
Exit 1 iff at least one key is classified REGRESSION.

Harness-config normalization (r19, VERDICT r18 item 5): the driver's
per-round snapshots run cpus=32 while the repo's BENCH.json series is
cpus=8, and 32 threads over sf0.1's tiny partitions pay per-key scheduler
overhead (a broad 1.1-1.3x tide on UNCHANGED plans, adjudicated by hand in
r17/r18). Two flags make that adjudication mechanical:

  --emit-normalize OUT.json   compare a cpus=8 and a cpus=32 run of
                              IDENTICAL code and record the per-key
                              settled-time ratio table (+ __median);
  --normalize TABLE.json      divide NEW's per-key times by the table's
                              ratio (keys absent from the table use the
                              table's __median) before classification —
                              i.e. compare a cpus=32 snapshot against the
                              cpus=8 series in cpus=8 units.
"""
import json
import sys


def settled(bench, key):
    """Rule 1: the spaced re-median settles bench-order noise."""
    t = bench["queries"].get(key)
    sp = bench["queries"].get(key + "__spaced")
    if t is None or t < 0:
        return None
    return min(t, sp) if sp is not None and sp >= 0 else t


def classify(key, old, new, ratio_min):
    t0, t1 = settled(old, key), settled(new, key)
    if t0 is None or t1 is None:
        return None
    # Bench records noise as a RELATIVE spread ((max-min)/median), so the
    # absolute tolerance is each round's spread scaled by its own median
    band = max(old.get("noise", {}).get(key, 0.0) * t0,
               new.get("noise", {}).get(key, 0.0) * t1)
    note = ""
    if t1 <= t0 * ratio_min:
        verdict = "ok" if t1 >= t0 / ratio_min else "faster"
    elif abs(t1 - t0) <= band:
        verdict, note = "noise", f"within band {band:.2f}s"
    else:
        verdict = "regression"
        d0 = old.get("data", {}).get(key, {})
        d1 = new.get("data", {}).get(key, {})
        r0, r1 = d0.get("inputRows"), d1.get("inputRows")
        if r0 and r1:  # rule 3: normalize by data actually processed
            per0, per1 = t0 / r0, t1 / r1
            if per1 <= per0 * ratio_min:
                verdict = "workload"
                note = (f"per-row {per0 * 1e6:.1f}->{per1 * 1e6:.1f} us, "
                        f"rows {r0}->{r1}")
            else:
                note = f"per-row up {per1 / per0:.2f}x (rows {r0}->{r1})"
            b0, b1 = d0.get("batches"), d1.get("batches")
            if b0 and b1 and b0 != b1:
                note += f", batches {b0}->{b1}"
        elif d1:
            note = "denominators (new only): " + json.dumps(d1)
    # rule 4 (r17): plan fingerprints decide "plan change" vs "host/data"
    p0 = old.get("plans", {}).get(key)
    p1 = new.get("plans", {}).get(key)
    if p0 and p1 and verdict not in ("ok", "faster"):
        note = (note + "; " if note else "") + (
            f"PLAN CHANGED {p0}->{p1}" if p0 != p1 else "same plan")
    return (key, t0, t1, verdict, note)


def main(argv):
    # option VALUES must not be mistaken for positional file args
    args, skip = [], set()
    for i, a in enumerate(argv):
        if i in skip:
            continue
        if a.startswith("--"):
            if "=" not in a and a not in ("--",):
                skip.add(i + 1)
        else:
            args.append(a)
    ratio_min = 1.5
    emit_normalize = normalize = None
    def opt_val(flag):
        for i, a in enumerate(argv):
            if a.startswith(flag):
                if "=" in a:
                    return a.split("=", 1)[1]
                if i + 1 >= len(argv) or argv[i + 1].startswith("--"):
                    print(f"usage: {flag} requires a value", file=sys.stderr)
                    sys.exit(2)
                return argv[i + 1]
        return None
    for a in argv:
        if a.startswith("--ratio"):
            ratio_min = float(opt_val("--ratio"))
    emit_normalize = opt_val("--emit-normalize")
    normalize = opt_val("--normalize")
    def obj_at(s, i):
        """json.loads the brace-balanced object starting at s[i]."""
        depth = 0
        for j in range(i, len(s)):
            depth += s[j] == "{"
            depth -= s[j] == "}"
            if depth == 0:
                return json.loads(s[i:j + 1])
        raise ValueError("unbalanced object")

    def salvage(tail):
        """Best-effort parse of the driver's 2000-char, front-truncated
        stdout tail: recover whatever of the queries/noise/data maps
        survived. queries is the first map, so when its opening brace is
        cut off the leading complete pairs are still a usable SUBSET."""
        out = {"queries": {}, "noise": {}, "data": {}, "plans": {}}
        for name in out:
            i = tail.find(f'"{name}":{{')
            if i >= 0:
                # the opening '{' sits right after '"name":' (quote + name
                # + quote + colon = len + 3)
                out[name] = obj_at(tail, i + len(name) + 3)
        if not out["queries"]:
            # the leading cut-off fragment belongs to whichever section
            # PRECEDES the first intact marker (artifact field order is
            # fixed) — only a queries fragment is usable; anything else
            # (a noise/errors fragment) must not masquerade as times
            # mirrors the artifact's fixed field order (Bench.scala's emit
            # line) EXACTLY — including "plans" between data and notes —
            # or the preceding-section attribution is off by one for cuts
            # landing in/around the omitted section
            order = ["queries", "errors", "noise", "builds", "data",
                     "plans", "notes", "sf"]
            nxt = min((tail.find(f'"{n}":') for n in order
                       if tail.find(f'"{n}":') >= 0), default=-1)
            first = next((n for n in order if tail.find(f'"{n}":') == nxt),
                         None)
            if first and order.index(first) == 1:  # fragment is queries'
                head = tail[:nxt].rsplit("}", 2)[0]
                head = head.split(",", 1)[-1]  # drop the cut-off pair
                out["queries"] = json.loads("{" + head + "}")
                print(f"[warn] front-truncated driver tail: comparing the "
                      f"{len(out['queries'])} surviving query entries only")
            else:
                raise SystemExit(
                    f"{'(unknown)' if not first else first}: the truncated "
                    "tail holds no query times — compare full BENCH.json "
                    "snapshots (git history) instead")
        return out

    def load(path):
        b = json.load(open(path))
        if "queries" in b:
            return b  # the repo's BENCH.json IS the bench line
        # the driver's per-round BENCH_r{N}.json: parsed line, or a
        # truncated stdout tail to salvage
        return b["parsed"] if b.get("parsed") else salvage(b["tail"])
    old = load(args[0])
    new = load(args[1])
    if emit_normalize:
        # identical-code pair: OLD = the series config (cpus=8), NEW = the
        # driver config (cpus=32); the per-key settled ratio IS the
        # harness-config factor. Sub-0.2s keys are scheduler noise at both
        # configs — they fall back to the table's __median at apply time.
        table = {}
        for k in new["queries"]:
            if k.endswith("__spaced"):
                continue
            t0, t1 = settled(old, k), settled(new, k)
            # BOTH sides must clear the noise floor: a tiny noisy NEW time
            # over a real OLD time (or vice versa) is an outlier ratio,
            # not a harness-config factor
            if t0 is not None and t1 is not None and t0 >= 0.2 and t1 >= 0.2:
                table[k] = round(t1 / t0, 4)
        med = sorted(table.values())[len(table) // 2] if table else 1.0
        table["__median"] = med
        json.dump(table, open(emit_normalize, "w"), indent=1, sort_keys=True)
        print(f"wrote {len(table) - 1} per-key cpus factors to "
              f"{emit_normalize} (median {med:.2f}x)")
        return 0
    if normalize:
        table = json.load(open(normalize))
        med = table.get("__median", 1.0)
        for k in list(new["queries"]):
            base = k[:-8] if k.endswith("__spaced") else k
            f = table.get(base, med)
            if new["queries"][k] is not None and new["queries"][k] >= 0 and f > 0:
                new["queries"][k] = new["queries"][k] / f
        print(f"normalized NEW by {normalize} "
              f"(per-key factors, median fallback {med:.2f}x)\n")
    keys = [k for k in new["queries"] if not k.endswith("__spaced")
            and not k.endswith("_build")  # legacy pre-r17 builds-in-queries
            and k in old["queries"]]
    rows = [r for r in (classify(k, old, new, ratio_min) for k in keys) if r]
    rows.sort(key=lambda r: r[2] - r[1], reverse=True)
    regressions = 0
    print(f"{'key':34} {'old':>8} {'new':>8} {'x':>6}  verdict")
    for key, t0, t1, verdict, note in rows:
        if verdict == "ok" and abs(t1 - t0) < 0.2:
            continue  # keep the report readable: parity keys are silent
        regressions += verdict == "regression"
        print(f"{key:34} {t0:8.2f} {t1:8.2f} {t1 / t0:6.2f}  "
              f"{verdict.upper()}" + (f" ({note})" if note else ""))
    # keys whose settled time is None on either side (Bench's -1.0 error
    # sentinel) are already absent from the per-key table; keep them out
    # of the sums too
    both = [(settled(old, k), settled(new, k)) for k in keys]
    both = [(a, b) for a, b in both if a is not None and b is not None]
    common0 = sum(a for a, _ in both)
    common1 = sum(b for _, b in both)
    print(f"\ncommon-key settled sum: {common0:.1f} -> {common1:.1f} s "
          f"({common1 / common0:.2f}x over {len(both)} keys); "
          f"{regressions} regression(s)")
    # streaming SERVING-COST report (r18, the r17 instrument's last mile):
    # for every key carrying streaming batch counters on both sides,
    # normalize the settled wall by micro-batches and by input rows —
    # scheduler latency scales with batches and data with rows, so these
    # two columns ARE the cross-round comparison for streaming keys; the
    # headline wall is only their product with workload shape.
    stream = [k for k in keys
              if old.get("data", {}).get(k, {}).get("batches")
              and new.get("data", {}).get(k, {}).get("batches")]
    if stream:
        print("\nstreaming serving cost (settled wall normalized by "
              "data counters):")
        print(f"{'key':34} {'s/batch':>15} {'x':>6} {'us/row':>17} {'x':>6}")
        for k in stream:
            t0, t1 = settled(old, k), settled(new, k)
            d0, d1 = old["data"][k], new["data"][k]
            pb0, pb1 = t0 / d0["batches"], t1 / d1["batches"]
            line = f"{k:34} {pb0:6.2f} ->{pb1:6.2f} {pb1 / pb0:6.2f}"
            r0, r1 = d0.get("inputRows"), d1.get("inputRows")
            if r0 and r1:
                pr0, pr1 = t0 / r0 * 1e6, t1 / r1 * 1e6
                line += f" {pr0:7.1f} ->{pr1:7.1f} {pr1 / pr0:6.2f}"
            print(line)
    return 1 if regressions else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
