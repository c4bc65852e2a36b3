#!/usr/bin/env python3
"""graft's benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload serve|ingest|curate --seed N \
        --seconds S --trace 0|1 [--self-test]

Run from the root of a graft checkout. The first run builds graft and the
benchmark program from source with sbt (offline); later runs reuse the build
while the sources are unchanged. Each run generates its inputs from the
seed, drives graft from a single client thread in a closed loop for the
given seconds, checks every answer, and prints as its last stdout line
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. --self-test also
feeds every check corrupted answers and fails unless each is caught by
the check it targets.
See README.md in this directory.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("serve", "ingest", "curate")
JVM_HEAP = "3g"
# the JVM options spark-submit would add on JDK 17
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def source_stamp(root):
    """Digest of everything the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, deadline):
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    log("building graft and the benchmark program (sbt)")
    t = time.time()
    # offline: every dependency comes from the local caches
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                   cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, check=True,
                   timeout=max(60, deadline - time.time()))
    log(f"build done in {time.time() - t:.1f}s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip(), True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    started = time.time()

    root = os.path.dirname(HERE)
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log(f"no graft sources next to {HERE}: run from the root of a graft checkout")
        sys.exit(2)
    classpath, built_now = build(root, started + 840)

    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    t = time.time()
    info = gen.GENERATORS[a.workload](a.seed, inputs)
    gen_s = time.time() - t
    print(f"inputs: workload={a.workload} seed={a.seed} digest={info['digest']} "
          f"sizes={json.dumps({k: v for k, v in info.items() if k != 'digest'})}", flush=True)

    cores = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", *ADD_OPENS, "-cp", classpath,
           "graft.perfbench.Main", "--workload", a.workload, "--work", work,
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores)]
    # the first run of a checkout may spend up to 900 s, most of it building
    limit = 890 if built_now else 175
    try:
        subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, check=True,
                       timeout=max(30, limit - (time.time() - started)))
    except subprocess.CalledProcessError as e:
        log(f"benchmark program failed with exit code {e.returncode}")
        sys.exit(1)

    out = os.path.join(work, "out")
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    with open(os.path.join(out, "results.jsonl")) as f:
        results = [json.loads(line) for line in f if line.strip()]
    checker = checks.CHECKERS[a.workload](inputs, out)
    verdicts = [checker.check(r) for r in results]
    for r, v in zip(results, verdicts):
        if not v.ok:
            log(f"op {r['id']} failed: {r.get('error') or v.why}")

    if a.trace:
        spans = metrics.read_spans(os.path.join(out, "spans.jsonl"))
        m = metrics.per_layer(a.workload, run, results, verdicts, spans)
    else:
        m = metrics.end_to_end(a.workload, run, results, verdicts, gen_s, info)
    failed = sum(1 for v in verdicts if not v.ok)
    result = {"correct": failed == 0 and len(results) > 0, "attempted": len(results),
              "failed": failed, "metrics": m}

    if a.self_test:
        tally = checks.self_test(checker, results)
        for check, (caught, total) in sorted(tally.items()):
            log(f"self-test: {check}: {caught}/{total} corrupted answers caught by this check")
        if not tally or any(c != t for c, t in tally.values()):
            sys.exit(3)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
