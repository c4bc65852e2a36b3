"""Turn a run's records into metrics.

End-to-end metrics (untraced runs) come from the JVM program's own timers, the
table listings and the checks. Per-layer metrics (traced runs) add the
spans: op -> Spark job -> stage from the SparkListener, micro-batches from
the StreamingQueryListener, and the kernels timed on their own.
"""
import json
import math
import statistics

import gen

# The op whose latency a workload's users feel; `serve` also runs SQL
# scans, which count in its throughput and in the traced breakdown.
PRIMARY = {"serve": "knn", "ingest": "arrival", "curate": "chain"}
# a failed op counts as slower than any latency limit
FAILED_MS = 1e9
# Host-speed normalization: the JVM program times a fixed graft-free Spark
# SQL query just before and just after the timed window (never between
# ops). The JVM program's timings are scaled by REF_NOMINAL_MS / (the run's
# median reference wall), i.e. reported as if the reference had taken
# REF_NOMINAL_MS; a shared host's speed drifts by tens of percent over
# minutes, and this divides that drift out of both sides of a comparison.
# Input generation runs in Python, outside the JVM, and is not scaled.
REF_NOMINAL_MS = 120.0
# per-layer metrics only the curate workload exercises; curate is not in
# BENCHMARK.json (see README.md), so the other workloads do not print them
CURATE_ONLY = ("lance.write_s", "lance.output_files", "operators.dedup_s",
               "operators.score_s", "operators.sample_s")


def pct(values, p):
    """Linear-interpolation percentile (numpy's default)."""
    v = sorted(values)
    if not v:
        return 0.0
    x = (len(v) - 1) * p / 100.0
    lo, hi = math.floor(x), math.ceil(x)
    if v[hi] == math.inf:
        return FAILED_MS
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def _lat(results, verdicts, kind):
    return [r["wall_ms"] if v.ok else math.inf
            for r, v in zip(results, verdicts) if r["type"] == kind]


def _items(workload, r, v):
    """Units of work an op completed: queries, documents ingested, or
    documents curated."""
    if not v.ok:
        return 0
    if workload == "serve":
        return 1
    if workload == "ingest":
        return gen.INGEST_DOCS_PER_ARRIVAL
    return r["result"]["n_in"]


def _input_bytes(workload, run, info):
    if workload == "serve":
        return info["input_bytes"]
    if workload == "ingest":
        return run["landed_bytes"]
    return info["corpus"]["bytes"]


def slowdown(run):
    """How much slower than nominal the host ran during this run."""
    return statistics.median(run["ref_ms"]) / REF_NOMINAL_MS


def end_to_end(workload, run, results, verdicts, gen_s, info):
    lat = _lat(results, verdicts, PRIMARY[workload])
    prim = [v for r, v in zip(results, verdicts) if r["type"] == PRIMARY[workload]]
    wall_s = sum(r["wall_ms"] for r in results) / 1000.0
    items = sum(_items(workload, r, v) for r, v in zip(results, verdicts))
    k = slowdown(run)
    setup_jvm = run["session_start_s"] + statistics.median(run["setup_reps_s"])
    m = {
        "setup_s": (gen_s + setup_jvm / k, "s"),
        "op_p50_ms": (min(FAILED_MS, pct(lat, 50) / k), "ms"),
        "op_p90_ms": (min(FAILED_MS, pct(lat, 90) / k), "ms"),
        "items_s": (items / wall_s * k if wall_s else 0.0, "1/s"),
        "recall": (statistics.mean(v.recall for v in prim) if prim else 0.0, "ratio"),
        "stored_bytes_ratio": (run["stored_bytes"] / _input_bytes(workload, run, info), "ratio"),
        "live_heap_mb": (run["live_heap_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def read_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union_ms(intervals, lo, hi):
    """Length of the union of [s, e] intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def per_layer(workload, run, results, verdicts, spans):
    ops = {r["id"]: r for r in results}
    n = max(1, len(results))
    jobs = [s for s in spans if s["kind"] == "job"]
    op_jobs = [j for j in jobs if j["parent"] in ops]
    job_op = {j["id"]: j["parent"] for j in op_jobs}
    stages = [s for s in spans if s["kind"] == "stage" and s["parent"] in job_op]
    window = next((s["start"] for s in spans if s["kind"] == "mark"), 0)
    stray = [j for j in jobs if j["parent"] not in ops and j["start"] >= window
             and any(r["start"] <= j["start"] <= r["end"] for r in results)]

    def tot(key):
        return sum(s[key] for s in stages)

    op_wall_ms = sum(r["wall_ms"] for r in results)
    outside = []
    for r in results:
        iv = [(j["start"], j.get("end", r["end"])) for j in op_jobs if j["parent"] == r["id"]]
        outside.append(max(0.0, r["wall_ms"] - _union_ms(iv, r["start"], r["end"])))

    m = {
        "lance.rows_scanned_per_op": (tot("input_rows") / n, "count"),
        # the Lance scan reports rows but not bytes to Spark's input
        # metrics; bytes come from Hadoop's file system counters instead
        "lance.bytes_scanned_per_op": (sum(r["fs_read_bytes"] for r in results) / n, "B"),
        "exec.jobs_per_op": (len(op_jobs) / n, "count"),
        "exec.stages_per_op": (len(stages) / n, "count"),
        "exec.tasks_per_op": (tot("tasks") / n, "count"),
        "exec.task_run_ms_per_op": (tot("run_ms") / n, "ms"),
        "exec.task_cpu_ms_per_op": (tot("cpu_ms") / n, "ms"),
        "exec.gc_ms_per_op": (tot("gc_ms") / n, "ms"),
        "exec.shuffle_write_bytes_per_op": (tot("shuffle_write_bytes") / n, "B"),
        "exec.shuffle_read_bytes_per_op": (tot("shuffle_read_bytes") / n, "B"),
        "exec.spill_bytes_per_op": (tot("spill_bytes") / n, "B"),
        "exec.core_busy_ratio": (tot("run_ms") / (op_wall_ms * run["cores"]) if op_wall_ms else 0.0,
                                 "ratio"),
        "exec.unattributed_jobs": (len(stray), "count"),
        "driver.outside_jobs_ms_per_op": (statistics.mean(outside) if outside else 0.0, "ms"),
        "exec.peak_rss_mb": (run["peak_rss_mb"], "MB"),
    }

    # storage figures from the table listings
    commits = files = live = load_ms = out_files = 0.0
    if workload == "ingest":
        commits = run["commits"] / n
        files = run["data_files_written"] / n
        live = run["live_fragments_end"]
        load_ms = statistics.mean(run["manifest_load_ms"]) if run["manifest_load_ms"] else 0.0
    if workload == "curate":
        commits = run["commits"]
        files = out_files = run["output_files"]
    m["lance.commits_per_arrival"] = (commits, "count")
    m["lance.files_written_per_arrival"] = (files, "count")
    m["lance.live_fragments_end"] = (live, "count")
    m["lance.manifest_load_ms"] = (load_ms, "ms")

    # the curate chain's steps, timed by the JVM program
    steps = [r["result"]["steps_s"] for r in results if r["ok"] and workload == "curate"]

    def step(*names):
        return statistics.median(sum(s[k] for k in names) for s in steps) if steps else 0.0
    m["lance.write_s"] = (step("write"), "s")
    m["lance.output_files"] = (out_files, "count")
    m["operators.dedup_s"] = (step("exact", "canonical"), "s")
    m["operators.score_s"] = (step("score"), "s")
    m["operators.sample_s"] = (step("sample"), "s")
    builds = run.get("index_build_s", [])
    m["operators.index_build_s"] = (statistics.median(builds) if builds else 0.0, "s")

    k = run.get("kernels", {})
    for name in ("vec_l2_rows_s", "pq_adc_rows_s", "nearest_cell_rows_s", "band_keys_rows_s"):
        m[f"functions.{name}"] = (k.get(name, 0.0), "1/s")

    # streaming: micro-batches belong to the arrival whose wall holds them
    arrivals = [r for r in results if r["type"] == "arrival"]
    batches = [s for s in spans if s["kind"] == "batch"]
    per = []
    for r in arrivals:
        bs = [b for b in batches if r["start"] <= b["start"] <= r["end"]]
        trig = sum(b["trigger_ms"] for b in bs)
        add = sum(b["add_batch_ms"] for b in bs)
        per.append((len(bs), add, trig - add, r["wall_ms"] - trig))
    na = max(1, len(arrivals))
    m["streaming.batches_per_arrival"] = (sum(p[0] for p in per) / na, "count")
    m["streaming.add_batch_ms_per_arrival"] = (sum(p[1] for p in per) / na, "ms")
    m["streaming.machinery_ms_per_arrival"] = (sum(p[2] for p in per) / na, "ms")
    m["streaming.start_ms_per_arrival"] = (sum(p[3] for p in per) / na, "ms")

    # the traced run's own primary latency: against the untraced runs'
    # op_p50_ms it gives the tracing overhead (compare.py prints it)
    m["trace.op_p50_ms"] = (pct(_lat(results, verdicts, PRIMARY[workload]), 50) / slowdown(run),
                            "ms")
    m["host.reference_ms"] = (statistics.median(run["ref_ms"]), "ms")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()
            if workload == "curate" or k not in CURATE_ONLY}
