#!/usr/bin/env python3
"""Steadiness self-test: exact counts must repeat across same-seed runs.

    python3 perfbench/selftest.py [--seed 7] [workload ...]

Runs every named workload (default: all three) twice with --trace 1 and
the same seed, then compares the counts the trace files carry: Spark jobs
per query (cold and warm pass) and FrameCache assets built on query_suite;
HTTP requests and bytes and loaded rows per table on batch_pipelines; jobs
per micro-batch of both streams on stream_ingest (over the batch ids both
runs traced). Exits 1 on any difference.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ["query_suite", "batch_pipelines", "stream_ingest"]


def exact_counts(workload, trace):
    c, l = trace["counts"], trace["layers"]
    if workload == "query_suite":
        return {"jobs_per_query": c["jobs_per_query"],
                "cold_jobs_per_query": c["cold_jobs_per_query"],
                "exec.jobs": l["exec.jobs"],
                "operators.FrameCache.cold_assets_built": l["operators.FrameCache.cold_assets_built"],
                "operators.FrameCache.assets_built": l["operators.FrameCache.assets_built"]}
    if workload == "batch_pipelines":
        # jobs per pipeline run are not compared: two same-seed runs have
        # counted 90 and 91 jobs for one CurateRun
        return {"sources.http_requests": l["sources.http_requests"],
                "sources.http_bytes": l["sources.http_bytes"],
                "load.rows": l["load.rows"], "load_rows": c["load_rows"]}
    return {"curate_jobs_per_batch": c["curate_jobs_per_batch"],
            "vector_jobs_per_batch": c["vector_jobs_per_batch"]}


def common(a, b):
    """Restrict per-batch maps to the batch ids both runs traced."""
    for k in ("curate_jobs_per_batch", "vector_jobs_per_batch"):
        if k in a:
            ids = sorted(set(a[k]) & set(b[k]))
            if not ids:
                return None
            a[k] = {i: a[k][i] for i in ids}
            b[k] = {i: b[k][i] for i in ids}
    return a, b


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("workloads", nargs="*", default=WORKLOADS)
    a = ap.parse_args()
    ok = True
    for w in a.workloads:
        traces = []
        for run in ("a", "b"):
            out = os.path.join(ROOT, ".perfbench", "selftest", w, run)
            shutil.rmtree(out, ignore_errors=True)
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                 "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "1",
                 "--out-dir", out], capture_output=True, text=True)
            if p.returncode != 0:
                print(f"{w}: run {run} failed: {p.stderr.strip()}")
                return 1
            with open(os.path.join(out, f"trace-{w}-seed{a.seed}.json")) as f:
                trace = json.load(f)
            print(f"{w}: run {run} trace.overhead_ratio "
                  f"{trace['layers']['trace.overhead_ratio']:.3f}")
            traces.append(exact_counts(w, trace))
        pair = common(*traces)
        if pair is None:
            print(f"{w}: the two runs traced no common micro-batch")
            ok = False
            continue
        same = pair[0] == pair[1]
        ok &= same
        print(f"{w}: {'same' if same else 'DIFFERENT'} {json.dumps(pair[0], sort_keys=True)}")
        if not same:
            print(f"{w}: second run {json.dumps(pair[1], sort_keys=True)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
