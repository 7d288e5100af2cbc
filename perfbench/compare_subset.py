#!/usr/bin/env python3
"""Check query_suite's query list against its rule and compare its layer profile.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 10 \\
        --trace 1 --queries all --timeout 900 --out-dir .perfbench/full
    python3 perfbench/compare_subset.py .perfbench/full/trace-query_suite-seed1.json

Reads the per-query rows of a traced run over all queries. It derives the
list from the rule in queries.txt (one asset builder of that run's cold
pass per asset operator, the queries whose definition calls Spread, the
median query of each pack)
and reports any query the list lacks or has in excess; it exits 1 if there
is one. Then it prints, for the listed queries and for all of them, the
shares that the per-layer metrics are made of: jobs, exchanges and
FrameCache assets per query, the construct, catalyst and busy shares of
the warm wall, the cold/warm ratio, the codegen share of the cold wall and
the operator share of the jobs.
"""
import argparse
import glob
import json
import os
import re

BENCH = os.path.dirname(os.path.abspath(__file__))
PACKS = os.path.join(os.path.dirname(BENCH), "src", "main", "scala", "graft", "queries")
QUERY = re.compile(r'^\s*"(q_\w+)"\s*->\s*\(\(', re.M)
# operator files that persist assets under the FrameCache root
ASSET_OPERATORS = {"FrameCache", "DedupIndex", "VectorIndex"}


def rule(rows):
    """The query list the rule in queries.txt selects, with each reason."""
    pack, spread = {}, set()
    for f in sorted(glob.glob(os.path.join(PACKS, "*Queries.scala"))):
        src = open(f).read()
        starts = [(m.start(), m.group(1)) for m in QUERY.finditer(src)]
        for i, (at, q) in enumerate(starts):
            pack[q] = os.path.basename(f)[:-len("Queries.scala")]
            end = starts[i + 1][0] if i + 1 < len(starts) else len(src)
            if re.search(r"\bSpread\b", src[at:end]):
                spread.add(q)
    chosen = {}
    for q in sorted(rows):
        kinds = set(rows[q]["operator_jobs"]) & ASSET_OPERATORS
        if rows[q]["cold_assets"] > 0 and not kinds & {chosen[c] for c in chosen}:
            chosen[q] = min(kinds)
    chosen.update({q: "spread" for q in spread if q not in chosen})
    by_pack = {}
    for q, r in rows.items():
        by_pack.setdefault(pack[q], []).append((r["jobs"], q))
    for p, qs in by_pack.items():
        q = sorted(qs)[(len(qs) - 1) // 2][1]
        chosen.setdefault(q, f"pack median: {p}")
    return {q: r if r.startswith(("spread", "pack")) else f"builder: {r}"
            for q, r in chosen.items()}


def profile(rows, cores):
    def total(k):
        return sum(r[k] for r in rows)
    n = len(rows)
    warm, cold, jobs = total("warm_ms"), total("cold_ms"), total("jobs")
    op_jobs = sum(sum(r["operator_jobs"].values()) for r in rows)
    return {
        "queries": n,
        "warm ms per query": warm / n,
        "jobs per query": jobs / n,
        "exchanges per query": total("exchanges") / n,
        "construct share of warm": total("construct_ms") / warm,
        "catalyst share of warm": total("catalyst_ms") / warm,
        "busy ratio (warm)": total("run_ms") / (warm * cores),
        "operator share of jobs": op_jobs / jobs,
        "cold / warm": cold / warm,
        "codegen share of cold": total("cold_compile_ms") / cold,
        "FrameCache assets per query": total("cold_assets") / n,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace", help="trace file of a traced run with --queries all")
    ap.add_argument("--queries", default=os.path.join(BENCH, "queries.txt"))
    a = ap.parse_args()
    with open(a.trace) as f:
        t = json.load(f)
    rows = t["counts"]["per_query"]
    with open(a.queries) as f:
        subset = [l.split("#")[0].strip() for l in f]
    subset = [q for q in subset if q]
    missing = [q for q in subset if q not in rows]
    if missing:
        raise SystemExit(f"not in the trace: {missing}")
    want = rule(rows)
    lacking = sorted(set(want) - set(subset))
    excess = sorted(set(subset) - set(want))
    for q in lacking:
        print(f"the rule selects {q} ({want[q]}), the list lacks it")
    for q in excess:
        print(f"the list has {q}, the rule does not select it")
    sub = profile([rows[q] for q in subset], t["cores"])
    full = profile(list(rows.values()), t["cores"])
    print(f"{'':30s} {'listed':>10s} {'all':>10s}")
    for k in full:
        print(f"{k:30s} {sub[k]:10.3f} {full[k]:10.3f}")
    return 1 if lacking or excess else 0


if __name__ == "__main__":
    raise SystemExit(main())
