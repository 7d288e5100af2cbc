#!/usr/bin/env python3
"""Scale continuation probe of the ADAPTIVE family (VERDICT r13 item 2,
round 14; driver-side tooling like scaleprobe.py — NOT library code).

The decade table tops out at 10x; the scale-adaptive knobs — rp-band
width r ~ log n, SemDeDup/IVF k ~ ceil(n/64), PQ probe caps,
GlobalRowNumber bucket counts — claim constant occupancy at ANY scale.
This probe builds the perturbed replica at the given factor
(scaleprobe.build: Caesar-shifted text, independent sign-flip masks — no
manufactured near-dups), runs the factor's query list at 1x and at the
factor, runs the occupancy stats main at both scales, and writes
bench/results/scale<factor>-r14.json.

The factor selects the query list:
  32  — the whole adaptive family.
  128 — pushes the sub-linearity claim two more doublings for the queries
        whose scale behavior is carried by the banded-LSH knobs themselves
        (band width r ~ log n, hot-bucket chunking, earliest-co-band
        emission, signature canonicalization, GlobalRowNumber bucket
        counts) — the pair-listing / canonicalization dedup surface. The
        Lloyd-trained members (IVF / PQ / SemDeDup) are deliberately OUT:
        their bench-visible search paths were flat at 32x, and their TRAIN
        cost is O(n·k) with the adaptive k = ceil(n/64) — a maintenance-job
        cost that is priced and documented separately (DEPLOYMENT.md:
        bound k or train on a sample at real scale), not something to
        launder through a query-wall ratio.

PASS = every query's wall ratio <= the data factor (sub-linear
continuation) and the rp-band bucket occupancy distribution is flat
(avg stays ~target while n grows). Exits 1 on a super-linear query.

Usage: tools/scale32.py [factor (32|128, default 32)] [out.json]
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import scaleprobe

QUERIES = {
    32: ("q_dedup_embedding,q_ann_lsh,q_embed_dedup_canon,q_semdedup,"
         "q_ann_ivf,q_ann_pq,q_ivf_probe_stats,q_jaccard_topk_lsh,"
         "q_corpus_shuffle,q_mix_materialize,q_dedup_minhash_lsh,"
         "q_simhash_pairs"),
    128: ("q_dedup_embedding,q_ann_lsh,q_jaccard_topk_lsh,"
          "q_simhash_pairs,q_dedup_minhash_lsh,q_embed_dedup_canon,"
          "q_corpus_shuffle,q_mix_materialize"),
}

ADD_OPENS = [a for p in (
    "java.lang java.lang.invoke java.lang.reflect java.io java.net "
    "java.nio java.util java.util.concurrent java.util.concurrent.atomic "
    "sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar").split()
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

CP = "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
TEST_CP = "/root/repo/target/scala-2.13/test-classes:" + CP


def bench(dest, queries):
    # single timed pass at BOTH scales (the decade-run convention): the
    # probe statistic is a cross-scale ratio, so the pass discipline just
    # has to match across scales — and 3 passes at 32x data would triple
    # a long run for no extra ratio information
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=dest, SPARK_GRAFT_CPUS="32",
               SPARK_GRAFT_PASSES="1",
               SPARK_GRAFT_ONLY=queries, SPARK_GRAFT_BENCH_OUT="off")
    out = subprocess.run(
        ["java", "-Xmx48g", *ADD_OPENS, "-cp", CP, "graft.Bench"],
        env=env, capture_output=True, text=True)
    rec = next(json.loads(l) for l in reversed(out.stdout.strip().splitlines())
               if '"queries"' in l)
    for e in rec.get("errors", []):
        print(f"  DNF at {dest}: {e}", file=sys.stderr)
    return rec["queries"]


def occupancy(dest):
    out = subprocess.run(
        ["java", "-Xmx48g", *ADD_OPENS, "-cp", TEST_CP,
         "graft.queries.ScaleProbeStatsMain", dest],
        env=dict(os.environ, SPARK_GRAFT_CPUS="32"),
        capture_output=True, text=True)
    return next(json.loads(l) for l in reversed(out.stdout.strip().splitlines())
                if l.startswith("{"))


def main():
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    if factor not in QUERIES:
        sys.exit(f"factor must be one of {sorted(QUERIES)}, not {factor}")
    out_path = sys.argv[2] if len(sys.argv) > 2 else \
        f"bench/results/scale{factor}-r14.json"
    dest1, destn = "/tmp/scale1x", f"/tmp/scale{factor}x"
    scaleprobe.build(1, dest1)
    print("built 1x", file=sys.stderr)
    scaleprobe.build(factor, destn)
    print(f"built {factor}x", file=sys.stderr)

    q1 = bench(dest1, QUERIES[factor])
    print("benched 1x", file=sys.stderr)
    qn = bench(destn, QUERIES[factor])
    print(f"benched {factor}x", file=sys.stderr)
    occ1, occn = occupancy(dest1), occupancy(destn)

    rows, over = [], []
    print(f"{'query':24s} {'1x':>8s} {f'{factor}x':>8s} {'ratio':>7s}")
    for q in sorted(set(q1) | set(qn)):
        a, b = q1.get(q), qn.get(q)
        ratio = (b / a) if a and b else None
        rows.append((q, a, b, ratio))
        if ratio and ratio > factor:
            over.append(q)
        print(f"{q:24s} {a or -1:8.2f} {b or -1:8.2f} "
              f"{ratio if ratio else -1:7.2f}")
    ratios = sorted(r for _, _, _, r in rows if r)
    med = ratios[len(ratios) // 2] if ratios else None
    print(f"\nmedian_ratio={med:.2f} worst={max(ratios):.2f} "
          f"over_{factor}x={over}")
    print(f"occupancy 1x : {occ1}")
    print(f"occupancy {factor}x: {occn}")

    rec = {
        "queries_1x": q1, f"queries_{factor}x": qn,
        "ratios": {q: r for q, _, _, r in rows if r},
        "median_ratio": med, "worst_ratio": max(ratios),
        f"over_{factor}x": over,
        "occupancy_1x": occ1, f"occupancy_{factor}x": occn,
        "method": "one warmup + one timed Bench pass per scale; "
                  "perturbed replicas (scaleprobe.build)",
    }
    with open(out_path, "w") as f:
        json.dump(rec, f, indent=1)
    print(f"wrote {out_path}")
    sys.exit(1 if over else 0)


if __name__ == "__main__":
    main()
