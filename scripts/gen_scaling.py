#!/usr/bin/env python
"""Regenerate SCALING.md from the committed bench_results/ sweeps.

Round-2 advice fix: the old report normalized every query's
sf0.01→sf0.1 growth against a blanket "10x data", but the embeddings
table grows only 4x across that step (500→2000 rows, vs 10x for every
row-scaled table), so embeddings-backed queries looked sublinear when
they were ~linear in their actual input. This generator classifies
each query by its input tables and reports growth ÷ input growth
(the normalized ratio: ~1.0 = linear in its own input, > 1 =
super-linear — the scale-bug signal the anchor exists to catch).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SFS = ("0.001", "0.01", "0.1")

# per-table row growth over the sf0.01 -> sf0.1 step (TESTDATA.md;
# verified against the parquet row counts)
GROWTH_DEFAULT = 10.0   # lineitem/orders/customer/supplier/part/events/documents
GROWTH_EMBEDDINGS = 4.0

# documented causes for queries measured above 1.0 normalized growth —
# anything NOT in this dict that crosses 1.0 renders as "unexplained"
KNOWN_SUPRALINEAR = {
    "dedup_prefix_join": (
        "`dedup_prefix_join`: exact verify over the candidate PAIR set, "
        "which grows ~quadratically on this duplication-dense fixture "
        "(310k pairs at sf0.1 vs 777 at sf0.01 — dup clusters scale "
        "with the corpus); the sibling exact join `dedup_ngram_jaccard` "
        "sits just under 1.0 for the same reason. Both exact forms are "
        "the ORACLES of the scale path (`dedup_minhash_lsh`, sublinear "
        "here) — at 100 TB you run the LSH rung and sample-verify; the "
        "docstring documents the regime where prefix filtering wins."),
    "view_low_util_ec2_no_tags": (
        "`view_low_util_ec2_no_tags`: pass-start stall ATTRIBUTION, not "
        "plan cost — the no-tags twin is a pure scan+project measured "
        "0.25 s solo at sf0.1 (sub-linear) and 0.19 s immediately after "
        "an explicit JVM GC, but as the 2nd query of a full-sweep pass "
        "it recurrently absorbs a ~3 s environment stall the r9 "
        "pass-boundary-GC hygiene reduced but did not eliminate "
        "(reproduced at 8g and 16g driver heap alike). The plan-shape "
        "test pins it to ZERO exchanges; a real regression would show "
        "in the solo reading, not this slot."),
    "dedup_ngram_jaccard": (
        "`dedup_ngram_jaccard`: 1.05 normalized is linear within the "
        "measured same-code band — three same-code sf0.1 sweeps "
        "spanned 0.87–1.19 s for this key (spread 0.32 s, wider than the "
        "distance to 1.0); like its sibling above it is the exact "
        "ORACLE of the LSH scale path, pair-bound by the DF cap."),
}

# queries whose ONLY corpus-scale input is the embeddings table; mixed
# documents+embeddings queries keep the 10x documents side as dominant
_EMB_PREFIXES = ("knn_", "embeddings_", "semdedup_", "kmeans_", "pq_")
_EMB_EXACT = {"dedup_embedding_cosine"}
_EMB_EXCLUDE = {"docs_embedding_integrity", "docs_hybrid_search_rrf"}


def input_growth(key: str) -> float:
    if key in _EMB_EXCLUDE:
        return GROWTH_DEFAULT
    if key in _EMB_EXACT or key.startswith(_EMB_PREFIXES):
        return GROWTH_EMBEDDINGS
    return GROWTH_DEFAULT


def main() -> None:
    root = os.path.join(os.path.dirname(__file__), "..")
    runs = {}
    for sf in SFS:
        with open(os.path.join(root, "bench_results",
                               f"bench_sf{sf}.json")) as f:
            runs[sf] = json.load(f)
    qs = runs["0.1"]["queries"]
    rows = []
    for key in qs:
        if key.startswith("plane:"):
            continue  # one-time session-plane builds have their own
            # rows in bench_results (r11 bench.py attribution); the
            # growth table reads queries only
        t0, t1, t2 = (runs[sf]["queries"].get(key) for sf in SFS)
        if t0 is None or t1 is None or t2 is None or t1 <= 0:
            continue
        g = t2 / t1
        ig = input_growth(key)
        rows.append((key, t0, t1, t2, g, ig, g / ig))
    rows.sort(key=lambda r: -r[6])
    norm = sorted(r[6] for r in rows)
    med = norm[len(norm) // 2]
    p90 = norm[int(len(norm) * 0.9)]
    totals = {sf: runs[sf]["value"] for sf in SFS}
    n = len(rows)

    out = [f"""# SCALING — measured growth across scale factors (round 7)

Method: `bench.py` (1 warm pass + min of 2 timed passes per query, noop
sink) at each driver scale factor on the same local[32] session
configuration; raw outputs committed under `bench_results/`. This file
is GENERATED — rerun `python scripts/gen_scaling.py` after a bench
sweep.

Normalization (round-2 advice fix): the sf0.01→sf0.1 step grows every
row-scaled table 10x (`lineitem` 60k→600k, `events` 10k→100k,
`documents` 500→5000, ...) but `embeddings` only 4x (500→2000), so
each query's growth is divided by ITS OWN dominant input growth
(embeddings-only queries ÷4, everything else ÷10). A normalized ratio
of ~1.0 means linear in its actual input; sustained > 1 is the
super-linear scale-bug signal this anchor exists to catch.

Totals: sf0.001 = {totals['0.001']:.1f}s, sf0.01 = {totals['0.01']:.1f}s,
sf0.1 = {totals['0.1']:.1f}s for {n} queries.
At these sizes per-query fixed cost (job scheduling, codegen cache
hits, Arrow setup) dominates most queries, so the signal is the
per-query growth, not the absolute seconds. Run-to-run variance of
the resident local[32] JVM is ~±10% on the sf0.1 total (measured
49.0s / 53.1s / 53.5s across back-to-back round-3 sweeps of identical
code) — treat total deltas inside that band as noise; the normalized
per-query growth ratios are the regression signal.

Median normalized ratio across all {n} queries: **{med:.2f}**;
90th percentile: {p90:.2f}; max: {norm[-1]:.2f}.

Top queries by NORMALIZED growth (growth ÷ input growth):

| query | sf0.001 | sf0.01 | sf0.1 | growth | input | normalized |
|---|---|---|---|---|---|---|"""]
    for key, t0, t1, t2, g, ig, ng in rows[:20]:
        out.append(f"| `{key}` | {t0:.3f}s | {t1:.3f}s | {t2:.3f}s "
                   f"| {g:.1f}x | {ig:.0f}x | {ng:.2f} |")
    over = [(k, ng) for k, *_, ng in
            [(r[0], *r[1:]) for r in rows] if ng > 1.0]
    if over:
        names = ", ".join(f"`{k}` ({ng:.2f})" for k, ng in over)
        why = []
        for k, _ in over:
            why.append(KNOWN_SUPRALINEAR.get(
                k, f"`{k}`: unexplained — investigate before shipping"))
        out.append(f"""
Reading: {len(over)} quer{'y is' if len(over) == 1 else 'ies are'}
above 1.0 — {names} — with the cause documented per query:
{chr(10).join('- ' + w for w in why)}
Every other query stays at or below ~1 (p90 {p90:.2f}): the
quadratic-risk operators (shared-shingle joins, cluster-blocked
cosine, band joins) stay bounded by their DF caps / learned blocks
exactly as SCALE.md claims.""")
    else:
        out.append(f"""
Reading: every query's normalized ratio stays at or below ~1
(max {norm[-1]:.2f}), i.e. no operator grows faster than its own input
across this window — the quadratic-risk operators (shared-shingle
joins, cluster-blocked cosine, band joins) stay bounded by their DF
caps / learned blocks exactly as SCALE.md claims.""")
    cs_path = os.path.join(root, "bench_results", "core_scaling.json")
    if os.path.exists(cs_path):
        with open(cs_path) as f:
            cs = json.load(f)
        out.append(f"""
## Core-count scaling (r13)

`scripts/bench_core_scaling.py`: 8-vs-32-core pair over a
deterministic ~10x stretch corpus ({cs['replicas']} replicas of sf0.1
with per-replica perturbations that preserve near-dup structure
WITHIN each replica instead of multiplying it across replicas), one
child process per core count (fresh JVM + fresh plane caches), warm
pass + min of 2 timed passes per key. Context (r12 verdict item 6):
at sf0.1 every 8-vs-32 ratio sat at ~1 because each key is
fixed-overhead-bound; this corpus is big enough for ratios to mean
something. The FIRST r13 run (pre-fix) found the serial bottleneck:
every driver table is ONE parquet file with one row group, so scans —
and all narrow work above them, including every corpus mapInPandas
kernel — ran as a single task at any core count. After the fix
(kernel-input repartition sized from the optimizer's input estimate
+ one-time multi-file landing of the row-scaled tables):

| key | 32-core s | 8-core s | 8/32 ratio |
|---|---|---|---|""")
        for key, d in cs["keys"].items():
            out.append(f"| `{key}` | {d['sec_32']:.2f} | {d['sec_8']:.2f} "
                       f"| {d['ratio_8_over_32']} |")
        out.append(f"""
Totals: {cs['total_32']:.1f} s at 32 cores vs {cs['total_8']:.1f} s at
8. Reading: the corpus-kernel keys now parallelize
(`docs_span_scrub` 10.8 -> ~5.4 s vs the pre-fix single-task run,
`docs_ccnet_buckets` 6.7 -> ~4.8, with 8-core ratios clearly below 1
on the kernel-heavy keys), but several multi-second keys still show
ratios ~0.8-1.4 — part environment noise (this sandbox shows
±20-30% run-to-run drift on multi-second readings; `view_low_util_ec2`
spans 8.8-13.5 s across same-code runs), part genuinely
serial/measured-table shapes: `knn_pca_prefix` is the brute-force
recall AUDIT (O(queries x corpus) interpreted-lambda scoring by
design — the gate you run once per trained rotation, not the serving
path), and `dedup_band_tuning` is the 4-config measured price list.
The structural finding stands: input-split parallelism, not operator
shape, was the local scaling ceiling, and the landing/repartition fix
removes it in the same way real multi-split inputs would at cluster
scale.""")
    out.append("""
The absolute numbers are NOT cluster predictions; they are regression
anchors — a future change that pushes a normalized ratio well past 1
(beyond the documented outliers) is a scale bug the next round should
catch by re-running this sweep.""")
    with open(os.path.join(root, "SCALING.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote SCALING.md ({n} queries; median {med:.2f}, "
          f"p90 {p90:.2f}, max {norm[-1]:.2f})")


if __name__ == "__main__":
    main()
