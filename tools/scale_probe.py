"""Scaling probe → SCALING.md: how headline queries scale with data size.

Runs a shape-diverse subset of the headline queries at sf0.001 / sf0.01 /
sf0.1 (10x data steps) and records warm wall-clock per SF plus the
step-to-step ratio.  A query whose time ratio tracks the 10x data ratio is
data-bound (the plan does work proportional to input — what we want); a
flat ratio at small SF means fixed planning/scheduling overhead dominates
(fine — it amortizes at scale); a SUPER-linear ratio flags a shape that
would not survive the next 100x (quadratic pair-joins, single-partition
sorts) and must have a scale path.

Usage: python tools/scale_probe.py [runs_per_point]
       python tools/scale_probe.py [runs] --only q1,q2 --sfs dir1,dir2

The second form probes ONLY the named queries at the named SF dirs and
prints the markdown rows to stdout (for targeted follow-ups — e.g. the
round-7 sf10 step over the round-6 operators — without re-running the
full sweep that regenerates SCALING.md).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

# 4th step: the locally synthesized sf1 (10x sf0.1; tools/gen_sf1.py —
# key-offset copies with caesar'd text / sign-flipped embeddings so the
# dedup and near-dup workloads grow 10x, not 100x).  Included when
# present.
_SF1 = os.path.join(REPO, ".scale", "sf1")

if os.path.isdir(_SF1):
    SFS.append(_SF1)

# Shape-diverse probe set: scan-agg, multi-join, window, range join,
# explode/LSH, two-level agg, iterative, Arrow/Python boundary.
PROBES = [
    ("pricing_summary", "scan + grouped agg (Q1)"),
    ("sales_by_region", "fact ⋈ 4 broadcast dims + agg"),
    ("local_supplier_volume", "fact ⋈ fact ⋈ dims (Q5)"),
    ("repurchase_labels", "window + range self-join chain"),
    ("rfm_scores", "two-phase distributed ranking (melted ntile)"),
    ("supplier_revenue_ranks", "two-phase global rank arithmetic"),
    ("vocab_table", "explode + count + two-phase dense ids"),
    ("rolling_7day_sales", "RANGE-frame trailing window"),
    ("sessionize", "gap sessionization windows"),
    ("campaign_event_rollup", "pure interval join (bin rewrite)"),
    ("minhash_lsh_pairs", "shingle explode → LSH band join"),
    ("excess_quantity_suppliers", "two-level agg + share threshold (Q20)"),
    ("dataset_mixture", "count agg + quota broadcast + rank window"),
    ("dedup_groups", "iterative connected components"),
    ("decode_media", "Arrow mapInPandas boundary"),
    ("doc_repetition_stats", "double explode → per-doc re-agg"),
    ("rolling_distinct_users", "window-end expansion distinct"),
    ("purchase_touch_attribution", "value-RANGE frame attribution"),
    ("ann_pq_topk", "PQ encode + ADC scan + rerank"),
    ("association_rules_2item", "a-priori pair join + rule metrics"),
    ("semantic_dedup", "pivot assign + within-cluster pair scan"),
    ("pii_scrub", "map-only regex redaction"),
    ("unigram_freq_scores", "explode + count + broadcast-back re-agg"),
    ("top_session_paths", "session collect → path count"),
    ("triangle_counts", "degree-oriented adjacency intersection"),
    ("dsir_importance_weights", "explode + vocab agg + join-back + 2-phase rank"),
    ("length_bucketed_batches", "broadcast quantile bin + grouped 2-phase rank"),
    ("expectations_report_all", "N rules → one agg pass + stack melt"),
    ("salted_event_category_rollup", "salted shuffle join on hot key"),
    ("temperature_mixture_sample", "count agg + sqrt quota + grouped rank"),
    # round-5 additions: the most expensive honest bench entries that had
    # no trend row (VERDICT r4 missing #1), plus the two new bounded paths
    ("embedding_near_dup_pairs_lsh", "hyperplane-LSH band join + exact verify"),
    # round-6: the two derived-knob scale paths (VERDICT r5 items 2, 7)
    ("triangle_counts_sampled", "Doulion edge-sampled triangles (D from |E|)"),
    ("embedding_near_dup_recall_lsh", "capped recall eval (fixed-cost slice)"),
    ("item_item_cosine_topk", "shared pair explosion → cosine per-item top-k"),
    ("source_overlap_kmv", "KMV sketch merge pair overlap"),
    ("kcore_members", "iterative k-core peel"),
    ("theil_sen_weekly_trend", "pairwise weekly slopes (|weeks|² per nation)"),
    ("hits_bipartite_scores", "iterative HITS on bipartite edges"),
    ("bpe_train_merges", "capped K-round BPE merge trainer"),
    ("rolling_distinct_users_hll", "per-day HLL sketch + window union merge"),
    # round-6 additions: the two new candidate-generation/scan paths
    ("ngram_jaccard_pairs_prefix", "prefix-filtered exact set-similarity join"),
    ("ann_ivfpq_topk", "IVF list probe + PQ-ADC scan + exact rerank"),
    ("incremental_near_dup_new_docs", "asymmetric prefix join: batch vs corpus"),
]


def main() -> None:
    args = sys.argv[1:]
    only: list[str] | None = None
    sfs = SFS
    if "--only" in args:
        i = args.index("--only")
        only = args[i + 1].split(",")
        args = args[:i] + args[i + 2:]
    if "--sfs" in args:
        i = args.index("--sfs")
        sfs = args[i + 1].split(",")
        args = args[:i] + args[i + 2:]
    runs = int(args[0]) if args else 2
    from retail_sales_project_bigdata_spark.profiling import profile_query
    from retail_sales_project_bigdata_spark.session import get_spark

    spark = get_spark("scale_probe")

    def run_once(name: str, sf_dir: str) -> float:
        # bench.py's query time.  profile_query's scope releases what the
        # query persisted, so caches cannot accumulate and stall
        # allocation (GCLocker) in a long in-process sweep.
        prof = profile_query(spark, name, sf_dir)
        return prof["build_sec"] + prof["wall_sec"]

    probes = (
        [(n, s) for n, s in PROBES if n in only]
        + [(n, "") for n in only if n not in {p for p, _ in PROBES}]
        if only is not None
        else PROBES
    )

    # warm the stack (JIT, codegen, python workers) on the smallest SF
    for name, _ in probes:
        run_once(name, sfs[0])

    results: dict[str, list[float]] = {}
    for name, _ in probes:
        per_sf = []
        for sf_dir in sfs:
            per_sf.append(min(run_once(name, sf_dir) for _ in range(runs)))
        results[name] = per_sf

    sf_labels = [
        os.path.basename(d.rstrip("/")).replace("sf", "sf ") for d in sfs
    ]
    ratio_hdr = " | ".join(f"r{i + 1}" for i in range(len(sfs) - 1))
    out = [
        "# SCALING — headline-query runtime across 10x data steps",
        "",
        "Generated by `tools/scale_probe.py` (warm runs, min of N, build",
        "+ execution through `profiling.profile_query`, local[32]).",
        "`r{i}` = time ratio of step i+1 over step i —",
        "each data step is 10x (the sf1 step is the locally synthesized",
        "10x derivative of sf0.1; tools/gen_sf1.py).  Reading: ratio ~1 =",
        "fixed overhead dominates (amortizes on a cluster); ratio <= ~10 =",
        "at-or-below data-proportional (healthy); ratio well above 10 that",
        "PERSISTS at the largest step = a shape that needs a scale path",
        "before the next 100x.",
        "",
        "| query | shape | "
        + " | ".join(f"{lbl} s" for lbl in sf_labels)
        + f" | {ratio_hdr} |",
        "|---|---|" + "---|" * (2 * len(sfs) - 1),
    ]
    for name, shape in probes:
        ts = results[name]
        ratios = [ts[i + 1] / ts[i] for i in range(len(ts) - 1)]
        out.append(
            f"| {name} | {shape} | "
            + " | ".join(f"{t:.2f}" for t in ts)
            + " | "
            + " | ".join(f"{r:.1f}x" for r in ratios)
            + " |"
        )
    out += [
        "",
        "Interpretation notes:",
        "",
        "- Sub-second sf0.001/sf0.01 times are scheduling floor, not",
        "  compute — their ratios understate scalability headroom.",
        "- `minhash_lsh_pairs` verifies only LSH-bucket candidates, so its",
        "  growth follows candidate count (collision-bounded), not the",
        "  quadratic all-pairs space.",
        "- `dedup_groups` iterates over the near-dup EDGE set; its cost",
        "  tracks edges + component diameter, both sublinear in corpus",
        "  size for a mostly-unique corpus.",
        "- `decode_media` is Arrow-batch bound: per-row Python cost with",
        "  a fixed worker-pool spin-up amortized away by sf0.1.",
        "",
        "Round-4 sf1-step follow-ups (r3 > 2.5x; each ratio is against a",
        "10x data step, so <10x is still sub-data-proportional):",
        "",
        "- `semantic_dedup` 4.8x (FIXED in round 4): the fixed pivot count",
        "  made clusters grow with the corpus; pivots now scale as",
        "  ceil(sqrt(n)) (n*k assignment and n^2/k pair work balance at",
        "  n^1.5) — re-measured sf1 step 2.32s / r3 1.8x (was 3.85s / 4.8x).",
        
        "- `rolling_distinct_users` 4.2x: the window-end expansion's",
        "  distinct state grows with users x window span — honest",
        "  data-proportional growth; watch, no action until it crosses",
        "  data-proportional.",
        "- `triangle_counts` 3.9x: wedge work tracks edges x out-degree;",
        "  sub-data-proportional and skew-capped (chunked adjacency), the",
        "  expected shape for a linear-in-edges enumeration.",
        "- `unigram_freq_scores` 3.3x: explode -> hash-agg over 10x tokens,",
        "  sub-data-proportional; fine.",
        "",
        "Round-5 sf1-step findings (first probe of the round-4 heavy",
        "paths; the r5 fixes are already in the numbers above):",
        "",
        "- `embedding_near_dup_recall_lsh` measured 43x/156s on the first",
        "  r5 probe: the 20k-vector sample cap exactly admitted the whole",
        "  20k-vector sf1 corpus, so the eval's EXACT anchor ran in full",
        "  (200M pairs).  FIXED: cap lowered to 4k vectors (8M-pair",
        "  anchor, ~24s, fixed-cost at every larger corpus; recall 0.874",
        "  certified on 2846 true pairs at sf1).",
        "- `embedding_near_dup_pairs_lsh`: random-pair candidates are",
        "  collision-bounded at ~B*n^2/2^R — sub-exact by 2^R/B (5.3x at",
        "  the defaults) but still quadratic at FIXED (R, B).  Two r5",
        "  responses: (1) the verify now runs INSIDE the band join (the",
        "  signature frame carries its vectors; cosine + threshold die",
        "  map-side, so no candidate-sized exchange exists — measured",
        "  76s -> 34s at sf1, and the id-pair distinct + two vector-fetch",
        "  joins are gone); (2) the geometry knob R (each +1 bit halves",
        "  random collisions) + B (recovered recall) is env-tunable at",
        "  import with the DuckDB oracle literals generated from the same",
        "  constants (hash-exact at any setting; verified at R=7, B=10),",
        "  and the recall eval certifies whatever (R, B) a deployment",
        "  picks.  Very large corpora route through `semantic_dedup`'s",
        "  sqrt-n pivot clustering instead.",
        "  (Tried and rejected: an unrolled 64-term codegen dot product —",
        "  3x SLOWER than the in-order aggregate fold in an A/B at 2M",
        "  pairs; the fold stays.)",
        "- `triangle_counts` at sf1 owns the heaviest cell: linear in",
        "  wedges (edges x capped out-degree) — the expected enumeration",
        "  shape; watch.",
        "- `rolling_distinct_users_hll` (new): flat across all four SFs —",
        "  the mergeable-sketch twin is the sub-linear production path",
        "  for the exact query's users x span state growth.",
        "- `bpe_train_merges` (new): flat — the r5 trainer-corpus cap",
        "  bounds per-round pair aggregation past 20k docs.",
        "",
    ]
    if only is not None:
        # Targeted mode: print the measured rows; the caller documents
        # them (e.g. as a follow-up section in SCALING.md) instead of
        # overwriting the full-sweep file with a partial table.
        hdr_i = next(i for i, l in enumerate(out) if l.startswith("| query"))
        print("\n".join(out[hdr_i:hdr_i + 2 + len(probes)]))
        return
    with open(os.path.join(REPO, "SCALING.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
