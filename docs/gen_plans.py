"""Regenerate docs/PLANS.md: the final adaptive physical plan of every
bench headliner (`bench.headliners`) at sf0.1, annotated with its
scale rationale.

Run: python docs/gen_plans.py   (from the repo root)
"""

from __future__ import annotations

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import bench
from iq_to_hdl_migration_spark.queries import load_all

SF_DIR = "/root/testdata/sf0.1"

NOTES = {
    "events_haar_energy_profile":
        "One data-scale shuffle to the bounded (type, epoch-hour) "
        "count spine (localCheckpointed once), then six spine-sized "
        "group-bys — the dyadic block keys are pure integer division, "
        "exact BIGINT end-to-end.",
    "events_type_mix_drift_tvd":
        "One (week, type) count shuffle; the week x type spine is "
        "completed with broadcast stitches so vanished types count as "
        "drift; |o*N - g*n_w| keeps ~7 orders of int64 headroom where "
        "chi-square overflows.",
    "graph_reciprocity_report":
        "Edge table built once (localCheckpoint), reversed-key "
        "left_semi self-join co-partitioned on the same (src,dst) "
        "domain; the three scalars stitch via broadcast — no "
        "cartesian, no collect.",
    "sim_quantization_rank_fidelity":
        "Both rankings ride the broadcast-probe scored passes the "
        "oracled topk queries already do; the Kendall pair join is "
        "20x20 per probe (bounded) and broadcast.",
    "graph_clustering_topk":
        "Degree-ordered orientation caps adjacency arrays at sqrt(2m); "
        "triangles exploded into corners only (output-bound, never the "
        "wedge set); TakeOrdered caps the final sort at k=20.",
    "corpus_novelty_curve":
        "Decile boundaries from one broadcast percentile aggregate (no "
        "global rank window); first-seen = min(decile) per shingle; "
        "every shuffle keyed on the shingle — corpus-linear.",

    "q1_pricing_summary":
        "One shuffle on the 6-value group key; partial agg map-side; "
        "shipdate filter pushed to the parquet scan.",
    "q3_shipping_priority":
        "customer joined via scaled_dim: AQE broadcasts it at this sf, "
        "shuffle-joins it past the threshold (no hardcoded hint — the "
        "8 GB broadcast hard-limit hazard at 100 TB); single shuffle "
        "join orders-lineitem on orderkey; TakeOrderedAndProject caps "
        "the sort at k=10.",
    "q5_region_volume":
        "nation/region const_dim-broadcast; customer/supplier "
        "scaled_dim (AQE-planned); the only data-scale shuffle is "
        "orders-lineitem.",
    "q9_product_profit":
        "part filter applied BEFORE the fact join prunes lineitem "
        "early; part/supplier scaled_dim (AQE-planned), nation "
        "const_dim-broadcast.",
    "q10_returned_items":
        "returnflag filter pushed down; dims broadcast; top-20 via "
        "TakeOrderedAndProject (no full sort).",
    "q21_sole_return_suppliers":
        "left_semi and left_anti both shuffle on l_orderkey — the "
        "exchange is reused, not repeated.",
    "dedup_minhash_lsh_pairs":
        "No join of the corpus with itself: bucket groupBy + in-bucket "
        "explode; repartition barrier isolates the 32-permutation HOF "
        "stage.",
    "dedup_simhash_pairs":
        "Same banding shape over 16-bit chunks; hamming computed "
        "pre-shuffle.",
    "sim_bruteforce_topk":
        "Query set broadcast (BroadcastNestedLoopJoin is intentional: "
        "tiny build side x corpus scan); per-query top-k via window.",
    "events_hourly_by_type":
        "Tumbling-window agg: one shuffle on (window, event_type).",
    "text_quality_scores":
        "Pure projection pipeline - no shuffle at all; whole-stage "
        "codegen end to end.",
    "asof_purchase_attribution":
        "As-of join compiled to union + running last() window: ONE "
        "shuffle on user_id, no join operator anywhere — linear in "
        "|probe|+|ref| at any scale.",
    "text_tfidf_topk":
        "Tokenize once, aggregate twice (tf by (source,term), df by "
        "term) — both partial-agg map-side; join on term; per-source "
        "top-k via window on the already-small scored set.",
    "dedup_ngram_jaccard_pairs":
        "Prefix-filtered inverted-index self-join (PPJoin): candidates "
        "only from each doc's rarest |d|-ceil(t|d|)+1 tokens, so "
        "stopwords never fan out and no collect_list buffers a whole "
        "group; verification joins token arrays by id only for "
        "surviving candidates.",
    "events_session_conversion":
        "Sessionize via gap-flag running sum (one shuffle on user_id), "
        "then conversion rollup on the already-small session set.",
    "cohort_ltv_curve":
        "Cohort month from a per-user min (one shuffle), month-offset "
        "rollup second — both aggregates partial map-side.",
    "events_peak_concurrency":
        "Two-level prefix sum: day-partitioned running sums plus a "
        "constant-size day-spine offset — at most one SinglePartition "
        "exchange over the spine, never over the data.",
    "trade_flow_matrix":
        "The one legitimate fact x fact shuffle (orderkey); customer/"
        "supplier scaled_dim (AQE-planned), nation const_dim-broadcast; "
        "early pair-key aggregation to <= nations^2 groups; revenue "
        "accumulates as BIGINT fixed-point (1e-4 units) — exact, and "
        "long-backed where sum(decimal(14,4)) would widen to a "
        "BigDecimal-backed decimal(24,4).",
    "sketch_hll_overlap_matrix":
        "One events-scale shuffle to 64-register state per type; the "
        "pair matrix is register arithmetic on a broadcast grid of "
        "types x 64 rows. The exact-overlap column is the "
        "verification harness; production moves only sketches.",
    "dedup_incremental_pairs":
        "Batch-vs-stored-index incremental dedup: signatures for the "
        "batch only; the store joins on (band, band_sig); per-batch "
        "work is O(batch + collisions), independent of corpus size.",
    "mlprep_sequence_packing":
        "Per-source prefix-sum window (hashpartitioning on source, "
        "never SinglePartition); chunk arithmetic is integer division "
        "over the running sum.",
    "text_bm25_topk":
        "tf aggregate and top-k are the only shuffles; df and global "
        "stats sides are tiny and broadcast.",
    "text_contamination_13gram":
        "Eval-split 13-gram set broadcast to the train-side scan; one "
        "pass, no corpus self-join.",
    "text_winnowing_fingerprints":
        "Gram explode behind a repartition barrier (keeps the regexp "
        "out of the per-gram lambda), BIGINT hashes, one doc_id window "
        "for the running min.",
    "text_winnowing_match_pairs":
        "Fingerprint-bucket explode with the LSH family's id-ordered "
        "per-bucket cap — boilerplate fingerprints cannot explode the "
        "join; pair counts aggregate map-side.",
}


def main() -> None:
    spark = bench.session("plans")
    cores = spark.sparkContext.defaultParallelism
    reg = load_all()
    out = [
        f"# Plan audit — headline queries at sf0.1 (local[{cores}], AQE on)",
        "",
        "Generated by `python docs/gen_plans.py`. Each section is the final",
        "adaptive physical plan (`executedPlan` after materialization) with",
        "the scale rationale. Gates in `tests/test_plan_quality.py` keep",
        "these properties from regressing.",
        "",
    ]
    for name in bench.headliners(reg):
        df = reg[name].fn(spark, SF_DIR)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # fall back to the registry doc string — every query carries
        # its scale rationale there, so new bench entries are never
        # silently note-less
        out += [f"## {name}", "", NOTES.get(name, reg[name].doc), "", "```",
                plan.strip()[:4000], "```", ""]
    with open("docs/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(out)} lines)")


if __name__ == "__main__":
    main()
