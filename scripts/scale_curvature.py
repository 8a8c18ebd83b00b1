"""Three-point scale curvature (r11 verdict #3): the 5x sweep is
all-sublinear, so the remaining scale risk is CURVATURE a single 5x
point can't see. This runner times the named queries exclusive
best-of-N after a warm-up at ONE scale point per process — the r11
re-measure showed in-session readings taken after heavy replica
writes carry JVM/GC pressure worth 2-3x, so each scale point must be
its own fresh process (the recorded bench protocol). It emits the raw
seconds plus the scale unit each query should be normalized by
(co-purchase edges for the graph pair, documents for the text/dedup
pair, lineitem rows for q21) — a per-unit cost that RISES from 5x to
10x names a superlinear plan; falling or flat per-unit cost closes
the question.

Usage:
  python scripts/scale_curvature.py --replicate K DIR   # build replicas
  python scripts/scale_curvature.py --time K DIR [name ...]
Each --time invocation should be a fresh python process with no other
Spark JVM live. Prints one JSON line: {"k", "sec", "units"}.
"""

from __future__ import annotations

import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

# the five >3-ratio rows from the r11 5x sweep
DEFAULT_NAMES = [
    "graph_kcore_census", "graph_clustering_topk",
    "text_winnowing_fingerprints", "dedup_ngram_jaccard_pairs",
    "q21_sole_return_suppliers",
]

# query -> (unit label, table/structure that counts the unit)
_UNITS = {
    "graph_kcore_census": ("edges", "copurchase"),
    "graph_clustering_topk": ("edges", "copurchase"),
    "text_winnowing_fingerprints": ("docs", "documents"),
    "dedup_ngram_jaccard_pairs": ("docs", "documents"),
    "q21_sole_return_suppliers": ("lineitems", "lineitem"),
    # round-13 tier-2 campaign (r12 verdict #6)
    "graph_reciprocity_report": ("edges", "clickpurchase"),
    "dedup_containment_pairs": ("docs", "documents"),
    "stream_type_mix_drift": ("events", "events"),
    "snapshot_version_diff": ("orders", "orders"),
    # round-14 campaign (r13 verdict #4): the last untiered heavy
    # hitters
    "graph_part_copurchase_communities": ("edges", "copurchase"),
    "customer_rfm_segments": ("orders", "orders"),
    # round-14 new queries (oracle-first discipline: every addition
    # gets a 5x point in its birth round)
    "text_zipf_rank_profile": ("docs", "documents"),
    "dedup_partner_fanout_census": ("docs", "documents"),
    "mlprep_packing_span_histogram": ("docs", "documents"),
    "customer_ltv_decile_profile": ("orders", "orders"),
    "dq_numeric_overflow_audit": ("lineitems", "lineitem"),
    "sim_ivf_balance_census": ("vectors", "embeddings"),
    # round-14 tier-2 continuation (r13 verdict #6: 10x points for the
    # most expensive headliners each round)
    "sim_loo_centroid_confusion": ("vectors", "embeddings"),
    "sim_mmr_diversified_topk": ("vectors", "embeddings"),
    "dedup_incremental_pairs": ("docs", "documents"),
    "curation_grand_funnel": ("docs", "documents"),
    "text_boilerplate_ngrams": ("docs", "documents"),
}


def _unit_count(spark, sf_dir: str, kind: str) -> int:
    from iq_to_hdl_migration_spark.sources.tables import load_table
    if kind == "copurchase":
        from iq_to_hdl_migration_spark.queries.sequence_queries import (
            _copurchase_edges)
        return _copurchase_edges(spark, sf_dir).count()
    if kind == "clickpurchase":
        from iq_to_hdl_migration_spark.queries.events_queries import (
            _copurchase_click_edges)
        return _copurchase_click_edges(spark, sf_dir).count()
    return load_table(spark, sf_dir, kind).count()


def main() -> None:
    import bench

    mode, k, sf_dir = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    spark = bench.session("scale-curvature")
    if mode == "--replicate":
        from scale_smoke import replicate
        replicate(spark, k, sf_dir)
        print(json.dumps({"replicated": k, "dir": sf_dir}))
        return

    assert mode == "--time"
    names = sys.argv[4:] or DEFAULT_NAMES
    from iq_to_hdl_migration_spark.queries import load_all
    reg = load_all()
    sec = {name: round(bench.best_of(spark, reg[name], sf_dir), 3)
           for name in names}
    units = {}
    for name in names:
        key, kind = _UNITS.get(name, ("rows", "lineitem"))
        units[name] = {key: _unit_count(spark, sf_dir, kind)}
    print(json.dumps({"k": k, "sec": sec, "units": units}))


if __name__ == "__main__":
    main()
