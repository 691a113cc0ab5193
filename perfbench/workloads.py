"""Workload definitions: which ops each workload runs, on which data, and why.

An op is a `SparkEntry.queries` name, or BUILD_OP for one
`Warehouse.buildAll`. The seed only orders the ops within each pass; the
program sees nothing but the op sequence.
"""
import random
from typing import NamedTuple

BUILD_OP = "warehouse.buildAll"

WAREHOUSE_QUERIES = [
    # the 7 dimension/fact builders, read through the noop sink
    "dim_customer", "dim_supplier", "dim_part", "dim_order", "dim_date",
    "fact_daily_inventory", "fact_monthly_payment",
    # the reference's three analytics queries
    "q1_monthly_revenue", "q2_top_parts", "q3_daily_series",
    # dashboard-style reads over the same tables
    "q_pricing_summary", "q_region_revenue", "q_top_customers",
    "q_window_top_parts", "q_running_revenue", "q_moving_revenue",
    "q_semi_join", "q_anti_join", "q_rollup_revenue", "q_cube_revenue",
    "q_balance_quartiles", "q_mom_delta", "q_string_ops", "q_monthly_active",
    "q_nation_set_ops", "q_percentiles", "q_pivot_status", "q_range_join",
    "q_scalar_subquery", "q_profile", "q_expectations", "q_events_hourly",
    "q_top_event_type", "q_event_sessions",
]

# Two consumers of each of the six session memos, so that in the cold
# pass each memo has a user that builds it and one that reuses it, plus
# two controls that share no memo.
LLM_PIPELINE = [
    "dedup_minhash", "dedup_clusters",              # MinHash signatures
    "text_bm25_topk", "q_ndcg",                     # BM25 posting
    "text_nb_classify", "text_nb_eval",             # Naive Bayes model
    "embed_neardup", "embed_dbscan",                # embedding candidate pairs
    "pipeline_curate", "pipeline_corpus_prep",      # curated exact-dedup prefix
    "text_unigram_encode", "text_maxmatch_encode",  # unigram LM model
    "dedup_exact", "ann_topk_ivf",                  # controls
]


class Workload(NamedTuple):
    ops: list
    scale: str          # fixture directory the ops read
    warm_pass_s: float  # nominal warm pass time on a 4-core box
    why: str            # repeated in README.md


WORKLOADS = {
    "warehouse_build": Workload(
        [BUILD_OP], "sf0.1", 5.5,
        "The reference's own nightly job and the only workload that writes: "
        "5 dims and 2 year-partitioned facts, each read back with a count. "
        "It uses no session memo."),
    "warehouse_queries": Workload(
        WAREHOUSE_QUERIES, "sf0.1", 18.0,
        "The dashboard side: the same Tables/Dims/Facts code as the build, "
        "read instead of written. Ops are short, so fixed per-query cost "
        "(planning, job launch, gaps between jobs) dominates. No memos. "
        "Not in BENCHMARK.json: its runs do not fit the run budget."),
    "llm_pipeline": Workload(
        LLM_PIPELINE, "sf0.01", 8.0,
        "12 of its 14 ops share six SparkEntry session memos, so memo "
        "builds, eager driver actions and many-job shuffle plans do the "
        "work; the other 2 are controls that share nothing."),
}

# The SparkEntry session memo each op consumes. A memo is built once per
# session, by its first consumer in the cold pass, and survives
# clearCache; so the seed's op order decides who pays the build in the
# cold pass only. In a warm pass the split by consumer order is plain
# construction time.
MEMO_FAMILY = {
    "dedup_minhash": "minhash_signatures", "dedup_clusters": "minhash_signatures",
    "text_bm25_topk": "bm25_posting", "q_ndcg": "bm25_posting",
    "text_nb_classify": "nb_model", "text_nb_eval": "nb_model",
    "embed_neardup": "embedding_candidates", "embed_dbscan": "embedding_candidates",
    "pipeline_curate": "curated_exact", "pipeline_corpus_prep": "curated_exact",
    "text_unigram_encode": "unigram_model", "text_maxmatch_encode": "unigram_model",
}

MODULES = ["etl", "analytics", "dedup", "text", "similarity", "pipeline"]


def module_of(op):
    """The graft package whose code an op runs."""
    if op == BUILD_OP or op.startswith(("dim_", "fact_")) or op in ("q_profile", "q_expectations"):
        return "etl"
    if op.startswith("dedup_"):
        return "dedup"
    if op.startswith("text_"):
        return "text"
    if op.startswith(("embed_", "ann_")):
        return "similarity"
    if op.startswith("pipeline_"):
        return "pipeline"
    return "analytics"


def plan(workload, seed, seconds, trace):
    """The op order of every pass: the cold pass, then the warm passes that
    fill about `seconds` (at least one; at least five when traced: one to
    settle, then one untraced-traced-traced-untraced cycle). Each pass is a
    seeded shuffle of the ops."""
    w = WORKLOADS[workload]
    warm = max(5 if trace else 1, int(seconds // w.warm_pass_s))
    rng = random.Random(seed)
    return [rng.sample(w.ops, len(w.ops)) for _ in range(1 + warm)]
