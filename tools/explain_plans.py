"""Formatted physical plans of registry queries.

With no arguments, regenerate docs/PLANS.md: the plan of every
bench-tracked query at sf0.1 — the artifact to read when asking "is
the filter pushed, is the dim broadcast, where are the exchanges"
without re-running anything. Given a suffix and query names, write
plans/$PLAN_ROUND/<query>_<suffix>.txt (PLAN_ROUND defaults to r14)
for each — the optimization-round before/after plan snapshots.

Usage: python tools/explain_plans.py
       python tools/explain_plans.py <suffix> <query> [<query> ...]
"""

from __future__ import annotations

import os
import sys

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo)


def formatted_plan(spark, df) -> str:
    """The formatted physical plan of a fresh ``executePlan`` over the
    DataFrame's logical plan — the warm plan a re-run executes."""
    qe = df._jdf.queryExecution()
    return (
        spark._jsparkSession.sessionState()
        .executePlan(qe.logical(), qe.mode())
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )


def main() -> None:
    from mindseye_dataframes_spark.queries import load_all
    from mindseye_dataframes_spark.session import get_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session(app_name="explain-plans", cpus=8)
    registry = load_all()
    if len(sys.argv) > 1:
        write_plan_files(spark, registry, sf_dir, sys.argv[1], sys.argv[2:])
    else:
        write_plans_md(spark, registry, sf_dir)
    spark.stop()


def write_plans_md(spark, registry, sf_dir) -> None:
    tracked = [n for n, q in sorted(registry.items()) if q.bench] + [
        "q87_contamination_screen",
        "q102_fuzzy_name_match",
        "q114_embedding_normalize",
        "q141_bloom_prefilter_join",
        "q158_dedup_pipeline_end_to_end",
        "q163_semdedup",
        "q165_source_divergence",
        "q167_net_token_accounting",
        "q174_unimax_mixture",
        "q180_paragraph_dedup_rewrite",
        "q181_importance_resampling",
        "q183_bpe_encode_accounting",
        "q188_packed_png_decode",
        "q189_semdedup_tau_curve",
        "q190_token_budget_selection",
        "q191_intra_doc_dedup",
        "q192_standing_ann_topk",
        "q193_standing_bm25_topk",
        "q194_hard_negative_mining",
        "q201_nb_quality_classifier",
        "q202_count_min_heavy_hitters",
        "q203_incremental_bm25_update",
        "q208_bm25_tombstone_delete",
        "q209_ann_tombstone_delete",
        "q216_curriculum_schedule",
        "q220_sketch_join_size",
        "q221_matryoshka_recall_curve",
        "q222_retrieval_quality_eval",
        "q225_kmeans_silhouette",
        "q226_lsh_dedup_eval",
        "q227_cluster_balanced_sample",
        "q229_python_datasource",
        # r11: batch-expressible r9/r10/r11 additions (VERDICT r10
        # item 6). The streaming harness queries (q212/q218/q219/
        # q228/q230/q236) are excluded — their fns DRAIN a stream,
        # so "explain" would run the whole harness; their state-
        # store shape is pinned by the drain probes instead.
        "q210_bm25_compaction",
        "q211_ann_compaction",
        "q213_ngram_containment_pairs",
        "q214_bitext_margin_mining",
        "q217_rendezvous_sharding",
        "q223_kcenter_coreset",
        "q231_priority_sample",
        "q232_block_manifest",
        "q233_bloom_fpr_gate",
        "q234_hll_overlap_gate",
        "q235_eval_preview_zip",
        "q237_manifest_incremental_append",
        # r12: the remaining batch-expressible standing-index /
        # incremental / curation families whose docstrings make
        # plan claims (VERDICT r11 item 5) — the warm plans below
        # are what the claims assert (corpus-free probes,
        # delta-only scans, broadcast-bounded models)
        "q154_incremental_corpus_dedup",
        "q175_ingest_novelty",
        "q184_knn_label_eval",
        "q185_split_leakage_audit",
        "q186_leakage_eviction",
        "q187_incremental_paragraph_dedup",
        "q199_hybrid_rrf_retrieval",
        "q200_cross_source_quality_calibration",
        "q204_incremental_ann_update",
        "q206_bigram_lm_perplexity_filter",
        "q207_substring_dedup_rewrite",
        "q215_packed_wav_decode",
        # r13: the de-cartesianed exact all-pairs (block-GEMM),
        # the degree-oriented triangle join, and the
        # production-width SimHash band join — each makes a plan
        # claim its test pins; the warm plan is the evidence
        "q34_embedding_near_dup",
        "q126_triangle_count",
        "q238_simhash64_hamming_pairs",
    ]
    out = [
        "# Physical plans (generated — do not edit)\n",
        f"\nRegenerate with `python tools/explain_plans.py` (sf: `{sf_dir}`).\n",
    ]
    for name in tracked:
        plan = formatted_plan(spark, registry[name].fn(spark, sf_dir))
        out.append(f"\n## {name}\n\n```\n{plan}```\n")
    path = os.path.join(repo, "docs", "PLANS.md")
    with open(path, "w") as f:
        f.write("".join(out))
    print(f"wrote {path} ({len(tracked)} plans)")


def write_plan_files(spark, registry, sf_dir, suffix, names) -> None:
    out_dir = os.path.join(repo, "plans", os.environ.get("PLAN_ROUND", "r14"))
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(spark, registry[name].fn(spark, sf_dir)))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
