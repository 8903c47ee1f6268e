"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the KG pipeline
on the synthetic code_files table (the BASELINE.md triples/sec number).

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "kg": {...}}

Queries execute via the noop sink so the measured cost is compute +
shuffle, not driver collect.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "q01_a1_pricing_summary",
    "q02_j1_broadcast_join_agg",
    "q03_j1_multijoin_revenue_by_nation",
    "q04_w3_latest_event_per_user",
    "q07_j5_customers_without_orders",
    "q10_a2_keyword_counts",
    "q12_j6_containment_mentions",
    "q13_a8_stats_per_lang",
    "q17_dd_exact_dedup",
    "q18_dd_ngram_jaccard_pairs",
    "q20_dd_simhash",
    "q21_sim_cosine_topk",
    "q28_cc_embedding_graph",
    "q35_dd_lsh_pairs",
    "q36_j6_large_vocab_containment",
    "q45_sim_ivf_ann",
    "q47_w_analytic_running_revenue",
    "q48_asof_join_last_purchase",
    "q49_range_join_clicks_in_window",
    "q50_hypertable_rollup",
    "q51_count_min_sketch",
    "q52_m12_pos_dep_tokens",
    "q53_m13_coref_chains",
    "q54_stream_first_seen_batch",
    "q55_multimodal_image_decode",
    "q56_s2_general_metadata",
    "q57_f1_nfkd_ascii_fold",
    "q58_s9_lang_extract",
    "q59_a14_csv_cells",
    "q60_w5_w6_mention_stage",
    "q61_j8_entity_linking",
    "q62_dd_simhash_pairs",
    "q63_f17_summary_filters",
    "q64_multimodal_audio_decode",
    "q65_multimodal_frame_sample",
    "q66_a6_aggregated_summary",
    "q67_m14_archive_members",
    "q68_cc_incremental_maintenance",
    "q69_multimodal_resize",
    "q70_curation_pipeline",
    "q71_hll_registers",
    "q72_bm25_ranking",
    "q73_winnowing_overlap",
    "q74_cc_size_histogram",
    "q75_m_nltk_category_rescan",
    "q76_a14_csv_ner_merge_order",
    "q77_dd_cluster_survivors",
    "q78_ts_pii_scrub",
    "q79_ts_repetition_metrics",
    "q80_dd_cross_corpus_overlap",
    "q81_curation_decision",
    "q82_ts_quality_classifier",
    "q83_dd_span_excision",
    "q84_dd_overlap_index_chained",
    "q85_ts_classifier_training",
    "q86_dd_span_index_chained",
    "q87_pack_sequence_layout",
    "q88_pack_assembled_windows",
    "q89_cur_domain_cap",
    "q90_cur_token_budget",
    "q91_cur_mixture_sample",
    "q92_dd_semantic_dedup",
    "q93_pack_shard_assignment",
    "q94_pack_incremental_layout",
    "q95_ts_lm_fluency",
    "q96_weighted_sample",
    "q97_cur_epoch_mixture",
    "q98_cur_domain_cap_chained",
    "q99_weighted_sample_chained",
    "q100_cur_top_fraction",
    "q101_s2_profile_columns",
    "q102_kg_bgp_match",
    "q103_kg_transitive_closure",
    "q104_kg_pagerank",
    "q105_kg_triangle_count",
    "q106_kg_closure_chained",
    "q107_kg_random_walks",
    "q108_sim_random_projection",
    "q109_kg_property_path",
    "q110_kg_bounded_shortest_paths",
    "q111_s2_exact_quantiles",
    "q112_cur_temperature_mixture",
    "q113_contrastive_triplets",
    "q114_kg_khop_aggregate",
    "q115_kg_edge_jaccard",
]

# Registered queries deliberately NOT in the headline timing loop —
# each ran <0.1 s at sf0.1 when last measured, so per-query timing is
# VM noise, not signal; they stay covered by the correctness gate,
# the fuzz corpus, and the plan audit. Listed in the bench JSON
# ("skipped") so the cap is explicit, never silent (VERDICT r3 #10).
SKIP_REASON = "sub-0.1s at sf0.1: timing would be VM noise; correctness+plan gated"

KG_ROWS_PER_SF = 1_000_000  # sf0.1 -> 100k synthetic source files


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from mel_tnnt_spark.session import get_spark

    spark = get_spark("mel-tnnt-bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    timings: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE:
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # warm (plan+codegen cached)
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        timings[name] = round(dt, 3)
        total += dt

    # KG pipeline: synthetic source at sf-proportional size (generated
    # executor-side), end-to-end to a real partitioned parquet sink
    # (triples/sec headline). One warm-up pass first: python-worker
    # fork+import is interpreter cold-start, not engine throughput.
    from mel_tnnt_spark.datagen import code_files_distributed
    from mel_tnnt_spark.operators.triples import write_triples
    from mel_tnnt_spark.pipeline import run_pipeline

    import shutil
    import tempfile

    n_rows = max(1000, int(KG_ROWS_PER_SF * sf)) if sf > 0 else 1000
    src = code_files_distributed(spark, n_rows=n_rows, seed=42).cache()
    src.count()  # materialize outside the timed window
    run_pipeline(spark, src).triples.write.format("noop").mode("overwrite").save()  # warm
    out = tempfile.mkdtemp(prefix="bench_triples_")
    t0 = time.time()
    res = run_pipeline(spark, src)
    write_triples(res.triples, f"{out}/triples")
    kg_sec = time.time() - t0
    n_triples = spark.read.parquet(f"{out}/triples").count()
    shutil.rmtree(out, ignore_errors=True)
    total += kg_sec

    skipped = sorted(set(qs) - set(HEADLINE))
    record = {
        "metric": "headline_queries_plus_kg_pipeline_total_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {**timings, "kg_pipeline": round(kg_sec, 3)},
        "skipped": {"names": skipped, "reason": SKIP_REASON},
        "sf": sf,
        "kg": {
            "source_rows": n_rows,
            "triples": n_triples,
            "sec": round(kg_sec, 3),
            "triples_per_sec": round(n_triples / kg_sec, 2) if kg_sec else None,
            "cpus": cpus,
        },
    }

    # Durability (VERDICT r4 #7): the driver keeps only the LAST 2000
    # chars of stdout — r04's bench line outgrew that and its head was
    # lost. So (a) persist the COMPLETE record to the repo root as
    # BENCH_LOCAL_r{N}.json (the CORRECTNESS_LOCAL pattern; picked up
    # by scripts/regression.py in preference to the driver artifact),
    # and (b) keep the stdout line itself compact: tight separators and
    # the skipped-list as a count+pointer instead of 30 names.
    repo = Path(__file__).resolve().parent
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if rnd is None:
        import re

        seen = [
            int(m.group(1))
            for p in repo.glob("BENCH_r*.json")
            if (m := re.match(r"BENCH_r(\d+)\.json", p.name))
        ]
        rnd = f"{max(seen, default=0) + 1:02d}"
    local = repo / f"BENCH_LOCAL_r{rnd}.json"
    local.write_text(json.dumps(record, indent=1) + "\n")

    stdout_record = dict(record)
    # 2-decimal per-query rounding + count-only skipped block keep the
    # line ~1.9k chars; full precision lives in the local artifact.
    stdout_record["queries"] = {
        k: round(v, 2) for k, v in record["queries"].items()
    }
    stdout_record["skipped"] = {"n": len(skipped), "full_list": local.name}
    line = json.dumps(stdout_record, separators=(",", ":"))
    # stop FIRST so no shutdown/progress output can land after the JSON
    # inside the driver's bounded capture window
    spark.stop()
    print(line)


if __name__ == "__main__":
    main()
