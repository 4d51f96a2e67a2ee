"""sf0.1 oracle sweep of the heavyweight query tiers.

The driver's official correctness gate compares Spark vs DuckDB at
sf0.01 only; every oracle proof in rounds 1-5 is therefore small-scale.
Value-range / threshold-edge bugs that only materialize with 10x data
(bigger id ranges, denser dedup buckets, longer histories) would be
invisible there. This tool runs the SAME driver-strict comparator
(tests/oracle_compare.normalize) at sf0.1 over the ~30 heaviest oracled
queries — the dedup/linkage/span tiers, SCD2/CDC, time-series
interpolation, graph/affinity, the stats family, and the TPC-H deep
joins — and writes CORRECTNESS_SF01.json next to the official artifacts.

    python tools/correctness_sf01.py          # ~5 min on local[8]

Round-6 stretch (#8): the same comparator also runs against the
GENERATED sf0.5/sf1 fixture sets, at scales the driver never touches:

    python tools/correctness_sf01.py /root/repo/fixtures/scale/sf0.5 CORRECTNESS_SF05.json

Round 9: the sweep covers the FULL oracled registry at every scale —
gen_scale_fixtures.py now writes the TPC-H relations too, eligibility is
derived per fixture dir (oracle table refs ⊆ available tables), and any
remainder is recorded in the artifact's ``excluded`` map with a reason,
so n_queries + n_excluded == oracled registry size. The old hand-curated
heavyweight list remains via SPARK_GRAFT_SWEEP_HEAVY=1.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

SF_DIR = "/root/testdata/sf0.1"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# The heavyweight set from the round-5 verdict (task #1): everything with
# non-trivial shuffle/join structure whose semantics could drift with
# value ranges. All are oracled queries — rows-only tiers have no oracle
# to scale up (their pytest pins already run on generated corpora).
HEAVY = [
    # dedup tiers
    "llm_dedup_exact", "llm_dedup_ngram_jaccard", "llm_dedup_embedding_cosine",
    "llm_dedup_embedding_cosine_ivf", "llm_dedup_clusters",
    "llm_dedup_corpus_segments", "llm_dedup_incremental",
    "llm_dedup_incremental_near",
    # linkage / spans / fingerprints
    "linkage_fuzzy_part_names", "llm_remove_repeated_spans",
    "llm_shared_span_fraction", "llm_fingerprint_winnowing",
    # dimension maintenance
    "scd2_customer_batch", "scd2_temporal_join", "cdc_apply_customer",
    # time series / events
    "ts_gap_fill_interpolate", "events_session_ids", "events_max_concurrency",
    "events_rolling_7d_active_users", "events_retention_cohorts",
    # graph / affinity
    "graph_triangle_count", "affinity_part_pairs",
    # stats family
    "agg_corr_covar", "stats_winsorize_prices", "stats_mad_outliers",
    "agg_min_by_max_by", "privacy_k_anonymity", "ivm_rollup_maintenance",
    # similarity
    "llm_knn_join_exact", "llm_knn_join_ivf",
    # round-6 additions
    "llm_dedup_containment", "llm_semdedup_prune",
    "llm_dedup_embedding_cosine_fast",
    "text_heavy_hitters", "emb_pca_project", "emb_pca_explained_variance",
    "llm_bm25_topk", "llm_inverted_index",
    "llm_token_entropy", "cdc_derive_changes",
    # round-6 selection/quantization additions
    "llm_dsir_importance_topk", "llm_sim_topk_sq8", "llm_sim_topk_ivf_sq8",
    "llm_emb_sq8_error", "llm_mmr_diversified_topk",
    "llm_mixture_temperature", "llm_hard_negative_mining",
    "llm_sim_topk_binary", "llm_hybrid_rrf", "llm_retrieval_label_precision",
    "llm_zipf_fit", "llm_top_pmi_bigrams",
    # round-6 LM / projection / eval / PQ additions
    "llm_perplexity_trigram_backoff", "llm_emb_random_projection",
    "llm_classifier_eval_auc", "llm_sim_topk_pq", "llm_sim_topk_ivf_pq",
    "llm_classifier_calibration", "ivm_join_maintenance",
    "stats_quantile_discretize", "llm_cluster_aware_split",
    # round-7: the unrolled-merge-chain BPE oracles + persisted-index
    # probe + the newly-oracled GROUPED_AGG pandas-UDF weighted mean
    "llm_bpe_encode", "llm_bpe_vocab", "llm_dedup_incremental_near_probe",
    "llm_weighted_quality_mean",
    # round-7 late wave: the unrolled-GD trainer oracle + the governance/
    # attribution/sequence additions
    "llm_train_quality_classifier", "privacy_erasure_cascade",
    "events_attribution_last_touch", "events_markov_transitions",
    "events_anomaly_dow", "stats_rfm_segments", "events_time_to_convert",
    # deep TPC-H joins (value-heavy aggregates)
    "tpch_q9_product_profit", "tpch_q21_waiting_supplier",
]

# Eligible queries are DERIVED, not hand-listed (round-7 task #6 closed
# the 22-query gap the hand list had grown; round-9 extends the sweep to
# the FULL oracled registry now that gen_scale_fixtures also writes the
# TPC-H relations at sf0.5/sf1): any oracled query whose oracle SQL
# references only tables present in the fixture dir is eligible — the
# oracle and the Spark side always read the same parquet, so the
# comparison is closed at any scale. A query with NO table reference
# (fixture-bound, e.g. the media-listing audit) is scale-invariant and
# runs too. Anything else is recorded in the artifact's ``excluded`` map
# with a one-line reason, so n_queries + n_excluded == oracled registry.
def scale_fixture_set(qs, available: set[str]) -> tuple[list[str], dict[str, str]]:
    import re

    names, excluded = [], {}
    for name, q in qs.items():
        if q.oracle is None:
            continue
        # Strip SQL comments first: a table name inside a `-- ...` remark
        # must not add a phantom reference (round-7 review finding — it
        # would silently drop the query from the scale sweep).
        sql = re.sub(r"--[^\n]*", "", q.oracle)
        refs = {t for t in TABLES if re.search(rf"\b{t}\b", sql, re.I)}
        if refs <= available:
            names.append(name)
        else:
            missing = ", ".join(sorted(refs - available))
            excluded[name] = (
                f"oracle references table(s) absent from this fixture set: {missing}"
            )
    print(f"# scale-fixture set: {len(names)} eligible, {len(excluded)} excluded")
    return names, excluded


def main() -> None:
    import duckdb

    from data_pipeline_with_spark_kafka_spark.queries import all_queries
    from data_pipeline_with_spark_kafka_spark.session import get_spark
    from oracle_compare import normalize

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR
    out_name = sys.argv[2] if len(sys.argv) > 2 else "CORRECTNESS_SF01.json"
    tables = [t for t in TABLES if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))]
    spark = get_spark("correctness-sf01")
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = all_queries()
    # Full oracled registry, filtered to the tables this fixture set
    # actually has (round 9 — previously the driver sf0.1 run used the
    # hand-curated HEAVY list and the generated fixtures only the
    # documents/embeddings/events subset). HEAVY remains available via
    # SPARK_GRAFT_SWEEP_HEAVY=1 for a quick targeted pass.
    if os.environ.get("SPARK_GRAFT_SWEEP_HEAVY") == "1":
        heavy, excluded = HEAVY, {}
    else:
        heavy, excluded = scale_fixture_set(qs, set(tables))
    out: dict = {}
    t_start = time.time()
    for name in heavy:
        q = qs[name]
        assert q.oracle is not None, f"{name} has no oracle"
        rec: dict = {"rows_match": None, "schema_match": None, "hash_match": None, "err": None}
        try:
            sr = normalize(q.builder(spark, sf_dir).toPandas())
            orr = normalize(con.execute(q.oracle).df())
            rec["spark_rows"], rec["oracle_rows"] = len(sr), len(orr)
            rec["rows_match"] = len(sr) == len(orr)
            rec["schema_match"] = rec["hash_match"] = sr == orr
        except Exception as exc:  # noqa: BLE001
            rec["err"] = str(exc)[:300]
        out[name] = rec
        spark.catalog.clearCache()
        status = "MATCH" if rec["hash_match"] else ("ERR" if rec["err"] else "MISMATCH")
        print(f"{name}: {status} ({rec.get('spark_rows')} rows)", flush=True)
    payload = {
        "sf_dir": sf_dir,
        "comparator": "tests/oracle_compare.normalize (driver-strict)",
        "elapsed_sec": round(time.time() - t_start, 1),
        "n_queries": len(out),
        "n_match": sum(1 for r in out.values() if r["hash_match"]),
        "n_excluded": len(excluded),
        "excluded": excluded,
        "results": out,
    }
    with open(os.path.join(REPO, out_name), "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"total: {payload['n_match']}/{payload['n_queries']} match "
          f"in {payload['elapsed_sec']}s -> {out_name}")
    spark.stop()


if __name__ == "__main__":
    main()
