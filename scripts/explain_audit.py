"""Physical-plan audit: asserts the optimizer properties each query class
relies on — parquet filter/projection pushdown, broadcast joins for
dimension enrichment, no cartesian products where a bucketed join is
intended, whole-stage codegen coverage.

Usage: python scripts/explain_audit.py [sf_dir]
Prints one line per check; exits non-zero on violations.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CHECKS: list[tuple[str, str, list[str], list[str]]] = [
    # (query, description, must_contain, must_not_contain)
    ("p1_filter_pandas_dialect", "filter pushed to parquet scan",
     ["PushedFilters: ["], []),
    ("p2_wildcard_projection", "projection pruned at scan (4 cols)",
     ["ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,"
      "l_extendedprice:double,l_returnflag:string>"], []),
    ("j1_broadcast_enrich", "dimension join broadcasts",
     ["BroadcastHashJoin"], ["SortMergeJoin"]),
    ("j7_anti_join", "anti-join broadcasts (small right side)",
     ["BroadcastHashJoin", "LeftAnti"], []),
    ("j5_nn_join", "cell-bucketed NN join is an equi hash join on cells",
     ["HashJoin"], ["CartesianProduct", "NestedLoop"]),
    ("j6_tag_dust", "dust theta-join broadcasts the circle table",
     ["BroadcastNestedLoopJoin"], []),
    ("flagship", "flagship joins broadcast; aggregate is partial+final",
     ["BroadcastHashJoin", "HashAggregate"], ["SortMergeJoin"]),
    ("a3_group_stats", "aggregation runs partial (map-side) + final",
     ["HashAggregate"], []),
    ("sim_topk_bruteforce", "query side broadcast for the scoring join",
     ["BroadcastNestedLoopJoin"], []),
    ("ev_asof_join", "as-of join is union+window — no join fanout",
     ["Window"], ["CartesianProduct", "NestedLoop", "SortMergeJoin"]),
    ("sk_hll_stats", "sketch aggs are JVM partial+final (no Python)",
     ["HashAggregate", "hll_sketch_agg"], ["Python"]),
    ("ev_scd2_history", "SCD2 is pure windows — one key shuffle, no join",
     ["Window"], ["Join", "CartesianProduct"]),
    ("txt_decontaminate", "eval shingles broadcast — corpus never "
     "shuffles by shingle",
     ["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    ("samp_temperature", "per-source thresholds broadcast back; corpus "
     "side is a row-local hash filter",
     ["BroadcastHashJoin"], ["SortMergeJoin"]),
    ("txt_chunk_documents", "chunking is a map-only plan — no shuffle, "
     "no Python",
     [], ["Exchange", "Python", "Join"]),
    ("dd_cross_corpus", "cross-corpus dedup is an anti join on "
     "fingerprints only",
     ["LeftAnti"], ["CartesianProduct", "NestedLoop"]),
    ("emb_knn_classify", "kNN scoring is a map-side partial top-k kernel "
     "(query matrix is a broadcast variable; corpus never shuffles; no "
     "join anywhere — the label rides through the kernel)",
     ["MapInPandas"], ["CartesianProduct", "NestedLoop", "SortMergeJoin",
                       "BroadcastHashJoin"]),
    ("llm_data_pipeline", "pipeline chain: broadcast joins + windows, "
     "no cartesian anywhere",
     ["BroadcastHashJoin", "Window", "HashAggregate"],
     ["CartesianProduct"]),
    ("ev_rolling_stats", "rolling stats is one native RANGE window — "
     "no self-join fanout, no Python",
     ["Window"], ["Join", "CartesianProduct", "Python"]),
    ("ev_interpolate", "interpolation is union+window — both endpoints "
     "from one sort, no join",
     ["Window", "Union"], ["Join", "CartesianProduct", "Python"]),
    ("ev_funnel", "funnel chains step minima over windows, no per-step "
     "join",
     ["Window"], ["Join", "CartesianProduct", "Python"]),
    ("a10_histogram", "histogram is partial+final agg over a map-side "
     "bucket expression",
     ["HashAggregate"], ["Exchange rangepartitioning", "Join"]),
    ("dd_fuzzy_names", "fuzzy join is a variant equi-join + JVM "
     "levenshtein — no cartesian, no Python",
     ["HashJoin"], ["CartesianProduct", "NestedLoop", "Python"]),
    ("dq_constraints", "FK checks are broadcast anti-joins",
     ["BroadcastHashJoin", "LeftAnti"],
     ["CartesianProduct", "NestedLoop"]),
    ("ev_interval_join", "range join is a bucketed hash equi-join — "
     "never a nested loop",
     ["HashJoin"], ["CartesianProduct", "NestedLoop"]),
    ("sk_theta_sets", "theta sketches aggregate JVM-side partial+final",
     ["HashAggregate", "theta_sketch_agg"], ["Python"]),
    ("dd_index_incremental", "index probe broadcast-joins batch keys; "
     "stored band table never shuffles",
     ["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    ("samp_bootstrap_ci", "replicate explosion is map-only into partial "
     "aggregates; the only joins are 1-row CI frames",
     ["HashAggregate"], ["SortMergeJoin", "CartesianProduct"]),
    ("sk_hll_certify", "sketches + exact twins are ONE scan / one groupBy "
     "(Expand shares the pass for the two COUNT DISTINCTs)",
     ["HashAggregate", "Expand"], ["Join"]),
    ("sk_hll_stats", "sketch-only path has NO exact-twin Expand and no "
     "Python — pure partial+final sketch agg",
     ["HashAggregate"], ["Expand", "Python", "Join"]),
    ("emb_pca_gram", "Gram matrix reduces per-partition before the "
     "shuffle — mapInPandas partials + final agg, no row explosion",
     ["MapInPandas", "HashAggregate"], ["Join", "Explode", "Generate"]),
    ("txt_trigram_lm", "trigram model joins broadcast (alphabet-bounded) "
     "— the corpus never shuffles on trigram",
     ["BroadcastHashJoin", "HashAggregate"],
     ["SortMergeJoin", "CartesianProduct"]),
    ("skw_salted_agg", "salted agg is two aggregation stages, no join",
     ["HashAggregate"], ["Join", "CartesianProduct"]),
    ("samp_weighted", "weighted sample is one per-group window over the "
     "A-ES key — no join, no Python",
     ["Window", "row_number"], ["Join", "Python", "CartesianProduct"]),
    ("emb_kmeans", "final k-means assignment is per-row: centroids are "
     "inlined literals after the fit's bounded k×d collects — no join; "
     "the only exchange allowed is the guarded utils.spread round-robin "
     "that widens a narrow scan below the assignment work (r11)",
     [], ["Join", "hashpartitioning", "rangepartitioning",
          "CartesianProduct"]),
    ("emb_semantic_dedup", "SemDeDup pairs form only inside a cluster "
     "(equi-join on cluster id) — no cartesian, Arrow-batched cosine",
     ["ArrowEvalPython"], ["CartesianProduct", "NestedLoop"]),
    ("txt_quality_classifier", "perceptron prediction is a map-only "
     "literal-weights projection (training's epoch aggregates already "
     "ran as JVM partial+final sums)",
     [], ["Join", "Exchange", "Python", "CartesianProduct"]),
    ("j10_bloom_join", "bloom bitmap is a 1-row broadcast relation probed "
     "by the fact-side predicate ahead of the join (no Python, no "
     "fact shuffle in the pruning stage)",
     ["xxhash64", "BroadcastNestedLoopJoin"],
     ["Python", "CartesianProduct", "SortMergeJoin"]),
    ("txt_bpe_tokenize", "tokenization with the learned merge table is a "
     "map-only replace chain (training's pair counts already ran as "
     "partial+final aggregates)",
     [], ["Join", "Exchange", "Python", "CartesianProduct"]),
    ("gr_pagerank", "below graph.DRIVER_MAX_EDGES the ranks are computed "
     "on the driver: the plan is a local scan — no shuffle, join or "
     "Python (the distributed rounds' plan is checked in "
     "tests/test_pagerank.py)",
     ["LocalTableScan"], ["Exchange", "Join", "Python", "CartesianProduct"]),
    ("txt_hashed_bow_classifier", "hashed-BoW features are materialized "
     "once before the fit; prediction is a literal-weights projection "
     "over the checkpoint — no shuffle, join or Python",
     ["ExistingRDD"], ["Exchange", "Join", "Python", "CartesianProduct"]),
    ("txt_ridge_regression", "ridge prediction is a map-only fixed-order "
     "double projection (the normal matrix already aggregated as "
     "partial+final integer sums)",
     [], ["Join", "Exchange", "Python", "CartesianProduct"]),
    ("txt_bm25_topk", "BM25 top-k: JVM conditional-count aggregate, "
     "one-row stats broadcast, distributed TakeOrdered — no Python, no "
     "single-partition global sort",
     ["TakeOrderedAndProject", "HashAggregate"],
     ["Python", "SortMergeJoin"]),
    ("txt_span_dedup", "ExactSubstr span dedup: fingerprint rank + "
     "island merge are windows; only (fp, id, pos) triples shuffle; "
     "scrub re-joins spans on the doc key — no Python, no cartesian",
     ["Window", "row_number"],
     ["Python", "CartesianProduct", "NestedLoop"]),
    ("j11_bucketed_join", "bucketed fact-to-fact join: SMJ reads the "
     "bucketed scans directly (SelectedBucketsCount in both scans; the "
     "only Exchange is the final aggregate's) — no broadcast, no "
     "cartesian; tests/test_bucketed.py asserts the bare join plan has "
     "ZERO Exchange operators",
     ["SortMergeJoin", "SelectedBucketsCount"],
     ["BroadcastExchange", "CartesianProduct", "NestedLoop"]),
    ("txt_paragraph_filter", "paragraph filter is array HOFs — map-only "
     "plan, no explode, no regroup shuffle, no Python",
     [], ["Exchange", "Generate", "Python", "Join"]),
    ("samp_domain_quota", "per-group quota is ONE group-keyed window — "
     "no join, no global sort",
     ["Window", "row_number"], ["Join", "CartesianProduct"]),
    ("samp_token_budget", "token-budget selection: per-bucket windows + "
     "broadcast offset join — no single-partition global window",
     ["Window", "BroadcastHashJoin"], ["SortMergeJoin"]),
    ("emb_hard_negatives", "hard-negative mining runs the map-side "
     "partial top-k kernel — corpus never shuffles, no join",
     ["MapInPandas"], ["CartesianProduct", "NestedLoop", "SortMergeJoin",
                       "BroadcastHashJoin"]),
    ("txt_phrase_search", "phrase search prefilters postings before the "
     "shuffle and equi-joins on (doc, pos) — no cartesian, no Python",
     ["HashJoin"], ["CartesianProduct", "NestedLoop", "Python"]),
    ("ev_pattern_detect", "CEP pattern: leads over ONE time-ordered key "
     "window — no joins, no Python",
     ["Window"], ["Join", "CartesianProduct", "Python"]),
    ("ev_markov_transitions", "transition matrix: one lag window + one "
     "hash aggregate + broadcast totals — no sort-merge join",
     ["Window", "HashAggregate", "BroadcastHashJoin"],
     ["SortMergeJoin", "Python"]),
    ("dd_containment", "containment: inverted-index equi joins only — "
     "no cartesian, no Python",
     ["HashJoin"], ["CartesianProduct", "NestedLoop", "Python"]),
    ("llm_curation_pipeline", "curation flagship: map-only paragraph "
     "HOFs + keyed windows + broadcast plans + bounded explode — no "
     "Python, no cartesian, no sort-merge join anywhere",
     ["Window", "BroadcastHashJoin", "Generate"],
     ["Python", "CartesianProduct", "SortMergeJoin"]),
    ("txt_bm25_index_search", "BM25 index probe: the term IN filter is "
     "pushed into the postings parquet scan (row-group pruning via the "
     "term-sorted layout); no Python, no cartesian",
     ["In(term"], ["Python", "CartesianProduct", "SortMergeJoin"]),
    ("samp_epoch_mixture", "epoch mixture: per-source plan broadcast "
     "back; copies via bounded explode — corpus never shuffles",
     ["BroadcastHashJoin", "Generate"], ["SortMergeJoin", "Python"]),
    ("lk_cdc_apply", "CDC merge: latest-wins is a partial+final "
     "max_by aggregate (map-side combine, no window sort); one "
     "full-outer merge join",
     ["partial_max_by", "FullOuter"],
     ["Window", "CartesianProduct"]),
    ("lk_time_travel", "time travel: the seq-prefix predicate is pushed "
     "into the changelog parquet scan before the MERGE",
     ["PushedFilters: [IsNotNull(event_id), LessThanOrEqual(event_id,"],
     ["CartesianProduct"]),
    ("dq_ks_test", "KS: value-granular histogram aggregates partial+"
     "final; totals broadcast back; ECDF window partitioned by feature",
     ["HashAggregate", "BroadcastHashJoin", "Window"],
     ["SortMergeJoin", "CartesianProduct", "Python"]),
    ("ev_ewma_smooth", "EWMA: one key exchange into the batched Arrow "
     "kernel — no join, no window",
     ["MapInPandas"], ["Join", "Window", "CartesianProduct"]),
    ("ev_seasonal_decompose", "seasonal decomposition: range-window "
     "trend + per-phase aggregate re-joined on the SAME key — no "
     "cartesian, no Python",
     ["Window", "HashAggregate"], ["CartesianProduct", "Python"]),
    ("ev_minmax_downsample", "min-max decimation is ONE aggregate + "
     "explode — single Exchange, no window, no join (struct min/max "
     "falls back to SortAggregate over compact per-bucket partials)",
     ["Aggregate", "Generate"], ["Window", "Join", "Python"]),
    ("txt_c4_clean", "C4 cleaning is map-only array HOFs — no shuffle, "
     "no Python",
     [], ["Exchange", "Python", "Join"]),
    ("txt_ngram_novelty", "novelty: reference shingles reduced to "
     "DISTINCT then hash-joined; one doc-keyed aggregate",
     ["HashAggregate"], ["CartesianProduct", "Python", "NestedLoop"]),
    ("emb_centroid_drift", "centroid drift: labels-by-dims aggregates "
     "partial+final; vectors never shuffle whole",
     ["HashAggregate"], ["CartesianProduct", "Python", "NestedLoop"]),
    ("sim_mmr_rerank", "MMR: candidate scoring is a map-side partial "
     "top-N kernel (query matrix broadcast, corpus never shuffles), the "
     "greedy rerank one Arrow group per query — no join fanout anywhere",
     ["MapInPandas", "FlatMapGroupsInPandas"],
     ["CartesianProduct", "NestedLoop", "SortMergeJoin"]),
    ("sim_mmr_ivf", "IVF-fed MMR: probed-list isin scan + bounded "
     "candidate joins + one Arrow group per query — no cartesian, no "
     "sort-merge fanout",
     ["FlatMapGroupsInPandas"],
     ["CartesianProduct", "NestedLoop", "SortMergeJoin"]),
    ("dd_minhash_lsh", "MinHash LSH: band buckets equi-join (hash) + "
     "exact verify on candidate ids only — no cartesian, no nested loop",
     ["HashAggregate"],
     ["CartesianProduct", "NestedLoop"]),
    ("dd_minhash_bbit", "b-bit MinHash: packed-lane band buckets "
     "equi-join (hash) + exact verify on candidate ids only — no "
     "cartesian, no nested loop",
     ["HashAggregate"],
     ["CartesianProduct", "NestedLoop"]),
    ("dd_weighted_minhash", "CWS weighted near-dup: band-bucket "
     "equi-join + map_zip_with pair-local verify over candidate doc "
     "maps — no cartesian, no nested loop (r11: cand and the doc-map "
     "table are checkpointed so the double-consumed subtrees run once; "
     "the final plan is joins over RDD-scan roots, no aggregate left)",
     ["ExistingRDD"],
     ["CartesianProduct", "NestedLoop"]),
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from dataslicer_spark.session import get_spark

    spark = get_spark("explain-audit")
    qs = entrymod.queries()
    failures = 0
    for name, desc, must, must_not in CHECKS:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        missing = [m for m in must if m not in plan]
        present = [m for m in must_not if m in plan]
        if missing or present:
            failures += 1
            print(f"FAIL {name}: {desc}")
            for m in missing:
                print(f"      missing: {m}")
            for m in present:
                print(f"      unwanted: {m}")
        else:
            print(f"ok   {name}: {desc}")
    print(f"\n{len(CHECKS) - failures}/{len(CHECKS)} plan checks ok")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
