"""Registry-wide plan gate: every driver-contract query's physical plan
is linted for 100 TB scale antipatterns (plans/linter.py) and checked
against its plan contract, if it has one.

Three findings are NEVER allowed anywhere: ``cartesian-product``,
``row-wise-python-udf``, ``unbounded-following-frame``.  The other two
are allowed only where a manual audit established the pattern is
aggregate-sized or a deliberate tiny-broadcast design — each allowance
is justified inline.  A new query that introduces a global window, an
accidental cross join, or a row-at-a-time Python UDF fails this test.

A contract pins the optimizer properties one query relies on —
parquet filter/projection pushdown, broadcast joins for dimension
enrichment, map-only or driver-path plans — as substrings the executed
plan must and must not contain.  Its reason is the failure message.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from dataslicer_spark.plans.linter import explain_scale_report

SF = "/root/testdata/sf0.001"

NEVER = {"cartesian-product", "row-wise-python-udf", "unbounded-following-frame"}

# query -> allowed finding ids, each with an audited reason:
ALLOW = {
    # synthetic fixture fans 5 exposures per star via an intentional
    # crossJoin (5-row broadcast side); the count inflates because the
    # fixture lineage is printed under every downstream reuse
    "astro_flagship_pipeline": {"nested-loop-join"},
    # same fixture crossJoin (5-row exposure side) + the 1-row min/max
    # bin-range broadcast in the deterministic IQR stage
    "astro_flagship_oracle": {"nested-loop-join"},
    # dust-grain circle table is a tiny broadcast dimension (reference
    # semantics: srcdf.py:655-662) — point-in-circle needs the pair test
    "j6_tag_dust": {"nested-loop-join"},
    # global distinct-count output is ONE row — the single partition holds
    # the final scalar aggregate, not data
    "a6_distinct_stats": {"single-partition-exchange"},
    # broadcast 1-row global min/max (replaces the former global window);
    # the single partitions are the 1-row aggregate's final stages
    "m3_iqr_outliers": {"nested-loop-join", "single-partition-exchange"},
    # brute-force top-k: query side is broadcast BY DESIGN (corpus never
    # shuffles) — documented in operators/similarity.py
    "sim_topk_bruteforce": {"nested-loop-join"},
    # threshold sweep: the 5-row threshold list broadcasts against the
    # pre-mined pair table (bounded fanout len(thresholds)·|pairs|) —
    # documented in operators/dedup.dedup_threshold_sweep
    "dd_dedup_sweep": {"nested-loop-join"},
    # Benford: the grand total is a broadcast 1-row aggregate re-joined
    # to the 9-row digit histogram (the m3 pattern)
    "dq_benford": {"nested-loop-join"},
    # mutual NN: both directions are brute-force cosine_topk over small
    # id-slice subsets (query side broadcast BY DESIGN, same audit as
    # sim_topk_bruteforce) — feed ANN candidates for full-corpus use
    "emb_mutual_nn": {"nested-loop-join"},
    # theta-sketch set algebra: outputs are sketch-sized (a few rows);
    # the nested loop joins two 1-row sketch aggregates
    "sk_theta_sets": {"nested-loop-join", "single-partition-exchange"},
    # funnel summary is step-count-sized (<10 rows)
    "ev_funnel": {"single-partition-exchange"},
    "ev_funnel_by_session": {"single-partition-exchange"},
    # table profile / constraint report = global scalar aggregates
    "dq_profile": {"single-partition-exchange"},
    "dq_constraints": {"single-partition-exchange"},
    # documented broadcast 1-row totals cross-join (see
    # operators/sampling.temperature_resample docstring)
    "samp_temperature": {"nested-loop-join", "single-partition-exchange"},
    # same pattern: broadcast 1-row mixture cap (sampling.mixture_resample)
    "samp_mixture": {"nested-loop-join", "single-partition-exchange"},
    # same pattern: broadcast 1-row tercile cutpoints (the percentile
    # aggregate is the single partition; everything after is map-only)
    "samp_perplexity_buckets": {"nested-loop-join", "single-partition-exchange"},
    "llm_data_pipeline": {"nested-loop-join", "single-partition-exchange"},
    # the bloom bitmap is a deliberate 1-row broadcast relation (that is
    # the whole point: ship a bounded bitmap instead of the dim keys)
    "j10_bloom_join": {"nested-loop-join"},
    # AUC mid-ranks run over the SCORE HISTOGRAM (distinct integer
    # scores — aggregate-sized), then a 1-row scalar aggregate
    "txt_classifier_eval": {"single-partition-exchange"},
    # running sum over the DAY HISTOGRAM (calendar-sized — the event
    # rows were aggregated away two stages earlier)
    "ev_running_distinct": {"single-partition-exchange"},
    # the census output is ONE row: the nested loop joins the 1-row
    # degree summary to the 1-row triangle count; the single partitions
    # are those scalar aggregates' final stages
    "gr_triangles": {"nested-loop-join", "single-partition-exchange"},
    # the moment-cell aggregate is ONE row (15 exact cells); the single
    # partition is that scalar aggregate's final stage
    "a17_corr_matrix": {"single-partition-exchange"},
    # replicate ranking walks B=64 rows; the nested loop joins the
    # 1-row full-mean aggregate to the 1-row CI aggregate
    "samp_bootstrap_ci": {"nested-loop-join", "single-partition-exchange"},
    # composes sim_topk_bruteforce (broadcast query side BY DESIGN) and
    # ends in a 1-row scalar aggregate
    "emb_recall_eval": {"nested-loop-join", "single-partition-exchange"},
    # two exact brute-force sides (full-dim + truncated), each with the
    # broadcast-query-side nested loop BY DESIGN, joined into a 1-row
    # recall aggregate
    "emb_truncation_eval": {"nested-loop-join",
                            "single-partition-exchange"},
    # the nested loop joins the broadcast 1-ROW corpus-stats aggregate
    # (N, Σdl, per-term df); the single partitions are that scalar
    # aggregate's final stage and the rank window over the ≤k rows that
    # survive the distributed TakeOrdered (operators/retrieval.py)
    "txt_bm25_topk": {"nested-loop-join", "single-partition-exchange"},
    # same scoring kernel as txt_bm25_topk behind the persistent index:
    # the nested loop is the broadcast 1-ROW corpus-stats aggregate and
    # the single partition is the ≤k rank window
    "txt_bm25_index_search": {"nested-loop-join",
                              "single-partition-exchange"},
    # probe-only twin: identical scoring kernel, same 1-row broadcast
    # and ≤k rank window
    "txt_bm25_index_probe": {"nested-loop-join",
                             "single-partition-exchange"},
    # the cumulative-coverage window walks the ≤64-row FREQUENCY-BUCKET
    # table (the term rows were aggregated away one stage earlier) and
    # the total-token scalar is a 1-row aggregate
    "txt_freq_spectrum": {"single-partition-exchange"},
    # the single partition is the rank window over the ≤k rows that
    # survive the distributed TakeOrdered (operators/dsir.py); the
    # bucket-model join is a broadcast equi join
    "samp_dsir_select": {"single-partition-exchange"},
    # the nested loop joins the broadcast 1-ROW corpus-stats aggregate
    # (N, Σdl) onto the matched tf frame (operators/retrieval.py)
    "txt_bm25_multiquery": {"nested-loop-join"},
    # composes bm25 (1-row stats broadcast) and cosine_topk (query side
    # broadcast BY DESIGN); the single partitions are the ≤k rank
    # windows over the two TakeOrdered survivor sets + the fused top-10
    "txt_hybrid_rrf": {"nested-loop-join", "single-partition-exchange"},
    # the summary crossJoins the 1-ROW leak-counter aggregate onto the
    # ≤|splits| per-split counts — both sides aggregate-sized
    "samp_leakage_safe_split": {"nested-loop-join"},
}


# query -> (reason, tokens the executed plan must contain, tokens it must
# not contain).  ``CartesianProduct``, and ``NestedLoop`` where ALLOW has
# no ``nested-loop-join``, are never listed: the linter gate rejects them.
CONTRACTS = {
    "p1_filter_pandas_dialect": (
        "filter pushed to parquet scan",
        ["PushedFilters: ["], []),
    "p2_wildcard_projection": (
        "projection pruned at scan (4 cols)",
        ["ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,"
         "l_extendedprice:double,l_returnflag:string>"],
        []),
    "j1_broadcast_enrich": (
        "dimension join broadcasts",
        ["BroadcastHashJoin"], ["SortMergeJoin"]),
    "j7_anti_join": (
        "anti-join broadcasts (small right side)",
        ["BroadcastHashJoin", "LeftAnti"], []),
    "j5_nn_join": (
        "cell-bucketed NN join is an equi hash join on cells",
        ["HashJoin"], []),
    "j6_tag_dust": (
        "dust theta-join broadcasts the circle table",
        ["BroadcastNestedLoopJoin"], []),
    "flagship": (
        "flagship joins broadcast; aggregate is partial+final",
        ["BroadcastHashJoin", "HashAggregate"], ["SortMergeJoin"]),
    "a3_group_stats": (
        "aggregation runs partial (map-side) + final",
        ["HashAggregate"], []),
    "sim_topk_bruteforce": (
        "query side broadcast for the scoring join",
        ["BroadcastNestedLoopJoin"], []),
    "ev_asof_join": (
        "as-of join is union+window — no join fanout",
        ["Window"], ["SortMergeJoin"]),
    "sk_hll_stats": (
        "sketch-only path: HLL sketches aggregate JVM-side partial+final — "
        "no exact-twin Expand, no Python, no join",
        ["HashAggregate", "hll_sketch_agg"], ["Python", "Expand", "Join"]),
    "ev_scd2_history": (
        "SCD2 is pure windows — one key shuffle, no join",
        ["Window"], ["Join"]),
    "txt_decontaminate": (
        "eval shingles broadcast — corpus never shuffles by shingle",
        ["BroadcastHashJoin"], ["SortMergeJoin"]),
    "samp_temperature": (
        "per-source thresholds broadcast back; corpus side is a row-local "
        "hash filter",
        ["BroadcastHashJoin"], ["SortMergeJoin"]),
    "txt_chunk_documents": (
        "chunking is a map-only plan — no shuffle, no Python",
        [], ["Exchange", "Python", "Join"]),
    "dd_cross_corpus": (
        "cross-corpus dedup is an anti join on fingerprints only",
        ["LeftAnti"], []),
    "emb_knn_classify": (
        "kNN scoring is a map-side partial top-k kernel (query matrix is a "
        "broadcast variable; corpus never shuffles; no join anywhere — the "
        "label rides through the kernel)",
        ["MapInPandas"], ["SortMergeJoin", "BroadcastHashJoin"]),
    "llm_data_pipeline": (
        "pipeline chain: broadcast joins + windows, no cartesian anywhere",
        ["BroadcastHashJoin", "Window", "HashAggregate"], []),
    "ev_rolling_stats": (
        "rolling stats is one native RANGE window — no self-join fanout, no"
        " Python",
        ["Window"], ["Join", "Python"]),
    "ev_interpolate": (
        "interpolation is union+window — both endpoints from one sort, no "
        "join",
        ["Window", "Union"], ["Join", "Python"]),
    "ev_funnel": (
        "funnel chains step minima over windows, no per-step join",
        ["Window"], ["Join", "Python"]),
    "a10_histogram": (
        "histogram is partial+final agg over a map-side bucket expression",
        ["HashAggregate"], ["Exchange rangepartitioning", "Join"]),
    "dd_fuzzy_names": (
        "fuzzy join is a variant equi-join + JVM levenshtein — no "
        "cartesian, no Python",
        ["HashJoin"], ["Python"]),
    "dq_constraints": (
        "FK checks are broadcast anti-joins",
        ["BroadcastHashJoin", "LeftAnti"], []),
    "ev_interval_join": (
        "range join is a bucketed hash equi-join — never a nested loop",
        ["HashJoin"], []),
    "sk_theta_sets": (
        "theta sketches aggregate JVM-side partial+final",
        ["HashAggregate", "theta_sketch_agg"], ["Python"]),
    "dd_index_incremental": (
        "index probe broadcast-joins batch keys; stored band table never "
        "shuffles",
        ["BroadcastHashJoin"], ["SortMergeJoin"]),
    "samp_bootstrap_ci": (
        "replicate explosion is map-only into partial aggregates; the only "
        "joins are 1-row CI frames",
        ["HashAggregate"], ["SortMergeJoin"]),
    "sk_hll_certify": (
        "sketches + exact twins are ONE scan / one groupBy (Expand shares "
        "the pass for the two COUNT DISTINCTs)",
        ["HashAggregate", "Expand"], ["Join"]),
    "emb_pca_gram": (
        "Gram matrix reduces per-partition before the shuffle — mapInPandas"
        " partials + final agg, no row explosion",
        ["MapInPandas", "HashAggregate"], ["Join", "Explode", "Generate"]),
    "txt_trigram_lm": (
        "trigram model joins broadcast (alphabet-bounded) — the corpus "
        "never shuffles on trigram",
        ["BroadcastHashJoin", "HashAggregate"], ["SortMergeJoin"]),
    "skw_salted_agg": (
        "salted agg is two aggregation stages, no join",
        ["HashAggregate"], ["Join"]),
    "samp_weighted": (
        "weighted sample is one per-group window over the A-ES key — no "
        "join, no Python",
        ["Window", "row_number"], ["Join", "Python"]),
    "emb_kmeans": (
        "final k-means assignment is per-row: centroids are inlined "
        "literals after the fit's bounded k×d collects — no join; the only "
        "exchange allowed is the guarded utils.spread round-robin that "
        "widens a narrow scan below the assignment work (r11)",
        [], ["Join", "hashpartitioning", "rangepartitioning"]),
    "emb_semantic_dedup": (
        "SemDeDup pairs form only inside a cluster (equi-join on cluster "
        "id) — no cartesian, Arrow-batched cosine",
        ["ArrowEvalPython"], []),
    "txt_quality_classifier": (
        "perceptron prediction is a map-only literal-weights projection "
        "(training's epoch aggregates already ran as JVM partial+final "
        "sums)",
        [], ["Join", "Exchange", "Python"]),
    "j10_bloom_join": (
        "bloom bitmap is a 1-row broadcast relation probed by the fact-side"
        " predicate ahead of the join (no Python, no fact shuffle in the "
        "pruning stage)",
        ["xxhash64", "BroadcastNestedLoopJoin"], ["Python", "SortMergeJoin"]),
    "txt_bpe_tokenize": (
        "tokenization with the learned merge table is a map-only replace "
        "chain (training's pair counts already ran as partial+final "
        "aggregates)",
        [], ["Join", "Exchange", "Python"]),
    "gr_pagerank": (
        "below graph.DRIVER_MAX_EDGES the ranks are computed on the driver:"
        " the plan is a local scan — no shuffle, join or Python (the "
        "distributed rounds' plan is checked in tests/test_pagerank.py)",
        ["LocalTableScan"], ["Exchange", "Join", "Python"]),
    "txt_hashed_bow_classifier": (
        "hashed-BoW features are materialized once before the fit; "
        "prediction is a literal-weights projection over the checkpoint — "
        "no shuffle, join or Python",
        ["ExistingRDD"], ["Exchange", "Join", "Python"]),
    "txt_ridge_regression": (
        "ridge prediction is a map-only fixed-order double projection (the "
        "normal matrix already aggregated as partial+final integer sums)",
        [], ["Join", "Exchange", "Python"]),
    "txt_bm25_topk": (
        "BM25 top-k: JVM conditional-count aggregate, one-row stats "
        "broadcast, distributed TakeOrdered — no Python, no single-"
        "partition global sort",
        ["TakeOrderedAndProject", "HashAggregate"],
        ["Python", "SortMergeJoin"]),
    "txt_span_dedup": (
        "ExactSubstr span dedup: fingerprint rank + island merge are "
        "windows; only (fp, id, pos) triples shuffle; scrub re-joins spans "
        "on the doc key — no Python, no cartesian",
        ["Window", "row_number"], ["Python"]),
    "j11_bucketed_join": (
        "bucketed fact-to-fact join: SMJ reads the bucketed scans directly "
        "(SelectedBucketsCount in both scans; the only Exchange is the "
        "final aggregate's) — no broadcast, no cartesian; "
        "tests/test_bucketed.py asserts the bare join plan has ZERO "
        "Exchange operators",
        ["SortMergeJoin", "SelectedBucketsCount"], ["BroadcastExchange"]),
    "txt_paragraph_filter": (
        "paragraph filter is array HOFs — map-only plan, no explode, no "
        "regroup shuffle, no Python",
        [], ["Exchange", "Generate", "Python", "Join"]),
    "samp_domain_quota": (
        "per-group quota is ONE group-keyed window — no join, no global "
        "sort",
        ["Window", "row_number"], ["Join"]),
    "samp_token_budget": (
        "token-budget selection: per-bucket windows + broadcast offset join"
        " — no single-partition global window",
        ["Window", "BroadcastHashJoin"], ["SortMergeJoin"]),
    "emb_hard_negatives": (
        "hard-negative mining runs the map-side partial top-k kernel — "
        "corpus never shuffles, no join",
        ["MapInPandas"], ["SortMergeJoin", "BroadcastHashJoin"]),
    "txt_phrase_search": (
        "phrase search prefilters postings before the shuffle and equi-"
        "joins on (doc, pos) — no cartesian, no Python",
        ["HashJoin"], ["Python"]),
    "ev_pattern_detect": (
        "CEP pattern: leads over ONE time-ordered key window — no joins, no"
        " Python",
        ["Window"], ["Join", "Python"]),
    "ev_markov_transitions": (
        "transition matrix: one lag window + one hash aggregate + broadcast"
        " totals — no sort-merge join",
        ["Window", "HashAggregate", "BroadcastHashJoin"],
        ["SortMergeJoin", "Python"]),
    "dd_containment": (
        "containment: inverted-index equi joins only — no cartesian, no "
        "Python",
        ["HashJoin"], ["Python"]),
    "llm_curation_pipeline": (
        "curation flagship: map-only paragraph HOFs + keyed windows + "
        "broadcast plans + bounded explode — no Python, no cartesian, no "
        "sort-merge join anywhere",
        ["Window", "BroadcastHashJoin", "Generate"],
        ["Python", "SortMergeJoin"]),
    "txt_bm25_index_search": (
        "BM25 index probe: the term IN filter is pushed into the postings "
        "parquet scan (row-group pruning via the term-sorted layout); no "
        "Python, no cartesian",
        ["In(term"], ["Python", "SortMergeJoin"]),
    "samp_epoch_mixture": (
        "epoch mixture: per-source plan broadcast back; copies via bounded "
        "explode — corpus never shuffles",
        ["BroadcastHashJoin", "Generate"], ["SortMergeJoin", "Python"]),
    "lk_cdc_apply": (
        "CDC merge: latest-wins is a partial+final max_by aggregate (map-"
        "side combine, no window sort); one full-outer merge join",
        ["partial_max_by", "FullOuter"], ["Window"]),
    "lk_time_travel": (
        "time travel: the seq-prefix predicate is pushed into the changelog"
        " parquet scan before the MERGE",
        ["PushedFilters: [IsNotNull(event_id), LessThanOrEqual(event_id,"],
        []),
    "dq_ks_test": (
        "KS: value-granular histogram aggregates partial+final; totals "
        "broadcast back; ECDF window partitioned by feature",
        ["HashAggregate", "BroadcastHashJoin", "Window"],
        ["SortMergeJoin", "Python"]),
    "ev_ewma_smooth": (
        "EWMA: one key exchange into the batched Arrow kernel — no join, no"
        " window",
        ["MapInPandas"], ["Join", "Window"]),
    "ev_seasonal_decompose": (
        "seasonal decomposition: range-window trend + per-phase aggregate "
        "re-joined on the SAME key — no cartesian, no Python",
        ["Window", "HashAggregate"], ["Python"]),
    "ev_minmax_downsample": (
        "min-max decimation is ONE aggregate + explode — single Exchange, "
        "no window, no join (struct min/max falls back to SortAggregate "
        "over compact per-bucket partials)",
        ["Aggregate", "Generate"], ["Window", "Join", "Python"]),
    "txt_c4_clean": (
        "C4 cleaning is map-only array HOFs — no shuffle, no Python",
        [], ["Exchange", "Python", "Join"]),
    "txt_ngram_novelty": (
        "novelty: reference shingles reduced to DISTINCT then hash-joined; "
        "one doc-keyed aggregate",
        ["HashAggregate"], ["Python"]),
    "emb_centroid_drift": (
        "centroid drift: labels-by-dims aggregates partial+final; vectors "
        "never shuffle whole",
        ["HashAggregate"], ["Python"]),
    "sim_mmr_rerank": (
        "MMR: candidate scoring is a map-side partial top-N kernel (query "
        "matrix broadcast, corpus never shuffles), the greedy rerank one "
        "Arrow group per query — no join fanout anywhere",
        ["MapInPandas", "FlatMapGroupsInPandas"], ["SortMergeJoin"]),
    "sim_mmr_ivf": (
        "IVF-fed MMR: probed-list isin scan + bounded candidate joins + one"
        " Arrow group per query — no cartesian, no sort-merge fanout",
        ["FlatMapGroupsInPandas"], ["SortMergeJoin"]),
    "dd_minhash_lsh": (
        "MinHash LSH: band buckets equi-join (hash) + exact verify on "
        "candidate ids only — no cartesian, no nested loop",
        ["HashAggregate"], []),
    "dd_minhash_bbit": (
        "b-bit MinHash: packed-lane band buckets equi-join (hash) + exact "
        "verify on candidate ids only — no cartesian, no nested loop",
        ["HashAggregate"], []),
    "dd_weighted_minhash": (
        "CWS weighted near-dup: band-bucket equi-join + map_zip_with pair-"
        "local verify over candidate doc maps — no cartesian, no nested "
        "loop (r11: cand and the doc-map table are checkpointed so the "
        "double-consumed subtrees run once; the final plan is joins over "
        "RDD-scan roots, no aggregate left)",
        ["ExistingRDD"], []),
}


def test_contracts_and_allowances_name_registry_queries():
    """A renamed query must not silently lose its contract or its
    allowance: every key of both tables names a registry query."""
    names = set(entrymod.queries())
    assert set(CONTRACTS) - names == set()
    assert set(ALLOW) - names == set()


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_registry_plan_is_scale_clean(spark, name):
    fn = entrymod.queries()[name]
    df = fn(spark, SF)

    # Driver-canonicalization contract: the driver sorts cell VALUES
    # before hashing, so a top-level array/map/struct output column is
    # unhashable there and errors the whole correctness row — even for
    # rows-only queries (this is exactly how sk_hll_stats stayed red for
    # six rounds).  Emit scalar columns (q25/q50/q75, not an array).
    from pyspark.sql.types import ArrayType, MapType, StructType
    nonscalar = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nonscalar, (
        f"{name}: non-scalar top-level output columns {nonscalar} — the "
        "driver canonicalizer rejects these; flatten to scalar columns"
    )

    findings = explain_scale_report(df)
    allowed = ALLOW.get(name, set())
    bad = [f for f in findings if f.check in NEVER or f.check not in allowed]
    assert not bad, f"{name}: " + "; ".join(map(str, bad))

    if name in CONTRACTS:
        reason, must, must_not = CONTRACTS[name]
        plan = df._jdf.queryExecution().executedPlan().toString()
        missing = [t for t in must if t not in plan]
        unwanted = [t for t in must_not if t in plan]
        assert not missing and not unwanted, (
            f"{name}: {reason} (missing {missing}, unwanted {unwanted})"
        )
