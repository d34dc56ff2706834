"""Plan-regression tests: the physical plans behind the headline
queries must keep their scale-shape.  A refactor that silently turns a
broadcast join into a shuffle join, adds an exchange to the flagship
window, un-prunes a scan, or drops a row-at-a-time Python UDF into a
hot path would pass value-level tests — these assertions catch the
plan itself.
"""

from __future__ import annotations

import pytest

from financial_data_stream_processing_engine_spark.plans import catalog


@pytest.fixture(scope="module")
def queries():
    catalog.load_all()
    return catalog.QUERIES


def plan_of(queries, name, spark, sf_dir) -> str:
    return (
        queries[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )


def test_star_join_broadcasts_every_dimension(spark, sf_dir, queries):
    plan = plan_of(queries, "join_star_revenue_by_region", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle-join
    assert "CartesianProduct" not in plan


def test_stft_plan_broadcasts_twiddles_single_shuffle(spark, sf_dir, queries):
    """The STFT must stay one broadcast twiddle join + ONE keyed
    exchange for the (media, frame, bin) aggregation — a shuffle join
    on the twiddle table or a second exchange means the frame-lattice
    explode regressed into something join-shaped."""
    plan = plan_of(queries, "multimodal_audio_stft", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_flagship_ma_plan_has_single_exchange(spark, sf_dir, queries):
    plan = plan_of(queries, "ma_alerts", spark, sf_dir)
    # one hash-partitioning exchange for the per-user window; anything
    # more means the lag-chain fast path regressed
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_q1_scan_prunes_columns_and_partially_aggregates(spark, sf_dir, queries):
    plan = plan_of(queries, "tpch_q1_pricing_summary", spark, sf_dir)
    # column pruning reaches the parquet scan: the wide lineitem table
    # must not be read whole (l_comment etc. absent from ReadSchema)
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_comment" not in scan and "l_partkey" not in scan
    assert "l_quantity" in scan
    # partial (map-side) + final aggregation pair
    assert plan.count("HashAggregate") >= 2


def test_filter_pushdown_reaches_scan(spark, sf_dir, queries):
    plan = plan_of(queries, "tpch_q6_like_forecast_revenue", spark, sf_dir)
    assert "PushedFilters: [" in plan
    assert "IsNotNull" in plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]


def test_global_topk_uses_take_ordered(spark, sf_dir, queries):
    plan = plan_of(queries, "topn_orders_global", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_grouped_topk_uses_window_group_limit(spark, sf_dir, queries):
    plan = plan_of(queries, "window_topk_per_group", spark, sf_dir)
    assert "WindowGroupLimit" in plan


def test_minhash_lsh_single_signature_pass(spark, sf_dir, queries):
    plan = plan_of(queries, "dedup_minhash_lsh", spark, sf_dir)
    # one scan computes signatures, two feed the deferred verify joins —
    # a regression to the self-join doubles the signature pipeline
    assert plan.count("Scan parquet") == 3
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_no_row_at_a_time_python_in_headline_paths(spark, sf_dir, queries):
    import bench

    for name in bench.HEADLINE:
        plan = plan_of(queries, name, spark, sf_dir)
        assert "BatchEvalPython" not in plan, name


def test_asof_join_is_window_shaped_not_pandas(spark, sf_dir, queries):
    plan = plan_of(queries, "join_asof_last_purchase", spark, sf_dir)
    assert "FlatMapGroupsInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_salted_join_stays_hash_join(spark, sf_dir, queries):
    plan = plan_of(queries, "join_salted_skew", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantize_and_token_counts_stay_jvm_side(spark, sf_dir, queries):
    # int8 quantization: pure built-ins, no UDF at all
    plan = plan_of(queries, "embedding_quantize_int8", spark, sf_dir)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # token counts: estimator columns are built-ins; the ONLY Python is
    # the Arrow-batched BPE walk over the DISTINCT piece vocabulary
    # (word-cache) — never row-at-a-time, never over corpus rows
    plan = plan_of(queries, "text_token_counts", spark, sf_dir)
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 1
    # the UDF's subtree (printed below it) must be the piece-distinct
    # aggregate, i.e. vocabulary-sized input, not the documents scan
    assert "HashAggregate(keys=[piece" in plan[plan.index("ArrowEvalPython") :]


def test_curation_map_only_ops_have_no_exchange(spark, sf_dir, queries):
    # chunking, mixture sampling and PII redaction are per-row — any
    # Exchange in these plans is a regression to a shuffle
    for name in ("chunk_documents", "mixture_sample_sources", "pii_redact_documents"):
        plan = plan_of(queries, name, spark, sf_dir)
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_contamination_probe_set_broadcasts(spark, sf_dir, queries):
    plan = plan_of(queries, "contamination_ngram_overlap", spark, sf_dir)
    # the benchmark probe side must broadcast; the corpus side must
    # never shuffle-join against it
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_packing_shuffles_once_on_the_group_key(spark, sf_dir, queries):
    plan = plan_of(queries, "pack_sequences", spark, sf_dir)
    # one hash exchange feeding the grouped-map packer, nothing more
    assert plan.count("Exchange hashpartitioning") == 1
    assert "FlatMapGroupsInPandas" in plan  # the greedy walk itself


def test_ivf_topk_prunes_to_probed_cells(spark, sf_dir, queries):
    plan = plan_of(queries, "similarity_ivf_topk", spark, sf_dir)
    # final ranking must stay top-k, never a global sort
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_multiquery_ann_broadcasts_probes_not_corpus(spark, sf_dir, queries):
    plan = plan_of(queries, "similarity_multiquery_ivf_topk", spark, sf_dir)
    # the corpus joins the tiny (query, cell) probe side as a broadcast
    # hash join on the cell key — a sort-merge join here means the
    # corpus got shuffled per query batch
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # per-query top-k is a WindowGroupLimit, not a full sort + filter
    assert "WindowGroupLimit" in plan


def test_correlation_universe_bound_broadcasts(spark, sf_dir, queries):
    plan = plan_of(queries, "fin_pairwise_correlation", spark, sf_dir)
    # the top-N-active symbol list joins as a broadcast; the pair join
    # itself is keyed on the bucket — never a cartesian product
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_resample_spine_is_generated_not_shuffled(spark, sf_dir, queries):
    plan = plan_of(queries, "fin_resample_ffill", spark, sf_dir)
    # the 1-row bounds aggregate reaches the spine as a broadcast
    # nested-loop (1-row cross join), not an exchange of the tick table
    assert "BroadcastNestedLoopJoin" in plan
    assert "Generate explode" in plan or "Generate" in plan
    assert "CartesianProduct" not in plan


def test_streaming_ohlc_uses_declarative_candle_state(spark, sf_dir, queries):
    from financial_data_stream_processing_engine_spark.operators import finance
    from financial_data_stream_processing_engine_spark.io_utils import load_table

    # batch twin of the streaming candle agg: min_by/max_by must stay
    # declarative hash aggregates (no sort, no Python)
    ticks = finance.ticks_from_events(load_table(spark, sf_dir, "events"))
    plan = (
        finance.ohlc_bars(ticks, bucket="1 day")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Sort" not in plan.split("Exchange")[0]  # no pre-agg sort
    assert "BatchEvalPython" not in plan


def test_bucketed_join_has_zero_exchanges(spark, sf_dir, queries):
    plan = plan_of(queries, "join_bucketed_zero_shuffle", spark, sf_dir)
    # the whole point: bucketed scans satisfy join AND groupBy
    # distribution — no network step anywhere in the plan
    assert "Exchange" not in plan
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan


def test_kmeans_ivf_probe_scans_stay_pruned_and_jvm_side(spark, sf_dir, queries):
    plan = plan_of(queries, "similarity_ivf_kmeans_topk", spark, sf_dir)
    # the trained-centroid search is pure expression work: no Python
    # in the plan, and the final top-k is a TakeOrdered, not a global sort
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_partitioned_layout_scan_prunes_partitions(spark, sf_dir, queries):
    plan = plan_of(queries, "layout_partition_prune", spark, sf_dir)
    # the event_type predicate must resolve at the metadata level
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" in seg and "IN" in seg.upper()


def test_fuzzy_join_shuffles_only_ids(spark, sf_dir, queries):
    """The FastSS blocking join must carry (id, hashed key) only —
    names re-enter AFTER the pair dedup.  If `name` appears in a
    hashpartitioning clause the shuffle-width fix regressed."""
    plan = plan_of(queries, "join_fuzzy_names_editdist1", spark, sf_dir)
    for line in plan.splitlines():
        if "Exchange hashpartitioning(key#" in line:
            assert "name" not in line.split("hashpartitioning", 1)[1][:80]
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_bm25_single_pass_no_python(spark, sf_dir, queries):
    plan = plan_of(queries, "text_bm25_topk", spark, sf_dir)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan
    # the 1-row corpus-stats frame must broadcast, never shuffle-join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_kmv_sketch_rank_limit_runs_partial_before_exchange(spark, sf_dir):
    """The per-tag k-smallest window must carry the WindowGroupLimit
    optimization — each partition keeps only its local top-k BEFORE
    the per-tag exchange (the full entry's plan hides this behind a
    localCheckpoint, so the pin targets the sketch sub-plan)."""
    from pyspark.sql import functions as F

    from financial_data_stream_processing_engine_spark.io_utils import load_table
    from financial_data_stream_processing_engine_spark.operators import sketch

    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select(
        F.lit("a").alias("tag"), F.col("l_orderkey")
    )
    b = li.filter(F.col("l_quantity") > 25).select(
        F.lit("b").alias("tag"), F.col("l_orderkey")
    )
    sk = sketch.kmv_sketch(
        a.unionByName(b), "tag", F.col("l_orderkey").cast("string")
    )
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert "BatchEvalPython" not in plan


def test_binned_proximity_equals_brute_force(spark):
    """Bin bucketing must be lossless and duplicate-free, including
    pairs that straddle a bin boundary and exact-radius gaps."""
    import random

    from financial_data_stream_processing_engine_spark.operators.scale import (
        binned_proximity_pairs,
    )

    rng = random.Random(13)
    w = 1000  # radius 500 µs for the test
    pts = [(i, rng.randrange(0, 20_000)) for i in range(60)]
    # force boundary cases: a straddling pair and an exact-radius pair
    pts += [(100, 999), (101, 1001), (102, 3000), (103, 3500)]
    df = spark.createDataFrame(pts, "event_id long, us long")
    got = {
        (r["id_a"], r["id_b"], r["gap_us"])
        for r in binned_proximity_pairs(
            df, ts_micros_col="us", id_col="event_id", radius_micros=500
        ).collect()
    }
    want = {
        (a, b, abs(ta - tb))
        for (a, ta) in pts
        for (b, tb) in pts
        if a < b and abs(ta - tb) <= 500
    }
    assert (100, 101, 2) in want and (102, 103, 500) in want
    assert got == want
    # duplicate-freeness is part of the set equality above, but also
    # assert no multiset inflation
    n_rows = binned_proximity_pairs(
        df, ts_micros_col="us", id_col="event_id", radius_micros=500
    ).count()
    assert n_rows == len(want)


def test_ktruss_sql_refactor_identical():
    """The r10 refactor that extracted _ktruss_unrolled_ctes (shared
    with the truss-communities oracle) must keep graph_ktruss_similarity's
    oracle BYTE-IDENTICAL to its r9 text — that identity is the
    documented window-yield argument for not re-earning the entry's
    driver row.  The pinned digest is sha256 of the r9 oracle string
    (verified equal against the pre-refactor HEAD at extraction time);
    an INTENTIONAL oracle change must update both the digest and the
    entry's place in the rotation window."""
    import hashlib

    from financial_data_stream_processing_engine_spark.plans.llm_queries import (
        _ktruss_sql,
    )

    got = hashlib.sha256(_ktruss_sql(3, 8).encode()).hexdigest()
    assert got == "6694ba0edfd2168c0befe7ee101bc7ac92582c1d62456e0f8377a2f2d460ae64"


def test_melbands_plan_two_broadcasts_two_shuffles(spark, sf_dir, queries):
    """Mel bands = the STFT plan + ONE broadcast filterbank join + ONE
    more keyed aggregation: exactly two broadcast joins (twiddles,
    weights) and exactly two hash exchanges ((media,frame,bin) then
    (media,frame,band)).  A shuffle join on either constant table or a
    third exchange is a scale regression."""
    plan = plan_of(queries, "multimodal_audio_melbands", spark, sf_dir)
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_mfcc_plan_three_broadcasts_three_shuffles(spark, sf_dir, queries):
    """MFCC = the mel-bands plan + ONE broadcast DCT join + ONE more
    keyed aggregation: exactly three broadcast joins (twiddles,
    filterbank, DCT basis) and exactly three hash exchanges
    ((media,frame,bin) → (media,frame,band) → (media,frame,coeff)).
    A shuffle join on any constant table or a fourth exchange is a
    scale regression."""
    plan = plan_of(queries, "multimodal_audio_mfcc", spark, sf_dir)
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 3


def test_spectral_plan_reuses_window_exchange(spark, sf_dir, queries):
    """Spectral shape = the STFT plan + ONE exchange keyed
    (media, frame) serving both window computations AND the final
    aggregation (the groupBy key equals the window partition key):
    exactly one broadcast join (twiddles) and exactly two hash
    exchanges ((media,frame,bin) for the STFT agg, (media,frame) for
    window+agg).  A third exchange means Catalyst stopped reusing the
    window's partitioning for the aggregation — a scale regression."""
    plan = plan_of(queries, "multimodal_audio_spectral", spark, sf_dir)
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_flux_plan_one_broadcast_three_shuffles(spark, sf_dir, queries):
    """Flux = the STFT plan + one LAG window keyed (media, bin) + one
    aggregation keyed (media, frame): exactly one broadcast join
    (twiddles) and exactly three hash exchanges — (media,frame,bin)
    for the STFT agg, (media,bin) for the lag window, (media,frame)
    for the flux agg; the re-keying between window and agg is
    inherent (different keys), a fourth exchange is not."""
    plan = plan_of(queries, "multimodal_audio_flux", spark, sf_dir)
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 3


def test_louvain_oracle_shared_ctes_byte_identical():
    """The four Louvain-family oracles must share their generated CTE
    chains BYTE-IDENTICALLY (the ktruss digest-pin rationale: shared
    generators mean a fix to the round arithmetic reaches every entry,
    and a silent divergence between the level-2 entry and its
    modularity certificate would invalidate the Q-ladder law)."""
    import os as _os

    from financial_data_stream_processing_engine_spark.plans.llm_queries import (
        _community_coarsen_sql,
        _louvain_level2_modularity_sql,
        _louvain_level2_sql,
        _louvain_refine_sql,
        _louvain_unrolled_ctes,
    )

    ctes, last = _louvain_unrolled_ctes(3, 8, 8)
    refine = _louvain_refine_sql(3, 8, 8)
    coarsen = _community_coarsen_sql(3, 8, 8)
    level2 = _louvain_level2_sql(3, 8, 8, 8)
    l2mod = _louvain_level2_modularity_sql(3, 8, 8, 8)
    for sql in (refine, coarsen, level2, l2mod):
        assert sql.startswith("\nWITH RECURSIVE " + ctes), "level-1 chain diverged"
    # level-2 and its modularity certificate share the ENTIRE weighted
    # chain: their common prefix must reach past the final weighted
    # round's label CTE
    common = _os.path.commonprefix([level2, l2mod])
    assert "lw8 AS MATERIALIZED" in common, "weighted chain diverged"


def test_catalog_priority_names_must_exist():
    """A typo in the hand-maintained _PRIORITY rotation list would
    silently demote an entry out of the driver's 50-slot window —
    load_all must refuse unknown names loudly (ADVICE r9 #3)."""
    catalog.load_all()
    bogus = "no_such_entry_xyz"
    catalog._PRIORITY.append(bogus)
    try:
        with pytest.raises(AssertionError, match=bogus):
            catalog.load_all()
    finally:
        catalog._PRIORITY.remove(bogus)
    catalog.load_all()  # restored list loads clean


def test_catalog_order_is_independent_of_import_order():
    """``list(QUERIES)`` after ``load_all`` is the same whichever plan
    module a process imports first: the entries check_window.txt does
    not name follow ``load_all``'s module order, not the order in
    which the modules happened to register."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    script = (
        "import importlib, json, sys\n"
        "from financial_data_stream_processing_engine_spark.plans import catalog\n"
        "if sys.argv[1]:\n"
        "    importlib.import_module(f'{catalog.__package__}.{sys.argv[1]}')\n"
        "catalog.load_all()\n"
        "print(json.dumps(list(catalog.QUERIES)))\n"
    )

    def order(first: str) -> list[str]:
        proc = subprocess.run(
            [sys.executable, "-c", script, first],
            cwd=Path(__file__).resolve().parents[1],
            capture_output=True, text=True, check=True,
        )
        return json.loads(proc.stdout.splitlines()[-1])

    fresh = order("")
    assert len(fresh) == len(set(fresh)) > 0
    for mod in catalog._PLAN_MODULES:
        assert order(mod) == fresh, f"importing {mod} first reorders the catalog"


def test_truss_modularity_plan_no_cartesian_on_data(spark, sf_dir, queries):
    """The modularity joins must stay keyed: label and degree joins on
    the node key, intra-edge counting on the edge endpoints — the only
    nested-loop join allowed is the 1-row broadcast of the exact m
    frame.  A data-sized CartesianProduct is a scale regression."""
    plan = plan_of(queries, "graph_truss_modularity", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the 1-row m frame


def test_nb_score_vocabulary_join_broadcasts(spark, sf_dir):
    """The NB scoring join on the vocabulary-sized model must stay a
    broadcast (VERDICT r9 #8): token-side scoring is then fully
    map-side per micro-batch.  The one allowed shuffle join is the
    final doc-keyed re-attach of docs to their per-doc aggregates —
    both sides corpus-sized, a broadcast there would be wrong at
    scale."""
    from financial_data_stream_processing_engine_spark.io_utils import load_table
    from financial_data_stream_processing_engine_spark.operators.lm import (
        nb_score,
        nb_train,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    wc, tot = (d.localCheckpoint() for d in nb_train(docs))
    plan = (
        nb_score(docs, wc, tot)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 1


def test_ols_probe_is_one_agg_plus_broadcast(spark, sf_dir, queries):
    """The linear probe must stay the cheapest distributed regression:
    no shuffle join anywhere (the one-row coefficient frame broadcasts
    back), no row-at-a-time Python, and the decimal Gram sums stay
    JVM-side expressions."""
    plan = plan_of(queries, "text_quality_linear_probe", spark, sf_dir)
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_video_scene_cuts_single_window_exchange(spark, sf_dir, queries):
    """Scene cuts = the decode seam + ONE keyed exchange for the
    per-media lag window; a second hash exchange means the window
    stopped consuming the decode output directly."""
    plan = plan_of(queries, "multimodal_video_scene_cuts", spark, sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan  # decode is mapInPandas, not per-row


def test_audio_segments_steady_plan_has_no_python(spark, sf_dir, queries):
    """The composed classifier materializes the decode/STFT relations
    once, so its STEADY plan (the part that scales with media) must
    contain no Python evaluation at all and join the three
    (media, frame)-keyed feature aggregates without a sort-merge
    join."""
    plan = plan_of(queries, "multimodal_audio_segments", spark, sf_dir)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan  # decode ran at checkpoint time
    assert "CartesianProduct" not in plan


def test_image_phash_zero_shuffle_decode_chain(spark, sf_dir, queries):
    """pHash is scan-bound by design: fixture-gen + decode/hash are
    two chained Arrow mapInPandas passes with NO exchange anywhere —
    hashing 100 TB of images must never shuffle."""
    plan = plan_of(queries, "multimodal_image_phash", spark, sf_dir)
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan


def test_phash_hamming_pairs_banded_not_allpairs(spark, sf_dir, queries):
    """Near-dup candidates come from the band-bucket equi-join only —
    a CartesianProduct or nested-loop pair enumeration here is the
    quadratic plan the banding exists to prevent."""
    plan = plan_of(queries, "dedup_phash_hamming", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_unigram_segment_no_python_no_cartesian(spark, sf_dir, queries):
    """The unigram tokenizer is fully relational: no Python evaluation
    of any kind in the segmentation plan (the trainer's rounds are
    parquet-spilled upstream), and the 1-row model-total frame joins
    by broadcast, never a data-sized cartesian."""
    plan = plan_of(queries, "text_unigram_segment", spark, sf_dir)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    # the Viterbi argmin is a min-over-struct aggregate, not a
    # row_number window (no per-word sort), and every vocabulary-sized
    # build side (costs, composition lattice) joins by broadcast — the
    # lattice fan-out probe side must never shuffle to meet them.
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_crossmodal_agreement_plan_keyed_joins_only(spark, sf_dir, queries):
    """The cross-modal report's joins must stay keyed: pHash
    candidates from the (band, val) bucket self-join, cells attached
    by two id-keyed joins — the only nested-loop joins allowed are the
    k-centroid model broadcasts of the cell assignment (two sides ×
    one ObjectHashAggregate'd centroid frame).  A CartesianProduct or
    a data-sized BNLJ is the all-pairs regression this entry exists
    to avoid (the quadratic form lives only in its oracle)."""
    plan = plan_of(queries, "crossmodal_phash_ivf_agreement", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # centroid frames


def test_phash_probe_index_plan_is_bucket_keyed(spark):
    """The streamed gate's probe join must be keyed on (band, val) —
    the index side is bucket-partitioned at scale and a batch probes
    only its colliding buckets.  A nested-loop or cartesian probe
    would re-pay all-pairs per micro-batch."""
    from financial_data_stream_processing_engine_spark.operators import phash

    rows = [(i, (i * 2654435761) % (1 << 63)) for i in range(64)]
    ph = spark.createDataFrame(rows, "media_id long, phash long")
    bands = phash.phash_bands(ph)
    probe = phash.phash_probe_index(bands, bands)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_rrf_fusion_arms_stay_index_shaped(spark, sf_dir, queries):
    """retrieval_rrf_fusion (r15): the BM25 arm stays the single-pass
    explode + conditional-count shape with the 1-row stats broadcast,
    the IVF arm keeps the probed-cell semi-join (never a corpus
    shuffle against the query), the k-sized fusion join broadcasts,
    and no row-at-a-time Python appears anywhere in the plan."""
    plan = plan_of(queries, "retrieval_rrf_fusion", spark, sf_dir)
    assert "BatchEvalPython" not in plan
    # ANN arm: cell pruning is a semi-join of the corpus against the
    # tiny probe-cell frame
    assert "LeftSemi" in plan
    # the ONLY sort-merge join allowed is the final FULL OUTER fusion
    # of the two k-sized arm result lists (Spark cannot broadcast a
    # full outer — neither side is preserved — and both sides are
    # top-k-bounded at any corpus size); every corpus-touching join
    # must be broadcast-built
    assert plan.count("SortMergeJoin") == 1 and "FullOuter" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
