"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs each headline catalog query once on local[$SPARK_GRAFT_CPUS]
(default local[32]) and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": <sf>}

Each query is forced through the noop sink (full materialization, no
driver collect, no result-size bias).

Interpreting deltas: per-entry times at this scale carry a measured
±12-15 % session-noise band plus class-specific fixed floors
(StreamingQuery lifecycle ~2-2.5 s each, batch job floor ~0.3-0.4 s,
iterative graph rounds ~0.3-0.5 s each) — see BASELINE.md, "Bench
fixed-overhead ledger", before reading any single-run cross-round
comparison as a regression.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

#: the headline set: one per operator family, weighted toward the
#: shapes that dominate real workloads (scan-agg, star join, window,
#: as-of, dedup/similarity once implemented).
HEADLINE = [
    "ma_alerts",
    "tpch_q1_pricing_summary",
    "join_star_revenue_by_region",
    "join_asof_last_purchase",
    "window_topk_per_group",
    "tpch_q3_like_shipping_priority",
    "agg_distinct_stats",
    "json_extract_props",
    "sessionization_gaps",
    "agg_salted_skew",
    "dedup_minhash_lsh",
    "text_stats",
    "similarity_cosine_topk",
    # round-3 additions: longitudinal perf tracking for the streaming,
    # multimodal, clustering and SCD2 families (r2 numbers are the base)
    "streaming_ma_rowcount",
    "multimodal_png_roundtrip",
    "dedup_cluster_canonical",
    "scd2_apply_changes",
    # round-3 additions (late): the financial-analytics family's two
    # plan shapes (groupBy candles; bucketed self-join correlation) and
    # the segment-dedup shuffle
    "fin_ohlc_daily",
    "fin_pairwise_correlation",
    "dedup_paragraph_exact",
    # round-4 additions: derived-partsupp TPC-H (broadcast-fanout
    # build + correlated-min / EXISTS chains), the grouped-map MACD
    # recurrence, bar-window ATR, and the three new dedup strategies
    "tpch_q2_like_min_cost_supplier",
    "tpch_q21_like_waiting_suppliers",
    "fin_macd",
    "fin_atr",
    "dedup_semantic",
    "dedup_bloom_probe",
    "dedup_substring_spans",
    "cdc_orders_diff",
    "layout_morton_zorder",
    "ivm_orders_status_agg",
    "fin_twap_daily",
    "winsorize_events_value",
    "graph_pagerank_similarity",
    # round-5 additions: Lloyd-trained IVF (the data-driven quantizer
    # path), sketch aggregations (CMS + HLL — bounded-state shuffles),
    # and the two layout patterns (zero-exchange bucketed join,
    # metadata-level partition pruning)
    "similarity_ivf_kmeans_topk",
    "approx_heavy_hitters",
    "approx_distinct_hll",
    "join_bucketed_zero_shuffle",
    "layout_partition_prune",
    "join_fuzzy_names_editdist1",
    "streaming_ivm_orders_agg",
    "approx_quantiles_hdr",
    # round-5 additions (late): KMV set-operation sketch (two
    # distinct-shuffles + sketch-sized tail), BM25 retrieval
    # (explode + conditional-count groupBy + TakeOrdered), hybrid
    # RRF fusion of the lexical + vector arms (r15, replacing the
    # retired flat PQ/ADC entry), and IVF-PQ (residual Lloyd +
    # argmin encode + LUT-sum scoring)
    "approx_setops_kmv",
    "text_bm25_topk",
    "retrieval_rrf_fusion",
    "similarity_ivfpq_topk",
    "fin_pattern_match_topk",
    # round-7 additions: the exact-BPE accounting chain (word-cache
    # tokenize; pack on exact costs), CDC index maintenance batch +
    # streamed (delta-bounded partition rewrites), and the progressive
    # multi-scan JPEG decode path
    "text_bpe_tokenize",
    "pack_sequences_bpe",
    "similarity_index_maintain",
    "streaming_index_maintain",
    "multimodal_jpeg_progressive_roundtrip",
    # round-8 additions: the bigram-LM scoring chain (train groupBys +
    # two vocabulary joins + quantized per-doc agg), the
    # recompute-touched-keys streaming funnel IVM, and the AVI
    # container walk feeding per-frame JPEG decodes
    "text_lm_quality_score",
    "streaming_funnel_conversion",
    "multimodal_video_frames_roundtrip",
    # round-8 additions (late): the NB training+scoring chain (one
    # vocabulary groupBy + one vocabulary join), the prefix-filter
    # exact similarity self-join (df rank + prefix block + verify),
    # and the twiddle-join DFT spectrum over decoded WAV samples
    "text_nb_lang_classifier",
    "dedup_prefix_jaccard",
    "multimodal_audio_spectrum",
    # round-8 additions (later): BPE merge training (k vocab-sized
    # rounds after one corpus groupBy), the TIFF decode path, and the
    # data-dependent k-core peel
    "text_bpe_train",
    "multimodal_tiff_roundtrip",
    "graph_kcore_similarity",
    # round-8 additions (second wave): the end-to-end tokenizer chain
    # and the foreachBatch LM quality gate (3 real micro-batches)
    "text_bpe_train_tokenize",
    "streaming_lm_quality_gate",
    # round-8 addition (third wave): the binned unkeyed proximity join
    "join_proximity_binned",
    # round-9 additions: the frame-lattice STFT spectrogram (overlap
    # explode + broadcast twiddle join), the per-round triangle
    # enumeration of the k-truss peel, and the foreachBatch NB gate
    # (3 real micro-batches under a static localCheckpoint-ed model)
    "multimodal_audio_stft",
    "graph_ktruss_similarity",
    "streaming_nb_gate",
    # round-10 additions: the broadcast filterbank aggregation over
    # the STFT, the truss peel chained into min-label community
    # propagation, the per-batch additive NB model merge with
    # dual-model staleness scoring, and the modularity aggregation
    # over the truss partition
    "multimodal_audio_melbands",
    "graph_truss_communities",
    "streaming_nb_model_cdc",
    "graph_truss_modularity",
    # round-11 additions: the DCT-II cepstral step, per-frame shape
    # statistics and rectified spectral flux over the audio chain,
    # and the exact-integer Louvain local-move refinement of the
    # truss partition (representative of the new graph family —
    # coarsen and level-2 re-run the same chain with one extra
    # aggregation / one smaller weighted fixpoint on top, so the
    # refine entry is the headline cost; at sf0.1 its ~16-round
    # fixpoint is the honest price of refining that graph)
    "multimodal_audio_mfcc",
    "multimodal_audio_spectral",
    "multimodal_audio_flux",
    "graph_louvain_refine",
    # round 12: the composed voiced/music/noise gate (ZCR + flux +
    # flatness over one materialized STFT — the decode seam runs
    # once), the near-dup community cap pipeline (PPJoin pairs →
    # components → Louvain refine → per-community cap), the
    # exact-normal-equations OLS quality probe, and frame-difference
    # scene-cut detection over the real MJPEG decode path
    "multimodal_audio_segments",
    "pipeline_neardup_communities",
    "text_quality_linear_probe",
    "text_quality_probe_fit",
    "multimodal_video_scene_cuts",
    # round 13: the unigram-LM Viterbi-EM tokenizer chain (one corpus
    # pass + vocabulary-sized lattice rounds), its per-doc
    # segmentation accounting, and the DCT pHash image near-dup pair
    # (zero-shuffle decode+hash chain; banded-Hamming bucket join)
    "text_unigram_train",
    "text_unigram_segment",
    "multimodal_image_phash",
    "dedup_phash_hamming",
    # round 14: the streamed pHash band index (per-batch probe+append
    # against accumulated earlier batches), the tokenizer-CDC gate
    # (additive (word,freq) state merge + vocabulary-sized retrain per
    # micro-batch), and the cross-modal two-index agreement join
    "streaming_phash_gate",
    "streaming_unigram_cdc",
    "crossmodal_phash_ivf_agreement",
]


#: Era calibration (VERDICT r16 #2): a FIXED synthetic workload, fully
#: independent of catalog code (spark.range -> hash project -> groupBy
#: agg -> noop), run FIRST with 3 reps; the median is published in the
#: JSON as ``calibration.median_sec`` next to this reference constant,
#: and their ratio as ``calibration.era_factor``.  Cross-round readers
#: divide per-entry deltas by the era factor before calling anything a
#: regression — r14-r16 showed byte-identical code drifting 1.2-3.7x
#: with the environment, and a single un-repeated driver record cannot
#: carry a cross-round claim on its own (three consecutive wrong-way
#: Louvain records, all refuted by same-day controls).  The reference
#: is the r17 builder-session median (best-documented era, same
#: machine class as the driver); see BASELINE.md "How to attribute a
#: bench delta".
CAL_REFERENCE_SEC = 1.25


def _calibrate(spark, reps: int = 3) -> dict:
    from pyspark.sql import functions as F

    times: list[float] = []
    for _ in range(reps):
        t0 = time.time()
        df = (
            spark.range(0, 60_000_000, 1, 32)
            .selectExpr("id % 9973 AS k", "(id * 2654435761) % 1000003 AS v")
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.avg("v").alias("a"), F.count("*").alias("c"))
        )
        df.write.format("noop").mode("overwrite").save()
        times.append(round(time.time() - t0, 3))
    med = sorted(times)[len(times) // 2]
    return {
        "workload": "range60M-hash-groupBy9973-agg3-noop",
        "reps_sec": times,
        "median_sec": med,
        "reference_sec": CAL_REFERENCE_SEC,
        "era_factor": round(med / CAL_REFERENCE_SEC, 2),
    }


def bench_session(app_name: str, master: str | None):
    """The timing tools' shared setup: a session from ``get_spark``, the
    catalog's ``queries()``, and one trivial warm-up query so the first
    timed entry doesn't absorb JVM/codegen startup."""
    from financial_data_stream_processing_engine_spark.session import get_spark

    spark = get_spark(app_name, master=master)
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, qs


def local_master() -> str:
    """``local[$SPARK_GRAFT_CPUS]``, 32 slots by default."""
    return f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"


def time_reps(fn, spark, sf_dir: str, reps: int, label: str | None = None):
    """Wall time of each of ``reps`` runs of building ``fn(spark,
    sf_dir)`` and forcing it through the noop sink, and the first run's
    frame (for its plan).  The first run pays one-time codegen/planning
    cost; the min reflects steady-state execution (what a long-running
    cluster job actually sees).  With ``label``, each run's jobs carry
    the description ``{label}:rep{i}``."""
    sc = spark.sparkContext
    times: list[float] = []
    first = None
    for i in range(reps):
        if label:
            sc.setJobDescription(f"{label}:rep{i}")
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        times.append(time.time() - t0)
        if first is None:
            first = df
    if label:
        sc.setJobDescription(None)
    return times, first


def apply_retry_rule(
    name: str,
    best: float,
    prior: float | None,
    retime,
    retimed: dict[str, dict],
) -> float:
    """The >2×-vs-trailing-record retry rule (VERDICT r16 #2), as a
    pure function so its honesty contract is testable (VERDICT r17 #8):
    when even the best-of-N exceeds the trailing driver record by >2×,
    re-time once via ``retime()`` (fresh reps, caller-supplied), keep
    the better number, and record BOTH readings plus the trailing
    record under ``retimed[name]`` — a retimed entry can never hide its
    first reading.  Returns the number the entry wears."""
    if prior is not None and prior > 0 and best > 2.0 * prior:
        retry_best = retime()
        retimed[name] = {
            "first_best": round(best, 3),
            "retry_best": round(retry_best, 3),
            "trailing_record": prior,
        }
        best = min(best, retry_best)
    return best


def _trailing_records() -> dict[str, float]:
    """Per-query times from the newest BENCH_r*.json in the repo (the
    trailing driver record), for the >2x retry rule.  Empty if none."""
    recs = sorted(REPO.glob("BENCH_r*.json"))
    if not recs:
        return {}
    try:
        payload = json.loads(recs[-1].read_text().strip().splitlines()[0])
        q = payload.get("queries", {})
        return {k: float(v) for k, v in q.items()}
    except Exception:
        return {}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)

    spark, qs = bench_session("bench", local_master())
    names = [n for n in HEADLINE if n in qs]

    # Era calibration first (VERDICT r16 #2): 3 reps of the fixed
    # synthetic workload; its median / CAL_REFERENCE_SEC is the era
    # factor this run wears in its own JSON.
    calibration = _calibrate(spark)

    # 3 reps: measured rep-by-rep, rep 1 carries plan+codegen setup and
    # rep 2 still pays residual JIT warmup (e.g. ma_alerts 3.18/0.77/
    # 0.59 s); the min of 3 is the steady state a long-running cluster
    # job actually sees.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    trailing = _trailing_records()
    retimed: dict[str, dict] = {}
    timings: dict[str, float] = {}
    for name in names:
        best = min(time_reps(qs[name], spark, sf_dir, max(1, reps))[0])
        # Retry rule (VERDICT r16 #2): if even the best-of-N exceeds
        # the trailing driver record by >2x, the number is likelier a
        # transient (GC pause, load spike spanning all reps) than a
        # real regression — re-time once (2 fresh reps) and keep the
        # better, reporting BOTH so nothing is hidden (the contract
        # lives in apply_retry_rule, pinned by tests).
        def _retime(name=name) -> float:
            return min(time_reps(qs[name], spark, sf_dir, 2)[0])

        best = apply_retry_rule(name, best, trailing.get(name), _retime, retimed)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    # Per-class subtotals (VERDICT r12 next-step #2): the ~25
    # StreamingQuery-lifecycle entries and the iterative fixpoint
    # entries carry large fixed floors at toy scale that mask the
    # batch-plan signal in the total — report the three classes
    # separately so cross-round drift can be attributed.
    iterative = {
        n
        for n in timings
        if n.startswith("graph_")
        or n
        in {
            "pipeline_neardup_communities",
            "text_bpe_train",
            "text_bpe_train_tokenize",
            "similarity_ivf_kmeans_topk",
            "similarity_ivfpq_topk",
            # the unigram chain runs the same k-round parquet-spilled
            # EM fixpoint (segment trains first) — iterative floors,
            # not batch-plan signal
            "text_unigram_train",
            "text_unigram_segment",
        }
    }
    subtotals = {
        "streaming": round(
            sum(v for n, v in timings.items() if n.startswith("streaming_")), 3
        ),
        "iterative": round(sum(timings[n] for n in iterative), 3),
    }
    subtotals["batch"] = round(total - subtotals["streaming"] - subtotals["iterative"], 3)
    payload = {
        "metric": f"headline_queries_total_sf{sf}",
        "value": total,
        "unit": "sec",
        "subtotals": subtotals,
        "calibration": calibration,
        "retimed": retimed,
        "queries": timings,
        "sf": sf,
        # Reference envelope for drift attribution, NOT a description
        # of this run (ADVICE r16 #2): the in-run calibration block
        # above is the per-run instrument; this string records the
        # measured cross-session spread so a JSON-only reader knows
        # raw totals are not comparable across sessions.
        "noise_envelope": (
            "byte-identical code measured 1.8-3.7x slower in the r16 era than"
            " its r15 records, with a 2.4x spread between consecutive"
            " identical processes; same-day builder controls (the"
            " BENCH_LATEST convention) are the only cross-round instrument -"
            " divide per-entry deltas by calibration.era_factor and compare"
            " common-subset ratios within a session, never raw totals across"
            " sessions; see BASELINE.md 'How to attribute a bench delta'"
        ),
    }
    # Compact separators keep the line short, and the file copy
    # survives any stdout tail-window truncation by the caller
    # (BENCH_r08's JSON line was cut mid-line by the driver's capture
    # window, losing the headline total — VERDICT r8 next-step #5).
    line = json.dumps(payload, separators=(",", ":"))
    (REPO / "BENCH_LATEST.json").write_text(line + "\n")
    # The total-only line LAST (VERDICT r10 next-step #3): the driver
    # keeps a 2000-char *tail* of stdout, so only the final line is
    # guaranteed to survive truncation — the ~2 KB per-query line goes
    # first, the short parseable JSON headline goes last.
    total_only = {k: payload[k] for k in ("metric", "value", "unit", "subtotals", "sf")}
    total_only["era_factor"] = calibration["era_factor"]
    print(line, flush=True)
    print(json.dumps(total_only, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
