"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "runs": n}

Execution is measured end-to-end per query (build + plan + run) into the
`noop` sink by ``observability.profile``, so results are fully
materialized without pandas/driver-collect cost and without letting
Catalyst prune work a count() would skip. Its layers (build and exec
seconds and jobs, exec stage sums) go to stderr per run and, as
medians, to the ``BENCH_LOCAL_r{N}.json`` record — never to the stdout
line, which keeps the keys above.

Wall-clock on a shared box is noisy (3-6× swings between runs observed),
so the whole suite is run ``$SPARK_GRAFT_BENCH_RUNS`` times (default 3)
and per-query MEDIANS are reported; each query still runs cold-cache
(clearCache between queries), so the median reflects steady-state JIT,
not warm-data shortcuts.

Regression gate: the output's ``regressions`` block compares each query's
median against the newest recorded bench at the same sf (>25% slower and
>0.3s absolute → flagged, with both values), so a round that slows a query
down is visible in BENCH_r{N}.json itself instead of requiring manual
cross-round diffing. Flags are informational (exit code stays 0): on this
box a 30% pass-to-pass swing is documented noise (SCALE.md), so a flag
means "triage with n=5 quiet-box runs", not "fail".

Baseline source: the driver's ``BENCH_r{N}.json`` keeps only a bounded
stdout tail, which truncates the full per-query JSON line (r06/r07 both
recorded ``parsed: null``) — so the gate was silently baselining against
the last COMPLETE driver record, two-plus rounds stale. Each run therefore
also writes its full output to ``BENCH_LOCAL_r{N}.json`` (N = current
round = newest driver round + 1; first run of a round wins, so the local
snapshot is the round's ENTRY state), and the gate prefers local
recordings over driver tails at the same or newer round.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdata_capstone_spark.catalog import QUERIES  # noqa: E402
from bigdata_capstone_spark.observability import (  # noqa: E402
    medians,
    profile_runs,
    warm_up,
)
from bigdata_capstone_spark.session import build_session  # noqa: E402

# Representative of each operator family (SURVEY §2 / north star):
HEADLINE = [
    "damped_part_popularity",      # flagship: agg + damped score + top-k
    "pricing_summary",             # TPC-H Q1 shape: wide multi-aggregate
    "regional_revenue",            # star join, broadcast dims
    "top_orders_per_customer",     # window ranking
    "ranking_metrics_popularity",  # recommender eval, window + multi-join
    "customer_part_twins",         # exact Jaccard co-occurrence self-join
    "dedup_minhash_signatures",    # text shingling + 8-perm minhash
    "dedup_minhash_lsh_pairs",     # full LSH dedup: band → bucket → verify
    "dedup_ngram_jaccard_pairs",   # shingle co-occurrence near-dup
    "dedup_embedding_cosine",      # hyperplane-LSH embedding near-dup
    "doc_quality",                 # narrow text-analysis map
    "embedding_topk_bruteforce",   # vector similarity search
    "events_hourly_windows",       # event-time tumbling window
    "user_sessions",               # sessionization (lag + running sum)
    "customer_order_running_totals",  # window frames (running/moving aggs)
    "nation_trade_flows",          # five-way star walk (widest join tree)
    "large_volume_customers",      # HAVING on grouped fact + star join-back
    "user_value_trend",            # regression aggregates (moment sketches)
    "docs_curation_pipeline",      # end-to-end curation: lang→quality→dedup
    "dedup_simhash_near_pairs",    # simhash banding + popcount verify
    "embedding_ann_lsh",           # hyperplane-LSH ANN (oracle-checked)
    "nation_profit_by_year",       # Q9 shape: star join over both fact tables
    "waiting_sole_late_supplier",  # Q21 shape: quantifiers as window counts
    "heavy_hitter_parts_cms",      # portable count-min sketch grid + probes
    "scd2_user_tiers",             # SCD2 history build (one-shuffle windows)
    "events_time_rollup",          # hour→day→month hierarchy in one pass
    "doc_tfidf_top_terms",         # TF-IDF scoring (shared token explode)
    "benchmark_contamination",     # 8-gram eval-leakage scan (broadcast semi)
    "dominant_part_suppliers",     # Q20 shape: correlated share-of-total
    "doc_pack_sequences",          # concat-and-chunk training-batch packing
    "embedding_pq_topk",           # product-quantization ANN (ADC + re-rank)
    "bpe_merge_pairs",             # vocab-collapsed BPE pair counting
    "event_value_quantiles",       # mergeable quantile-bin sketch
    "events_partition_pruned_windows",  # date-partitioned layout + pruning
    "bloom_pruned_segment_orders", # bloom pre-filter before exact semi-join
    "embedding_ann_ivfpq",         # IVF-PQ composed ANN (prune x compress)
    "doc_bigram_logprob",          # bigram-LM fluency scoring
    "doc_boilerplate_shingles",    # cross-doc shared-shingle boilerplate
    "embedding_knn_graph",         # corpus self-KNN graph (no broadcast side)
    "bpe_encode_docs",             # tokenizer apply: vocab join + id checksum
    "doc_bm25_topk",               # inverted-index BM25 retrieval
    "dedup_repeated_spans",        # positional k-gram repeated-substring spans
    "doc_quality_classifier_nb",   # NB classifier curation (train+score aggs)
    "event_drift_psi",             # PSI drift between ingest periods
    "user_value_acf",              # per-user lag-1..3 autocorrelation
    "docs_curriculum_stages",      # equal-token curriculum staging
    "embedding_label_outliers",    # label-centroid cosine outliers
    "doc_token_entropy",           # within-doc Shannon entropy + TTR
    "source_lang_composition",     # per-source language-mix entropy
    "docs_quality_rank_ensemble",  # Borda rank-ensemble curation
    "dedup_excise_spans",          # repeated-span excision (cleaned text)
    "embedding_ivfpq_incremental", # frozen-quantizer O(batch) index append
    "warc_text_extraction",        # gzip/WARC/HTTP parse + JVM HTML strip
    "docs_gopher_rules",           # Gopher per-rule quality flags
    "multimodal_jpeg_features",    # real baseline-JPEG decode (Python kernel)
    "selection_roc_auc_by_lang",   # grouped AUC via offset prefix sums
    "bm25_incremental_dfreq",      # shard-mergeable index statistics
    "embedding_semantic_communities",  # KNN graph -> mutual edges -> LPA
    "docs_fair_budget_allocation",     # water-filling via prefix sums
    "bm25_delta_dfreq",                # df delta under updates+deletes
    "dedup_incremental_batch",     # O(batch) near-dup vs persisted index
    "dedup_index_delta",           # MERGE maintenance of the LSH index
    "multimodal_jpeg420_features", # 4:2:0 subsampled JPEG decode
    "html_main_content",           # link-density main-content cut
    "embedding_kmeans",            # deterministic Lloyd k-means (2 rounds)
    "embedding_semdedup_prune",    # SemDeDup cell-local semantic prune
    "hybrid_retrieval_rrf",        # BM25 x dense reciprocal-rank fusion
    "doc_quality_classifier_lr",   # in-engine GD-trained LR curation
    "image_dhash_near_dup",        # perceptual-hash image dedup (banded)
    "bitext_mining_pairs",         # cross-lingual ANN + margin criterion
    "file_overlap_depth",          # key-range overlap sweep (metadata)
    "unigram_viterbi_segments",    # Viterbi DP over distinct words
    "embedding_mmr_rerank",        # greedy MMR diversity re-rank
    "bm25_prf_expansion",          # RM1-lite feedback-term mining
    "selection_model_comparison",  # NB vs LR AUC, both chains
    "rag_serving_pipeline",        # hybrid RRF -> rank-relevance MMR
    "event_drift_ks",              # KS supremum from mergeable bins
    "join_size_estimate_cms",      # AMS/CMS inner-product cardinality
    "embedding_source_drift",      # per-source centroid cosine drift
    "zone_map_pruning_stats",      # data-skipping measured, 2 layouts
    "multimodal_audio_segments",   # VAD islands over decoded windows
    "audience_overlap_hll",        # HLL inclusion-exclusion overlap
    "kmeans_shard_update_merge",   # mergeable Lloyd-update partials
    "event_value_quantile_sketch", # level-sampling mergeable quantile sketch
    "quantile_sketch_shard_merge", # sketch merge law (union + recompact)
    "documents_jsonl_ingest",      # JSONL round-trip + quarantine parity
    "event_type_value_quantile_sketch",  # per-group sketches, one pass
    "embedding_nn_descent",        # graph-ANN: LSH seed + 2 refine rounds
    "multimodal_mp4_metadata",     # decode-free ISO-BMFF box walk
    "multimodal_jpeg_exif_metadata",  # JFIF/EXIF tag walk, both byte orders
    "doc_phrase_search",           # anchor-vote exact phrase match
    "doc_proximity_search",        # ordered slop query (t2 within 3 of t1)
    "event_value_cdf_sketch",      # inverse sketch query + exact twin
    "orders_column_stats",         # ANALYZE: nulls/NDV(exact+HLL)/min-max
    "documents_stratified_sample", # Hamilton quotas + PRF picks
    "event_value_quantile_sketch_onepass",  # one-scan kernel build
    "docs_weighted_quantile_sketch",   # token-weighted length quantiles
    "weighted_quantile_sketch_shard_merge",  # weighted merge law
    "documents_csv_ingest",        # CSV round-trip + quarantine parity
    "docs_multilingual_token_stats",   # NFC + \p{L} tokenization parity
    "embedding_nn_descent_insert", # O(batch) graph-index insert
    "streaming_stratified_panel",  # mergeable eval-panel state fold
    "multilingual_script_profile", # Unicode script routing counts
    "docs_weighted_quantile_sketch_onepass",  # weighted one-scan kernel
    "orders_price_histogram",      # equi-height CBO histogram
    "lang_weighted_quantile_sketch",  # grouped weighted sketches, one pass
    "multimodal_pdf_metadata",     # decode-free PDF xref/trailer walk
    "lang_id_trained_confusion",   # char-bigram NB language ID
    "embedding_ann_ivfpq_filtered",  # predicate pushed into IVF probe
    "bpe_coverage_by_lang",        # tokenizer OOV / byte-fallback rates
    "multimodal_pdf_text",         # FlateDecode inflate + Tj/TJ parse
    "lang_id_model_shard_merge",   # mergeable NB training state
]
# streaming_lang_id_model is deliberately NOT in the headline: like
# streaming_quantile_sketch and the other stream twins (except the
# panel, kept as the one streaming value-gate representative), its cost
# is dominated by micro-batch harness drains, not operator work.
# embedding_nn_descent_insert is timed through a FIXTURE (r9 verdict
# Wrong #3): the registered entry must SIMULATE its persisted inputs
# (old graph + bucket index) in-entry so the oracle can replay the whole
# chain, which charges a full index build to the maintenance operator —
# the recorded 15s+ measured the fixture, not the O(batch) insert. The
# bench builds those inputs ONCE (untimed) and persists them as parquet,
# so the timed region is exactly what the operator claims: read the
# persisted index, probe it with the batch, write the merged graph.
# Policy statement (applies to every incremental-maintenance entry):
# when an entry's in-entry fixture build dominates its runtime, either
# exclude it from the headline (dedup_clusters_incremental — its stages
# are each benchmarked individually) or time it through a persisted
# fixture (this one); never let fixture cost masquerade as operator
# cost. Output parity entry-vs-fixture is pinned by
# tests/test_round10_ops.py::test_nn_insert_bench_fixture_parity.
# dedup_clusters_incremental is deliberately NOT in the headline for the
# same reason as dedup_clusters_minhash: the entry must SIMULATE its
# persisted inputs (the old LSH index + the old cluster closure, ~20
# iterative rounds at sf0.1) before the measured operator even starts —
# the in-entry fixture cost would read as a perf signal when the
# incremental path itself is batch-sized. Its stages (banding, verify,
# closure) are benchmarked individually above.
# embedding_nn_descent_convergence is deliberately NOT in the headline:
# its Spark cost IS the nn_descent trajectory (already measured above)
# plus k-bounded anti-join diffs — a second timing would double-count
# the same stages (docs_training_prep_pipeline precedent).
# docs_training_prep_pipeline (the end-to-end composite) is deliberately
# NOT in the headline: its cost at bench scale is the fixed per-round
# overhead of the iterative closure (~20s for 300 surviving rows — see
# SCALE.md), which would read as a perf signal when it is a composition
# showcase; its stages are all benchmarked individually above.


def _nn_insert_fixture(spark, sf_dir: str):
    """Untimed setup for embedding_nn_descent_insert (see the policy
    note above HEADLINE): persists the old KNN graph + bucket index as
    parquet under .bench_fixtures/ and returns a callable whose timed
    work is ONLY the O(batch) insert against them (including reading
    the persisted index — that read is part of real maintenance cost).
    Same parameters as the registered entry; output row-identical
    (pinned by test_nn_insert_bench_fixture_parity)."""
    from pyspark.sql import functions as F

    from bigdata_capstone_spark.operators.simsearch import (
        knn_graph,
        nn_descent_insert,
        rp_lsh_buckets,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    fdir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".bench_fixtures"
    )
    emb = load_table(spark, sf_dir, "embeddings").cache()
    old = emb.filter(F.col("vec_id") % 8 != 0)
    knn_graph(
        old, dim=64, k=5, n_planes=6, n_tables=2, max_bucket=100
    ).write.mode("overwrite").parquet(f"{fdir}/nn_graph")
    rp_lsh_buckets(old, 64, 6, 2).write.mode("overwrite").parquet(
        f"{fdir}/nn_buckets"
    )
    emb.unpersist()

    def run():
        emb2 = load_table(spark, sf_dir, "embeddings").cache()
        return nn_descent_insert(
            spark.read.parquet(f"{fdir}/nn_graph"),
            emb2.filter(F.col("vec_id") % 8 != 0),
            emb2.filter(F.col("vec_id") % 8 == 0),
            dim=64,
            k=5,
            n_planes=6,
            n_tables=2,
            max_bucket=100,
            old_buckets=spark.read.parquet(f"{fdir}/nn_buckets"),
        )

    return run


# name -> setup(spark, sf_dir) -> timed callable. Setup runs ONCE per
# bench process (untimed); the callable replaces QUERIES[name] in the
# timed loop.
BENCH_FIXTURES = {"embedding_nn_descent_insert": _nn_insert_fixture}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = build_session(app_name="bench")
    warm_up(spark, sf_dir)

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # untimed fixture setup (persisted-index stand-ins — see the policy
    # note above HEADLINE); one setup per process, reused across runs
    fixture_runs = {
        name: setup(spark, sf_dir) for name, setup in BENCH_FIXTURES.items()
    }
    # each query is profiled cold-cache: queries that cache shared
    # subplans (dedup shingles, twins) would otherwise accumulate
    # executor memory across the run and distort later measurements
    layers = medians(profile_runs(
        spark,
        {
            name: fixture_runs.get(name)
            or functools.partial(QUERIES[name], spark, sf_dir)
            for name in HEADLINE
        },
        n_runs,
    ))
    times = {name: lay["wall_s"] for name, lay in layers.items()}
    total = round(sum(times.values()), 3)
    reg = _regressions_vs_prior(times, sf)
    # keep the stdout contract line COMPACT: the driver captures a
    # bounded tail of stdout, and round 6 showed the full regressions
    # dict can push the JSON line past what it keeps (BENCH_r06's
    # parsed=None). Full per-query regression detail goes to stderr;
    # stdout carries the baseline name and flagged keys only.
    print(
        f"# regressions detail: {json.dumps(reg)}",
        file=sys.stderr,
        flush=True,
    )
    out = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "runs": n_runs,
        "cpus": _cpus(),
        "regressions": {
            "baseline": reg.get("baseline"),
            "flagged": sorted(reg.get("flagged", {})),
        },
    }
    _record_local({**out, "layers": layers}, sf)
    print(json.dumps(out))
    return 0


def _cpus() -> int:
    """Core count this sitting runs at (the driver also runs the bench
    at a LOWER count to measure scaling)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 0))


def _round_no(path: str) -> int:
    # parse the round NUMBER: lexicographic sort breaks at r100 vs r99
    m = re.search(r"r(\d+)", os.path.basename(path))
    return int(m.group(1)) if m else -1


def _record_local(out: dict, sf: float | None) -> None:
    """Write the FULL bench JSON to BENCH_LOCAL_r{N}.json (N = newest
    driver round + 1 = the round in progress). First run of a round
    wins — the local snapshot is the round's entry state, so later
    same-round runs (and next round's gate) baseline against it instead
    of a truncated driver tail. Skipped at non-default sf (a sf0.01
    smoke run must not become the sf0.1 baseline), at a REDUCED core
    count (r11: the driver's 8-core scaling sitting had recorded itself
    as the round's entry baseline — cross-core-count comparisons are
    meaningless, so only full-core sittings record), or when
    SPARK_GRAFT_BENCH_LOCAL=0 (ad-hoc experiments)."""
    if (
        os.environ.get("SPARK_GRAFT_BENCH_LOCAL", "1") == "0"
        or sf != 0.1
        or _cpus() != (os.cpu_count() or _cpus())
    ):
        return
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        _round_no(p) for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
    ]
    n = (max(rounds) if rounds else 0) + 1
    path = os.path.join(here, f"BENCH_LOCAL_r{n}.json")
    if os.path.exists(path):
        print(f"# local record exists, keeping: {path}",
              file=sys.stderr, flush=True)
        return
    with open(path, "w") as f:
        json.dump(out, f)
    print(f"# recorded {path}", file=sys.stderr, flush=True)


# DOCUMENTED FLOORS (sf0.1, quiet-box n=5 medians): queries whose flags
# were triaged across rounds and closed as box noise — a flag stands
# only if the new median ALSO exceeds the triaged floor by the same
# 1.25x/0.3s criterion, so a round-over-round box-state drift does not
# re-flag an already-adjudicated query every sitting. Each entry names
# the round that recorded it and the evidence.
DOCUMENTED_FLOORS = {
    # r11 (2026-08-18) re-measurement of EVERY floor, n=5 quiet-box
    # medians on the post-round tree (r10 verdict Next-round #10:
    # several floors had gone stale ABOVE current medians, muting the
    # gate). Values = the r11 quiet medians, rounded to 0.1; history of
    # each floor's original adjudication: SCALE.md rounds 8-11.
    "docs_curation_pipeline": 3.9,       # was 5.9 (r9)
    # r11 interleaved A/B vs the r10 two-cache form reads ~6.0 steady;
    # the same-sitting n=5 suite median was 7.45 (suite-order warm-up),
    # so the floor splits the difference below both.
    "embedding_nn_descent": 6.4,         # was 6.8 (r9)
    "dedup_repeated_spans": 3.0,         # was 3.4 (r8)
    "dedup_excise_spans": 2.9,           # was 3.95 (r8)
    "embedding_ann_ivfpq": 4.0,          # was 5.2 (r8)
    "embedding_pq_topk": 3.2,            # was 4.1 (r8)
    "doc_bm25_topk": 2.4,                # was 2.9 (r8)
    "doc_bigram_logprob": 2.3,           # was 2.9 (r8)
    "bpe_encode_docs": 3.4,              # was 4.7 (r8)
    "doc_boilerplate_shingles": 1.3,     # was 1.7 (r8)
    "docs_gopher_rules": 0.7,            # was 1.0 (r9)
    "docs_quality_rank_ensemble": 3.0,   # was 3.9 (r9)
    "events_partition_pruned_windows": 1.3,  # was 2.0 (r10)
    # r11 adjudication of the r10 verdict's two >10% movers (Wrong #4):
    # both UNTOUCHED since r4/r10, both n=5 quiet medians at or below
    # their r10 ENTRY recordings (4.76 vs 5.17; 4.01 vs 3.93±band) —
    # noise, as the r10 exit gate itself concluded. Floored at the
    # quiet medians so standing ±10% box drift stops re-flagging them
    # (dedup_simhash: third noise flag in three rounds).
    "customer_part_twins": 4.8,
    "dedup_simhash_near_pairs": 4.0,
}


def _regressions_vs_prior(
    times: dict[str, float], sf: float | None
) -> dict[str, object]:
    """Compare per-query medians to the newest recorded bench at the
    same sf. Within a round the driver's BENCH_r*.json is preferred WHEN
    IT PARSED (it records the round's EXIT state; the LOCAL record is
    the round's entry state) and BENCH_LOCAL_r*.json is the fallback for
    the truncated-tail case (parsed=null records are skipped by the
    loop). Returns {"baseline": file or None, "flagged": {query:
    {"prior": s, "now": s, "ratio": r}}} — queries >25% AND >0.3s slower.
    The absolute floor keeps sub-second queries from flagging on scheduler
    jitter alone."""
    here = os.path.dirname(os.path.abspath(__file__))
    prior_file, prior_q = None, {}

    candidates = [
        p
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        + glob.glob(os.path.join(here, "BENCH_LOCAL_r*.json"))
        # canonical records only: the driver's low-core scaling sittings
        # (BENCH_r10_c8.json) parse fine but measure a different core
        # count — never a valid baseline for the full-core bench
        if re.fullmatch(r"BENCH(_LOCAL)?_r\d+\.json", os.path.basename(p))
    ]
    for path in sorted(
        candidates,
        key=lambda p: (_round_no(p), "LOCAL" not in os.path.basename(p)),
        reverse=True,
    ):
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        # the driver wraps bench output: {"sf": .., "parsed": {"queries"..}}
        if not isinstance(rec.get("queries"), dict) and isinstance(
            rec.get("parsed"), dict
        ):
            rec = {**rec.get("parsed"), "sf": rec.get("sf", rec["parsed"].get("sf"))}
        if rec.get("sf") == sf and isinstance(rec.get("queries"), dict):
            prior_file, prior_q = os.path.basename(path), rec["queries"]
            break
    flagged = {}
    for name, now in times.items():
        prior = prior_q.get(name)
        floor = DOCUMENTED_FLOORS.get(name)
        if floor is not None and not (
            now > floor * 1.25 and now - floor > 0.3
        ):
            continue  # within the triaged noise floor — adjudicated
        # explicit None/>0 tests: a recorded 0.0 prior must not be
        # silently skipped as falsy (it would be a real ∞-ratio signal)
        if (
            prior is not None
            and prior >= 0
            and now > prior * 1.25
            and now - prior > 0.3
        ):
            flagged[name] = {
                "prior": prior,
                "now": now,
                "ratio": round(now / prior, 2),
            }
    if flagged:
        print(f"# REGRESSIONS vs {prior_file}: {sorted(flagged)}",
              file=sys.stderr, flush=True)
    return {"baseline": prior_file, "flagged": flagged}


if __name__ == "__main__":
    raise SystemExit(main())
