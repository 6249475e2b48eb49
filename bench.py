#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop sink (full computation, no
collect/driver materialization — the shape a cluster job has).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streamforge_data_pipeline_spark.registry import REGISTRY  # noqa: E402
from streamforge_data_pipeline_spark.session import get_session  # noqa: E402

HEADLINE = [
    "error_counts",       # flagship ingest: validate + dedup + agg
    "upload_summary",
    "first_wins_dedup",
    "anti_join_dedup",
    "pricing_summary",
    "top_revenue",
    "region_sales",
    "exact_dedup",
    "near_dedup",
    # allpairs_jaccard's Zipf-vocabulary A/B (its target regime, 2.2-2.4x
    # over naive) is in PERF_NOTES "r4 addendum: new headline keys" and
    # r5.2; the 30-word bench corpus is its documented anti-regime
    # (uniform df -> prefixes can't prune) and near_dedup covers that.
    "minhash_lsh_dedup",
    "simhash",
    "topk_cosine",
    "embedding_near_dup",
    "term_counts",
    "dup_ngram_fraction",
    "dup_span_removal",
    "line_dedup",
    "ngram_lm_score",
    "winnow_overlap",
    "lang_id",
    "quality_score",
    "quality_threshold_prune",
    "source_overlap",
    "bm25_topk",
    "multimodal_meta",
    "media_decode_seeded",
    "media_frames_seeded",
    "tumbling_window",
    "session_window",
    "rollup_sales",
    "rank_orders",
    "ann_lsh",
    # r5 keys promoted into the driver-tracked headline set (r5 brief
    # #8) so BENCH follows them round-over-round, not only PERF_NOTES
    "containment_dedup",
    "ngram_novelty",
    "tfidf_cosine_pairs",
    "heavy_hitters",
    "stream_exact_dedup_jvm",
    # r6: the oracle-backed PQ pipeline + Manku Hamming near-dup
    "pq_adc_seeded",
    "simhash_near_dup",
    "fuzzy_dedup",
    "fuzzy_dedup_lsh",
    # r10: the containment sketch twin (r9 VERDICT #1)
    "containment_dedup_lsh",
    "ann_lsh_seeded",
    # r7: the seeded trained-quantizer drain + spread-outer drain,
    # the Manku radius dial, and the sketch-calibration key
    "stream_semantic_dedup_trained_seeded",
    "stream_interval_join_spread_outer",
    "simhash_near_dup_radius6",
    "minhash_estimate",
    "stream_heavy_hitters",
    "stream_simhash_dedup",
    "stream_decontaminate",
    # r7 (late): seeded IVF twin completes the ANN family, streaming
    # SCD2 drain, BPE tokenizer training
    "ann_ivf_seeded",
    "stream_scd2_merge",
    "bpe_learn_merges",
    "bpe_tokenize",
    "stream_bottomk_sample",
    "per_source_sample",
    "ann_ivf_indexed",
    "pagerank_canonical",
    "stream_kmv_distinct",
    # r8: the weak-mark fix (blocked-pair ranking), domain curation
    # family + its streaming twin, dup-graph triangle census,
    # multi-entity PII, the capped semantic-dedup quantizer
    "pagerank_canonical_blocked",
    "domain_caps",
    "domain_share",
    "stream_domain_caps",
    "triangle_counts",
    "pii_scrub_multi",
    "semantic_dedup_cells",
    "stream_domain_share",
    "shard_manifest",
    "quality_retention_curve",
    "stream_shard_export",
    "embedding_norm_outliers",
    "curation_funnel",
    "stream_curation_funnel",
    "decayed_event_counts",
    "source_mixture_weights",
    "stream_decayed_counts",
    "column_stats",
    "eval_split",
    # r10: streaming twins for the last two batch-only curation
    # utilities (r9 VERDICT #7)
    "stream_eval_split",
    "stream_column_stats",
    # r10: training-sequence packing (batch + accounting-journal twin)
    "sequence_pack",
    "stream_sequence_pack",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tail = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    m = re.match(r"\d+(?:\.\d+)?", tail)
    sf = m.group(0) if m else "0"
    spark = get_session("streamforge-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen paths so per-query numbers measure the
    # queries, not session startup or C2 JIT convergence. The warmup
    # runs each headline query once at sf0.01 (1/10th the bench SF):
    # same generated code and operator kernels, enough invocations to
    # push the hot methods through C2. Measured on this host, cold vs
    # warmed minhash_lsh_dedup at sf0.1: 25s cold, 17.9s after a
    # sf0.001 warm (too few iterations to JIT), 11s after a sf0.01
    # warm, 4.5s at same-JVM steady state — the plan's fixed
    # codegen+JIT cost dominates its cold time. Steady-state
    # throughput is the number that projects to a long-lived 100 TB
    # cluster, so that is what the timed pass measures.
    warm_dir = "/root/testdata/sf0.01"
    warm = warm_dir if os.path.isdir(warm_dir) else sf_dir
    for key in HEADLINE:
        try:
            REGISTRY[key].fn(spark, warm).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass  # a warmup miss only costs warmth
    spark.catalog.clearCache()

    # Run discipline (r6 brief #7 — BENCH_r06's driver run diverged
    # ~25% from the builder's closeout on cold-plan effects): after the
    # sf0.01 warmup, each query runs TWICE at the bench SF. The first
    # pass still pays any residual cold cost (fresh plan codegen at
    # this SF, page cache); the second is the steady-state number that
    # projects to a long-lived cluster. "queries" reports the best,
    # "queries_first_run" the first pass, so round-over-round deltas
    # are attributable to code, not JVM state.
    timings: dict[str, float] = {}
    first_run: dict[str, float] = {}
    for key in HEADLINE:
        per_run = []
        for _ in range(2):
            spark.catalog.clearCache()  # isolate queries from leftover persists
            t0 = time.time()
            REGISTRY[key].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            per_run.append(round(time.time() - t0, 3))
        first_run[key] = per_run[0]
        timings[key] = min(per_run)
    spark.catalog.clearCache()

    # Reference-parity E2E: the reference's flagship workload is one
    # worker ingesting a ~50 MB / 1.22M-row CSV (CsvGenerator.java:18,28)
    # with validation + dedup + chunked commit. Same file size, full
    # pipeline: generate -> CSV -> validate -> dedup -> parquet store.
    import shutil
    import tempfile

    from streamforge_data_pipeline_spark.plans.ingest import run_upload
    from streamforge_data_pipeline_spark.sources.datagen import (
        generate_intake,
        rows_for_bytes,
        write_csv,
    )
    from streamforge_data_pipeline_spark.sources.store import TableStore

    work = tempfile.mkdtemp(prefix="sfdp_bench_")
    try:
        csv_dir = os.path.join(work, "intake_csv")
        write_csv(generate_intake(spark, rows_for_bytes(50 * 1024 * 1024)), csv_dir)
        t0 = time.time()
        res = run_upload(spark, csv_dir, TableStore(os.path.join(work, "store")))
        timings["ingest_e2e_50mb"] = round(time.time() - t0, 3)
        assert res.processed == rows_for_bytes(50 * 1024 * 1024), res
    finally:
        shutil.rmtree(work, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    # Output shape is load-bearing (r9 VERDICT #5): the driver records
    # only the LAST ~2000 chars of stdout and its parse of BENCH_r09
    # returned null because the one detail line outgrew that window.
    # So: the full detail line prints FIRST (first-run dict up front —
    # the diagnostic a truncation can afford to eat), and the LAST
    # line is a guaranteed-small headline summary — totals plus as
    # many steady-state entries as fit a 1800-char budget in
    # DESCENDING cost order (the expensive keys are the performance
    # evidence; what gets dropped is sub-second noise, and
    # "queries_omitted" says how many). The tail window therefore
    # always contains one complete, parseable JSON line carrying the
    # headline numbers.
    print(
        json.dumps(
            {
                "run_discipline": (
                    "per-key warmup once at sf0.01, then 2 timed runs at "
                    "the bench SF; 'queries' = best-of-2 (steady state), "
                    "'queries_first_run' = first pass (residual cold "
                    "cost); ingest_e2e_50mb is single-run end-to-end; "
                    "the LAST stdout line is the tail-window-safe "
                    "headline summary"
                ),
                "queries_first_run": first_run,
                "first_run_total": round(sum(first_run.values()), 3),
                "queries": timings,
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "sf": float(sf),
            },
            separators=(",", ":"),
        )
    )
    ordered = sorted(timings.items(), key=lambda kv: -kv[1])
    head: dict[str, object] = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "sf": float(sf),
        "n_queries": len(timings),
        "first_run_total": round(sum(first_run.values()), 3),
        "queries": {},
        "queries_omitted": 0,
    }
    kept: dict[str, float] = {}
    for k, v in ordered:
        kept[k] = round(v, 2)
        head["queries"] = kept
        if len(json.dumps(head, separators=(",", ":"))) > 1800:
            kept.pop(k)
            break
    head["queries_omitted"] = len(timings) - len(kept)
    print(json.dumps(head, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
