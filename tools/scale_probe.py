"""Empirical scaling probe for the candidate-generation queries.

The driver ships fixtures at sf0.001 / sf0.01 / sf0.1 (100x row span,
no sf1), so instead of a single big-SF run this measures each
hash-bucketed query at all three scale factors and fits the growth
exponent alpha in t ~ rows^alpha between the two largest SFs (the
smallest is dominated by fixed per-query overhead and is reported but
not fitted). A candidate-generation pipeline whose buckets stay
balanced should land near alpha ~ 1 (linear scan + shuffle); alpha
approaching 2 means pairwise work inside buckets is taking over and
the bucket geometry must grow with the corpus.

Writes SCALE_PROBE.json and prints a markdown table for SCALE.md.

Usage: python tools/scale_probe.py [query ...]
"""

from __future__ import annotations

import json
import math
import sys
import time

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod  # noqa: E402
from blackroad_data_pipeline_spark.session import get_spark  # noqa: E402

SFS = [("sf0.001", 0.001), ("sf0.01", 0.01), ("sf0.1", 0.1)]

# the queries whose cost is candidate generation (bucket self-joins,
# posting lists, banded signatures) — the ones that could go quadratic
PROBED = [
    "ngram_jaccard",
    # round 3: the hash-based CONTRACT queries are now the recall~1
    # parity/gate configs (near-all-pairs by design — their growth is
    # intentionally quadratic-ish and bounded to a corpus subset), so
    # the scaling question belongs to the corpus-scale bucket
    # geometries, which live in bench.SCALE_PROBES (*_scale below).
    "near_dup_minhash_scale",
    "dedup_near_minhash_scale",
    "dedup_near_groups_scale",
    "near_dup_simhash_scale",
    "similarity_join_scale",
    "ann_lsh_scale",
    "ann_ivf_scale",
    "dedup_exact",
    # corpus curation + layout ops (expected alpha ~ 1: maps,
    # word-count aggs, anti-joins, range sort, prefix sums)
    "dedup_against",
    "clean_lines",
    "unigram_logprob",
    "contamination",
    "zorder",
    "budget_select",
    "corpus_diff",
    # round-3 additions: dup_spans is the one with real quadratic
    # potential (window-hash duplicate set); the other two are a pure
    # map and a 1-shuffle agg + broadcast join
    "dup_spans",
    "gopher_quality",
    "embedding_outlier",
    # late round 3: removal rebuild (touched-docs-only), two-vocab LM
    # ratio, Arrow phash kernel, min/max-codebook quantization
    "dup_spans_remove",
    "importance_weight",
    "phash",
    "quantize_embedding",
    # final round-3 batch: iterative graph, band-join-vs-history,
    # window-chain funnel, event analytics, normalization map
    "pagerank",
    "dedup_near_against",
    "funnel",
    "retention",
    "event_transitions",
    "text_normalize",
    # round 4: MG heavy hitters (bounded candidates + pruned
    # recount), SCD2 window compression, BM25 (query-term pre-filtered
    # explode), degree-ordered triangle join (the one with
    # superlinear potential: wedges ~ m^1.5 worst case)
    "heavy_hitters_mg",
    "scd2",
    "bm25",
    "triangles",
    # round 5: bucketed batch-vs-history embedding dedup (the one
    # with quadratic potential if buckets degenerate); the rest are
    # window/prefix-sum passes expected at alpha ~ 1 — resample's
    # output is grid-sized (span/interval per key), not input-sized
    "dedup_embedding_against_scale",
    "top_p",
    "winsorize",
    "mad_outlier",
    "resample",
    "quantile_sketch_gate",
    "waiting_suppliers",
    # round 5 (cont.): islands (sort-per-key windows), diversity
    # (dense_rank + partition max), both expected alpha ~ 1; the
    # per-(part,supplier) double agg with the semi-join finish
    "interval_merge",
    "l_diversity",
    "excess_suppliers",
    # round 5 (cont. 2): winnow is linear in corpus BYTES (per-char
    # gram explode after the doc-level shuffle barrier);
    # winnow_overlap adds per-fp postings² (bounded by max_postings);
    # attribution last = as-of carry, linear = lookback-bounded range
    # join; the drift gates are cardinality-bounded after the counts
    "winnow",
    "winnow_overlap",
    "attribution_last",
    "attribution_linear",
    "ks_drift",
    "category_drift",
    # round 7: the composed incremental daily-ingest chain (3 "days"
    # deduped within-day + against the growing band store; cost is
    # 3x the single-batch band machinery plus day_i x store_i band
    # joins — expected alpha ~ 1 while buckets stay balanced, the
    # same geometry argument as near_dup_minhash_scale); winnow's
    # Arrow kernel (zero-shuffle, linear in corpus bytes)
    "incremental_ingest_scale",
    "attribution_first",
    # round 7 (cont.): interval x interval overlap join at event
    # granularity — cost is the two-sided bucket explode + equi-join
    # + count-once filter; expected alpha ~ 1 while pairs stay
    # bucket-bounded (the explosion factor is fixed at window/bucket)
    "interval_join_scale",
    # round 7 (cont. 2): multi-resolution rollup — one Expand-shaped
    # explode + one shuffle, alpha ~ 1 by construction
    "time_rollup",
    # round 8: the embedding-side composed ingest chain (within-day
    # dedup + against the growing int8 history + ann_ivf serve) —
    # candidate work is per (table, bucket), so alpha ~ 1 while the
    # 4096-bucket geometry holds; the day_i x store_i joins grow the
    # constant, not the exponent
    "embedding_ingest_scale",
    # round 9: batch kNN-join — candidate count is
    # queries x nprobe x |cell|, so alpha ~ 1 while the Lloyd-refined
    # cells stay balanced; the per-query top-k window is one
    # query-id shuffle over the candidate stream
    "knn_join_scale",
    # round 10: LSH-mode kNN-join — candidates are per-(table,bucket)
    # posting-list products; alpha tracks bucket balance at FIXED
    # n_planes (production raises n_planes with the corpus to hold
    # expected bucket size, like IVF raises n_cells)
    "knn_join_lsh_scale",
    # round 9: SemDeDup — per-cell pairwise work is n_cell^2, so
    # alpha tracks how well the Lloyd cells stay balanced at a FIXED
    # n_cells; production scales n_cells with the corpus (~0.1% of n)
    # to hold the per-cell quadratic constant
    "semdedup_scale",
    # round 9: PQ ADC — train (2 scans) + encode (1 Arrow kernel) +
    # JVM lookup-sum scan + top-k: alpha ~ 1 by construction, the
    # probe guards the constant (codebook training cost)
    "ann_pq_scale",
    # round 10: the SERVING leg (books/cells/codes prebuilt + cached
    # in bench._PQ_SERVE_CACHE — modeling persisted artifacts): one
    # pushed-filter codegen scan over nprobe/n_cells of the codes +
    # rerank join; alpha ~ 1 with a near-zero constant (the whole
    # point of the train/serve split)
    "ann_pq_serve_scale",
    # round 12: the drift→retrain loop — three deterministic
    # trainings (old books, window books, window coarse) + the
    # selective re-encode; every training is seed-collect + one
    # assignment scan + one narrow agg, re-encode is two filtered
    # Arrow passes, so alpha ~ 1 with a training-dominated constant.
    # ann_pq_versioned adds the mixed-store build (the same chain)
    # before its one-scan CASE-table ADC probe.
    "model_refresh",
    "ann_pq_versioned",
]


def main() -> None:
    names = sys.argv[1:] or PROBED
    spark = get_spark()
    import bench

    qs = dict(entry_mod.queries())
    qs.update(bench.SCALE_PROBES)
    results: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        times = {}
        # one untimed warm-up at the smallest SF so codegen/Python-worker
        # spin-up doesn't inflate the first timed measurement
        fn(spark, "/root/testdata/sf0.001").count()
        for sf_name, _ in SFS:
            sf_dir = f"/root/testdata/{sf_name}"
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            times[sf_name] = round(time.perf_counter() - t0, 4)
        # fit on the two largest SFs: rows scale 10x between them
        alpha = math.log(max(times["sf0.1"], 1e-9) /
                         max(times["sf0.01"], 1e-9)) / math.log(10)
        results[name] = {**times, "alpha_0p01_to_0p1": round(alpha, 3)}
        print(f"{name:22s} {times['sf0.001']:7.2f} {times['sf0.01']:7.2f} "
              f"{times['sf0.1']:7.2f}  alpha={alpha:5.2f}")
    # MERGE into the existing record: a subset run (names on argv)
    # must not clobber the other queries' measurements
    path = "/root/repo/SCALE_PROBE.json"
    try:
        with open(path) as f:
            merged = json.load(f)
    except (OSError, ValueError):
        merged = {}
    merged.update(results)
    with open(path, "w") as f:
        json.dump(merged, f, indent=2)
    print("\n| query | sf0.001 s | sf0.01 s | sf0.1 s | alpha (0.01->0.1) |")
    print("|---|---|---|---|---|")
    for name, r in results.items():
        print(f"| {name} | {r['sf0.001']} | {r['sf0.01']} | {r['sf0.1']} "
              f"| {r['alpha_0p01_to_0p1']} |")


if __name__ == "__main__":
    main()
