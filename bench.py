"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.  All logs go to stderr.

The headline metric is end-to-end pipeline seconds (pages → triples);
``triples_per_sec`` (the BASELINE.json metric) is included alongside.
"""

from __future__ import annotations

import json
import os
import sys
import time


def log(*a):
    print(*a, file=sys.stderr, flush=True)


#: round-3+ additions timed SEPARATELY (extra_queries in the JSON) so
#: headline_queries_total stays comparable round-over-round.
#: ngram_jaccard moved here in round 4 (verdict item 7): it is the exact
#: quadratic verification twin of minhash_lsh — the headline should track
#: scale-path plans, and its 3-4 s cluster-quadratic residual was the
#: noisiest headline term.  BENCH_r04 headline therefore excludes ~4 s
#: relative to r1-r3 (documented in BASELINE.md).
EXTRA = [
    "ngram_jaccard",
    "pipeline_triples_deep",
    "entity_pagerank",
    "doc_perplexity",
    "url_normalize",
    "benchmark_contamination",
    "dedup_canonical",
    "sketch_cardinality",
    "sketch_quantiles",
    "tagger_gazetteer_gate",
    "set_ops_sources",
    "source_lang_rollup",
    "source_lang_cube",
    "lang_pivot",
    "doc_quartiles",
    "event_funnel",
    "doc_zscore",
    "latest_event",
    "doc_chunks",
    "events_hourly_dense",
    "weighted_sample",
    "dedup_incremental",
    "gopher_quality",
    "dup_ngram_rate",
    "kmeans_embeddings",
    "entity_cooccur_pmi",
    "triple_degree_hist",
    "triangle_stats",
    "neighbor_jaccard",
    "bm25_topk",
    "robust_outliers",
    "containment_pairs",
    "events_moving_avg",
    "user_retention",
    "fuzzy_alias_match",
    "quality_correlation",
    "lang_confusion",
    "term_cosine",
    "snapshot_diff",
    "entity_bfs",
    "paragraph_dedup",
    "mixture_plan",
    "table_profile",
    "oov_rate",
    "kg_negatives",
    "entity_ppr",
    "corpus_yield_funnel",
    # round-4 additions
    "winnow_fingerprints",
    "user_scd2",
    "dsir_weights",
    "entity_hits",
    "sorted_neighborhood",
    "bpe_vocab",
    "error_window_global",
    "media_frames",
    "edge_reciprocity",
    "mixture_allocation",
    "prefix_jaccard",
    "embedding_pca",
    "events_zorder",
    "heavy_hitters",
    "predicate_profile",
    "scd2_lookup",
    # round-5 additions
    "bpe_encode",
    "semantic_dedup",
    "inverted_postings",
    "phrase_search",
    "kcore",
    "link_graph",
    "random_walks",
    "triple_confidence",
    "events_asof",
    "entity_communities",
    "predicate_inverses",
    "rule_mining",
    "skipgram_pairs",
    "event_transitions",
    "ktruss",
    "entity_closeness",
    "anchor_text",
    "predicate_domain_range",
    "entity_cards",
    "entity_salience",
    "term_keyness",
    "skipgram_pmi",
    "graph_assortativity",
    "boilerplate_rate",
    "embedding_quantize",
    "entity_mis",
    "html_density",
    "alias_resolve",
    "source_reliability",
    "entity_scc",
    "event_concurrency",
    "entity_sssp",
    "entity_coloring",
    "entity_msf",
    "entity_slink",
    "readability",
    "entity_stress",
    "vocab_growth",
]

# Headline without the TPC-H queries: does not compare with BENCH_r01-r05.
HEADLINE = [
    "pipeline_triples",
    "pipeline_triples_model",
    "triples_rules",
    "vocab_df",
    "first_encounter_ids",
    "mentions_single",
    "pair_distance_hist",
    "dedup_exact",
    "minhash_lsh",
    "simhash",
    "ann_topk",
    "doc_fingerprint",
    "quality_scores",
    "events_hourly",
]


def _skew_leg(spark, docs, cores: int, tmp: str) -> dict:
    """Zipf-hot-key join under naive / AQE-skew-split / salted plans.

    left  = docs ×100 with zipf_domain(id) (d0 ≈ 61% of rows),
            materialized to parquet untimed (3×cores files);
    right = 64 domains × 1000 weight rows (64k rows — too big to
            broadcast at real scale, broadcast disabled to model that);
    query = inner join on domain + global agg.
    """
    import time as _time

    from pyspark.sql import functions as F

    from deepie_spark.datagen.skewed import zipf_domain
    from deepie_spark.operators.skew import salted_join

    reps = spark.range(100).select(F.col("id").alias("rep"))
    left_src = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("id"),
        F.col("n_chars"),
    )
    left_src = left_src.withColumn(
        "domain", zipf_domain(F.col("id"), n_domains=64, s=2.0)
    )
    left_dir = os.path.join(tmp, "skew_left.parquet")
    left_src.repartition(3 * cores).write.mode("overwrite").parquet(left_dir)
    left = spark.read.parquet(left_dir)
    # single-partition builds: range() defaults to `cores` partitions and
    # a crossJoin of two of them is cores² tiny tasks — pure scheduler
    # overhead that would drown the actual join-time contrast
    right = (
        spark.range(0, 64, 1, 1)
        .select(F.concat(F.lit("d"), F.col("id").cast("string")).alias("domain"))
        .crossJoin(spark.range(0, 1000, 1, 1).select(F.col("id").alias("w")))
    )

    def agg(joined):
        return joined.agg(
            F.count("*").alias("n"),
            F.sum(F.col("n_chars") * F.col("w")).alias("s"),
        ).collect()[0]

    def timed(fn):
        fn()  # warm
        best = float("inf")
        for _ in range(2):
            t0 = _time.time()
            fn()
            best = min(best, _time.time() - t0)
        return round(best, 3)

    conf = spark.conf
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.skewJoin.enabled": conf.get(
            "spark.sql.adaptive.skewJoin.enabled"
        ),
    }
    out: dict = {}
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        out["naive_sec"] = timed(lambda: agg(left.join(right, "domain")))
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        out["aqe_sec"] = timed(lambda: agg(left.join(right, "domain")))
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        out["salted_sec"] = timed(
            lambda: agg(salted_join(left, right, "domain", n_salt=cores))
        )
    finally:
        for k, v in saved.items():
            conf.set(k, v)
    out["rows_joined"] = left.count() * 1000
    log(f"skew: naive {out['naive_sec']}s, AQE {out['aqe_sec']}s, "
        f"salted {out['salted_sec']}s over {out['rows_joined']} joined rows")
    return out


def run_bench(sf_dir: str, cores: int) -> dict:
    from deepie_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("bench", cores=cores, shuffle_partitions=cores)
    qs = entrymod.queries()
    per_query: dict[str, float] = {}
    counts: dict[str, int] = {}
    # warmup: amortize JVM codegen + python-worker pool startup out of
    # the timings — the steady state is what scales to real corpora,
    # where cold start is noise against hours of scan time
    spark.range(1000).selectExpr("sum(id)").collect()
    if "pipeline_triples" in qs:
        qs["pipeline_triples"](spark, sf_dir).count()
        qs["pipeline_triples"](spark, sf_dir).count()
    def _time_query(fn, runs: int = 2) -> tuple[list[float], int]:
        # the host shows ~30% run-to-run noise (neighbor bursts reach
        # +56%); callers pick the statistic.  If samples disagree by
        # >35% the window is noisy — take one more so a single burst
        # can't dominate the recorded number.
        times, n = [], 0
        for _ in range(runs):
            t0 = time.time()
            n = fn().count()
            times.append(time.time() - t0)
        if max(times) > 1.35 * min(times):
            t0 = time.time()
            fn().count()
            times.append(time.time() - t0)
        return times, n

    def _median(xs: list[float]) -> float:
        s = sorted(xs)
        m = len(s) // 2
        return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2

    # headline statistic is MEDIAN-of-3 (round-3 verdict item 4): the
    # recorded artifact and any doc claim now quote the same number, and
    # the min/max spread is carried alongside so a noisy window is
    # visible in the artifact instead of explained in prose.
    spread_lo: dict[str, float] = {}
    spread_hi: dict[str, float] = {}
    for name in HEADLINE:
        if name not in qs:
            continue
        times, n = _time_query(lambda: qs[name](spark, sf_dir), runs=3)
        per_query[name] = round(_median(times), 3)
        spread_lo[name] = round(min(times), 3)
        spread_hi[name] = round(max(times), 3)
        counts[name] = n
        log(f"{name}: {n} rows in {per_query[name]}s "
            f"(min {spread_lo[name]}, max {spread_hi[name]})")
    total = round(sum(per_query.values()), 3)
    pipeline_sec = per_query.get("pipeline_triples", float("nan"))
    n_triples = counts.get("pipeline_triples", 0)

    extra_q: dict[str, float] = {}
    extra_rows: dict[str, int] = {}
    for name in EXTRA:
        if name not in qs:
            continue
        times, n = _time_query(lambda: qs[name](spark, sf_dir))
        extra_q[name] = round(min(times), 3)
        extra_rows[name] = n
        log(f"extra {name}: {n} rows in {extra_q[name]}s")

    # sustained throughput: the sf0.1 corpus runs in ~1 s, so the
    # per-query number above is fixed-overhead-dominated; replicate the
    # corpus 120x (distinct urls) so compute dominates — this is the
    # number comparable to BASELINE.md / SCALING.json.  120 reps makes
    # the timed window ~6.5 s at local[32]: at 40 reps (~3.4 s, round
    # 1/2) the per-run fixed overhead was still ~25% of the window and
    # the reported number under-stated steady-state throughput by ~35%
    # (measured, scripts/sustained_probe.py).
    #
    # The replicated corpus is MATERIALIZED to parquet once, untimed:
    # profiling showed the in-plan crossJoin synthesis was ~2.3 s of
    # pure bench-artifact JVM work per run — more than half the timed
    # window — which a real deployment (reading pages from storage)
    # never pays.  The timed path is the true end-to-end pipeline:
    # parquet scan → extract → mentions → pairs → triples.
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from deepie_spark.datagen.pages import pages_from_documents
    from deepie_spark.plans.pipeline import extract_triples

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).repartition(cores)
    n_reps = 120
    reps = spark.range(n_reps).select(F.col("id").alias("rep"))
    big = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    tmp = tempfile.mkdtemp(prefix="bench_pages_")
    pages_dir = os.path.join(tmp, "pages.parquet")
    # file count sets effective scan parallelism (1 row group per small
    # file; byte-range splits beyond a row-group start read nothing):
    # 3x cores → three EXACT waves of `cores` tasks.  Measured on this
    # host (scripts/sustained_probe.py, 120 reps, local[32], best-of-3):
    # 96 files = 2.52M triples/s, 64 = 2.42M, 128 = 2.02M — the 4-wave
    # 128-file layout of round 2 paid per-task overhead without adding
    # balance, and was the main reason BENCH_r02 undershot BASELINE.md.
    pages_from_documents(big).repartition(3 * cores).write.mode(
        "overwrite"
    ).parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)
    sustained_triples = extract_triples(spark, pages).count()  # warm
    # best-of-3: the shared-VM host shows ~30% run-to-run noise; the
    # minimum is the honest steady-state estimate (noise only adds
    # time).  All samples are recorded so the artifact shows dispersion.
    samples = []
    for _ in range(3):
        t0 = time.time()
        extract_triples(spark, pages).count()
        samples.append(round(time.time() - t0, 3))
    best = min(samples)
    sustained_tps = round(sustained_triples / best, 1)
    log(f"sustained: {sustained_triples} triples in {best:.2f}s "
        f"= {sustained_tps}/s (samples {samples})")

    # skew leg: the same large⋈large shuffle join on a Zipf domain key
    # (d0 ≈ 61% of rows) under three plans — naive (no AQE skew split,
    # no broadcast), AQE runtime skew split, and explicit salting
    # (operators.skew.salted_join).  Broadcast is disabled throughout:
    # at 100 TB neither side fits, and the point is the shuffle-join
    # skew story.  All three return identical results (same oracle —
    # asserted in tests/test_skew.py); only wall-clock differs.
    skew = _skew_leg(spark, docs, cores, tmp)
    shutil.rmtree(tmp, ignore_errors=True)
    # compact summary — this is the final stdout line.  It must stay
    # well under the driver's ~2 KB stdout-tail capture (BENCH_r03's
    # full JSON overflowed it and parsed as null), so rows / spreads /
    # extra-query timings live only in the FULL artifact.
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "stat": "median_of_3_per_query",
        "value_spread": [
            round(sum(spread_lo.values()), 3),
            round(sum(spread_hi.values()), 3),
        ],
        "queries": per_query,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "cores": cores,
        "pipeline_sec": pipeline_sec,
        "triples_per_sec": round(n_triples / pipeline_sec, 1)
        if pipeline_sec and pipeline_sec > 0
        else None,
        "sustained_triples_per_sec": sustained_tps,
        "sustained_sec": best,
        "skew": {k: skew[k] for k in ("naive_sec", "aqe_sec", "salted_sec")},
    }
    full = dict(result)
    full.update(
        {
            "rows": counts,
            "queries_spread_min": spread_lo,
            "queries_spread_max": spread_hi,
            "sustained_corpus_docs": n_reps * counts.get("doc_fingerprint", 0),
            "sustained_triples": sustained_triples,
            "sustained_samples": samples,
            "skew": skew,
            "extra_queries": extra_q,
            "extra_rows": extra_rows,
        }
    )
    spark.stop()
    return result, full


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    result, full = run_bench(sf_dir, cores)
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "bench_full.json")
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1)
    log("full artifact: " + full_path)
    log(json.dumps(full))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
