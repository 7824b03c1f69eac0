"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

value = total wall-clock seconds across the headline queries (lower is
better). Each query executes fully (count() forces the whole plan; results
are not collected to the driver to keep it an engine benchmark, not a
serialization benchmark).

Wall clock on a steal-prone host lies: r4's driver artifact showed a 2.3x
"regression" on top3_cheapest that re-measured at 1.0x in isolation. So
alongside wall time, each query records its EXECUTOR CPU seconds
(task-metric executorCpuTime summed over the stages the run executed,
read from the status REST API) in "queries_cpu". CPU time counts cycles
actually consumed — host steal inflates wall but not CPU — so a wall
blip with flat CPU reads as host noise, not an engine regression.
"queries" stays wall-seconds for round-over-round comparability.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import urllib.request

# Hard byte budget for the stdout JSON line: the driver keeps only the
# last 2000 bytes of output (BENCH_r*.json "tail": 2000) and parses the
# JSON line from that window. Leave headroom for a trailing newline and
# any stray stdout the JVM appends after the line.
TAIL_BUDGET = 1800

HEADLINE = [
    # batch ETL + dashboard
    "daily_net_revenue",
    "margin_by_sku",
    "inventory_reorder",
    "sales_etl_enrich",
    "purchases_upsert",
    # offer analytics
    "seller_dedupe",
    "variant_stats",
    "global_analytics",
    "reprice_proposals",
    "sizing_adult",
    "sizing_kids",
    "export_flat",
    # windows / streaming replay
    "top3_cheapest",
    "bot_sliding_window",
    "events_tumbling_stats",
    # LLM pipeline
    "dedup_exact",
    "minhash_lsh_pairs",
    # the capped form is the 100 TB path (doc-freq cap bounds posting-list
    # joins); the exact uncapped form stays as a correctness-only gate
    "ngram_jaccard_capped",
    "dedup_clusters",
    "text_features",
    "lang_rollup",
    "winnowing_fingerprints",
    "ann_cosine_topk",
    "ann_lsh_topk",
    # r4 additions: substring-level dedup, bottom-k fingerprints, and the
    # Pandas-UDF HTML parse path (the engine's one justified Python stage)
    "duplicate_spans",
    "doc_fingerprints",
    "html_sellers_parse",
    # r5: capped entity resolution — the bounded-output production form
    # (the uncapped gate emits 5.5M pairs at sf0.1 by design)
    "part_name_matches_capped",
    # r5: the IVF scale path incl. its deterministic k-means training
    # (~3 bounded driver round-trips dominate its wall at this SF)
    "ann_ivf_topk",
    # late r5: the corpus-cleaning stage (regex PII + URL blocklist),
    # the Bloom pre-join filter, and the iconic TPC-H wide aggregate
    "docs_pii_profile",
    "docs_url_blocklist",
    "customer_bloom_probe",
    "tpch_q1_pricing_summary",
    # r6: embedding-level dedup end-to-end (now with corpus-sized LSH
    # params — fixed r=12 measured QUADRATIC on the stress curve), the
    # MERGE INTO surface, the binned interval join, and session paths
    "semantic_dedup_keep",
    "orders_merge_upsert",
    "orders_in_promo_windows",
    "events_top_paths",
    # late r6: BPE tokenizer training (dictionary-sized iterations; the
    # wall is ~8 bounded argmax driver round-trips, like ann_ivf_topk)
    "bpe_encode_tokens",
    # late r6 second wave: HLL sketch, bigram-LM perplexity, logistic-
    # regression train+score (12 bounded GD round-trips), chunking
    "orders_hll_distinct",
    "docs_lm_perplexity",
    "docs_logreg_predict",
    "docs_chunk_rag",
    # held-out Stupid-Backoff trigram scoring (5 word-keyed joins)
    "docs_sb_backoff",
    # late r6 third wave: exact-integer JL projection and Fellegi-Sunter
    # probabilistic linkage scoring over the blocked candidates
    "embeddings_jl_project",
    "part_linkage_fs",
    # r7: fixed-point BM25 retrieval, hybrid RRF fusion of two ANN
    # systems, and the asymmetric containment (quote/excerpt) detector
    "docs_bm25_topk",
    "ann_rrf_fusion",
    "docs_containment_pairs",
    # r7 second wave: DSIR data-selection weights (two distribution
    # passes + scoring in one corpus read) and the Hilbert layout key
    "docs_dsir_weights",
    "orders_hilbert_curve",
    # r7 third wave: Apriori pair rules (pruned basket self-join), the
    # gaps-and-islands duplicate-region merge, fixed-point PCA
    # (bounded-moments train + literal-component score), and the
    # flog2-exact token-entropy repetition signal
    "basket_assoc_rules",
    "docs_dup_span_extents",
    "embeddings_pca_project",
    "docs_token_entropy",
    # r8: the de-globalized window queries (distributed prefix-rank —
    # RFM quintiles and the Heaps growth curve), positional phrase
    # search, and the Markov steady-state. Deliberately NOT here:
    # ngram_jaccard_residual (verification-grade exact form — the
    # capped ngram_jaccard_capped above is the production path) and
    # copurchase_communities_lp (iterative-convergence loop, measured
    # on the stress curve instead).
    "customer_rfm_segments",
    "docs_heaps_curve",
    "docs_phrase_search",
    "events_markov_steady",
    # r8 second session: constant-memory cross-split novelty (Bloom
    # build + vocabulary-deduped probe) and clipped-bigram ROUGE-2 over
    # the LSH candidate pairs. Deliberately NOT here:
    # docs_unigram_segment (round-iterative trainer — its wall at this
    # SF is driver-side plan compilation per Viterbi round; measured on
    # the stress curve instead, like communities_lp).
    "docs_novelty_bloom",
    "docs_rouge_overlap",
    # r9: the Gopher repetition profile (one explode, three gram
    # lengths), slice-level distinct-n diversity, crawl-fragment
    # stitching (one boundary-hash equi-join), classifier calibration
    # (reliability bins + ECE), and width-2 beam decode (6 shallow
    # joins over a WindowGroupLimit next-map). Deliberately NOT here:
    # embeddings_pca_variance (driver-side report over the same moments
    # embeddings_pca_project above already times).
    "docs_repetition_profile",
    "corpus_distinct_ngrams",
    "docs_fragment_stitch",
    "docs_logreg_calibration",
    "lm_beam_decode",
    # r9 second wave: the mixture-materialization composition and the
    # deterministic dataloader order (two prefix-rank epochs).
    # Deliberately NOT here: copurchase_kcore (iterative-convergence
    # loop, measured on the stress curve like communities_lp).
    "corpus_budget_assemble",
    "docs_epoch_order",
    # r10: speculative-decoding acceptance (one token groupBy + bigram
    # joins), Moore-Lewis selection (two LM scorings over one shared
    # tokenize), windowed skip-gram PMI (3 zip_with slices), exact-EMD
    # t-closeness, KD soft-target extraction (WindowGroupLimit), and
    # the per-SKU log-log elasticity regression. Deliberately NOT here:
    # copurchase_ktruss (iterative-convergence loop, stress-curve
    # territory like kcore/LP) and orders_dow_seasonality (a 7-row
    # rollup the daily-revenue queries above already cover in cost).
    "lm_speculative_acceptance",
    "docs_moore_lewis_select",
    "docs_skipgram_pmi",
    "customers_t_closeness",
    "lm_distill_targets",
    "sku_price_elasticity",
    # r10 second wave: the zone-map layout evaluator (two distributed
    # total-order ranks over lineitem) and the cross-source dup matrix
    # (rides the banded LSH pair stage). priority_keep and power_mde
    # ride their families' existing headline entries in cost.
    "lineitem_zone_skip_eval",
    "source_dup_matrix",
    # r10 third wave: the LM pruning size/quality trade (two scorings
    # over one model-sized held-out tf table). customer_ltv_cohort is a
    # calendar-bounded rollup the daily-revenue entries already cover.
    "lm_pruned_model_eval",
    # r11: the curriculum schedule (keyed two-phase rank with a 2.5x
    # stage fan-out — the round's only new data-scaled machinery
    # composition), span-corruption masks (one explode + array slices),
    # and the Kaplan-Meier survival rollup (per-customer groupBy +
    # calendar-grid windows). Deliberately NOT here: orders_benford_audit
    # and customers_dp_histogram (9-cell / 125-cell rollups the revenue
    # family already covers in cost) and token_pack_report (rides the
    # measured pack_sequences prefix machinery).
    "docs_curriculum_schedule",
    "docs_span_corruption",
    "customer_survival_km",
]


def min_over_passes(
    samples: dict[str, list[tuple[float, float | None]]],
) -> tuple[dict[str, float], dict[str, float]]:
    """Per-query minimum wall and CPU across interleaved passes.

    Minima are taken independently (the steal-free wall sample and the
    steal-free CPU sample need not be the same pass)."""
    timings: dict[str, float] = {}
    cpu_timings: dict[str, float] = {}
    for name, runs in samples.items():
        if not runs:
            continue
        timings[name] = min(w for w, _ in runs)
        cpus = [c for _, c in runs if c is not None]
        if cpus:
            cpu_timings[name] = min(cpus)
    return timings, cpu_timings


def flag_suspects(
    cpu_timings: dict[str, float],
    prev_cpu: dict[str, float],
    factor: float = 5.0,
    floor: float = 0.05,
) -> list[str]:
    """Contamination sentinel: queries whose MIN CPU across passes still
    exceeds ``factor`` x the previous round's committed per-query CPU —
    with interleaved passes, that can only happen if a host event spans
    the entire bench (or the engine genuinely regressed); either way the
    artifact should self-identify the rows a judge must re-measure.
    ``floor`` ignores sub-50ms noise-dominated queries."""
    return sorted(
        q
        for q, c in cpu_timings.items()
        if prev_cpu.get(q, 0.0) > floor and c > factor * prev_cpu[q]
    )


def run_shape(spark, timings: dict[str, float]) -> dict[str, int]:
    """How big and how parallel the run was: queries timed, host cores
    this process may use, and the session's defaultParallelism (the
    local[N] it really got). Without them a shorter query map reads as a
    dropped query and a cores change as an ignored setting."""
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        cpus = os.cpu_count() or 0
    return {
        "n_queries": len(timings),
        "cpus": cpus,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
    }


def fit_line(out: dict, timings: dict[str, float], budget: int = TAIL_BUDGET) -> str:
    """The one-line JSON artifact, at most ``budget`` bytes: it is parsed
    out of the last 2000 bytes of the bench's stdout. Over budget, the
    query map keeps only the slowest queries until the line fits; every
    other field stays."""
    line = json.dumps(out, separators=(",", ":"))
    slowest = sorted(timings, key=timings.get, reverse=True)
    while len(line) > budget and slowest:
        slowest.pop()
        out["queries"] = {k: round(timings[k], 2) for k in slowest}
        out["queries_truncated"] = len(timings) - len(slowest)
        line = json.dumps(out, separators=(",", ":"))
    return line


def _git_head() -> str | None:
    try:
        return (
            subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"],
                capture_output=True,
                text=True,
                timeout=10,
                cwd=os.path.dirname(os.path.abspath(__file__)),
            ).stdout.strip()
            or None
        )
    except Exception:
        return None


def _executor_cpu_sec(spark) -> float | None:
    """Cumulative executor CPU seconds over all COMPLETE stages, via the
    status REST API (the UI is enabled for the bench session only).
    Returns None if the endpoint is unavailable — bench must never fail
    on its own instrumentation."""
    try:
        base = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId
        url = f"{base}/api/v1/applications/{app_id}/stages?status=complete"
        with urllib.request.urlopen(url, timeout=5) as resp:
            stages = json.load(resp)
        return sum(s.get("executorCpuTime", 0) for s in stages) / 1e9
    except Exception:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from kaspi_etl_spark.registry import QUERIES
    from kaspi_etl_spark.session import get_spark

    spark = get_spark(
        "bench",
        extra_conf={
            "spark.ui.enabled": "true",
            # the CPU metric sums executorCpuTime over COMPLETE stages;
            # at the default retainedStages=1000 the UI starts EVICTING
            # old stages mid-bench, the cumulative sum goes backwards,
            # and late queries read negative CPU deltas (seen on the
            # 41st headline query). The bench creates ~3k stages total.
            "spark.ui.retainedStages": "100000",
            # keep STDOUT clean for the driver's tail capture: the
            # console progress bar writes [Stage ...] frames to stdout
            # in this environment, and every byte before the final JSON
            # line eats the 2000-byte tail window
            "spark.ui.showConsoleProgress": "false",
            # The interleaved passes (below) defeat the DEFAULT codegen
            # cache: at maxEntries=100, running ~80 queries between two
            # samples of the same query evicts its generated classes,
            # so every sample re-pays whole-stage-codegen compile + JIT
            # warmup (measured: basket_assoc_rules 13 CPU-s interleaved
            # vs 3.9 back-to-back-warm on identical code/data). Those
            # constants amortize to ~zero at real per-query data scale,
            # so the WARM number is the scale-relevant one; a large
            # cache lets warmth carry across passes (measured: same
            # query 15.5 -> 7.9 -> 4.8 across interleaved passes with
            # this conf), keeping r10-comparable numbers AND the
            # burst-immune interleaving.
            "spark.sql.codegen.cache.maxEntries": "100000",
        },
    )
    # Warm the JVM + parquet footers once so per-query numbers measure the
    # engine, not first-touch costs.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # Best of 3 samples per query, taken as 3 INTERLEAVED FULL PASSES
    # over the query list (pass 1 runs every query once, then pass 2,
    # then pass 3) — never 3 back-to-back repeats: the r10 driver
    # artifact had a minutes-long host event poison four CONSECUTIVE
    # queries at 4.7-90x their real CPU because all three back-to-back
    # samples landed inside the burst. With full passes, a burst shorter
    # than one whole pass (~the entire bench) cannot own any query's
    # every sample, so the per-query minimum survives. The first pass
    # additionally absorbs plan compilation. The minimum is the
    # sustained-throughput number (the engine's cost; contention is the
    # host's).
    # A single crashing query must never zero out the whole artifact
    # (round 3 lost all bench numbers to one AnalysisException): record
    # the failure, keep timing the rest, and still print the JSON line.
    samples: dict[str, list[tuple[float, float | None]]] = {
        name: [] for name in HEADLINE
    }
    errors: dict[str, str] = {}
    rowcounts: dict[str, int] = {}
    for pass_no in range(3):
        for name in HEADLINE:
            if name in errors:
                continue
            fn = QUERIES[name]
            try:
                cpu0 = _executor_cpu_sec(spark)
                t0 = time.time()
                df = fn(spark, sf_dir)
                rowcounts[name] = df.count()
                wall = time.time() - t0
                cpu1 = _executor_cpu_sec(spark)
                cpu = (
                    cpu1 - cpu0 if cpu0 is not None and cpu1 is not None else None
                )
                samples[name].append((wall, cpu))
            except Exception as exc:  # noqa: BLE001 - artifact robustness
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"# {name}: FAILED {errors[name]}", file=sys.stderr)
        print(f"# --- pass {pass_no + 1}/3 complete ---", file=sys.stderr)

    timings, cpu_timings = min_over_passes(samples)
    timings = {k: round(v, 3) for k, v in timings.items()}
    cpu_timings = {k: round(v, 3) for k, v in cpu_timings.items()}
    total = sum(timings.values())
    for name in HEADLINE:
        if name in timings:
            cpu_note = (
                f", cpu {cpu_timings[name]:.2f}s" if name in cpu_timings else ""
            )
            print(
                f"# {name}: {timings[name]:.2f}s"
                f" ({rowcounts.get(name, 0)} rows{cpu_note})",
                file=sys.stderr,
            )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        **run_shape(spark, timings),
    }
    if cpu_timings:
        out["cpu_total"] = round(sum(cpu_timings.values()), 3)
    if errors:
        out["n_errors"] = len(errors)

    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    # Executor-CPU ratio on the queries common to the PREVIOUS round's
    # detail sidecar (committed each round): wall on this shared-tenant
    # host swings +/-25% under CPU steal while executor CPU holds to
    # +/-2% (the r8/r9 lesson), so the parsed line carries the honest
    # round-over-round number itself instead of making the judge exhume
    # the old detail file from git. >1 means this round is slower.
    # Provenance: the sidecar is stamped with the git HEAD that produced
    # it, and the ratio reports WHICH commit it compared against
    # (prev_git) — a second run in the same round rebases the ratio to
    # ~1.0, and without the stamp that rebase is silent.
    git = _git_head()
    try:
        with open(detail_path) as fh:
            prev_detail = json.load(fh)
        prev_cpu = prev_detail.get("queries_cpu", {})
        common = [q for q in cpu_timings if q in prev_cpu]
        prev_sum = sum(prev_cpu[q] for q in common)
        if prev_sum > 0:
            out["cpu_vs_prev"] = round(
                sum(cpu_timings[q] for q in common) / prev_sum, 3
            )
            out["n_common"] = len(common)
            prev_git = prev_detail.get("git")
            if prev_git:
                out["prev_git"] = prev_git
                if git and prev_git == git:
                    # same-commit rerun: the ratio measures host noise,
                    # not a round-over-round engine delta
                    out["prev_same_commit"] = True
        # Contamination sentinel (r10 verdict): any query whose best CPU
        # still exceeds 5x the previous committed detail gets flagged so
        # the artifact self-identifies windows a judge must re-measure.
        suspects = flag_suspects(cpu_timings, prev_cpu)
        if suspects:
            out["suspect"] = suspects[:8]
            if len(suspects) > 8:
                out["suspect_truncated"] = len(suspects) - 8
    except (OSError, ValueError):
        pass  # first run or unreadable sidecar: no ratio
    if git:
        out["git"] = git

    # The full per-query CPU map + error strings go to a sidecar file:
    # the driver captures only the LAST 2000 BYTES of stdout and parses
    # the JSON line out of that window. r6's line (wall + cpu maps,
    # 3-decimal floats) grew past 2000 bytes and the clipped head made
    # the round's official number unparseable (BENCH_r06.json
    # parsed: null). The headline line is budget-enforced below.
    detail = dict(out, queries=timings, queries_cpu=cpu_timings, errors=errors)
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError:
        pass  # the sidecar is best-effort; the stdout line is the artifact

    # Degrade gracefully rather than emit an unparseable artifact.
    print(fit_line(out, timings))
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
