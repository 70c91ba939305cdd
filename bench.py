"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints a detail JSON line (tier2 map + per-query deltas) followed by the
record-of-note JSON line LAST:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
The last line is what the driver's tail capture parses; it carries only
the headline map and totals so it can never outgrow the capture window.

Each query is materialized through the noop sink (full execution, no
driver collect overhead).  A warmup query first absorbs JVM/codegen
startup so per-query numbers reflect steady-state execution.
"""

from __future__ import annotations

import functools
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sample_dms_s3_kinesis_spark.plans.registry import REGISTRY
from sample_dms_s3_kinesis_spark.session import session

# Headline set: the scan/join/agg-heavy relational core, the window and
# as-of/range operators, and one representative per north-star family.
HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q06_forecast_revenue",
    "q10_returned_revenue",
    "q_conditional_agg_events",
    "q_latest_wins_events",
    "q_topk_per_group",
    "q_asof_join",
    "q_range_join",
    "q_json_extract_events",
    "q_envelope_events",
    "q_dedup_md5_documents",
    "q_text_quality",
    "q_minhash_lsh_pairs",
    "q_simhash_pairs",
    "q_lsh_jaccard_verified",
    "q_ann_cosine_topk",
    "q_embedding_near_dup",
    "q07_nation_volume",
    "q13_order_count_dist",
    "q18_large_orders",
    "q_window_rank_family",
    "q_sessionize_events",
    "q_binned_range_join",
    "q_dedup_clusters",
    "q_text_repetition",
    "q_hash_split",
    "q_curation_pipeline",
]

# Tier 2: the heavy r5-r8 operator families the frozen 29-query
# headline suite never times (a 10x regression in BPE/unigram training,
# PQ/IVF-PQ probing, pagerank, linkage, funnels, RRF fusion or the
# LSH-composed clustering flagship would otherwise ship invisibly —
# the perf canary catches errors, not time).  Timed ONCE each, single
# shot: several are iterative multi-job pipelines whose codegen
# amortizes inside the run, and a few memoize per (applicationId,
# sf_dir) so a second execution would time the cache, not the work.
# Tier 2 exists to catch order-of-magnitude drift; the headline suite
# remains the baseline-comparable metric and is NOT changed by this.
TIER2 = [
    "q_bpe_merges",
    "q_unigram_vocab",
    "q_pq_topk",
    "q_ivfpq_topk",
    "q_pagerank_neardup",
    "q_record_linkage",
    "q_funnel_windowed",
    "q_hybrid_rrf_search",
    "q_neardup_clustering_lsh",
    "q_multimodal_features",
    "q_html_extract",
    "q_url_domain_caps",
    # r10: WARC container ingestion (fold + parse + extract digest);
    # the first call synthesizes the fixture (harness cost, cached per
    # app), so best-of-2 records the read path
    "q_warc_ingest",
    # r12: the encoded-body decode path (chunked fold + entity UDF +
    # reject reasons), and the two selection funnels a corpus build
    # runs before any fetch (index-side and discovery-side)
    "q_warc_encoded_ingest",
    "q_cdx_selection_pipeline",
    "q_frontier_pipeline",
    # r12 (this session): the link-discovery funnel — html_links +
    # resolve_url over per-doc synthesized pages, then the same
    # blocklist/unseen/cap gates as the other two frontier modalities
    "q_link_frontier",
    # r13: the redirect-chain walk (Location parse + resolve + bounded
    # lockstep joins), the charset-transcode decode branch, and the
    # refresh-tier flagship (recrawl due scores + validators + waves)
    "q_redirect_frontier",
    "q_charset_transcode",
    "q_refresh_pipeline",
    # r15: the PDF text-layer roundtrip (encode + object-scan + zlib
    # inflate + text-operator replay per document via mapInPandas) —
    # the one new r15 family with real per-row Python work
    "q_pdf_text_extract",
]
# This list IS the tier-2 roster of record — BASELINE.md cites
# len(TIER2) and membership from here, nowhere else.

# Run once before any timing to absorb JVM/codegen/parquet-footer startup
# cost: one cheap relational query, plus the LSH queries whose wide
# generated signature expressions dominate first-execution compile time
# (Janino compile of the k-slot minhash arrays runs 5-10s once).
WARMUP = (
    "q06_forecast_revenue",
    "q_minhash_lsh_pairs",
    "q_lsh_jaccard_verified",
    "q_simhash_pairs",
)


def run_query(spark, name: str, sf_dir: str) -> float:
    """Build and fully execute one registry query through the noop sink;
    return its wall seconds, then release what it left behind."""
    fn = REGISTRY[name].fn
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    # Operators that persist() intermediates (LSH signatures) would
    # otherwise accumulate cached blocks across queries and distort
    # later timings; a Python gc pass releases py4j references so
    # Spark's ContextCleaner can drop finished broadcasts too.
    spark.catalog.clearCache()
    gc.collect()
    # JVM-side full GC too: accumulated old-gen garbage from earlier
    # queries otherwise lands its collection pauses inside later
    # measurements (observed: simhash 2x slower late in the suite
    # than standalone).
    spark._jvm.System.gc()
    return elapsed


def compute_deltas(here, sf_float, timings, tier2):
    """Per-query delta vs the newest recorded same-sf BENCH_r{N}.json.

    Walks newest-first until a record with a usable per-query map turns
    up: a driver BENCH file whose tail capture truncated (r8's
    "parsed": null) must cost only one rung of recency, never the
    delta feature.  A malformed file costs the delta, never the
    timings this run just paid for.

    Returns (prev_filename, delta_vs_prev, tier2_delta); all three are
    None when no comparable record exists.
    """
    prior = sorted(
        f for f in os.listdir(here)
        if f.startswith("BENCH_r") and f.endswith(".json")
    )
    for fname in reversed(prior):
        try:
            with open(os.path.join(here, fname)) as f:
                prev = json.load(f)
            # driver BENCH files wrap the bench line under "parsed"
            if "queries" not in prev and isinstance(prev.get("parsed"), dict):
                prev = prev["parsed"]
            prev_q = prev.get("queries") or {}
            if not prev_q:
                continue
            # Only compare like scale factors: BENCH_r12_sf1.json sorts
            # AFTER BENCH_r12.json ("_" > "."), so without this gate
            # every sf0.1 run would diff itself against the sf1 record
            # and report cross-scale nonsense (r12's delta_vs_prev did
            # exactly that).  A record with no sf field predates the sf
            # marker and is accepted as-is.
            prev_sf = prev.get("sf")
            if prev_sf is not None and f"{prev_sf}" != f"{sf_float}":
                continue
            built_delta = {
                name: round(t - prev_q[name], 3)
                for name, t in timings.items()
                if name in prev_q
            }
            prev_t2 = prev.get("tier2") or {}
            built_t2_delta = {
                name: round(t - prev_t2[name], 3)
                for name, t in tier2.items()
                if name in prev_t2
            }
        except (OSError, ValueError, TypeError, KeyError, AttributeError):
            # AttributeError: a JSON file whose top level is not an
            # object (array/string) has no .get — one rung, not a crash
            continue
        # Return only once the whole record parsed: a file that fails
        # mid-build must leave no partial state, or the named baseline
        # file could differ from the one the deltas came from.
        return fname, built_delta, built_t2_delta
    return None, None, None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_float = float(sf) if sf.replace(".", "").isdigit() else sf
    # Host load at start/end: this machine's wall-clock numbers swing up
    # to 10x under background load, so a reader adjudicating a run needs
    # the contemporaneous 1/5/15-min load averages next to the timings.
    load_start = os.getloadavg()
    # Pre-run idle guard (r14 verdict: every round's "regression"
    # adjudication traced back to a warm host, so make the threshold
    # BITE at the source).  If the 1-min load is above LOAD_MAX
    # (default 1.0 — r10-r14 showed even untouched queries inflate
    # 30-70% when a prior pytest/bench session is still draining),
    # poll every 30 s up to IDLE_WAIT_S (default 300 s) for it to
    # drain.  A run that starts hot anyway is SELF-FLAGGED
    # (hot_host=true + the waited seconds) so a reader reruns instead
    # of diagnosing phantom regressions; it never refuses outright —
    # the per-round driver record must exist even on a busy host.
    hot_host = False
    idle_waited_s = 0
    load_threshold = float(os.environ.get("SPARK_GRAFT_LOAD_MAX", "1.0"))
    idle_wait_cap = int(os.environ.get("SPARK_GRAFT_IDLE_WAIT_S", "300"))
    while load_start[0] > load_threshold and idle_waited_s < idle_wait_cap:
        time.sleep(30)
        idle_waited_s += 30
        load_start = os.getloadavg()
    hot_host = load_start[0] > load_threshold
    if hot_host:
        print(
            f"# WARNING hot host: 1-min load {load_start[0]:.2f} > "
            f"{load_threshold} after waiting {idle_waited_s}s — timings "
            "will read slow; rerun on an idle host before comparing",
            file=sys.stderr,
        )

    spark = session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    run = functools.partial(run_query, spark, sf_dir=sf_dir)
    for name in WARMUP:
        run(name)

    # Best of two executions per query: first execution of a query still
    # pays its own codegen/JIT, and GC pauses land arbitrarily — the min
    # measures the plan's steady-state cost rather than JVM mood.
    timings = {name: round(min(run(name), run(name)), 3) for name in HEADLINE}
    total = round(sum(timings.values()), 3)

    # Tier 2 runs AFTER the headline suite so it cannot perturb the
    # baseline-comparable numbers (see TIER2 comment for single-shot
    # rationale).
    tier2 = {}
    for name in TIER2:
        first = run(name)
        # Single-shot totals were too noisy to adjudicate: one slow
        # materialization (q_html_extract 2.8 -> 3.5 s across r8/r9
        # runs) moves the 12-query total ~16%.  Queries over 2 s get a
        # second pass and keep the best; sub-2 s queries stay
        # single-shot so tier 2 cost stays bounded.
        tier2[name] = round(min(first, run(name)) if first > 2.0 else first, 3)
    tier2_total = round(sum(tier2.values()), 3)

    # Per-query delta vs the newest recorded BENCH_r{N}.json so the
    # artifact itself shows regressions without cross-file diffing
    # (read alongside the load averages before believing any delta).
    here = os.path.dirname(os.path.abspath(__file__))
    prev_round, delta_vs_prev, tier2_delta = compute_deltas(
        here, sf_float, timings, tier2
    )

    load_end = [round(x, 2) for x in os.getloadavg()]
    # Two lines, detail first: the r8 record grew past the driver's tail
    # capture once tier2 + two delta maps joined the single line, so the
    # driver recorded "parsed": null.  The LAST line is the record of
    # note — it keeps the contractual metric/value/unit/queries/sf shape
    # plus totals, and stays well under any tail window; the preceding
    # detail line carries the tier2 map and per-query deltas for humans.
    detail = {
        "metric": "bench_detail",
        "tier2": tier2,
        "tier2_total_sec": tier2_total,
        # methodology marker: r10 switched >2s tier-2 queries to
        # best-of-2, so deltas vs single-shot prior records (r9 and
        # earlier) carry a one-time systematic negative bias on slow
        # queries — adjudicate the FIRST post-change record with that
        # in mind; later records compare like-for-like.
        "tier2_method": "best_of_2_over_2s",
        # true only when the start load stayed above the threshold
        # after the idle-wait window — treat the timings as
        # contaminated and rerun on a quiet host before comparing
        "hot_host": hot_host,
        "idle_waited_s": idle_waited_s,
    }
    if delta_vs_prev is not None:
        detail["delta_vs_prev"] = delta_vs_prev
        detail["delta_baseline_file"] = prev_round
    if tier2_delta:
        detail["tier2_delta_vs_prev"] = tier2_delta
    print(json.dumps(detail))
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "tier2_total_sec": tier2_total,
        "sf": sf_float,
        "load_avg_start": [round(x, 2) for x in load_start],
        "load_avg_end": load_end,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
