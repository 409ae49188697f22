#!/usr/bin/env python3
"""Regenerate COVERAGE.md: SURVEY.md §2 operator inventory → engine
artifacts (query registry entries, operator modules, streaming jobs,
tests). Run after adding queries: python tools/gen_coverage.py"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_kafka_spark.queries import all_queries  # noqa: E402

# SURVEY §2 id → (description, non-registry artifacts that also cover it)
SURVEY_IDS: dict[str, tuple[str, str]] = {
    "S1": ("Kafka consumer source", "streaming/sources.py:kafka_source; tests/test_source_contracts.py (option contract)"),
    "S2": ("Text-file source (CSV replay)", "streaming/sources.py:csv_replay_source; schemas.py:parse_csv_lines; tests/test_streaming.py"),
    "S3": ("Socket source", "streaming/sources.py:socket_source; tests/test_source_contracts.py (EXECUTED end-to-end vs an in-test TCP server, plus analyzed-plan pin)"),
    "S4": ("Synthetic generator source", "streaming/sources.py:marketing_rate_source"),
    "S5": ("Kafka producer feed", "streaming/sinks.py:kafka_sink; tests/test_source_contracts.py (producer options + CSV payload)"),
    "K1": ("Console/print sink", "streaming/sinks.py:console_sink / memory sink in tests"),
    "K2": ("Side-output streams", "tagged result_type column: streaming/stateful.py (order_timeout/tx_match outputs)"),
    "K3": ("Redis bitmap/hash sink", "replaced by HLL++/state store (SURVEY §4); generic external sink = foreachBatch, streaming/sinks.py"),
    "K4": ("Retract/changelog stream", "explicit +I/-U/+U changelog_sink (snapshot-diff foreachBatch), streaming/sinks.py; retraction test tests/test_streaming.py"),
    "P1": ("CSV line → typed record", "schemas.py:parse_csv_lines; tests/test_reference_parity.py"),
    "P2": ("Log line parse w/ date format", "schemas.py:parse_apache_log_lines; tests/test_reference_parity.py"),
    "P3": ("Constant-key projection", "global aggs (no grouping key)"),
    "P4": ("Random-key salting projection", "unnecessary on Spark: map-side partial agg (SURVEY §4); documented"),
    "P5": ("Timestamp formatting", "epoch-second long window bounds convention (queries/__init__.py)"),
    "P6": ("Top-N report formatting", "operators/topn.py:format_topn_report (aggregation-side string build)"),
    "F1": ("behavior == 'pv'", ""),
    "F2": ("method == 'GET'", "tests/test_reference_parity.py (apache.log)"),
    "F3": ("static-asset negative regex", "streaming/jobs.py:hot_pages_stream; tests/test_reference_parity.py"),
    "F4": ("behavior != UNINSTALL", "streaming/jobs.py:channel_stats_stream"),
    "F5": ("txId != ''", "streaming/stateful.py:tx_match_stream"),
    "F6": ("SQL WHERE filter", ""),
    "F7": ("Stateful blacklist filter", "streaming/stateful.py:blacklist_stream"),
    "G1": ("keyBy itemId", ""),
    "G2": ("keyBy windowEnd (rank regroup)", ""),
    "G3": ("keyBy url / method-ref keys", ""),
    "G4": ("keyBy tuple position", ""),
    "G5": ("composite key channel×behavior", ""),
    "G6": ("composite key userId×adId", ""),
    "G7": ("keyBy province/userId/orderId/txId", ""),
    "G8": ("global (non-keyed) windowing", ""),
    "W1": ("sliding 1h/5min", "streaming/jobs.py:hot_items_stream"),
    "W2": ("sliding 10min/5s", "streaming/jobs.py:hot_pages_stream; tests/test_reference_parity.py"),
    "W3": ("sliding 1h/5s", "streaming/jobs.py:channel_stats_stream"),
    "W4": ("sliding 1h/5min (ad province)", "tests/test_reference_parity.py"),
    "W5": ("tumbling 1h", "streaming/jobs.py:page_view_stream"),
    "W6": ("tumbling all-window (global)", "streaming/jobs.py:unique_visitor_stream"),
    "W7": ("ascending watermark", "withWatermark throughout streaming/jobs.py"),
    "W8": ("bounded out-of-orderness watermark", "tests/test_streaming.py (3s delay login test)"),
    "W9": ("allowedLateness + late side output", "true late capture: streaming/stateful.py:late_split_stream (own bounded-OOO watermark, rows past allowedLateness tagged 'late'); in-bound updates via update mode"),
    "W10": ("FIRE_AND_PURGE per-element trigger", "n/a: incremental streaming agg state (SURVEY §4); uv_approx covers intent"),
    "W11": ("event-time timers windowEnd+1/+60s", "watermark window close; state timeouts streaming/stateful.py"),
    "W12": ("processing-time midnight reset", "group-by-local-date in blacklist ops"),
    "A1": ("count per item×window", ""),
    "A2": ("count per url×window", "tests/test_reference_parity.py"),
    "A3": ("count per channel×behavior×window", ""),
    "A4": ("global count per window", ""),
    "A5": ("count per province×window", "tests/test_reference_parity.py"),
    "A6": ("exact distinct per window", ""),
    "A7": ("approx distinct (Bloom→HLL++)", ""),
    "A8": ("windowed SUM", ""),
    "A9": ("two-phase skew-safe count", "map-side partial agg is automatic (SURVEY §4); single groupBy"),
    "A10": ("SQL HOP-window count", ""),
    "R1": ("Top-5 per window (procedural)", "streaming/jobs.py:rank_hot_items (foreachBatch)"),
    "R2": ("Top-3 pages, late-update-safe", "tests/test_reference_parity.py"),
    "R3": ("Top-N via SQL ROW_NUMBER", ""),
    "R4": ("sort comparators", "orderBy desc in topn"),
    "J1": ("interval join (event-time range)", ""),
    "J2": ("reconciliation full-outer w/ timeout", "streaming/stateful.py:tx_match_stream; tests/test_streaming.py"),
    "J3": ("order lifecycle co-processing", "see T2/T4"),
    "T1": ("CEP 2 consecutive fails (strict)", "streaming/stateful.py:login_fail_stream"),
    "T2": ("procedural login-fail detect", "same operator (consecutive_event_alert)"),
    "T3": ("CEP create→pay within timeout", "streaming/stateful.py:order_timeout_stream"),
    "T4": ("procedural order-timeout machine", "same stateful op; tests/test_streaming.py"),
    "T5": ("click-fraud blacklist", "streaming/stateful.py:blacklist_stream"),
}

EXTENSIONS = [
    ("dedup", "exact / MinHash+LSH / SimHash / n-gram Jaccard / containment"
              " / embedding-cosine / SemDeDup (cluster-then-prune)"
              " / span-level substring stats / incremental (cross-snapshot)"
              " / cross-source overlap matrix / composed no-model"
              " text->embedding->LSH near-dup (doc_semantic_pairs)"),
    ("similarity", "brute-force cosine top-k / SRP-LSH multiprobe / IVF (KMeans)"
                   " / MMR diversity re-rank"),
    ("multimodal", "binary payload columns, mapInPandas decode/features/frames / perceptual-hash near-dup (integer-exact 64-bit signature, full cross-engine value oracle, pigeonhole chunk-bucket pair search shared with SimHash) / incremental media dedup vs a stored signature index (full-oracle verdict frame) + continuous streaming twin (foreachBatch, scoped persists)"),
    ("text", "lang-id / quality / token counts / fingerprints"
             " / winnowing fingerprints (MOSS rightmost-min selection,"
             " zero-shuffle array pipeline, w+k-1 overlap guarantee"
             " pytest-pinned) + shared-fingerprint overlap pairs"
             " (containment_pairs' _shared_key_counts plan over the ~2/(w+1)"
             " winnowed sub-sample) + train/eval winnow decontamination"
             " vs a stored eval fingerprint index (per-doc contamination"
             " evidence, planted-leak pytest; batch + streaming faces;"
             " one-pass MULTI-benchmark variant with per-benchmark"
             " attribution — corpus cost independent of benchmark"
             " count, single-bench reduction row-identity pytest,"
             " batch + streaming faces)"
             " + excisable leaked-span localization (matched-position"
             " islands at the guarantee gap) + leak excision to the"
             " releasable corpus (proven guaranteed-superset w-1 pad)"
             " / unigram + interpolated-bigram LM perplexity proxies"
             " / hashed-linear classifier gate / vocab OOV audit"
             " / per-source scorecard + KL"
             " / quality-cutoff pass-rate sweep / co-occurrence PMI"
             " / iterative BPE merge training + apply (tokenizer"
             " round-trip, pure-Python-reference-pinned)"
             " / curriculum quantile buckets (histogram cut, no"
             " global sort)"),
    ("sketches", "Misra-Gries heavy hitters (mergeable k-counter partials,"
                 " n/(k+1) bound driver-hashed by heavy_hitters_check)"
                 " / Count-Min (d x w counter frame, exact counter-addition"
                 " merge, bit-identical DuckDB oracle + continuous"
                 " streaming twin)"
                 " / KMV distinct with union/intersection set algebra"
                 " (threshold-prefiltered k-minima, integer estimator,"
                 " bit-identical oracle)"
                 " / native Datasketches HLL sub-sketch rollup"
                 " (lossless same-lgK union, pytest-pinned)"),
    ("graph", "connected components (hash-to-min + pointer jumping,"
              " O(log diameter)) / weighted PageRank in fixed-point"
              " integer arithmetic (source overlap centrality,"
              " unrolled-CTE DuckDB oracle matches bit-for-bit)"),
    ("data-quality", "declarative one-scan expectation audit"
                     " (completeness / key uniqueness / value ranges /"
                     " accepted-value sets; approx_uniqueness HLL swap-in"
                     " for 100 TB key audits) + continuous streaming DQ"
                     " monitor (exact mergeable counters, final frame"
                     " row-identical to the batch audit, pytest-pinned)"),
    ("privacy", "k-anonymity suppression gate / distinct l-diversity"
                " companion (max-dense_rank on the same quasi-key"
                " shuffle, no count-distinct join-back) / t-closeness"
                " gate (integer-exact TVD + ordered-EMD vs the corpus"
                " distribution, weighted cell-frame path for"
                " pre-aggregated inputs) + continuous streaming"
                " t-closeness monitor (exact cell merges scored by the"
                " batch gate's own code path, row-identical parity)"
                " / six-stage release funnel compose"
                " (release_gate_snapshot: dedup -> k-anon -> l-div ->"
                " t-close -> winnow leak gate, planted-leak"
                " end-to-end pytest)"),
    ("layout", "Morton z-order clustering: exact-BIGINT z-key (scale +"
               " interleave against broadcast bounds, pure codegen) /"
               " per-bucket locality audit (footer min/max bounds) /"
               " range-partitioned z-ordered parquet writer"),
    ("embedding-analytics", "per-label centroid drift vs the corpus"
                            " centroid (integer-quantized sums, full"
                            " value oracle on float inputs)"),
    ("retrieval", "posting-list inverted index (df-filtered, narrow"
                  " explode; query-term-restricted variant) / tf-idf"
                  " characteristic terms (rational idf — bit-identical"
                  " rank math) / BM25 search (literal-term tf in the"
                  " scan projection, 1-row stats broadcast, TakeOrdered"
                  " top-k) / multi-query batch search / hybrid"
                  " sparse+dense reciprocal-rank fusion (SIGIR'09 RRF,"
                  " integer-exact e12 contributions, candidate-bounded"
                  " fusion frames — full DuckDB oracle composed from"
                  " the shared BM25 + cosine ranked-chain CTEs)"),
    ("sampling", "train/val/test split / sequence packing / mixture resample"
                 " / stratified cap / shard export / corpus shuffle"
                 " / two-level block shuffle (one exchange; the 100 TB"
                 " epoch-shuffle trade vs the global range sort)"
                 " / stride-scheduled weighted source interleave"
                 " (every doc exactly once, integer virtual time,"
                 " proportional-progress guarantee hypothesis-pinned)"
                 " / A-Res weighted sampling (Efraimidis-Spirakis)"
                 " + continuous streaming reservoir (streamed manifest =="
                 " batch sample exactly, pytest-pinned)"
                 " / k-anonymity + l-diversity gates (privacy family)"
                 " / full assembly compose (training_mix_snapshot)"),
    ("versioning", "JSONL release I/O + corrupt-line quarantine + compaction"
                   " / snapshot diff (added/removed/changed verdicts)"
                   " / upsert-delete changelog ship + MERGE-style apply"
                   " (roundtrip closure driver-pinned)"
                   " / incremental view maintenance: per-group delta"
                   " update of a stored rollup under the changelog"
                   " (maintain(agg(old), changes) == agg(new) pinned)"),
    ("linkage", "blocked fuzzy record linkage (Levenshtein verify,"
                " length-band pruning, equal-name short-circuit,"
                " multi-pass blocking union for recall)"),
    ("cleaning", "per-group percentile winsorization (integer e4 clip,"
                 " cross-engine exact) — the value gate before metric"
                 " aggregation"),
    ("batch-relational", "TPC-H-shape q1-q22 subset + rollup + CUBE"
                         " cross-marginals + pivot"
                         " (joins, subqueries, grouping sets)"
                         " / FK referential-integrity coverage audit"
                         " / retention cohorts / Markov event transitions"
                         " / z-score traffic anomaly flags / PSI value-drift"
                         " / SCD2 validity intervals / last-touch attribution"
                         " / RFM segments / market-basket lift"),
    ("timeseries", "regular-grid resample + forward-fill (0-filled counts,"
                   " carried bucket means, gap distances)"
                   " / linear-interpolation resample twin"
                   " / RANGE-interval trailing-window aggregates"
                   " (gap-correct 7d sums on sparse keys)"
                   " / native session_window sessions (streaming-capable"
                   " plan, islands-oracle parity)"
                   " / first-arrival dedup (dropDuplicatesWithinWatermark"
                   " batch twin, packed-min groupBy)"
                   " / BPE merge-candidate induction (vocab-bounded"
                   " pair explode)"
                   " / grouping-key skew diagnostic (measure-first"
                   " salting: count-distribution stats + deterministic"
                   " argmax key on the counts frame)"),
]


def main() -> None:
    qs = all_queries()
    by_id: dict[str, list[str]] = {}
    for name, q in qs.items():
        for tok in q.survey.replace(",", " ").split():
            if tok in SURVEY_IDS:
                by_id.setdefault(tok, []).append(name)

    lines = [
        "# COVERAGE — SURVEY.md §2 operator inventory → engine artifacts",
        "",
        "Generated by tools/gen_coverage.py — do not edit by hand.",
        "Query names refer to the registry in `flink_kafka_spark/queries/`",
        "(each has a `queries()` entry; ✓oracle = DuckDB-hash-checked).",
        "",
        "| id | reference operator | registry queries | other artifacts |",
        "|---|---|---|---|",
    ]
    for sid, (desc, extra) in SURVEY_IDS.items():
        names = ", ".join(
            f"{n}{'' if qs[n].oracle is None else ' ✓'}" for n in sorted(by_id.get(sid, []))
        )
        lines.append(f"| {sid} | {desc} | {names} | {extra} |")

    lines += [
        "",
        "## Extension scope (training-data pipeline, beyond the reference)",
        "",
        "| family | coverage |",
        "|---|---|",
    ]
    for fam, desc in EXTENSIONS:
        lines.append(f"| {fam} | {desc} |")

    lines += [
        "",
        f"Registry: {len(qs)} queries, "
        f"{sum(1 for q in qs.values() if q.oracle)} with DuckDB oracles.",
        "",
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
