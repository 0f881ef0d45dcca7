"""Relational/curation query table on $SPARK_GRAFT_SF_DIR.

Times every HEADLINE query of `__spark_entry__.queries()` at
local[$SPARK_GRAFT_CPUS]: one warm `take(1)` (plan, JIT, file listing),
then one timed pass fully materialized through the noop sink, so no
collect cost is counted.

Prints ONE compact JSON line (it fits the 2,000-char tail a caller
captures from stdout):
  {"metric": "bench_total_wall", "value": N, "unit": "sec",
   "queries": {INLINE_QUERIES subset}, "sf": ..., "cpus": ...,
   "detail": "BENCH/bench_detail.json"}
and rewrites BENCH/BASELINE.md (the query table, with the host it ran
on) and BENCH/bench_detail.json (the full per-query map).

Extraction throughput, the N->4N scaling window and the per-layer
costs of `extract()` are measured by `python3 perfbench/run.py`
(see perfbench/README.md), not here.

Settings: SPARK_GRAFT_SF_DIR (default: the sf0.1 test-data directory)
and SPARK_GRAFT_CPUS (default: every core of the host).
"""

from __future__ import annotations

import json
import os
import pathlib
import platform
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

HEADLINE = [
    "pricing_summary",
    "order_revenue_by_priority",
    "top_orders_per_cust",
    "events_sessionize",
    "token_counts",
    "quality_scores",
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "winnow_pairs",
    "embedding_topk",
    "embedding_lsh_topk",
    "embedding_ivf_topk",
    "embedding_cosine_dups_scale",
    "pdf_roundtrip",
    "curate_keeplist",
    "media_pipeline",
    "media_decode",
    "events_asof_join",
    "dataset_split",
    "sketch_accuracy",
    "quota_sample",
    "warc_roundtrip",
    "dedup_clusters",
    "pii_redact",
    "repetition_filters",
    "decontaminate",
    "nfc_normalize",
    "fix_mojibake",
    "sitemap_harvest",
    "rss_harvest",
    "robots_parse",
    "frontier_build",
    "url_canonicalize",
    "line_dedup",
    "chunk_documents",
    "lm_quality",
    "duplicate_spans",
    "span_dedup",
    "semantic_dedup",
    "pack_shards",
    "url_blocklist",
    "recrawl_latest",
    "snapshot_diff",
    "lm_ppl_buckets",
    "lang_spans",
    "link_graph",
    "host_pagerank",
    "dataset_mix",
    "anchor_texts",
    "dsir_select",
    "robots_gate",
    "bpe_train",
    "page_meta",
    "html_tables",
    "tfidf_keywords",
    "c4_filters",
    "gopher_rules",
    "quality_classifier",
    "dedup_canonical",
    "fuzzy_dedup_keeplist",
    "incremental_dedup",
    "corpus_stats",
    "paragraph_dedup",
    "incremental_refresh",
    "crawl_schedule",
    "phrase_search",
    "bm25_rank",
    "extract_markdown",
    "host_template_lines",
    "image_dhash_pairs",
    "audio_fp_pairs",
    "media_dedup_keeplist",
    "publish_dates",
    "containment_pairs",
    "containment_keeplist",
    "host_trustrank",
    "compression_quality",
    "dataset_mix_temperature",
    "meta_robots_gate",
    "script_mix",
    "curation_funnel",
    "host_hits",
    "epoch_plan",
    "stream_dedup_urls",
    "task_config_mixed",
]

# queries inlined into the stdout line: the composed pipelines and the
# costliest operator families. A 63-query line once overflowed the
# 2,000-char capture and no bench was parsed at all; the full map
# always goes to BENCH/bench_detail.json.
INLINE_QUERIES = [
    "fuzzy_dedup_keeplist", "incremental_dedup", "quality_classifier",
    "curate_keeplist",
    "frontier_build", "dedup_clusters", "host_pagerank",
    "winnow_pairs", "minhash_lsh_pairs", "simhash_pairs",
    "ngram_jaccard_pairs", "embedding_ivf_topk", "embedding_lsh_topk",
    "semantic_dedup", "pdf_roundtrip", "warc_roundtrip", "dsir_select",
]

MAX_LINE = 1900  # chars; leaves room in the 2,000-char tail capture


def run_queries() -> dict:
    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entrymod
    from dxnn_ocr_cpp_spark.session import build_session
    spark = build_session(app="bench-queries", master=f"local[{CPUS}]")
    qs = entrymod.queries()
    timings = {}
    try:
        for name in HEADLINE:
            fn = qs[name]
            fn(spark, SF_DIR).take(1)  # warm: plan + JIT + file listing
            t0 = time.monotonic()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.monotonic() - t0, 3)
    finally:
        spark.stop()
    return timings


def host_info() -> dict:
    model = platform.machine()
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {"cpu": model, "host_cores": os.cpu_count(), "cpus": CPUS}


def compact_line(payload: dict) -> str:
    """The one stdout line: scalars plus the INLINE_QUERIES timings,
    dropped whole if the line would still exceed MAX_LINE."""
    timings = payload["queries"]
    compact = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "queries": {k: timings[k] for k in INLINE_QUERIES if k in timings},
        "sf": payload["sf"],
        "cpus": payload["host"]["cpus"],
        "detail": "BENCH/bench_detail.json",
    }
    line = json.dumps(compact)
    if len(line) > MAX_LINE:
        compact.pop("queries")
        line = json.dumps(compact)
    return line


def write_report(payload: dict) -> None:
    host = payload["host"]
    lines = [
        "# BENCH — relational/curation query table",
        "",
        f"`python bench.py` at `{SF_DIR}` on local[{host['cpus']}] "
        f"({host['host_cores']}-core host, {host['cpu']}). Each query "
        f"is warmed with `take(1)`, then timed once, materialized "
        f"through the noop sink. There is no load gate: compare two "
        f"tables only if both runs had a quiet host.",
        "",
        "Extraction throughput, scaling and per-layer numbers come "
        "from `python3 perfbench/run.py` (perfbench/README.md).",
        "",
        "| query | sec |",
        "|---|---|",
    ]
    lines += [f"| {k} | {v} |" for k, v in payload["queries"].items()]
    lines += ["", f"Total: {payload['value']} sec  |  sf dir: `{SF_DIR}`  "
                  f"|  cpus: {host['cpus']}", ""]
    out = REPO / "BENCH" / "BASELINE.md"
    out.parent.mkdir(exist_ok=True)
    out.write_text("\n".join(lines))


def main() -> None:
    timings = run_queries()
    payload = {
        "metric": "bench_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": pathlib.Path(SF_DIR).name,
        "host": host_info(),
    }
    write_report(payload)
    detail = REPO / "BENCH" / "bench_detail.json"
    detail.write_text(json.dumps(payload, indent=1))
    print(compact_line(payload))


if __name__ == "__main__":
    main()
