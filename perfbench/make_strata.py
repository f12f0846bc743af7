#!/usr/bin/env python3
"""Builds strata.txt from a sizing pass (.bench_build/sizing.json, written by
`run.py --size-registry`) and the result files of registry_batch runs
(.bench_build/results/*registry_batch*.json).

A row is eligible when it ran, passed its DuckDB oracle within 20 s, and
its warm time in the sizing pass is at most 0.6 s. Each eligible row goes
to the first stratum that claims it: the Kafka-shape / graft-ocf /
commit-log / lag rows by name; job-floor rows by sizing warm time; then
text and vector rows by name; every other row is shuffle-heavy.

The sizing pass runs every row in one long-lived JVM, so its times are
those of fully compiled code and rank rows poorly for a 12-row run. Bands
are therefore cut on the time a row takes inside the workload: the median,
over the given runs, of the row's median timed execution. Rows never
timed, or slower than 0.9 s there, are left out. Within a stratum, rows
sorted by that time are cut into equal bands; the workload draws one row
per band, so narrow bands keep the sample's cost, and so its median,
steady across seeds.

Usage: make_strata.py <sizing.json> <result.json>... > strata.txt
"""
import json
import re
import statistics
import sys

BANDS = {"floor": 2, "kafka": 2, "kernel": 3, "shuffle": 5}
MAX_WARM_MS = 600.0
MAX_TIMED_MS = 900.0
FLOOR_MS = 200.0
KAFKA = re.compile(
    r"^(ocf_|offset|avro_roundtrip|commit_log|first_offset_above|"
    r"jsonl_roundtrip|kafka_roundtrip|lag_join|log_compact|multi_topic|"
    r"partition_shard|partitioned_scan|rowkey_parse|leader_batches|"
    r"throughput|wordcount_)")
KERNEL = re.compile(
    r"^(ann_|ivf|pq_|bq_|sq8_|lsh_|topk_cosine|embedding_|rp_project|bm25|"
    r"bpe|wordpiece|lang|quality_classify|text_|gopher|repetition|char_|"
    r"token|pii_|url_canon|term_|doc_keywords|chunk_docs|rag_|hybrid_|"
    r"phrase_|prf_|trgm_|heavy_hitters|top_terms|vocab_|bigram_lm|lm_|"
    r"hash_features|byte_histogram|image_|audio_|video_|multimodal_|media_|"
    r"corpus_clean|decontaminate|knn_|label_|centroid_|late_interaction|"
    r"mrl_|hard_negatives|margin_mine|contrastive|paraphrase|semantic_|"
    r"domain_|fingerprint|dataset_fingerprint|sample_per_lang|mixture_|"
    r"curriculum|seq_pack|zipf_fit|collocations|cms_|span_|classifier_)")


def stratum(name, warm_ms):
    if KAFKA.match(name):
        return "kafka"
    if warm_ms <= FLOOR_MS:
        return "floor"
    if KERNEL.match(name):
        return "kernel"
    return "shuffle"


def timed_ms(result_paths):
    """{row: median over runs of its median timed execution, in ms}."""
    seen = {}
    for p in result_paths:
        for r in json.load(open(p))["results"]:
            for row in r["info"].get("rows", []):
                if row.get("timed_ms"):
                    seen.setdefault(row["name"], []).append(
                        statistics.median(row["timed_ms"]))
    return {n: statistics.median(v) for n, v in seen.items()}


def main(sizing, results):
    rows = json.load(open(sizing))
    cost = timed_ms(results)
    ok = [r for r in rows if r.get("oracle_ok")
          and r.get("warm_ms", 1e9) <= MAX_WARM_MS
          and cost.get(r["name"], 1e9) <= MAX_TIMED_MS]
    groups = {}
    for r in ok:
        groups.setdefault(stratum(r["name"], r["warm_ms"]), []).append(r)
    print("# stratum band row  (median timed ms inside registry_batch at "
          "local[4]; see make_strata.py)")
    for s in sorted(groups):
        g = sorted(groups[s], key=lambda r: (cost[r["name"]], r["name"]))
        n = BANDS[s]
        for b in range(n):
            for r in g[b * len(g) // n:(b + 1) * len(g) // n]:
                print(f"{s} {b + 1} {r['name']}  # {cost[r['name']]:.0f}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2:])
