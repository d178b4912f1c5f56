"""Per-layer metrics of a traced run (run.py --trace 1).

Every traced run reports every metric named here; a layer the workload
bypasses reads 0 (BENCH.md lists which workload exercises which layer).
Spark counters are per call of the verb: the listener's totals over the
run's traced ops divided by the number of that verb's spans.
"""

import json
import os
import statistics

import stats

VERBS = ["index_full", "reindex", "watch_batch", "semantic", "keyword", "hybrid", "graph", "curate"]
SPARK = [("jobs", "count"), ("stages", "count"), ("task_s", "s"), ("task_skew", "ratio"),
         ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB")]
STAGES = ["scan", "parse", "embed", "store_write", "state_write"]
SEARCH_VERBS = ["semantic", "keyword", "hybrid"]


# per-layer metrics where a larger value is the better one
HIGHER = {"index.embed_reuse_ratio", "dedup.pair_yield", "dedup.planted_recall",
          "search.repeat_share", "index_files_per_s", "bench.op_samples"}


def metric_names():
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    out = []
    for v in VERBS:
        out += [(f"spark.{v}.{k}", u) for k, u in SPARK]
    out += [("ingest.scan_ms", "ms"), ("ingest.parse_ms", "ms"), ("ingest.parse_errors", "count")]
    out += [(f"index.full_stage_{s}_ms", "ms") for s in STAGES]
    out += [(f"index.stage_{s}_ms", "ms") for s in STAGES]
    out += [("index.embed_ms", "ms"), ("index.chunks_embedded", "count"),
            ("index.embed_reuse_ratio", "ratio"), ("index.write_amp", "ratio"),
            ("index.store_files", "count")]
    out += [("streaming.coalesce_ms", "ms"), ("streaming.events_per_batch", "count")]
    out += [("search.dense_ms", "ms"), ("search.bm25_ms", "ms"), ("search.rrf_ms", "ms"),
            ("search.rows_read_per_hit", "ratio"), ("search.repeat_share", "ratio")]
    out += [("dedup.exact_ms", "ms"), ("dedup.minhash_ms", "ms"), ("dedup.components_ms", "ms"),
            ("dedup.candidate_pairs", "count"), ("dedup.pair_yield", "ratio"),
            ("dedup.planted_recall", "ratio"), ("operators.funnel_ms", "ms")]
    out += [("jvm.gc_ms", "ms"), ("jvm.jit_ms", "ms"), ("jvm.heap_peak_mb", "MB")]
    out += [("bench.trace_overhead_pct", "%")]
    out += [("index_files_per_s", "1/s"), ("reindex_ms_p50", "ms"), ("watch_batch_ms_p50", "ms"),
            ("read_after_write_ms_p50", "ms"), ("semantic_ms_p50", "ms"),
            ("keyword_ms_p50", "ms"), ("hybrid_ms_p50", "ms"), ("graph_ms_p50", "ms"),
            ("store_bytes_per_source_byte", "ratio"), ("error_rate", "ratio"),
            ("bench.op_samples", "count")]
    return out


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def repeat_share(warmup, ops, n):
    """Share of the first n stream ops whose query (mode, entry, graph read)
    the session already ran, in the warm-up or earlier in the stream."""
    def key(o):
        return o["mode"], o["entry"], o.get("graph")
    seen = {key(o) for o in warmup}
    rep = 0
    for i in range(n):
        k = key(ops[i % len(ops)])
        rep += k in seen
        seen.add(k)
    return rep / n if n else 0.0


def per_layer(workload, r, manifest, work, out_dir, seed, mix):
    raw, c = r["samples"], r["counters"]
    # the loop's untraced ops (samples "untraced.<name>") against its traced
    # ones give the tracing overhead; every other number pools both
    untraced = {k[len("untraced."):]: v for k, v in raw.items() if k.startswith("untraced.")}
    traced = {k: v for k, v in raw.items() if not k.startswith("untraced.")}
    s = {k: traced.get(k, []) + untraced.get(k, []) for k in set(traced) | set(untraced)}
    m = {name: 0.0 for name, _ in metric_names()}

    spans = []
    spans_file = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans_file):
        with open(spans_file) as f:
            spans = [json.loads(line) for line in f if line.strip()]
        selfs = stats.self_times(spans)
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"spans-{workload}-{seed}.jsonl"), "w") as f:
            for sp in spans:
                f.write(json.dumps(dict(sp, self_ms=selfs[sp["id"]])) + "\n")
    calls = {}
    for sp in spans:
        calls[sp["name"]] = calls.get(sp["name"], 0) + 1
    for v in VERBS:
        n = calls.get(v, 0)
        for k, _ in SPARK:
            total = c.get(f"spark.{v}.{k}", 0.0)
            m[f"spark.{v}.{k}"] = total if k == "task_skew" else (total / n if n else 0.0)

    for k in ("ingest.scan_ms", "ingest.parse_ms", "ingest.parse_errors", "index.embed_ms",
              "index.store_files", "store_bytes_per_source_byte", "search.dense_ms", "search.bm25_ms", "search.rrf_ms",
              "streaming.coalesce_ms", "streaming.events_per_batch", "jvm.gc_ms", "jvm.jit_ms",
              "jvm.heap_peak_mb"):
        m[k] = c.get(k, 0.0)
    for st in STAGES:
        for pre in ("index.full_stage_", "index.stage_"):
            m[f"{pre}{st}_ms"] = _med(s.get(f"{pre}{st}_ms", []))
    # embedder work of the incremental writes (reindex and watch batch)
    writes = len(s.get("reindex", [])) + len(s.get("watch_batch", []))
    written = c.get("index.chunks_written", 0.0)
    embedded = c.get("index.chunks_embedded", 0.0)
    if writes:
        m["index.chunks_embedded"] = embedded / writes
    if written:
        m["index.embed_reuse_ratio"] = 1.0 - embedded / written
    if c.get("index.changed_source_bytes"):
        m["index.write_amp"] = c["index.store_bytes_written"] / c["index.changed_source_bytes"]

    hits = c.get("search.hits", 0.0)
    if hits:
        m["search.rows_read_per_hit"] = sum(c.get(f"spark.{v}.records_read", 0.0) for v in SEARCH_VERBS) / hits
    if workload == "query-mix":
        m["search.repeat_share"] = repeat_share(manifest["warmup"], manifest["ops"], r["items"])

    for k in ("dedup.exact_ms", "dedup.minhash_ms", "dedup.components_ms", "operators.funnel_ms",
              "dedup.candidate_pairs", "dedup.pair_yield", "dedup.planted_recall"):
        m[k] = _med(s.get(k, []))

    # the per-verb latencies behind the end-to-end numbers, by verb
    for v in ("reindex", "watch_batch", "read_after_write", "semantic", "keyword", "hybrid", "graph"):
        m[f"{v}_ms_p50"] = _med(s.get(v, []))
    if s.get("index_full"):
        m["index_files_per_s"] = manifest["files"] / (statistics.median(s["index_full"]) / 1000.0)
    m["error_rate"] = r["failed"] / max(1, r["attempted"])
    if untraced:  # query-mix interleaves its loop; curate traces its one pass
        m["bench.trace_overhead_pct"] = (stats.mix_latency(traced, mix) /
                                         stats.mix_latency(untraced, mix) - 1.0) * 100.0
    m["bench.op_samples"] = float(r["items"])

    units = dict(metric_names())
    return {k: (v, units[k]) for k, v in m.items()}
