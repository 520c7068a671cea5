"""Derives every reported metric from a run's `trace.jsonl`.

The JVM records spans and counts; nothing here measures. End-to-end
metrics come from untraced passes; per-layer metrics from the traced
passes of a `--trace 1` run (its cold pass is traced too). Only counted
warm passes enter steady-state numbers (see graftbench.Main).
"""
import json
import math
import statistics

FAMILIES = ["q", "p", "st", "d", "s", "g", "t", "m", "mr"]
TARGET_QUERIES = [
    "d_setsim_join", "d_containment_join", "d_setsim_budget", "d_width_sweep",
    "s_nndescent", "s_graph_search", "s_kmeans_iter",
    "st_chained_stateful", "st_stream_stream_outer", "st_tws_timers", "st_dedup_watermark",
    "st_sessionize", "st_sessionize_stream", "st_sessionize_final",
    "p_compaction", "p_bloom_index", "p_zorder", "p_partition_evolution",
    "m_mp3_frames", "m_gif_meta"]
LADDER_FNS = ["djb2", "djb2_partition", "minhash_sig", "band_hashes", "simhash64",
              "dot_product", "sorted_jaccard", "topk_agg"]
STREAM_PHASES = {"add_batch_ms": "addBatch", "query_planning_ms": "queryPlanning",
                 "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets",
                 "latest_offset_ms": "latestOffset"}


def percentile_with_support(samples, wanted=(99, 95, 90, 75, 50)):
    """Highest of `wanted` percentiles with at least ten samples above it.

    Returns (percentile, value), or None when even the lowest has fewer
    than ten samples beyond it. Nearest-rank on the sorted samples."""
    xs = sorted(samples)
    n = len(xs)
    for p in sorted(wanted, reverse=True):
        rank = math.ceil(p / 100.0 * n)  # 1-based nearest rank
        if rank >= 1 and n - rank >= 10:
            return p, xs[rank - 1]
    return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


class Run:
    """Index over one run's records."""

    def __init__(self, records):
        self.records = records
        self.host = next(r for r in records if r["kind"] == "host")
        spans = [r for r in records if r["kind"] == "span"]
        self.by_id = {s["id"]: s for s in spans}
        self.passes = sorted((s for s in spans if s["name"] == "pass"), key=lambda s: s["pass"])
        self.queries = [s for s in spans if s["name"] == "query"]
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)
        self.checked = {r["query"]: r for r in records if r["kind"] == "checked"}
        self.batches = [r for r in records if r["kind"] == "batch"]

    @staticmethod
    def secs(span):
        return (span["end_ns"] - span["start_ns"]) / 1e9

    def pass_of(self, span):
        while span["name"] != "pass":
            span = self.by_id[span["parent"]]
        return span["pass"]

    def warm(self, traced):
        """Counted warm passes: those that started in the second half of
        the warm window, after JIT compilation has mostly settled."""
        return [p for p in self.passes if p["counted"] and p["traced"] == traced]

    def queries_in(self, p):
        return [q for q in self.children.get(p["id"], []) if q["name"] == "query"]

    def failures(self, oracle_failed):
        """Failed executions in timed passes, each with a message naming
        workload, pass, query and seed."""
        h = self.host
        out = []
        for q in self.queries:
            name, where = q["query"], f"{h['workload']} pass {self.pass_of(q)} seed {h['seed']}"
            chk = self.checked.get(name, {})
            if not q.get("ok"):
                out.append(q["error"])
            elif "error" in chk:
                out.append(f"{where} query {name}: check pass failed: {chk['error']}")
            elif q["digest"] != chk.get("digest"):
                out.append(f"{where} query {name}: digest {q['digest']} != checked "
                           f"{chk.get('digest')}")
            elif name in oracle_failed:
                out.append(f"{where} query {name}: oracle mismatch: {oracle_failed[name]}")
        return out


def end_to_end(run):
    setups = [r for r in run.records if r["kind"] == "setup"]
    warm = [run.secs(p) for p in run.warm(traced=False)]
    return {
        "setup_s": (median([r["s"] for r in setups]), "s"),
        "steady_s": (median(warm), "s"),
    }


def per_layer(run, corpus_bytes):
    h = run.host
    traced = run.warm(traced=True)
    untraced = run.warm(traced=False)
    cold = run.passes[0]
    m = {}

    def per_pass(f, unit, passes=traced):
        return (median([f(p) for p in passes]), unit)

    def spark(p, k):
        return p.get("spark", {}).get(k, 0)

    def query_secs(p, name):
        return sum(run.secs(q) for q in run.queries_in(p) if q["query"] == name)

    def child_secs(p, kind):
        return sum(run.secs(c) for q in run.queries_in(p)
                   for c in run.children.get(q["id"], []) if c["name"] == kind)

    # one sample per JVM, so it varies too much between runs (about 11%
    # quartile spread over ten) to be bounded end to end
    m["cold_s"] = (run.secs(cold), "s")
    m["tables.warmup_s"] = (median([r["warmup_s"] for r in run.records
                                    if r["kind"] == "setup"]), "s")
    m["scan.input_mb"] = per_pass(lambda p: spark(p, "input_bytes") / 1e6, "MB")
    m["scan.input_records"] = per_pass(lambda p: spark(p, "input_records"), "count")
    m["query.build_s"] = per_pass(lambda p: child_secs(p, "build"), "s")
    m["query.action_s"] = per_pass(lambda p: child_secs(p, "action"), "s")
    for f in FAMILIES:
        m[f"family.{f}_s"] = per_pass(
            lambda p: sum(run.secs(q) for q in run.queries_in(p) if q["family"] == f), "s")
    for name in TARGET_QUERIES:
        m[f"query.{name}_s"] = per_pass(lambda p: query_secs(p, name), "s")
    m["spark.jobs"] = per_pass(lambda p: spark(p, "jobs"), "count")
    m["spark.stages"] = per_pass(lambda p: spark(p, "stages"), "count")
    m["spark.tasks"] = per_pass(lambda p: spark(p, "tasks"), "count")
    m["spark.task_run_s"] = per_pass(lambda p: spark(p, "task_run_ms") / 1e3, "s")
    m["spark.task_cpu_s"] = per_pass(lambda p: spark(p, "task_cpu_ns") / 1e9, "s")
    m["spark.core_busy_ratio"] = per_pass(
        lambda p: spark(p, "task_run_ms") / 1e3 / (run.secs(p) * h["nproc"]), "ratio")
    m["shuffle.write_mb"] = per_pass(lambda p: spark(p, "shuffle_write_bytes") / 1e6, "MB")
    m["shuffle.read_mb"] = per_pass(lambda p: spark(p, "shuffle_read_bytes") / 1e6, "MB")
    m["shuffle.records_written"] = per_pass(lambda p: spark(p, "shuffle_records_written"), "count")
    m["shuffle.fetch_wait_s"] = per_pass(lambda p: spark(p, "shuffle_fetch_wait_ms") / 1e3, "s")
    m["spill.mb"] = per_pass(lambda p: spark(p, "spill_bytes") / 1e6, "MB")
    m["memory.peak_execution_mb"] = per_pass(
        lambda p: spark(p, "peak_execution_bytes") / 1e6, "MB")
    m["jvm.gc_s"] = per_pass(lambda p: p["jvm"]["gc_s"], "s")
    m["jvm.jit_s"] = (cold["jvm"]["jit_s"], "s")
    m["jvm.codecache_mb"] = (cold["jvm"]["codecache_mb"], "MB")
    # VmHWM varies with heap growth and GC timing well beyond the
    # end-to-end bounds between runs of the same code
    m["rss_peak_mb"] = (next(r["peak_mb"] for r in run.records if r["kind"] == "rss"), "MB")

    m["mapreduce.run_s"] = per_pass(lambda p: query_secs(p, "facade_run_wordcount"), "s")
    m["mapreduce.run_combined_s"] = per_pass(
        lambda p: query_secs(p, "facade_run_combined_wordcount"), "s")
    m["mapreduce.run_sorted_s"] = per_pass(
        lambda p: query_secs(p, "facade_run_sorted_postings"), "s")
    m["mapreduce.declarative_wordcount_s"] = per_pass(lambda p: query_secs(p, "mr_wordcount"), "s")

    def shuffled(p, name):
        return sum(q.get("spark", {}).get("shuffle_records_written", 0)
                   for q in run.queries_in(p) if q["query"] == name)

    # `run` has no combiner: every emitted pair is a shuffled record
    emitted = median([shuffled(p, "facade_run_wordcount") for p in traced])
    m["mapreduce.emitted_records"] = (emitted, "count")
    combined = median([shuffled(p, "facade_run_combined_wordcount") for p in traced])
    m["mapreduce.combine_ratio"] = (combined / emitted if emitted else 0.0, "ratio")
    run_s = m["mapreduce.run_s"][0]
    m["wordcount_mb_per_s"] = (corpus_bytes / 1e6 / run_s if corpus_bytes and run_s else 0.0,
                               "MB/s")

    ladder = [s for s in run.by_id.values() if s["name"] == "ladder"]
    for fn in LADDER_FNS:
        for interp, suffix in ((False, ""), (True, "_eval")):
            hits = [s["rows"] / run.secs(s) for s in ladder
                    if s["fn"] == fn and s["eval"] == interp]
            m[f"functions.{fn}{suffix}_rows_per_s"] = (median(hits), "1/s")

    traced_ids = {p["pass"] for p in traced}
    batches = [b for b in run.batches if b["pass"] in traced_ids]
    trig = [b.get("ms_triggerExecution", 0) for b in batches]
    m["stream_batch_p50_ms"] = (median(trig), "ms")
    # the highest percentile the batch count supports, and which one it is
    hi = percentile_with_support(trig, wanted=(90, 75, 50)) or (0, 0.0)
    m["stream_batch_phigh_ms"] = (hi[1], "ms")
    m["stream_batch_phigh_pct"] = (hi[0], "pct")
    m["stream.batches"] = per_pass(
        lambda p: sum(1 for b in run.batches if b["pass"] == p["pass"]), "count")
    for metric, phase in STREAM_PHASES.items():
        m[f"stream.{metric}"] = (median([b.get("ms_" + phase, 0) for b in batches]), "ms")
    m["stream.state_rows"] = (median([b["state_rows"] for b in batches]), "count")
    m["stream.state_memory_mb"] = (median([b["state_memory_bytes"] / 1e6 for b in batches]), "MB")
    m["stream.state_commit_ms"] = (median([b["state_commit_ms"] for b in batches]), "ms")

    m["trace.overhead_ratio"] = (
        median([run.secs(p) for p in traced]) / median([run.secs(p) for p in untraced]), "ratio")
    m["steady.warm_passes"] = (len(traced) + len(untraced), "count")
    m["host.nproc"] = (h["nproc"], "count")
    m["host.heap_max_mb"] = (h["heap_max_mb"], "MB")
    m["host.loadavg1"] = (h["loadavg1"], "load")
    return m
