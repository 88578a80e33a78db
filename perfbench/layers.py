"""Per-layer metrics of a traced run, computed from its spans and record.

Every counter is summed over the spans under one traced pass; a run
reports the median over its traced passes, so runs with different pass
counts compare. Layers a workload does not exercise read 0.
"""
import statistics

import stats

MB = 1e6
PROFILE = ["df.read", "df.tokenize", "df.aggregate", "df.sort", "df_pipeline"]


def _sum(spans, key):
    return sum(s["attrs"].get(key, 0.0) for s in spans)


def _wall(passes, name):
    """Median wall seconds of query ``name`` over ``passes`` (or None)."""
    xs = [q["wall_s"] for p in passes for q in p["queries"]
          if q["name"] == name and q["ok"]]
    return statistics.median(xs) if xs else None


def pass_layers(pass_span, kids, cores, tokens):
    """Layer counters of one traced pass."""
    below = stats.descendants(pass_span["id"], kids)
    by_kind = {}
    for s in below:
        by_kind.setdefault(s["kind"], []).append(s)
    stages = by_kind.get("stage", [])
    jobs = by_kind.get("job", [])
    builds = by_kind.get("build", [])
    plans = by_kind.get("plan", [])
    batches = by_kind.get("batch", [])
    build_ids = {b["id"] for b in builds}
    wall_ms = pass_span["end_ms"] - pass_span["start_ms"]

    def self_ms(kind):
        return sum(stats.self_time(s, kids.get(s["id"], []))
                   for s in by_kind.get(kind, []))

    def plan_ms(phase):
        return sum(p["end_ms"] - p["start_ms"] for p in plans if p["name"] == phase)

    # state size: the last batch of each stream holds its final state
    last = {}
    for b in sorted(batches, key=lambda b: b["start_ms"]):
        last[b["name"]] = b
    out = {
        "shuffle.write_mb": _sum(stages, "shuffle_write_bytes") / MB,
        "shuffle.write_recs": _sum(stages, "shuffle_write_recs"),
        "shuffle.write_ms": _sum(stages, "shuffle_write_ms"),
        "shuffle.fetch_wait_ms": _sum(stages, "fetch_wait_ms"),
        "shuffle.read_mb": _sum(stages, "shuffle_read_bytes") / MB,
        "catalyst.analysis_ms": plan_ms("analysis"),
        "catalyst.optimizer_ms": plan_ms("optimization"),
        "catalyst.planning_ms": plan_ms("planning"),
        "SparkEntry.build_ms": sum(b["end_ms"] - b["start_ms"] for b in builds),
        "SparkEntry.build_jobs": float(sum(1 for j in jobs if j["parent"] in build_ids)),
        "scheduler.jobs": float(len(jobs)),
        "scheduler.stages": float(len(stages)),
        "scheduler.tasks": _sum(stages, "tasks"),
        "scheduler.delay_ms": _sum(jobs, "delay_ms"),
        "executor.run_ms": _sum(stages, "run_ms"),
        "executor.cpu_ms": _sum(stages, "cpu_ms"),
        "executor.gc_ms": _sum(stages, "gc_ms"),
        "executor.deser_ms": _sum(stages, "deser_ms"),
        "executor.core_util": (_sum(stages, "run_ms") / (wall_ms * cores)
                               if wall_ms > 0 else 0.0),
        "executor.peak_exec_mem_mb": max(
            [s["attrs"].get("peak_exec_mem_bytes", 0.0) for s in stages] or [0.0]) / MB,
        "executor.spill_mb": _sum(stages, "spill_bytes") / MB,
        "sources.scan_bytes": _sum(stages, "input_bytes"),
        "sources.scan_recs": _sum(stages, "input_recs"),
        "Streams.batches": float(len(batches)),
        "Streams.add_batch_ms": _sum(batches, "addBatch_ms"),
        "Streams.query_planning_ms": _sum(batches, "queryPlanning_ms"),
        "Streams.wal_commit_ms": _sum(batches, "walCommit_ms"),
        "Streams.state_commit_ms": _sum(batches, "state_commit_ms"),
        "Streams.state_rows": _sum(last.values(), "state_rows"),
        "Streams.state_mem_mb": _sum(last.values(), "state_mem_bytes") / MB,
        "self.build_ms": self_ms("build"),
        "self.execute_ms": self_ms("execute"),
        "self.job_ms": self_ms("job"),
        "self.stage_ms": self_ms("stage"),
    }
    # word count: RDD spine stages split at the first shuffle, and the
    # map-side combine ratio of the DataFrame aggregate
    for q in by_kind.get("query", []):
        qs = [s for s in stats.descendants(q["id"], kids) if s["kind"] == "stage"]
        if q["name"] == "rdd_pipeline":
            maps = [s for s in qs if s["attrs"].get("input_recs", 0) > 0
                    and s["attrs"].get("shuffle_read_recs", 0) == 0]
            out["WordCount.rdd.map_stage_ms"] = sum(
                s["end_ms"] - s["start_ms"] for s in maps)
            out["WordCount.rdd.reduce_stage_ms"] = sum(
                s["end_ms"] - s["start_ms"] for s in qs if s not in maps)
        if q["name"] == "df.aggregate" and tokens:
            out["WordCount.combine_ratio"] = _sum(qs, "shuffle_write_recs") / tokens
    return out, [b["attrs"].get("triggerExecution_ms", 0.0) for b in batches]


def run_layers(record, spans, tokens):
    """Every per-layer metric of a traced run, by name."""
    spans = stats.attach_orphans(spans)
    kids = stats.children_index(spans)
    per_pass, batch_ms = [], []
    for p in (s for s in spans if s["kind"] == "pass"):
        layers, batches = pass_layers(p, kids, record["cores"], tokens)
        per_pass.append(layers)
        batch_ms += batches
    names = sorted({k for d in per_pass for k in d})
    out = {k: statistics.median(d.get(k, 0.0) for d in per_pass) for k in names}

    passes = record["passes"]
    traced = [p["total_s"] for p in passes if p["traced"]]
    untraced = [p["total_s"] for p in passes if not p["traced"]]
    out["trace.overhead_frac"] = (statistics.median(traced) / statistics.median(untraced)
                                  - 1.0) if traced and untraced else 0.0
    # stage profile: differences of the cumulative prefixes' wall times
    prof = [_wall(passes, n) for n in PROFILE]
    if all(t is not None for t in prof):
        cum = [0.0] + prof
        for i, stage in enumerate(["read", "tokenize", "aggregate", "sort", "sink"]):
            out[f"WordCount.df.{stage}_ms"] = (cum[i + 1] - cum[i]) * 1000
    for name, key in (("words_per_s", "df_pipeline"), ("rdd_words_per_s", "rdd_pipeline")):
        t = _wall(passes, key)
        out[name] = tokens / t if t and tokens else 0.0
    if batch_ms:
        out["batch_p50_ms"] = stats.percentile(batch_ms, 50)[0]
        out["batch_p90_ms"] = stats.percentile(batch_ms, 90)[0]
    out["staging.warm_ms"] = record["warm_ms"]
    out["setup.first_s"] = record["setups_s"][0]
    for chain, seconds in record["staging_s"].items():
        out[f"staging.{chain}_s"] = seconds
    return out
