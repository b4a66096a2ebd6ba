"""Per-layer figures of a traced run, computed from the raw spans and
listener events the benchmark JVM writes out (all times epoch ms).

Every figure is a per-round total over the round's operation spans
(`op.*`), and the reported value is the median over traced rounds.
"""

from stats import clip, length, median, op_time_by_round, self_time, split_wall

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "driver.outside_action_s": "s",
    "driver.action_gap_s": "s",
    "spark.job_s": "s",
    "fs.read_ops": "count",
    "fs.list_ops": "count",
    "fs.write_ops": "count",
    "fs.bytes_read": "bytes",
    "fs.bytes_written": "bytes",
    "core.batch.pending_s": "s",
    "core.task.self_s": "s",
    "core.stage.process_s": "s",
    "core.stage.runs": "count",
    "core.task.pickup_reuse_frac": "frac",
    "core.status.events": "count",
    "spark.sql_actions": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.task_busy_frac": "frac",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "jvm.gc_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.start_stop_s": "s",
    "llm.caches.persisted": "count",
    "llm.index.files": "count",
    "trace.overhead_s": "s",
}


def _inside(t, spans):
    return any(a <= t <= b for a, b in spans)


def span_splits(trace):
    """The three-way wall split of every span, and the largest relative
    error of job + gap + outside against the span's wall time."""
    jobs = [(j[0], j[1]) for j in trace["jobs"]]
    acts = [(q["t0"], q["t1"]) for q in trace["sql"]]
    out, worst = [], 0.0
    for s in trace["spans"]:
        wall = s["t1"] - s["t0"]
        job, gap, outside = split_wall(s["t0"], s["t1"], jobs, acts)
        if wall > 0:
            worst = max(worst, abs(job + gap + outside - wall) / wall)
        out.append({"id": s["id"], "name": s["name"], "run": s["run"], "wall_s": wall / 1e3,
                    "spark.job_s": job / 1e3, "driver.action_gap_s": gap / 1e3,
                    "driver.outside_action_s": outside / 1e3})
    return out, worst


def call_summary(trace, splits):
    """Per public-call name: calls, wall seconds and its three-way split."""
    agg = {}
    for s in splits:
        if s["name"] in ("round",) or s["name"].startswith("op."):
            continue
        a = agg.setdefault(s["name"], {"calls": 0, "wall_s": 0.0, "spark.job_s": 0.0,
                                       "driver.action_gap_s": 0.0,
                                       "driver.outside_action_s": 0.0})
        a["calls"] += 1
        for k in ("wall_s", "spark.job_s", "driver.action_gap_s", "driver.outside_action_s"):
            a[k] += s[k]
    return agg


def round_figures(trace, ops_by_round, cores):
    """Per-layer totals of one round: `ops_by_round` maps a round id
    ("r3") to the JVM's op records of that round."""
    spans = trace["spans"]
    jobs = [(j[0], j[1]) for j in trace["jobs"]]
    acts = [(q["t0"], q["t1"]) for q in trace["sql"]]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    figures = {}
    for run, ops in ops_by_round.items():
        op_spans = [s for s in spans if s["run"] == run and s["name"].startswith("op.")]
        if not op_spans:
            continue
        ivs = [(s["t0"], s["t1"]) for s in op_spans]
        f = dict.fromkeys(PER_LAYER, 0.0)
        for s in op_spans:
            job, gap, outside = split_wall(s["t0"], s["t1"], jobs, acts)
            f["spark.job_s"] += job / 1e3
            f["driver.action_gap_s"] += gap / 1e3
            f["driver.outside_action_s"] += outside / 1e3
            f["fs.read_ops"] += s["read_ops"]
            f["fs.list_ops"] += s["list_ops"]
            f["fs.write_ops"] += s["write_ops"]
            f["fs.bytes_read"] += s["bytes_read"]
            f["fs.bytes_written"] += s["bytes_written"]
            f["jvm.gc_s"] += s["gc_ms"] / 1e3
        in_run = [s for s in spans if s["run"] == run]
        stage_spans = [s for s in in_run if s["name"] == "core.stage.process"]
        f["core.stage.process_s"] = sum(s["t1"] - s["t0"] for s in stage_spans) / 1e3
        f["core.stage.runs"] = len(stage_spans)
        f["core.batch.pending_s"] = sum(s["t1"] - s["t0"] for s in in_run
                                        if s["name"] == "core.batch.pendingContexts") / 1e3
        f["core.task.self_s"] = sum(
            self_time(s["t0"], s["t1"], [(c["t0"], c["t1"]) for c in children.get(s["id"], [])
                                         if c["name"] == "core.stage.process"])
            for s in in_run if s["name"] == "core.batch.run") / 1e3
        runs = sum(o.get("stage_runs", 0) for o in ops)
        stages = sum(o.get("pipeline_stages", 0) for o in ops)
        f["core.task.pickup_reuse_frac"] = 1 - runs / stages if stages else 0.0
        f["core.status.events"] = sum(o.get("status_events", 0) for o in ops)

        f["spark.jobs"] = sum(1 for j in trace["jobs"] if _inside(j[1], ivs))
        f["spark.sql_actions"] = sum(1 for q in trace["sql"] if q["action"] and _inside(q["t1"], ivs))
        for q in trace["sql"]:
            if _inside(q["t1"], ivs):
                f["catalyst.analysis_ms"] += q["analysis_ms"]
                f["catalyst.optimization_ms"] += q["optimization_ms"]
                f["catalyst.planning_ms"] += q["planning_ms"]
        f["spark.stages"] = sum(1 for st in trace["stages"] if _inside(st[1], ivs))
        tasks = [t for t in trace["tasks"] if _inside(t[1], ivs)]
        f["spark.tasks"] = len(tasks)
        f["spark.executor_run_s"] = sum(t[2] for t in tasks) / 1e3
        f["spark.executor_cpu_s"] = sum(t[3] for t in tasks) / 1e9
        f["spark.shuffle_read_bytes"] = sum(t[4] for t in tasks)
        f["spark.shuffle_write_bytes"] = sum(t[5] for t in tasks)
        f["spark.spill_bytes"] = sum(t[6] for t in tasks)
        job_s = length(clip(jobs, min(a for a, _ in ivs), max(b for _, b in ivs)))
        f["spark.task_busy_frac"] = (f["spark.executor_run_s"] / (cores * job_s / 1e3)
                                     if job_s else 0.0)

        streams = [s for s in in_run if s["name"].startswith("streaming.")]
        prog = [p for p in trace["progress"]
                if _inside(p[0], [(s["t0"], s["t1"]) for s in streams])]
        f["streaming.batches"] = sum(1 for p in prog if p[2] > 0)
        f["streaming.trigger_s"] = sum(p[1] for p in prog) / 1e3
        f["streaming.start_stop_s"] = (sum(s["t1"] - s["t0"] for s in streams)
                                       - sum(p[1] for p in prog)) / 1e3
        after = [s for s in op_spans if "persisted_rdds" in s]
        f["llm.caches.persisted"] = median([s["persisted_rdds"] for s in after]) or 0
        f["llm.index.files"] = median([s.get("index_files", 0) for s in after]) or 0
        figures[run] = f
    return figures


def per_layer(trace, ops, rounds, cores):
    """Median over traced rounds of each per-layer figure, plus the
    tracing overhead (median traced round minus median untraced round,
    leaving out the first round)."""
    by_round = {}
    for o in ops:
        if o["traced"]:
            by_round.setdefault(f"r{o['round']}", []).append(o)
    figs = round_figures(trace, by_round, cores)
    out = {k: median([f[k] for f in figs.values()]) for k in PER_LAYER if k != "trace.overhead_s"}
    # a round's time is the sum of its timed operations, as for run_s;
    # the first round is untraced and may still be warming up
    busy = op_time_by_round(ops)
    walls = {t: [busy[r["round"]] for r in rounds[1:] if r["traced"] == t]
             for t in (True, False)}
    out["trace.overhead_s"] = median(walls[True]) - median(walls[False])
    return out, figs
