"""Turns the harness's raw records (result.json, trace.json) into metrics.

Pure functions over parsed JSON, so the benchmark's own tests can drive
them with hand-made records.
"""
import math
import statistics

KEY_PHASES = ("build", "plan", "drain")
TAIL_PERCENTILE = 90

# name -> (unit, definition); the order is the order of the printed report
END_TO_END = {
    "setup_s": ("s", "median over the run's fresh JVMs of JVM launch to "
                "session ready, plus warm-up"),
    "cold_pass_s": ("s", "wall time of the first pass, failed keys excluded"),
    "warm_pass_s": ("s", "median wall time of the warm passes, failed keys excluded"),
    "key_p50_s": ("s", "median per-key wall time (build + plan + drain), "
                  "pooled over the warm passes"),
    "key_tail_s": ("s", "nearest-rank p90 of the same pooled samples"),
    "peak_rss_mb": ("MB", "high-water resident set size of the measured driver JVM"),
    "live_heap_mb": ("MB", "heap in use after a full collection at the end of the "
                     "passes, plus non-heap in use (metaspace, code cache)"),
}

PER_LAYER = {
    "setup.session_ms": ("ms", "session build plus query-registry initialisation"),
    "setup.warmup_ms": ("ms", "the fixed warm-up computation"),
    "sources.resolve_ms": ("ms", "Tables(spark, dir).<t> for every table, per pass"),
    "sources.fs_read_bytes": ("bytes", "Hadoop FileSystem bytes read by that resolution "
                              "(footers; the local file system counts no read ops)"),
    "etl.stage_ms": ("ms", "rebuilding the invoice staging view, per pass"),
    "plan.analysis_ms": ("ms", "Catalyst analysis over the keys' query executions"),
    "plan.optimization_ms": ("ms", "Catalyst optimization, same scope"),
    "plan.planning_ms": ("ms", "physical planning, same scope"),
    "plans.graft_rules_ms": ("ms", "tracker time of graft.* rules, same scope"),
    "codegen.compiles": ("count", "whole-stage and expression codegen compilations"),
    "build.wall_ms": ("ms", "wall time of the keys' build calls"),
    "build.driver_ms": ("ms", "build wall time with no Spark job running"),
    "build.share": ("fraction", "build wall over build + plan + drain wall"),
    "build.jobs": ("count", "Spark jobs launched during build"),
    "build.stages": ("count", "stages submitted during build"),
    "build.tasks": ("count", "tasks run during build"),
    "build.block_bytes": ("bytes", "RDD block bytes stored during build"),
    "drain.wall_ms": ("ms", "wall time of the noop drains"),
    "drain.driver_ms": ("ms", "drain wall time with no Spark job running"),
    "drain.jobs": ("count", "Spark jobs launched during drain"),
    "drain.stages": ("count", "stages submitted during drain"),
    "drain.tasks": ("count", "tasks run during drain"),
    "sched.tasks_per_stage": ("count", "tasks per submitted stage"),
    "sched.delay_ms": ("ms", "summed task scheduler delay (Spark UI definition)"),
    "exec.run_ms": ("ms", "summed executor run time"),
    "exec.cpu_ms": ("ms", "summed executor CPU time"),
    "exec.gc_ms": ("ms", "summed executor GC time"),
    "exec.busy_frac": ("fraction", "executor run time over cores x pass wall"),
    "shuffle.read_bytes": ("bytes", "shuffle bytes read"),
    "shuffle.write_bytes": ("bytes", "shuffle bytes written"),
    "spill.bytes": ("bytes", "memory plus disk bytes spilled"),
    "input.records": ("count", "records read by scans"),
    "stream.batches": ("count", "micro-batches reported by streaming progress"),
    "stream.trigger_ms": ("ms", "summed triggerExecution of all micro-batches"),
    "stream.add_batch_ms": ("ms", "summed addBatch"),
    "stream.query_planning_ms": ("ms", "summed queryPlanning"),
    "stream.latest_offset_ms": ("ms", "summed latestOffset"),
    "stream.wal_commit_ms": ("ms", "summed walCommit"),
    "stream.commit_offsets_ms": ("ms", "summed commitOffsets"),
    "stream.lifecycle_ms": ("ms", "query start to terminated, minus summed trigger"),
    "stream.state_rows": ("count", "state-store rows at each query's last batch"),
    "stream.state_bytes": ("bytes", "state-store memory at each query's last batch"),
}


# The per-layer metrics a run prints as its result: every counter above
# except the times that are zero by construction on one of the benchmark's
# workloads (the invoice staging step exists only in etl_olap, streaming
# progress only in streaming) and spill, which no workload reaches. Those
# stay in the report.
EXPORTED_PER_LAYER = [k for k in PER_LAYER if k not in (
    "etl.stage_ms", "spill.bytes", "stream.trigger_ms", "stream.add_batch_ms",
    "stream.query_planning_ms", "stream.latest_offset_ms", "stream.wal_commit_ms",
    "stream.commit_offsets_ms", "stream.lifecycle_ms")]


def key_tail(samples, pct=TAIL_PERCENTILE):
    """(value, percentile): the nearest-rank `pct` percentile."""
    xs = sorted(samples)
    return xs[max(1, math.ceil(pct * len(xs) / 100)) - 1], pct


def failed_keys(result, oracle_fails):
    """key -> first error, from harness exceptions, result-write errors
    and oracle mismatches."""
    out = {}
    for s in result.get("steps", []):
        if "error" in s and s["phase"] in KEY_PHASES:
            out.setdefault(s["key"], f"pass {s['pass']} {s['phase']}: {s['error']}")
    for e in result.get("result_errors", []):
        out.setdefault(e["key"], f"result write: {e['error']}")
    for k, why in oracle_fails.items():
        out.setdefault(k, f"oracle: {why}")
    return out


def pass_times(result, failed):
    """Per pass: wall seconds with the failed keys' own time taken out."""
    lost = {}
    for k in result["key_spans"]:
        if k["key"] in failed:
            lost[k["pass"]] = lost.get(k["pass"], 0.0) + k["wall_ms"]
    return [(p["wall_ms"] - lost.get(p["pass"], 0.0)) / 1000.0
            for p in sorted(result["passes"], key=lambda p: p["pass"])]


def end_to_end(result, setup_secs, failed):
    """metric -> {value, unit, n}; failed keys count in no time metric."""
    passes = pass_times(result, failed)
    warm = passes[1:]
    samples = [k["wall_ms"] / 1000.0 for k in result["key_spans"]
               if k["pass"] >= 1 and k["key"] not in failed]
    out = {
        "setup_s": (statistics.median(setup_secs), len(setup_secs)),
        "cold_pass_s": (passes[0], 1),
        "warm_pass_s": (statistics.median(warm), len(warm)),
    }
    if samples:
        tail, pct = key_tail(samples)
        out["key_p50_s"] = (statistics.median(samples), len(samples))
        out["key_tail_s"] = (tail, len(samples))
    out["peak_rss_mb"] = (result["peak_rss_kb"] / 1024.0, 1)
    out["live_heap_mb"] = ((result["live_heap_bytes"] + result["nonheap_bytes"]) / 2**20, 1)
    m = {k: {"value": v, "unit": END_TO_END[k][0], "n": n} for k, (v, n) in out.items()}
    if samples:
        m["key_tail_s"]["percentile"] = pct
    return m


# ---- traced runs ----------------------------------------------------------

def _union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def spans(trace):
    """The span tree pass -> key -> phase -> job -> stage (plus the etl
    staging step under its pass, and source resolution and result writes
    at top level), each with its self time: its duration minus the union
    of its children's intervals."""
    out = []

    def add(kind, name, start, end, parent, **attrs):
        out.append(dict(id=len(out), parent=parent, kind=kind, name=name,
                        start_ms=start, end_ms=end, **attrs))
        return len(out) - 1

    pass_id = {p["pass"]: add("pass", f"pass{p['pass']}", p["start_ms"], p["end_ms"], None)
               for p in trace["passes"]}
    key_id = {}
    for k in trace["keys"]:
        key_id[(k["pass"], k["key"])] = add("key", k["key"], k["start_ms"], k["end_ms"],
                                            pass_id.get(k["pass"]), **{"pass": k["pass"]})
    step_id = {}
    for s in trace["steps"]:
        if s["phase"] in KEY_PHASES:
            parent, kind = key_id.get((s["pass"], s["key"])), "phase"
        elif s["phase"] == "stage":
            parent, kind = pass_id.get(s["pass"]), "step"
        else:
            parent, kind = None, "step"
        step_id[(s["pass"], s["key"], s["phase"])] = add(
            kind, f"{s['key']}.{s['phase']}", s["start_ms"], s["end_ms"], parent,
            **{"pass": s["pass"]})
    job_id = {}
    for j in trace["jobs"]:
        job_id[j["id"]] = add("job", f"job{j['id']}", j["start_ms"], j["end_ms"],
                              step_id.get((j["pass"], j["key"], j["phase"])))
    for st in trace["stages"]:
        parent = job_id.get(st["job"], step_id.get((st["pass"], st["key"], st["phase"])))
        add("stage", f"stage{st['id']}.{st['attempt']}", st["start_ms"],
            max(st["end_ms"], st["start_ms"]), parent, tasks=st["tasks"])

    children = {}
    for s in out:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in out:
        kids = children.get(s["id"], [])
        covered = _union_ms([(c["start_ms"], c["end_ms"]) for c in kids],
                            s["start_ms"], s["end_ms"])
        s["self_ms"] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def per_key(trace, failed=()):
    """(pass, key) -> phase walls, job-free driver time and layer counters,
    for every key not in `failed`."""
    jobs = {}
    for j in trace["jobs"]:
        jobs.setdefault((j["pass"], j["key"], j["phase"]), []).append(
            (j["start_ms"], j["end_ms"]))
    layers = {(a["pass"], a["key"], a["phase"]): a for a in trace["layers"]}
    out = {}
    for s in trace["steps"]:
        if s["phase"] not in KEY_PHASES + ("stage",) or s["key"] in failed:
            continue
        sk = (s["pass"], s["key"], s["phase"])
        busy = _union_ms(jobs.get(sk, []), s["start_ms"], s["end_ms"])
        row = {"wall_ms": s["wall_ms"],
               "driver_ms": max(0.0, s["wall_ms"] - busy)}
        row.update({k: v for k, v in layers.get(sk, {}).items()
                    if k not in ("pass", "key", "phase")})
        out.setdefault(f"{s['pass']}:{s['key']}", {})[s["phase"]] = row
    return out


def per_layer(trace, result, failed=()):
    """Per-layer metrics of a traced run: every counter summed over the
    workload's keys within a pass, then averaged over the run's passes.
    Failed keys count in none of them."""
    n_pass = len(trace["passes"])
    keys = per_key(trace, failed)
    tot = {}

    def add(name, v):
        tot[name] = tot.get(name, 0.0) + v

    for phases in keys.values():
        for phase, row in phases.items():
            g = lambda f: row.get(f, 0)
            if phase in ("build", "drain"):
                add(f"{phase}.wall_ms", row["wall_ms"])
                add(f"{phase}.driver_ms", row["driver_ms"])
                add(f"{phase}.jobs", g("jobs"))
                add(f"{phase}.stages", g("stages"))
                add(f"{phase}.tasks", g("tasks"))
            if phase == "build":
                add("build.block_bytes", g("block_bytes"))
            if phase in KEY_PHASES:
                add("key.wall_ms", row["wall_ms"])
            if phase == "stage":
                add("etl.stage_ms", row["wall_ms"])
            for src, dst in (("analysis_ms", "plan.analysis_ms"),
                             ("optimization_ms", "plan.optimization_ms"),
                             ("planning_ms", "plan.planning_ms"),
                             ("graft_rules_ms", "plans.graft_rules_ms"),
                             ("codegen_compiles", "codegen.compiles"),
                             ("stages", "sched.stages"), ("tasks", "sched.tasks"),
                             ("sched_delay_ms", "sched.delay_ms"),
                             ("exec_run_ms", "exec.run_ms"), ("exec_cpu_ms", "exec.cpu_ms"),
                             ("exec_gc_ms", "exec.gc_ms"),
                             ("shuffle_read_bytes", "shuffle.read_bytes"),
                             ("shuffle_write_bytes", "shuffle.write_bytes"),
                             ("spill_bytes", "spill.bytes"),
                             ("input_records", "input.records"),
                             ("stream_batches", "stream.batches"),
                             ("stream_trigger_ms", "stream.trigger_ms"),
                             ("stream_add_batch_ms", "stream.add_batch_ms"),
                             ("stream_query_planning_ms", "stream.query_planning_ms"),
                             ("stream_latest_offset_ms", "stream.latest_offset_ms"),
                             ("stream_wal_commit_ms", "stream.wal_commit_ms"),
                             ("stream_commit_offsets_ms", "stream.commit_offsets_ms"),
                             ("stream_query_ms", "stream.query_ms"),
                             ("stream_state_rows", "stream.state_rows"),
                             ("stream_state_bytes", "stream.state_bytes")):
                add(dst, g(src))
    for r in trace["resolves"]:
        add("sources.resolve_ms", r["resolve_ms"])
        add("sources.fs_read_bytes", r["fs"].get("bytesRead", 0))
    pass_wall = sum(p["wall_ms"] for p in trace["passes"]) - sum(
        k["wall_ms"] for k in trace["keys"] if k["key"] in failed)

    m = {name: tot.get(name, 0.0) / n_pass for name in PER_LAYER}
    m["setup.session_ms"] = result["setup"]["session_ms"]
    m["setup.warmup_ms"] = result["setup"]["warmup_ms"]
    m["build.share"] = tot.get("build.wall_ms", 0.0) / max(tot.get("key.wall_ms", 0.0), 1e-9)
    m["sched.tasks_per_stage"] = tot.get("sched.tasks", 0.0) / max(tot.get("sched.stages", 0.0), 1.0)
    m["exec.busy_frac"] = tot.get("exec.run_ms", 0.0) / max(result["cpus"] * pass_wall, 1e-9)
    m["stream.lifecycle_ms"] = (tot.get("stream.query_ms", 0.0)
                                - tot.get("stream.trigger_ms", 0.0)) / n_pass
    return {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in m.items()}
