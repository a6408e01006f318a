"""Metric arithmetic: quantiles, span self times, and the end-to-end and
per-layer metrics computed from one measuring process's raw output."""
import math
import statistics

MB = float(1 << 20)

ARTIFACTS = ["ivf_index", "pq_codebook", "knn_graph", "zorder_layout", "mv_base",
             "dedup_caches", "pipeline_stages", "bigram_tf"]

# a construction-time job is a schema-inference job when Spark's short call
# site is the parquet reader in core/SparkEnv.scala (`Tables.t`)
SCHEMA_CALL_SITE = "parquet at SparkEnv.scala:"


def quantile(values, p, grid=4000):
    """Harrell-Davis estimate of the p-quantile (0 < p < 1) of a non-empty
    list: a weighted mean of all order statistics with Beta(p(n+1),
    (1-p)(n+1)) weights. At the 20-50 samples of one run it varies less than
    a single or interpolated order statistic, above all when p falls
    between two clusters of operation kinds. The Beta CDF is integrated on
    a midpoint grid of `grid` points."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    pdf = [math.exp((a - 1) * math.log(x) + (b - 1) * math.log(1 - x) - log_beta)
           for x in ((k + 0.5) / grid for k in range(grid))]
    total = sum(pdf)
    cdf = [0.0]
    for v in pdf:
        cdf.append(cdf[-1] + v / total)
    weights = [cdf[round(i * grid / n)] - cdf[round((i - 1) * grid / n)] for i in range(1, n + 1)]
    return sum(w * x for w, x in zip(weights, xs))


def union_length(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    a, b = span
    return (b - a) - union_length(children, a, b)


def end_to_end(setups, phase):
    """The end-to-end metrics of one timed phase; values in seconds, 1/s
    and MB/s. Throughputs divide by the time an operation was in flight
    (the sum of the timed spans), which leaves out the untimed work between
    operations. Returns (metrics, sample counts)."""
    ops = phase["ops"]
    lat = [o["latency_s"] for o in ops]
    wall = sum(lat)
    m = {
        "setup_s": statistics.median(s["total_s"] for s in setups),
        "op_p50_s": quantile(lat, 0.5),
        "op_p80_s": quantile(lat, 0.8),
        "ops_per_s": len(ops) / wall,
        "input_mb_per_s": sum(o["input_bytes"] for o in ops) / MB / wall,
    }
    n = {"setup_s": len(setups), "op_p50_s": len(lat), "op_p80_s": len(lat),
         "ops_per_s": len(lat), "input_mb_per_s": len(lat)}
    return m, n


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def attribute(ops, spark):
    """Map Spark jobs, stages and planned queries to the operations of a
    traced phase. Jobs go by job group (`perfbench-op-<idx>`) and otherwise
    by start time inside the operation's window; stages follow their first
    attributed job; planned queries go by the start of their first phase."""
    by_idx = {o["idx"]: o for o in ops}
    windows = sorted((o["start"], o["end"], o["idx"]) for o in ops)

    def in_window(t):
        for a, b, idx in windows:
            if a <= t <= b:
                return idx
        return None

    jobs = {o["idx"]: [] for o in ops}
    job_op = {}
    for j in spark["jobs"]:
        g = j["group"]
        idx = None
        if g.startswith("perfbench-op-"):
            idx = int(g[len("perfbench-op-"):])
            if idx not in by_idx or not (by_idx[idx]["start"] <= j["start"] <= by_idx[idx]["end"]):
                idx = None
        if idx is None:
            idx = in_window(j["start"])
        if idx is not None:
            jobs[idx].append(j)
            job_op[j["id"]] = idx
    stage_op = {}
    for j in spark["jobs"]:
        for s in j["stages"]:
            if s not in stage_op and j["id"] in job_op:
                stage_op[s] = job_op[j["id"]]
    stages = {o["idx"]: [] for o in ops}
    for s in spark["stages"]:
        idx = stage_op.get(s["id"])
        if idx is None and s["submit"] > 0:
            idx = in_window(s["submit"])
        if idx is not None:
            stages[idx].append(s)
    plans = {o["idx"]: [] for o in ops}
    for p in spark["plans"]:
        starts = [v[0] for v in p["phases"].values()]
        idx = in_window(min(starts)) if starts else None
        if idx is not None:
            plans[idx].append(p)
    return jobs, stages, plans


def trace_spans(out):
    """Every span of a traced run: the benchmark's own (set-up, operation,
    construction/execution or submit/queue/run/await) plus one span per Spark
    job and stage, parented to the operation it ran for."""
    spans = [dict(s) for s in out["spans"]]
    traced = next(p for p in out["phases"] if p["label"] == "traced")
    op_span = {s["attrs"]["idx"]: s["id"] for s in spans
               if s["name"] == "op" and s["start"] >= traced["start"]}
    jobs, stages, _ = attribute(traced["ops"], out["spark"])
    next_id = max((s["id"] for s in spans), default=0) + 1
    for idx, js in jobs.items():
        for j in js:
            spans.append({"id": next_id, "parent": op_span.get(idx, 0), "name": "spark.job",
                          "start": j["start"], "end": j["end"],
                          "attrs": {"job": j["id"], "call_site": j["call_site"]}})
            next_id += 1
    for idx, ss in stages.items():
        for st in ss:
            spans.append({"id": next_id, "parent": op_span.get(idx, 0), "name": "spark.stage",
                          "start": st["submit"], "end": st["complete"],
                          "attrs": {"stage": st["id"], "tasks": st["tasks"]}})
            next_id += 1
    return spans


def per_layer(out, cores):
    """Per-layer metrics of a traced run's raw output (see DESIGN.md for
    each metric's definition and the end-to-end metric it should move)."""
    setups = out["setups"]
    untraced = next(p for p in out["phases"] if p["label"] == "untraced")
    traced = next(p for p in out["phases"] if p["label"] == "traced")
    ops = traced["ops"]
    spark = out["spark"]
    jobs, stages, plans = attribute(ops, spark)
    queries = [o for o in ops if o["kind"] == "query"]
    mrjobs = [o for o in ops if o["kind"] == "job"]
    n = max(1, len(ops))
    us = 1e6

    def construct_window(o):
        return (o["start"], o["start"] + o["construct_s"] * us)

    schema_n = schema_s = eager_n = construct_self = 0.0
    for o in queries:
        a, b = construct_window(o)
        inside = [j for j in jobs[o["idx"]] if a <= j["start"] <= b and j["end"] > 0]
        schema = [j for j in inside if j["call_site"].startswith(SCHEMA_CALL_SITE)]
        schema_n += len(schema)
        schema_s += sum(j["end"] - j["start"] for j in schema) / us
        eager_n += len(inside) - len(schema)
        construct_self += self_time((a, b), [(j["start"], j["end"]) for j in inside]) / us

    def phase_s(name):
        return sum((p["phases"][name][1] - p["phases"][name][0]) / us
                   for o in ops for p in plans[o["idx"]] if name in p["phases"]) / n

    all_stages = [s for o in ops for s in stages[o["idx"]]]

    def stage_wall(s):
        return max(0, s["complete"] - s["submit"]) / us

    skews = [s["task_max_ms"] / s["task_median_ms"] for s in all_stages
             if s["tasks"] >= 2 and s["task_median_ms"] > 0 and s["task_max_ms"] >= 50]
    execute_wall = sum(o["execute_s"] for o in queries) + sum(o["run_s"] for o in mrjobs)
    run_s = sum(s["run_ms"] for s in all_stages) / 1e3

    m = {
        "core.session_s": statistics.median(s["session_s"] for s in setups),
        "core.schema_jobs": schema_n / n,
        "core.schema_s": schema_s / n,
        "queries.construct_s": sum(o["construct_s"] for o in queries) / n,
        "queries.construct_self_s": construct_self / n,
        "queries.eager_jobs": eager_n / n,
        # first runs happen in the run's first phase, the untraced one
        "queries.first_run_s": _mean(f["seconds"] for f in untraced["first_runs"]),
        "plan.analysis_s": phase_s("analysis"),
        "plan.optimization_s": phase_s("optimization"),
        "plan.planning_s": phase_s("planning"),
        "exec.jobs": sum(len(jobs[o["idx"]]) for o in ops) / n,
        "exec.stages": len(all_stages) / n,
        "exec.tasks": sum(s["tasks"] for s in all_stages) / n,
        "exec.run_s": run_s / n,
        "exec.cpu_s": sum(s["cpu_ns"] for s in all_stages) / 1e9 / n,
        "exec.gc_s": sum(s["gc_ms"] for s in all_stages) / 1e3 / n,
        "exec.sched_delay_s": sum(s["sched_ms"] for s in all_stages) / 1e3 / n,
        "exec.core_util": run_s / (execute_wall * cores) if execute_wall > 0 else 0.0,
        "exec.serial_stages": sum(1 for s in all_stages
                                  if s["tasks"] == 1 and stage_wall(s) > 0.1) / n,
        "exec.task_skew": max(skews) if skews else 1.0,
        "exec.shuffle_write_mb": sum(s["shuffle_write"] for s in all_stages) / MB / n,
        "exec.shuffle_read_mb": sum(s["shuffle_read"] for s in all_stages) / MB / n,
        "exec.spill_mb": sum(s["spill"] for s in all_stages) / MB / n,
        "exec.failed_tasks": sum(s["failed_tasks"] for s in all_stages),
        "exec.cache_mb": traced["cache_mb"],
        "ext.artifact_s": statistics.median(sum(s["artifacts"].values()) for s in setups),
        # in-construction builds (wave memos) happen on a query's first run
        # in a session: the serving set-up's untimed operation and the
        # untimed first runs, which all fall before the traced phase
        "ext.build_walls_s": setups[-1]["build_walls_s"] + untraced["build_walls_s"],
        "jvm.driver_gc_s": _mean(o["gc_s"] for o in ops),
    }
    for a in ARTIFACTS:
        m[f"ext.artifact.{a}_s"] = statistics.median(s["artifacts"].get(a, 0.0) for s in setups)

    # job-server layers: absent (reported as 0) on the registry workloads
    nj = max(1, len(mrjobs))
    map_s = reduce_s = sink_s = shuffle_b = 0.0
    for o in mrjobs:
        for s in stages[o["idx"]]:
            if s["shuffle_write"] > 0:
                map_s += stage_wall(s)
            else:
                reduce_s += stage_wall(s)
            shuffle_b += s["shuffle_write"]
        ends = [j["end"] for j in jobs[o["idx"]] if j["end"] > 0]
        if ends:
            sink_s += max(0, o["run_end"] - max(ends)) / us
    in_b = sum(o["input_bytes"] for o in mrjobs)
    native = [o["latency_s"] for o in mrjobs if not o["name"].startswith("piped")]
    piped = [o["latency_s"] for o in mrjobs if o["name"].startswith("piped")]
    m.update({
        "api.queue_s": sum(o["queue_s"] for o in mrjobs) / nj,
        "api.run_s": sum(o["run_s"] for o in mrjobs) / nj,
        "api.await_s": sum(o["await_s"] for o in mrjobs) / nj,
        "ops.map_s": map_s / nj,
        "ops.reduce_s": reduce_s / nj,
        "ops.sink_commit_s": sink_s / nj,
        "ops.shuffle_bytes_per_input_byte": shuffle_b / in_b if in_b else 0.0,
        "ops.native_job_s": statistics.median(native) if native else 0.0,
        "ops.piped_job_s": statistics.median(piped) if piped else 0.0,
    })

    base, _ = end_to_end(setups, untraced)
    with_trace, _ = end_to_end(setups, traced)
    for k in ("op_p50_s", "op_p80_s", "ops_per_s"):
        m[f"trace.overhead_{k}"] = with_trace[k] - base[k]
    return m
