#!/usr/bin/env python3
"""The repository's benchmark: one command runs a named workload with a
given seed, checks every output, and prints each metric by name and unit.

    python3 perfbench/run.py --workload mr_jobs --seed 1 --seconds 12 --trace 0

Workloads (see DESIGN.md):
  mr_jobs        word-count and grep jobs through api.Engine submit/await
  sql_analytics  a stratified sample of the relational, event and stats queries
  llm_corpus     a stratified sample of every other registry query

`--trace 0` measures the end-to-end metrics with no tracing hooks.
`--trace 1` runs the same operations untraced and then traced, and reports
the per-layer metrics plus the tracing overhead (traced minus untraced).
The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.

Other modes:
  --smoke         tiny scale and corpus, for the benchmark's own tests
  --queries a,b   time these registry queries instead of the seeded sample
  --calibrate     time and fold every registry query; rewrites costs.json
                  (input of the cost strata) and expected.json (answer key)

Everything it writes goes under .bench_build/perfbench/ in the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

T0 = time.monotonic()
DEADLINE_S = 170  # the whole run, build excluded, ends within this
WORK = build.OUT

# registry scale factor: the fixture tables under data/sf<SF>
SF = {"full": 0.01, "smoke": 0.001}

# set-ups per run; setup_s is their median, so the first set-up's cold JVM
# never sets it
SETUPS = {"mr_jobs": 3, "sql_analytics": 3, "llm_corpus": 2}

SQL_MODULES = ["Relational", "EventQueries", "StatsQueries"]
# queries of SQL_MODULES that read a session artifact Bench.warmUp builds
# (the z-ordered lineitem layout); they belong to llm_corpus, so that
# sql_analytics builds no artifacts
SQL_ARTIFACT_CONSUMERS = {"q_zorder_probe"}

# each set-up's untimed operation: the same for every seed, so set-up time
# does not depend on the sample
SETUP_QUERY = {"sql_analytics": "q_tpch_q3", "llm_corpus": "q_lexical_diversity"}
SETUP_JOB_DIR = {"full": 7, "smoke": 1}

WORKLOADS = {
    "mr_jobs": "jobs",
    "sql_analytics": "registry",
    "llm_corpus": "registry",
}

# mr_jobs corpus: input directory sizes in MB, which carry a hot token, and
# the job list length. Evenly spaced sizes give word counts evenly spaced
# latencies, so no percentile falls in a gap between job kinds.
CORPUS = {
    "full": {"dir_mb": [0.125 * (k + 1) for k in range(16)],
             "hot": {d for d in range(16) if d % 4 in (1, 2)}, "jobs": 48},
    "smoke": {"dir_mb": [0.05, 0.1, 0.05, 0.1], "hot": {1, 2}, "jobs": 6},
}
# registry samples: one query per stratum of this many cost neighbours
WIDTH = {("full", "sql_analytics"): 3, ("full", "llm_corpus"): 6,
         ("smoke", "sql_analytics"): 32, ("smoke", "llm_corpus"): 32}

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_p80_s": "s", "ops_per_s": "1/s"}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def table_dir(size):
    """The registry tables: copies of the seed-42 fixture tables at one scale."""
    return os.path.join(HERE, "data", f"sf{SF[size]}")


def run_jvm(classes, args, run_dir, deadline):
    """Run perfbench.Main; kill it (and wait) if it passes `deadline`."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xss8m", "-XX:-UsePerfData",
           *[x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", *args]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    for k in ("SPARK_GRAFT_ONLY", "SPARK_GRAFT_EXTRA_JAVA_OPTS"):
        env.pop(k, None)
    logf = os.path.join(run_dir, "jvm.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        tail = open(logf, errors="replace").read()[-3000:]
        raise SystemExit(f"perfbench: measuring process failed ({rc}):\n{tail}")


# ---------------------------------------------------------------------------
# Plans
# ---------------------------------------------------------------------------

def jobs_plan(seed, size, run_dir):
    """Corpus, job lines and the answer key (one entry per line) for mr_jobs."""
    c = CORPUS[size]
    dirs = gen.corpus(seed, os.path.join(run_dir, "corpus"), c["dir_mb"], c["hot"])
    exe = os.path.join(run_dir, "exec")
    shutil.copytree(os.path.join(HERE, "exec"), exe)
    for f in os.listdir(exe):
        os.chmod(os.path.join(exe, f), 0o755)
    def line(label, j, out):
        d, nbytes, _ = dirs[j["dir"]]
        mapper, reducer = f"{j['kind']}_map", f"{j['kind']}_reduce"
        if j["piped"]:
            mapper, reducer = os.path.join(exe, mapper), os.path.join(exe, reducer)
        return ["job", label, d, out, mapper, reducer, str(j["num_mappers"]), str(j["num_reducers"]),
                str(nbytes)]

    expected, lines, key = {}, [], []
    for i, j in enumerate(gen.jobs(seed, dirs, c["jobs"])):
        d, nbytes, hot = dirs[j["dir"]]
        if (d, j["kind"]) not in expected:
            out = gen.expected_lines(d, j["kind"])
            expected[(d, j["kind"])] = (len(out), gen.digest(out))
        key.append(expected[(d, j["kind"])])
        label = f"{'piped' if j['piped'] else 'native'}-{j['kind']}-d{j['dir']}{'-hot' if hot else ''}"
        lines.append(line(label, j, os.path.join(run_dir, "out", f"job{i:04d}")))
    # the set-ups' untimed job: a native word count over one fixed-size dir
    sd = SETUP_JOB_DIR[size]
    setup_op = line(f"setup-wc-d{sd}", {"dir": sd, "kind": "wc", "piped": False, "num_mappers": 2,
                                        "num_reducers": 2}, os.path.join(run_dir, "out", "setup"))
    setup_dirs = []
    for i in range(SETUPS["mr_jobs"]):  # holds no tables: warm-up then only warms the engine
        sd = os.path.join(run_dir, f"setup{i}")
        os.makedirs(sd)
        setup_dirs.append(sd)
    return setup_dirs, [], setup_op, lines, key


def registry_plan(workload, seed, size, run_dir, only=None):
    """Query sample (or the queries `only` names), one table copy per
    set-up, and the answer key. Bench.warmUp is restricted to every query
    of the workload, not just the sample, so each seed's set-up builds the
    same artifacts."""
    costs = gen.load_json(os.path.join(HERE, "costs.json"))[workload]
    sample = only or gen.query_sample(seed, costs, WIDTH[size, workload])
    src = table_dir(size)
    setup_dirs = []
    for i in range(SETUPS[workload]):  # one copy per set-up: the engine memoizes artifacts per directory
        sd = os.path.join(run_dir, f"setup{i}")
        shutil.copytree(src, sd)
        setup_dirs.append(sd)
    key = gen.load_json(os.path.join(HERE, "expected.json"))[f"sf{SF[size]}"]
    return setup_dirs, sorted(costs), ["query", SETUP_QUERY[workload]], [["query", q] for q in sample], key


def check_op(o, key, kind):
    """True when an operation's output matches the answer key."""
    if o["error"]:
        return False
    if kind == "jobs":
        rows, digest = key[o["idx"]]
        return o["rows"] == rows and o["hash"] == digest
    want = key.get(o["name"])
    if want is None:
        return False
    if o["rows"] != want["rows"]:
        return False
    return want.get("hash") is None or o["hash"] == want["hash"]


# ---------------------------------------------------------------------------
# Modes
# ---------------------------------------------------------------------------

def calibrate(classes):
    """Rewrite costs.json (each query's second-run seconds at the full
    scale, the input of the cost strata) and expected.json (the answer key
    at both scales)."""
    costs, expected = {}, {}
    for size in ("full", "smoke"):
        run_dir = os.path.join(WORK, "runs", f"calibrate-{size}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        out = os.path.join(run_dir, "calibrate.json")
        run_jvm(classes, ["--calibrate", table_dir(size), out], run_dir, time.monotonic() + 3000)
        recs = json.load(open(out))
        shutil.rmtree(run_dir, ignore_errors=True)
        bad = [r for r in recs if r["error"] or not r["stable"]]
        for r in bad:
            log(f"calibrate sf{SF[size]}: {r['name']} left out: {r['error'] or 'unstable result'}")
        ok = [r for r in recs if r not in bad]
        expected[f"sf{SF[size]}"] = {
            r["name"]: ({"rows": r["rows"], "hash": r["hash"]} if r["oracle"] else {"rows": r["rows"]})
            for r in ok}
        if size == "full":
            for r in ok:
                sql = r["module"] in SQL_MODULES and r["name"] not in SQL_ARTIFACT_CONSUMERS
                w = "sql_analytics" if sql else "llm_corpus"
                costs.setdefault(w, {})[r["name"]] = round(r["latency_s"], 4)
    for name, obj in (("costs.json", costs), ("expected.json", expected)):
        with open(os.path.join(HERE, name), "w") as fh:
            json.dump(obj, fh, indent=1, sort_keys=True)
            fh.write("\n")
    log("wrote costs.json and expected.json")


def bench(args, classes):
    size = "smoke" if args.smoke else "full"
    kind = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if kind == "jobs":
            setup_dirs, warm, setup_op, op_lines, key = jobs_plan(args.seed, size, run_dir)
        else:
            only = args.queries.split(",") if args.queries else None
            setup_dirs, warm, setup_op, op_lines, key = registry_plan(
                args.workload, args.seed, size, run_dir, only)
        plan = os.path.join(run_dir, "plan.tsv")
        with open(plan, "w") as fh:
            fh.write(f"workload\t{args.workload}\nseconds\t{args.seconds}\ntrace\t{args.trace}\n")
            fh.write(f"warm\t{','.join(warm)}\n")
            for d in setup_dirs:
                fh.write(f"setup_dir\t{d}\n")
            fh.write("\t".join(["setup_op"] + setup_op) + "\n")
            for ln in op_lines:
                fh.write("\t".join(ln) + "\n")
        out_path = os.path.join(run_dir, "out.json")
        run_jvm(classes, [plan, out_path], run_dir, T0 + DEADLINE_S)
        out = json.load(open(out_path))
    finally:
        results = os.path.join(WORK, "results")
        os.makedirs(results, exist_ok=True)
        src = os.path.join(run_dir, "out.json")
        if os.path.isfile(src):
            shutil.copy(src, os.path.join(
                results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"))
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = [o for p in out["phases"] for o in p["ops"]]
    bad = [o for o in ops if not check_op(o, key, kind)]
    for o in bad[:10]:
        log(f"wrong or failed operation {o['name']}: {o['error'] or 'output mismatch'}")
    return out, ops, bad


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--calibrate", action="store_true")
    ap.add_argument("--queries", help="comma-separated registry queries to time instead of the sample")
    args = ap.parse_args(argv)

    classes = build.build()
    if args.calibrate:
        calibrate(classes)
        return 0
    if not args.workload:
        ap.error("--workload is required")
    global T0
    T0 = time.monotonic()

    out, ops, bad = bench(args, classes)
    n_cores = out["cores"]
    timed = next(p for p in out["phases"] if p["label"] in ("timed", "untraced"))
    e2e, counts = metrics.end_to_end(out["setups"], timed)
    for k, v in e2e.items():
        print(f"{k} = {v:.6g} {E2E_UNITS.get(k, 'MB/s')}  (n={counts[k]})")
    print(f"failed_frac = {len(bad) / len(ops):.6g} ratio  (n={len(ops)})")
    print(f"cache_mb = {timed['cache_mb']:.6g} MB")
    del e2e["input_mb_per_s"]
    if args.trace:
        with open(os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}.spans.json"), "w") as fh:
            json.dump(metrics.trace_spans(out), fh)
        layer = metrics.per_layer(out, n_cores)
        for k, v in layer.items():
            print(f"{k} = {v:.6g}")
        chosen = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    else:
        chosen = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": not bad, "attempted": len(ops), "failed": len(bad),
                      "metrics": chosen}))
    return 0


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name == "trace.overhead_ops_per_s":
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("exec.core_util", "exec.task_skew", "ops.shuffle_bytes_per_input_byte"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
