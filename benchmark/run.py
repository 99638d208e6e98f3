#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JVM.

    python3 benchmark/run.py --workload kaj_spj|relational|pipeline \\
        --seed N --seconds S --trace 0|1 [--label NAME]

Run from the repository root. The first run compiles the engine and the
harness from source with the Scala compiler in Spark's jars (cached under
``.bench_build/`` by a digest of the sources); later runs start the JVM
directly. The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it is the full provenance
record, also written to ``.bench_build/perfbench/records/``. The exit
code is non-zero if any query failed or returned a wrong result.
See README.md in this directory for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import check  # noqa: E402
import datagen  # noqa: E402

ROOT = os.getcwd()
# tools/check.py would keep oracle results in ORACLE_CACHE, outside the run
os.environ.pop("ORACLE_CACHE", None)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CPUS = len(os.sched_getaffinity(0))  # what nproc reports

# Data scale per workload; recorded in every result record.
KAJ_ROWS = {"CUSTOMER": 2000, "CART": 4000, "CARTDETAILS": 10000, "BILL": 10000}
REGISTRY_SF = 0.01
# Fixed query subsets: whole registry families do not fit the run budget
# (on 4 cores a cold pass over the 53 Relational.defs queries takes ~64 s
# and one over the 18 pipeline queries ~75 s), so each workload runs a
# fixed subset that spans its family's operators. q222 materializes inside
# QueryDef.build, so relational also exercises build-time jobs.
RELATIONAL = [
    "q02_filter_project", "q05_join_agg", "q06_join3_topk",
    "q11_pricing_summary", "q19_semijoin", "q21_outer_join", "q22_window",
    "q39_subqueries", "q74_bloom_join", "q222_column_correlations"]
PIPELINE = [
    "q65_jaccard_join", "q306_blocking_quality",  # set-similarity joins
    "q208_kcore", "q221_bfs_expansion",  # graph walks
    "q99_textrank"]  # iterative
SETUPS = 5  # setup_s is their median
MAX_UNATTRIBUTED = 0.10  # share of the traced wall no layer may leave unclaimed
# The timed window is a fixed number of whole passes, so that every run
# measures the same query mix at the same stage of JVM warm-up: a window
# cut at a deadline flips between 2 and 3 passes as host speed wanders,
# and the warmer third pass moved query_p50_s by ~15%. A pass's nominal
# length (4 cores, at the commit that added the benchmark) converts
# --seconds into passes.
NOMINAL_PASS_S = {"kaj_spj": 3.5, "relational": 6.0, "pipeline": 7.5}

JAVA_OPTS = [
    "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

# listed end-to-end metrics; the run record also carries setup_first_s (a
# single cold sample) and rss_peak_mb (bimodal with G1's heap sizing),
# which spread too much across runs to gate (README.md)
END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"),
              ("queries_per_s", "1/s"), ("query_p50_s", "s"), ("query_tail_s", "s"),
              ("geomean_s", "s")]
# per-layer metrics of the traced window queries, averaged per query
PER_LAYER = [
    ("dialect.parse_s", "s/query"), ("dialect.translate_s", "s/query"),
    ("sources.load_s", "s"), ("sources.input_bytes", "B/query"),
    ("queries.build_s", "s/query"), ("queries.self_s", "s/query"),
    ("queries.build_jobs", "count/query"), ("queries.build_share", "ratio"),
    ("catalyst.analysis_s", "s/query"), ("catalyst.optimization_s", "s/query"),
    ("catalyst.planning_s", "s/query"), ("catalyst.self_s", "s/query"),
    ("catalyst.executions", "count/query"), ("catalyst.aqe_updates", "count/query"),
    ("codegen.compiles", "count/query"), ("codegen.compile_s", "s/query"),
    ("scheduler.jobs", "count/query"), ("scheduler.stages", "count/query"),
    ("scheduler.tasks", "count/query"), ("scheduler.task_deserialize_s", "s/query"),
    ("scheduler.driver_only_s", "s/query"),
    ("executor.run_s", "s/query"), ("executor.cpu_s", "s/query"),
    ("executor.gc_s", "s/query"), ("executor.core_utilization", "ratio"),
    ("shuffle.read_bytes", "B/query"), ("shuffle.write_bytes", "B/query"),
    ("shuffle.spill_bytes", "B/query"),
    ("sink.deliver_s", "s/query"), ("sink.rows", "rows/query"),
    ("trace.wall_s", "s/query"), ("trace.unattributed_s", "s/query"),
    ("trace.overhead_frac", "ratio")]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def sources() -> list:
    """The engine's Scala sources and the harness's, in a stable order."""
    return sorted(os.path.join(d, f) for base in (os.path.join(ROOT, "src", "main", "scala"),
                                                 os.path.join(HERE, "src"))
                  for d, _, fs in os.walk(base) for f in fs if f.endswith(".scala"))


def source_digest() -> str:
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars() -> str:
    """The Spark jars the engine's own build.sbt compiles against
    (``unmanagedBase``); they include the Scala 2.13 compiler."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def build(digest: str) -> str:
    """Compile engine + harness once per source digest with the Scala
    compiler that ships in Spark's jars (no build tool, nothing written
    outside the checkout); return the classpath."""
    jars = os.path.join(spark_jars(), "*")
    classes = os.path.join(BUILD, f"classes-{digest}")
    cp = os.pathsep.join([classes, jars])
    if os.path.isdir(classes):
        return cp
    tmp = os.path.join(BUILD, f"tmp-{os.getpid()}")  # one per concurrent build
    out = os.path.join(tmp, "classes")
    os.makedirs(out)
    log("compiling engine and harness")
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
         "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-usejavacp", "-d", out, *sources()],
        stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("build failed")
    try:
        os.rename(out, classes)  # a killed build leaves no class directory behind
    except OSError:
        if not os.path.isdir(classes):  # else a concurrent build got there first
            raise
    shutil.rmtree(tmp, ignore_errors=True)
    return cp


def java(cp: str, args: list, work: str, timeout: float) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.run(
            ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.system.home={work}", "-cp", cp, *args],
            cwd=work, stdin=subprocess.DEVNULL, stdout=logf,
            stderr=subprocess.STDOUT, timeout=timeout)
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"JVM exited with {proc.returncode}")


# ------------------------------------------------------------ provenance

def provenance(args, digest: str, scale: dict) -> dict:
    def git(*a):
        try:
            r = subprocess.run(["git", *a], cwd=ROOT, capture_output=True,
                               text=True, timeout=10)
            return r.stdout.strip() if r.returncode == 0 else None
        except (OSError, subprocess.SubprocessError):
            return None
    commit = git("rev-parse", "HEAD")
    status = git("status", "--porcelain") if commit else None
    return {"label": args.label, "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "commit": commit or "unknown", "dirty": None if status is None else bool(status),
            "source_digest": digest, "nproc": CPUS, "master": f"local[{CPUS}]",
            "scale": scale, "setups": SETUPS,
            "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}


# --------------------------------------------------------------- metrics

def percentile(xs: list, p: float) -> float:
    """Linear-interpolated percentile, p in [0, 100]."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least 10 samples above it; the
    median when a window holds too few samples for that."""
    return max(50, math.floor(100 * (1 - 10 / n)))


def end_to_end(recs: dict) -> tuple:
    """End-to-end metrics of an untraced run. Throughput and geometric mean
    are taken over the whole window: on a host whose speed drifts over
    seconds, they spread less across runs than the median of per-pass
    figures did (0.06-0.08 against 0.09-0.12 over five seeds)."""
    setups = [(r["session_us"] + r["load_us"]) / 1e6 for r in recs["setup"]]
    cold, win = recs["cold"][0], recs["window"][0]
    window = [q for q in recs["query"] if q["phase"] == "window"]
    lat = [(q["end_us"] - q["start_us"]) / 1e6 for q in window]
    p = tail_percentile(len(lat))
    return {
        "setup_s": statistics.median(setups),
        "setup_first_s": setups[0],
        "cold_pass_s": (cold["end_us"] - cold["start_us"]) / 1e6,
        "queries_per_s": len(lat) / ((win["end_us"] - win["start_us"]) / 1e6),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": percentile(lat, p),
        "geomean_s": math.exp(statistics.fmean(map(math.log, lat))),
        "rss_peak_mb": recs["rss"][0]["peak_kb"] / 1024,
    }, {"query_tail_percentile": p, "window_queries": len(lat),
        "window_passes": len({q["pass"] for q in window})}


def overlap(a0, a1, b0, b1) -> float:
    return max(0, min(a1, b1) - max(a0, b0))


def union_len(ivs: list) -> float:
    tot, cur0, cur1 = 0, None, None
    for s, e in sorted(ivs):
        if cur1 is None or s > cur1:
            if cur1 is not None:
                tot += cur1 - cur0
            cur0, cur1 = s, e
        else:
            cur1 = max(cur1, e)
    return tot + (cur1 - cur0 if cur1 is not None else 0)


# self-time priority: an instant of a query's wall belongs to the first
# of these that is active (a running job, then a Catalyst phase, then the
# harness span that called into the layer); instants covered by none are
# unattributed
PRIORITY = ["job", "catalyst", "parse", "translate", "build", "sink"]


def self_times(wall: tuple, ivs: list) -> dict:
    s, e = wall
    cuts = sorted({s, e} | {x for _, a, b in ivs for x in (a, b) if s < x < e})
    out = dict.fromkeys(PRIORITY + ["none"], 0.0)
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        active = {k for k, x, y in ivs if x <= mid < y}
        out[next((k for k in PRIORITY if k in active), "none")] += b - a
    return out


def per_layer(recs: dict, result_rows: dict) -> tuple:
    traced = [q for q in recs["query"] if q["phase"] == "window" and q["traced"]]
    untraced = [q for q in recs["query"] if q["phase"] == "window" and not q["traced"]]
    n = len(traced)
    ids = {q["id"] for q in traced}
    walls = {q["id"]: (q["start_us"], q["end_us"]) for q in traced}
    ends = {j["job"]: j["end_us"] for j in recs["job_end"]}
    jobs = [j for j in recs["job"] if j["qid"] in ids and j["job"] in ends]
    stages = [s for s in recs["stage"] if s["qid"] in ids]
    spans = [s for s in recs["span"] if s["qid"] in ids]
    cat = recs["catalyst"]

    def owner(t):
        return next((i for i, (a, b) in walls.items() if a <= t <= b), None)

    selfs = dict.fromkeys(PRIORITY + ["none"], 0.0)
    job_wall = 0.0
    for qid, w in walls.items():
        jv = [("job", j["start_us"], ends[j["job"]]) for j in jobs if j["qid"] == qid]
        cv = [("catalyst", max(c["start_us"], w[0]), min(c["end_us"], w[1])) for c in cat
              if overlap(c["start_us"], c["end_us"], *w) > 0]
        sv = [(s["span"], s["start_us"], s["end_us"]) for s in spans if s["qid"] == qid]
        for k, v in self_times(w, jv + cv + sv).items():
            selfs[k] += v
        job_wall += union_len([(max(a, w[0]), min(b, w[1])) for _, a, b in jv
                               if overlap(a, b, *w) > 0])
    wall = sum(b - a for a, b in walls.values())
    phase = lambda ph: sum(overlap(c["start_us"], c["end_us"], *w)
                           for c in cat if c["phase"] == ph for w in walls.values())
    ssum = lambda k: sum(s[k] for s in stages)
    build = sum(s["end_us"] - s["start_us"] for s in spans if s["span"] == "build")
    exec_owner = {x["exec"]: owner(x["at_us"]) for x in recs["sql_start"]}
    us = 1e6 * n  # per-query seconds from summed microseconds
    m = {
        "dialect.parse_s": selfs["parse"] / us,
        "dialect.translate_s": selfs["translate"] / us,
        "sources.load_s": statistics.median(r["load_us"] for r in recs["setup"]) / 1e6,
        "sources.input_bytes": ssum("input_bytes") / n,
        "queries.build_s": build / us,
        "queries.self_s": selfs["build"] / us,
        "queries.build_jobs": sum(j["span"] == "build" for j in jobs) / n,
        "queries.build_share": build / wall,
        "catalyst.analysis_s": phase("analysis") / us,
        "catalyst.optimization_s": phase("optimization") / us,
        "catalyst.planning_s": phase("planning") / us,
        "catalyst.self_s": selfs["catalyst"] / us,
        "catalyst.executions": sum(owner(x["at_us"]) is not None for x in recs["qe"]) / n,
        "catalyst.aqe_updates": sum(exec_owner.get(x["exec"]) is not None
                                    for x in recs["aqe"]) / n,
        "codegen.compiles": sum(q["compiles"] for q in traced) / n,
        "codegen.compile_s": sum(q["compile_ns"] for q in traced) / 1e9 / n,
        "scheduler.jobs": len(jobs) / n,
        "scheduler.stages": len(stages) / n,
        "scheduler.tasks": ssum("tasks") / n,
        "scheduler.task_deserialize_s": ssum("deser_ms") / 1e3 / n,
        "scheduler.driver_only_s": (wall - job_wall) / us,
        "executor.run_s": ssum("run_ms") / 1e3 / n,
        "executor.cpu_s": ssum("cpu_ns") / 1e9 / n,
        "executor.gc_s": ssum("gc_ms") / 1e3 / n,
        "executor.core_utilization": ssum("run_ms") * 1e3 / (wall * CPUS),
        "shuffle.read_bytes": ssum("shuffle_read_bytes") / n,
        "shuffle.write_bytes": ssum("shuffle_write_bytes") / n,
        "shuffle.spill_bytes": ssum("spill_bytes") / n,
        "sink.deliver_s": selfs["sink"] / us,
        "sink.rows": sum(result_rows.get(q["id"], 0) for q in traced) / n,
        "trace.wall_s": wall / us,
        "trace.unattributed_s": selfs["none"] / us,
        "trace.overhead_frac": overhead_frac(traced, untraced),
    }
    # the self times partition the wall by construction, so what is checked
    # is how much of it no layer claims
    return m, {"traced_queries": n, "unattributed_share": selfs["none"] / wall,
               "self_s_per_query": {k: v / us for k, v in selfs.items()}}


def query_key(qid: str) -> str:
    """The query a plan id names, without its pass: ``p003_q19_semijoin``
    is ``q19_semijoin``, ``p003_q2_select`` is dialect shape ``q2_select``."""
    return qid.split("_", 1)[1]


def traced_in_plan(pass_no: int, key: str, keys: list) -> bool:
    """Which window queries a traced run traces: half of each pass, and each
    query in alternate passes, so traced and untraced queries are equally
    warm and the same mix."""
    return pass_no > 0 and (pass_no + keys.index(key)) % 2 == 1


def overhead_frac(traced: list, untraced: list) -> float:
    """1 - traced/untraced throughput, over the queries run both ways, from
    each query's mean latency in either mode."""
    def means(qs):
        by = {}
        for q in qs:
            by.setdefault(query_key(q["id"]), []).append(q["end_us"] - q["start_us"])
        return {k: statistics.fmean(v) for k, v in by.items()}
    t, u = means(traced), means(untraced)
    both = t.keys() & u.keys()
    return 1 - sum(u[k] for k in both) / sum(t[k] for k in both)


# ------------------------------------------------------------------ main

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["kaj_spj", "relational", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--label", default=os.environ.get("PERFBENCH_LABEL", "adhoc"),
                    help="run label carried by the result record")
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("run from the repository root: the engine sources are missing")
        return 2

    digest = source_digest()
    cp = build(digest)
    work = os.path.join(BUILD, f"run-{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    plan_path = os.path.join(work, "plan.tsv")

    passes = 1 + max(1, math.ceil(args.seconds / NOMINAL_PASS_S[args.workload]))
    if args.workload == "kaj_spj":
        datagen.kaj_tables(data, args.seed, KAJ_ROWS)
        queries = datagen.kaj_queries(args.seed, KAJ_ROWS, passes)
        per_pass = len(queries) // passes
        lines = [(i // per_pass, q["id"], q["dialect"]) for i, q in enumerate(queries)]
        scale = {"rows": KAJ_ROWS}
    else:
        names = RELATIONAL if args.workload == "relational" else PIPELINE
        scale = {"sf": REGISTRY_SF, "rows": datagen.registry_tables(data, args.seed, REGISTRY_SF)}
        lines = [(p, f"p{p:03d}_{n}", n) for p, order in
                 enumerate(datagen.pass_orders(args.seed, names, passes)) for n in order]
    keys = sorted({query_key(i) for _, i, _ in lines})
    with open(plan_path, "w") as f:
        f.writelines(f"{p}\t{int(bool(args.trace) and traced_in_plan(p, query_key(i), keys))}"
                     f"\t{i}\t{t}\n" for p, i, t in lines)

    java(cp, ["perfbench.PerfBench", args.workload, data, plan_path, work,
              str(args.seconds), str(args.trace), str(SETUPS), str(CPUS)],
         work, timeout=150)

    recs = {k: [] for k in ("setup", "query", "cold", "window", "check", "rss", "span",
                            "job", "job_end", "stage", "catalyst", "qe", "sql_start", "aqe")}
    with open(os.path.join(work, "records.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            recs[r["kind"]].append(r)

    # output checks
    results = os.path.join(work, "results")
    ran = [q for q in recs["query"] if not q["error"]]
    errors = [(q["id"], q["error"]) for q in recs["query"] if q["error"]]
    errors += [(c["name"], c["error"]) for c in recs["check"] if c["error"]]
    result_rows = {}
    if args.workload == "kaj_spj":
        by_id = {q["id"]: q for q in queries}
        bad = check.check_dialect(data, results, [by_id[q["id"]] for q in ran])
        for q in ran:
            with open(os.path.join(results, f"{q['id']}.out")) as f:
                result_rows[q["id"]] = sum(1 for _ in f) - 1
    else:
        bad = check.check_registry(data, results, [c["name"] for c in recs["check"]])
    # a query that failed to run also has no result for the checker to read
    failures = errors + [b for b in bad if b[0] not in {e[0] for e in errors}]
    attempted = len(recs["query"]) + len(recs["check"])
    for name, why in failures:
        log(f"FAIL {name}: {why}")

    code = 0
    e2e, e2e_info = end_to_end(recs)
    record = provenance(args, digest, scale)
    record.update(e2e_info, attempted=attempted, failed=len(failures),
                  failure_rate=len(failures) / attempted, end_to_end=e2e)
    if args.trace:
        layers, info = per_layer(recs, result_rows)
        record.update(info, per_layer=layers)
        if info["unattributed_share"] > MAX_UNATTRIBUTED:
            log(f"trace does not reconcile: {info['unattributed_share']:.1%} of the "
                f"traced wall is in no layer (limit {MAX_UNATTRIBUTED:.0%})")
            code = 1
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records",
                           f"{args.label}-{args.workload}-{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 1 if failures else code


if __name__ == "__main__":
    sys.exit(main())
