#!/usr/bin/env python3
"""Benchmark for the typed event bus and its batch query board.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles `src/main/scala` and
the benchmark's JVM harness (`perfbench/scala`) with the Scala compiler
that ships in Spark's jar directory, into `.bench_build/`. Each run starts
one JVM (`local[4]`), measures for `--seconds`, checks the outputs, and
prints one JSON line: `correct`, `attempted`, `failed` and `metrics`.
With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones, from spans, Spark's listener and
StreamingQueryProgress. Details of each run (samples, spans, per-layer
self times) are left in `.bench_build/runs/<workload>-<seed>-t<trace>/`.

Workloads: board_tail, board_heavy (batch query passes), svc_state
(entity state and retry streams) and svc_rpc (request/reply through the
bus; not in BENCHMARK.json, because it fails on the current code).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import datagen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CORES = 4
RUN_LIMIT_S = 170
# The boards read one fixed set of tables; their workload seed sets the
# query order of every pass.
DATA_SEED = 42
WORKLOADS = ("board_tail", "board_heavy", "svc_state", "svc_rpc")

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "latency_p50_ms": "ms", "latency_p99_ms": "ms",
    "sustained_eps": "events/s", "live_heap_mb": "MB",
}
STREAM_QUERIES = ("entity", "retry", "service", "rpc")
TRIGGER_PHASES = ("trigger", "addBatch", "walCommit", "commitOffsets")
PER_LAYER = {
    "failed_ratio": "1",
    "queries.construct_s": "s", "queries.construct_jobs": "count", "plans.plan_s": "s",
    "ops.run_s": "s", "ops.jobs": "count", "ops.stages": "count", "ops.tasks": "count",
    "ops.task_busy_s": "s", "ops.core_busy_ratio": "1", "ops.gc_s": "s",
    "ops.shuffle_read_bytes": "bytes", "ops.shuffle_write_bytes": "bytes",
    "ops.spill_bytes": "bytes", "ops.peak_exec_mem_bytes": "bytes",
    "self.query_s": "s", "self.queries.construct_s": "s", "self.plans.plan_s": "s",
    "self.ops.run_s": "s", "self.job_s": "s",
    "envelope.pre_encode_s": "s", "gen.late_ms_max": "ms",
    "bus.publish_ms_p50": "ms", "bus.publish_ms_p99": "ms",
    "bus.backlog_rows_start": "count", "bus.backlog_rows_end": "count",
    "entity.trigger_ms_p50": "ms", "entity.trigger_ms_p99": "ms", "entity.commit_ms": "ms",
    "entity.state_rows": "count", "entity.state_bytes": "bytes",
    "retry.trigger_ms_p50": "ms", "retry.trigger_ms_p99": "ms", "retry.state_rows": "count",
    "retry.attempts_1": "count", "retry.attempts_2": "count", "retry.attempts_3": "count",
    "retry.attempts_4": "count", "retry.useful_ratio": "1",
    "self.bus.publish_s": "s",
    **{f"self.{q}.{ph}_s": "s" for q in ("entity", "retry") for ph in TRIGGER_PHASES},
    "trace.overhead_ratio": "1",
}
# The service and rpc layers are reached only by svc_rpc, which fails on
# the current code (see README); its traced runs add these.
RPC_LAYER = {
    "service.trigger_ms_p50": "ms", "service.trigger_ms_p99": "ms",
    "service.rows_per_trigger": "count", "service.errors_reported": "count",
    "rpc.reply_trigger_ms_p50": "ms", "rpc.reply_trigger_ms_p99": "ms",
    **{f"self.{q}.{ph}_s": "s" for q in ("service", "rpc") for ph in TRIGGER_PHASES},
}
JVM_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home, "jars") if home else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark jar directory with a Scala compiler "
                         "(set SPARK_HOME)")
    return jars


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(jars, classpath, out, files):
    cp = ":".join(glob.glob(os.path.join(jars, f"scala-{m}-*.jar"))[0]
                  for m in ("compiler", "library", "reflect"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    res = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", out, "-classpath", classpath] + files,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compile the program, then the harness, each unless its sources are
    unchanged (the harness also recompiles when the program changed).
    Returns whether anything was compiled."""
    main_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_src = sources(os.path.join(HERE, "scala"))
    if not main_src:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    jar_cp = os.path.join(jars, "*")
    main_out = os.path.join(BUILD, "classes")
    steps = [("classes", stamp(main_src), jar_cp, main_src),
             ("bench-classes", stamp(main_src + bench_src), main_out + ":" + jar_cp, bench_src)]
    built = False
    for name, digest, classpath, files in steps:
        stamp_path = os.path.join(BUILD, f"{name}.stamp")
        if os.path.exists(stamp_path) and open(stamp_path).read() == digest:
            continue
        log(f"compiling {name}")
        t0 = time.time()
        scalac(jars, classpath, os.path.join(BUILD, name), files)
        with open(stamp_path, "w") as fh:
            fh.write(digest)
        log(f"compiled {name} in {time.time() - t0:.1f} s")
        built = True
    return built


def data_dir():
    d = os.path.join(BUILD, "data", f"seed-{DATA_SEED}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, DATA_SEED)
        open(os.path.join(d, "_done"), "w").close()
    return d


def run_jvm(jars, args, out, deadline):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    result = os.path.join(out, "result.json")
    heap = "4g"
    cmd = (["java"] + [x for o in JVM_OPENS for x in ("--add-opens", o)] +
           [f"-Xmx{heap}", f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-cp",
            ":".join([os.path.join(BUILD, "bench-classes"), os.path.join(BUILD, "classes"),
                      os.path.join(jars, "*")]),
            "perfbench.Main"] + args + ["--out", out, "--result", result,
                                        "--launch-ms", repr(time.time() * 1000.0)])
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=out, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if os.path.exists(result):
        with open(result) as fh:
            return json.load(fh), code
    return None, code


def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def med(xs):
    return statistics.median(xs) if xs else 0.0


def self_times(spans):
    """Self time per span name: duration minus the union of its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover, cur_s, cur_e = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    cover += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            cover += cur_e - cur_s
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - cover) / 1000.0
    return out


def board_metrics(r, trace, out):
    samples = r["samples"]
    passes = {}
    for s in samples:
        passes.setdefault(s["pass"], []).append(s)
    total = lambda ss: sum(s["construct"] + s["plan"] + s["run"] for s in ss)
    pass_s = [total(ss) for ss in passes.values()]
    # per-query latency: the median over the run's passes, so a few
    # distinct query times do not make a pooled percentile jump between them
    by_query = {}
    for s in samples:
        by_query.setdefault(s["name"], []).append((s["construct"] + s["plan"] + s["run"]) * 1000.0)
    lat = [med(v) for v in by_query.values()]
    failed = len(r["failures"])
    # each query's median construct / plan / run seconds over the passes
    split = {n: [med([s[k] for s in samples if s["name"] == n]) for k in ("construct", "plan", "run")]
             for n in by_query}
    details = {"passes": len(pass_s), "pass_s": pass_s, "warm_pass_s": r["warm_pass_s"],
               "queries": r["queries"], "failures": r["failures"], "split_s": split}
    if not trace:
        return {
            "setup_s": (r["first_op_ms"] - r["launch_ms"]) / 1000.0,
            "pass_s": med(pass_s),
            # interpolated: the mean of the two middle queries of an even list
            "latency_p50_ms": med(lat) if lat else math.inf,
            "latency_p99_ms": pct(lat, 0.99) if lat else math.inf,
            "sustained_eps": len(samples) / sum(pass_s) if pass_s else 0.0,
            "live_heap_mb": r["live_heap_mb"],
        }, failed, details
    traced = {p: ss for p, ss in passes.items() if ss[0]["traced"]}
    untraced = [total(ss) for p, ss in passes.items() if not ss[0]["traced"]]
    n = max(1, len(traced))
    layer = lambda key: sum(s[key] for ss in traced.values() for s in ss) / n
    lay = r["layers"]
    ops = lay.get("ops.run", {})
    ops_get = lambda k: ops.get(k, 0) / n
    run_s = layer("run")
    spans = [json.loads(x) for x in open(os.path.join(out, "spans.jsonl"))]
    st = self_times(spans)
    m = {
        "queries.construct_s": layer("construct"),
        "queries.construct_jobs": lay.get("queries.construct", {}).get("jobs", 0) / n,
        "plans.plan_s": layer("plan"),
        "ops.run_s": run_s,
        "ops.jobs": ops_get("jobs"), "ops.stages": ops_get("stages"),
        "ops.tasks": ops_get("tasks"), "ops.task_busy_s": ops_get("busy_ms") / 1000.0,
        "ops.core_busy_ratio": ops_get("busy_ms") / 1000.0 / (run_s * CORES) if run_s else 0.0,
        "ops.gc_s": ops_get("gc_ms") / 1000.0,
        "ops.shuffle_read_bytes": ops_get("shuffle_read"),
        "ops.shuffle_write_bytes": ops_get("shuffle_write"),
        "ops.spill_bytes": ops_get("spill"), "ops.peak_exec_mem_bytes": ops.get("peak_mem", 0),
        "trace.overhead_ratio": (med([total(ss) for ss in traced.values()]) / med(untraced) - 1.0)
        if untraced and traced else 0.0,
    }
    for name in ("query", "queries.construct", "plans.plan", "ops.run", "job"):
        m[f"self.{name}_s"] = st.get(name, 0.0) / n
    details["self_s_per_pass"] = {k: v / n for k, v in st.items()}
    details["layers"] = lay
    return m, failed, details


def stream_metrics(r, trace, out):
    lat = r["latency_ms"]
    failed = r["failed"]
    drain = [d for d in r["drain_s"] if d is not None]
    details = {"errors": r["errors"], "dead_queries": r["dead_queries"], "drain_s": r["drain_s"],
               "n": len(lat), "rate": r["rate"], "backlog_per_s": r["backlog_per_s"],
               "latency_p50_ms": pct(lat, 0.50), "latency_p99_ms": pct(lat, 0.99)}
    if not trace:
        return {
            "setup_s": (r["first_op_ms"] - r["launch_ms"]) / 1000.0,
            "pass_s": med(drain) if drain else math.inf,
            "latency_p50_ms": pct(lat, 0.50),
            "latency_p99_ms": pct(lat, 0.99),
            "sustained_eps": r["drain_block"] / med(drain) if drain else 0.0,
            "live_heap_mb": r["live_heap_mb"],
        }, failed, details
    prog = r["progress"]
    q = lambda name, key: prog.get(name, {}).get(key, [] if key in ("trigger_ms", "rows", "commit_ms") else 0)
    trig = lambda name, p: pct(q(name, "trigger_ms"), p) if q(name, "trigger_ms") else 0.0
    att = r.get("retry_attempts", {})
    calls = r.get("retry_handler_calls", 0)
    on = [x for x, t in zip(lat, r["traced"]) if t]
    off = [x for x, t in zip(lat, r["traced"]) if not t]
    spans = [json.loads(x) for x in open(os.path.join(out, "spans.jsonl"))]
    st = self_times(spans)
    rows = q("service", "rows")
    m = {
        "envelope.pre_encode_s": r["pre_encode_s"],
        "gen.late_ms_max": max(r["tick_late_ms"] or [0.0]),
        "bus.publish_ms_p50": pct(r["publish_ms"], 0.5) if r["publish_ms"] else 0.0,
        "bus.publish_ms_p99": pct(r["publish_ms"], 0.99) if r["publish_ms"] else 0.0,
        # backlog before and after the measured open-loop phase
        "bus.backlog_rows_start": r["backlog"][-2] if len(r["backlog"]) >= 2 else 0,
        "bus.backlog_rows_end": r["backlog"][-1] if r["backlog"] else 0,
        "service.trigger_ms_p50": trig("service", 0.5),
        "service.trigger_ms_p99": trig("service", 0.99),
        "service.rows_per_trigger": med(rows),
        "service.errors_reported": r.get("errors_reported", 0),
        "rpc.reply_trigger_ms_p50": trig("rpc", 0.5),
        "rpc.reply_trigger_ms_p99": trig("rpc", 0.99),
        "entity.trigger_ms_p50": trig("entity", 0.5),
        "entity.trigger_ms_p99": trig("entity", 0.99),
        "entity.commit_ms": med(q("entity", "commit_ms")),
        "entity.state_rows": q("entity", "state_rows"),
        "entity.state_bytes": q("entity", "state_bytes"),
        "retry.trigger_ms_p50": trig("retry", 0.5),
        "retry.trigger_ms_p99": trig("retry", 0.99),
        "retry.state_rows": q("retry", "state_rows_max"),
        **{f"retry.attempts_{k}": att.get(str(k), 0) for k in range(1, 5)},
        "retry.useful_ratio": r.get("retry_successes", 0) / calls if calls else 0.0,
        "self.bus.publish_s": st.get("bus.publish", 0.0),
        # events published on traced ticks against the others
        "trace.overhead_ratio": pct(on, 0.5) / pct(off, 0.5) - 1.0 if on and off else 0.0,
    }
    for qn in STREAM_QUERIES:
        for ph in TRIGGER_PHASES:
            m[f"self.{qn}.{ph}_s"] = st.get(f"{qn}.{ph}", 0.0)
    details["self_s"] = st
    details["progress"] = prog
    return m, failed, details


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # by-hand options, not used by the benchmark's own runs
    ap.add_argument("--rate", type=float, help="streams: offered events/s instead of the "
                    "reference rate, for one step of the offered-rate ladder")
    ap.add_argument("--queries", help="boards: comma-separated registered queries instead "
                    "of the workload's list, to profile candidates")
    a = ap.parse_args()
    t_start = time.time()
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    # a run that had to compile first gets its full time after the build
    deadline = (time.time() if build(jars) else t_start) + RUN_LIMIT_S
    board = a.workload.startswith("board_")
    out = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-t{a.trace}" +
                       (f"-r{a.rate:g}" if a.rate else "") + ("-q" if a.queries else ""))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    if a.rate:
        args += ["--rate", str(a.rate)]
    if a.queries:
        args += ["--queries", a.queries]
    data = data_dir() if board else None
    if data:
        args += ["--data", data]
    r, code = run_jvm(jars, args, out, deadline)

    if r is None:
        log(f"JVM ended without a result (exit {code}); see {out}/jvm.log")
        planned = os.path.join(out, "measured.json")
        if a.workload != "svc_rpc" or not os.path.exists(planned):
            raise SystemExit(1)
        # svc_rpc's JVM can die in the MemoryBus sink: every event of the
        # measured phase it had started fails.
        with open(planned) as fh:
            n = json.load(fh)["attempted"]
        print(json.dumps({"correct": False, "attempted": n, "failed": n, "metrics": {}}))
        return
    if board:
        metrics, failed, details = board_metrics(r, a.trace, out)
        problems = oracle.compare(data, out, r["queries"])
        problems += [f"{v['name']}: {v['error']}" for v in r["verify_failures"]]
        correct = not problems
        details["oracle_problems"] = problems
    else:
        metrics, failed, details = stream_metrics(r, a.trace, out)
        correct = not r["errors"] and not r["dead_queries"]
    attempted = r["attempted"]
    if a.trace:
        metrics["failed_ratio"] = failed / attempted if attempted else 0.0
    units = END_TO_END if not a.trace else (
        {**PER_LAYER, **RPC_LAYER} if a.workload == "svc_rpc" else PER_LAYER)
    known = {**END_TO_END, **PER_LAYER, **RPC_LAYER}
    assert set(metrics) <= set(known), set(metrics) - set(known)
    # layers a workload does not reach did no work on it
    metrics = {k: metrics.get(k, 0.0) for k in units}
    with open(os.path.join(out, "summary.json"), "w") as fh:
        json.dump({"metrics": metrics, "details": details}, fh, indent=1, default=str)
    if not correct:
        log("incorrect output:", json.dumps(details.get("oracle_problems") or
                                             [details.get("errors"), details.get("dead_queries")])[:2000])
    print(json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": (v if v != math.inf else 1e18), "unit": units[k]}
                    for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
