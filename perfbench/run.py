#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library together with
the harness in `perfbench/harness` (sbt, offline); later runs reuse the build
while the sources are unchanged. A run then

1. generates the workload's inputs from the seed (`gen.py`) in a fresh run
   directory under `.perfbench_runs/`;
2. starts the harness JVM (`local[N]`, N = min(4, nproc)), which sets the
   workload up, measures whole passes of ops for `--seconds` seconds in a
   closed loop with one client, and records every op;
3. checks every output against DuckDB (`check.py`);
4. prints a hygiene record, then as its last line one JSON object with
   `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
   with `--trace 0`, the per-layer metrics with `--trace 1`.

It exits 0 only when every op and output check passed. The run directory is
deleted afterwards; the spans of a traced run are kept under
`.perfbench_out/`. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
STAMP = os.path.join(HARNESS, "target", "perfbench.stamp")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
WORKLOADS = ("etl_backfill", "etl_redelivery", "query_headline", "stream_landing")
SETUP_REPS = 3
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 850
HEAP = "2g"
# Row counts of the query tables relative to the engine's sf0.1 test tables.
QUERY_SCALE = 0.15

sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HARNESS, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build(home):
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    try:
        proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                              cwd=HARNESS, env=env, capture_output=True, text=True,
                              timeout=BUILD_BUDGET_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 1)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed", 1)
    with open(STAMP, "w") as f:
        f.write(stamp)


def inputs(workload, seed, run_dir):
    d = os.path.join(run_dir, "inputs")
    if workload == "etl_backfill":
        return gen.backfill_inputs(seed, d)
    if workload == "etl_redelivery":
        return gen.redelivery_inputs(seed, d)
    if workload == "stream_landing":
        return gen.stream_inputs(seed, d)
    tables = gen.tpch_tables(seed, os.path.join(d, "tables"), QUERY_SCALE)
    return {"tables_dir": os.path.join(d, "tables"), "tables": tables}


def input_totals(workload, man):
    if workload == "query_headline":
        items = man["tables"].values()
    elif workload == "stream_landing":
        items = man["deliveries"]
    else:
        items = [d for d in man["docs"] if not d.get("history")]
    out = {"files": len(items), "records": sum(i["records"] for i in items),
           "bytes": sum(i["bytes"] for i in items)}
    hist = [d for d in man.get("docs", []) if d.get("history")]
    if hist:
        out["history"] = {"files": len(hist), "records": sum(d["records"] for d in hist),
                          "bytes": sum(d["bytes"] for d in hist)}
    return out


def load_avg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def run_jvm(home, plan_path, result_path, log_path, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    tmp = os.path.join(os.path.dirname(plan_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(home, 'jars', '*')}",
            "perfbench.Harness", plan_path, result_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, MALLOC_ARENA_MAX="2")
    with open(log_path, "w") as log:
        spawn = time.time()
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=os.path.dirname(plan_path), start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness exited with {code}", 1)
    return spawn


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, gen_s, spawn):
    """Rates are per pass (a pass is the same op sequence every time) and,
    like the walls, medians over passes: the first measured pass of a fresh
    JVM still runs slower while the JIT compiles."""
    ops = [o for o in res["ops"] if not o["traced"]]
    passes = {}
    for o in ops:
        passes.setdefault(o["pass"], []).append(o)
    walls = [sum(o["latency_s"] for o in p) for p in passes.values()]
    return {
        "setup_s": (gen_s + (res["session_ready_ms"] / 1000.0 - spawn)
                    + res["warmup_s"] + median(res["prep_s"]), "s"),
        "wall_s": (median(walls), "s"),
        "records_per_s": (median([sum(o["records"] for o in p) / w
                                  for p, w in zip(passes.values(), walls)]), "records/s"),
        "ops_per_s": (median([len(p) / w for p, w in zip(passes.values(), walls)]), "ops/s"),
        "op_p50_s": (median([o["latency_s"] for o in ops]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def per_layer(res, spans, workload):
    """Per-layer metrics from the traced passes: means per traced op unless
    the name says otherwise; 0 for a layer the workload does not run."""
    traced_ops = [o for o in res["ops"] if o["traced"]]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)

    def wall(s):
        return s["end_s"] - s["start_s"]

    def under_root(op_spans):
        """Spans of the op's timed body (descendants of its `op` span)."""
        ids = {s["span"]: s for s in op_spans}
        roots = {s["span"] for s in op_spans if s["name"] == "op"}

        def inside(s):
            while s["parent"] != -1:
                if s["parent"] in roots:
                    return True
                s = ids[s["parent"]]
            return False
        return [s for s in op_spans if inside(s)]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def named(name):
        """Per op, its body's spans called `name` (ops without one left out)."""
        out = [[s for s in under_root(v) if s["name"] == name] for v in by_op.values()]
        return [x for x in out if x]

    m = {}
    roots = [s for s in spans if s["name"] == "op"]

    def c(s, k):
        return s["counters"].get(k, 0)

    # ingest / normalize / enrich: calls from the op body, execution from
    # the prefix probes (a layer = its prefix minus the one before)
    m["ingest.call_s"] = (mean([sum(wall(s) for s in x) for x in named("ingest.call")]), "s")
    probes = [{s["name"][6:]: s for s in v if s["name"].startswith("probe.")}
              for v in by_op.values()]
    probes = [p for p in probes if "normalize_conform" in p]
    pw = [{k: wall(s) for k, s in p.items()} for p in probes]
    m["ingest.exec_s"] = (mean([p["ingest"] for p in pw]), "s")
    m["ingest.tasks"] = (mean([c(p["ingest"], "tasks") for p in probes]), "count")
    m["ingest.input_bytes"] = (mean([c(p["ingest"], "input_bytes") for p in probes]), "bytes")
    m["normalize.exec_s"] = (mean([p["normalize_rename"] - p["ingest"] +
                                   p["normalize_conform"] - p["enrich"] for p in pw]), "s")
    m["enrich.exec_s"] = (mean([p["enrich"] - p["normalize_rename"] for p in pw]), "s")
    m["enrich.broadcast_bytes"] = (mean([p["enrich"]["broadcast_bytes"] for p in probes]),
                                   "bytes")

    idem = [x[0] for x in named("idempotent.call")]

    def scans(s, path):
        path = os.path.abspath(path)
        return [sc for sc in s["scans"]
                if any(path == r or path.startswith(r.rstrip("/") + "/") for r in sc["roots"])]
    m["idempotent.call_s"] = (mean([wall(s) for s in idem]), "s")
    m["idempotent.jobs"] = (mean([c(s, "jobs") for s in idem]), "count")
    m["idempotent.delivery_scans"] = (mean([len(scans(s, s["delivery"])) for s in idem]), "count")
    m["idempotent.history_bytes_read"] = (
        mean([sum(sc["bytes"] for sc in scans(s, s["lake"])) for s in idem]), "bytes")
    loaded = sum(s.get("loaded", 0) for s in spans)
    received = sum(s.get("received", 0) for s in spans)
    m["idempotent.loaded_ratio"] = (loaded / received if received else 0.0, "ratio")
    etl = workload.startswith("etl_")
    m["idempotent.bytes_written"] = (
        mean([o.get("bytes_written", 0) for o in traced_ops]) if etl else 0.0, "bytes")
    m["idempotent.files_written"] = (
        mean([o.get("files_written", 0) for o in traced_ops]) if etl else 0.0, "count")
    in_bytes = sum(o["input_bytes"] for o in traced_ops)
    m["lake.bytes_written_per_input_byte"] = (
        sum(o.get("bytes_written", 0) for o in traced_ops) / in_bytes if in_bytes else 0.0,
        "ratio")

    # pipeline: the op span, and its self time (op minus its child spans)
    if etl:
        selfs = []
        for r in roots:
            kids = [s for s in by_op[r["op"]] if s["parent"] == r["span"]]
            selfs.append(wall(r) - sum(wall(k) for k in kids))
        m["pipeline.op_s"] = (mean([wall(r) for r in roots]), "s")
        m["pipeline.self_s"] = (mean(selfs), "s")
    else:
        m["pipeline.op_s"] = (0.0, "s")
        m["pipeline.self_s"] = (0.0, "s")

    if workload == "stream_landing":
        calls = [x[0] for x in named("streaming.call")]
        st = [s["streaming"] for s in calls if "streaming" in s]
        m["streaming.call_s"] = (mean([wall(s) for s in calls]), "s")
        for k, unit in (("batches", "count"), ("query_planning_ms", "ms"),
                        ("get_batch_ms", "ms"), ("add_batch_ms", "ms"),
                        ("wal_commit_ms", "ms"), ("state_rows", "count"),
                        ("state_mem_bytes", "bytes")):
            m[f"streaming.{k}"] = (mean([x[k] for x in st]), unit)

    for n in res["headline"]:
        m[f"query.{n}_s"] = (median([wall(s) for s in spans if s["name"] == f"query.{n}"]), "s")

    # Spark engine, under every module: counters of the op span
    for name, key, scale, unit in (
            ("catalyst.analysis_ms", "analysis_ms", 1, "ms"),
            ("catalyst.optimization_ms", "optimization_ms", 1, "ms"),
            ("catalyst.planning_ms", "planning_ms", 1, "ms"),
            ("codegen.compile_ms", "codegen_compile_ns", 1e-6, "ms"),
            ("codegen.classes", "codegen_classes", 1, "count"),
            ("exec.jobs", "jobs", 1, "count"), ("exec.tasks", "tasks", 1, "count"),
            ("exec.task_run_ms", "task_run_ms", 1, "ms"),
            ("exec.task_cpu_ms", "task_cpu_ns", 1e-6, "ms"),
            ("exec.gc_ms", "gc_ms", 1, "ms"),
            ("exec.shuffle_fetch_wait_ms", "fetch_wait_ms", 1, "ms"),
            ("exec.shuffle_read_bytes", "shuffle_read_bytes", 1, "bytes"),
            ("exec.shuffle_write_bytes", "shuffle_write_bytes", 1, "bytes"),
            ("exec.spill_bytes", "spill_bytes", 1, "bytes")):
        m[name] = (mean([c(r, key) * scale for r in roots]), unit)
    m["exec.driver_gap_s"] = (mean([wall(r) - c(r, "job_covered_ms") / 1000.0
                                    for r in roots]), "s")

    tw = [p["wall_s"] for p in res["passes"] if p["traced"]]
    uw = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    m["trace.untraced_wall_s"] = (median(uw), "s")
    m["trace.traced_wall_s"] = (median(tw), "s")
    m["trace.overhead_ratio"] = (median(tw) / median(uw) if uw and median(uw) else 0.0,
                                 "ratio")
    return m


def output_checks(workload, res, man):
    """{check name: (error or None, ops the check covers)}."""
    out = res["outputs"]
    last = max(o["pass"] for o in res["ops"])
    last_ops = [o["op"] for o in res["ops"] if o["pass"] == last]
    docs = man.get("docs", [])
    if workload == "etl_backfill":
        final = {}
        for d in docs:  # delivery order: a re-send replaces its month
            final[(d["ano"], d["mes"])] = d
        return {"lake": (check.check_lake(out["lake"], list(final.values()), True), last_ops)}
    if workload == "etl_redelivery":
        keep = [d for d in docs if d.get("history") or d["resend_of"] is None]
        return {"lake": (check.check_lake(out["lake"], keep, False), last_ops)}
    if workload == "stream_landing":
        src = out["source"]
        files = [os.path.join(src, f) for f in sorted(os.listdir(src))]
        return {"lake": (check.check_stream(out["target"], files), last_ops)}
    res_q = check.check_queries(man["tables_dir"], out["results"], out["oracle_sql"])
    return {f"query.{n}": (err, [o["op"] for o in res["ops"] if o["name"] == n])
            for n, err in res_q.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    if not os.path.isdir(LIB_SRC):
        fail(f"run from the repository root: {LIB_SRC} is missing")
    home = spark_home()
    build(home)
    deadline = time.time() + RUN_BUDGET_S

    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        load_before = load_avg()
        t0 = time.time()
        man = inputs(args.workload, args.seed, os.path.realpath(run_dir))
        gen_s = time.time() - t0
        cores = min(4, os.cpu_count() or 1)
        plan = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": bool(args.trace), "cores": cores, "setup_reps": SETUP_REPS,
                "run_dir": os.path.realpath(run_dir), "inputs": man}
        plan_path = os.path.join(run_dir, "plan.json")
        result_path = os.path.join(run_dir, "result.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        spawn = run_jvm(home, plan_path, result_path, os.path.join(run_dir, "harness.log"),
                        deadline)
        with open(result_path) as f:
            res = json.load(f)
        with open(os.path.join(run_dir, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]

        jvm_end = time.time()
        checks = output_checks(args.workload, res, man)
        check_s = time.time() - jvm_end
        bad_ops = {o["op"] for o in res["ops"] if "error" in o}
        for err, covered in checks.values():
            if err:
                bad_ops.update(covered)
        attempted = len(res["ops"])
        failed = len(bad_ops)
        if args.trace:
            keep = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(keep, f"{args.workload}-seed{args.seed}-spans.jsonl"))
            metrics = per_layer(res, spans, args.workload)
        else:
            metrics = end_to_end(res, gen_s, spawn)

        hygiene = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": os.cpu_count(), "cores": res["cores"],
            "spark_version": res["spark_version"], "heap_max_mb": res["heap_max_mb"],
            "load_before": load_before, "load_after": load_avg(),
            "load_before_measure": res["load_before"], "load_after_measure": res["load_after"],
            "inputs": input_totals(args.workload, man), "gen_s": gen_s,
            "warmup_s": res["warmup_s"], "prep_s": res["prep_s"], "measured_s": res["measured_s"],
            "passes": len(res["passes"]), "ops": attempted, "failed": failed,
            "failed_ratio": failed / attempted if attempted else 1.0,
            "op_errors": sorted({o["error"] for o in res["ops"] if "error" in o})[:5],
            "checks": {k: v[0] or "ok" for k, v in checks.items()},
            "jvm_s": jvm_end - spawn, "check_s": check_s,
            "elapsed_s": time.time() - start}
        print(json.dumps({"hygiene": hygiene}))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        sys.exit(0 if failed == 0 else 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
