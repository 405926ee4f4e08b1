#!/usr/bin/env python3
"""Benchmark for graft. Builds the program from the checkout it runs in,
generates seeded inputs, runs one workload in one JVM, checks the outputs
and prints one JSON result line:

  python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. --trace 1 records spans and prints the
per-layer metrics instead of the end-to-end ones. Every run also writes a
self-describing record (environment, seed, every metric, spans when
traced) to .bench_out/.
"""
import argparse
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
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
OUT_DIR = os.path.join(ROOT, ".bench_out")
CPUS = min(4, os.cpu_count() or 1)
HEAP = "3g"
JVM_TIMEOUT_S = 150
# the timed part runs whole rounds, --seconds / ROUND_S of them, so every
# run with the same --seconds makes the same operations. Here (4 cores,
# JDK 17) an etl_daily round, a tick and its repeat, takes 10-12 s, and an
# analytic_queries round, one pass over the query list, 7-9 s
ROUND_S = {"etl_daily": 12, "analytic_queries": 12}
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
               "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("op_s", "s"), ("op_geomean_s", "s")]
# printed by --trace 1 runs; a layer the workload does not call reads 0
PER_LAYER = (
    [(f"pipeline.{s}_s", "s") for s in ("guard", "import", "top", "torrent", "cascade")]
    + [("sources.csv_parse_s", "s"), ("sources.page_parse_s", "s"), ("sources.rows_parsed", "count")]
    + [(f"table.{s}_s", "s") for s in ("upsert", "delete", "insert_if_absent")]
    + [("table.bytes_written", "bytes"), ("table.files_written", "count"),
       ("table.log_bytes", "bytes")]
    + [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.outside_job_s", "s"), ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"),
       ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
       ("spark.input_records", "count"), ("spark.input_bytes", "bytes")]
    + [(f"operators.{q}.{m}", "count" if m == "jobs" else "s")
       for q in gen.ANALYTIC_QUERIES for m in ("build_s", "plan_s", "exec_s", "jobs")]
    + [("jvm.gc_s", "s"), ("jvm.jit_s", "s")]
    + [("etl_tick_s", "s"), ("query_pass_s", "s"), ("query_geomean_s", "s")])
SPARK_COUNTS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
                "input_records", "input_bytes")
TABLE_CALLS = ("upsert", "delete", "insert_if_absent")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256(ROOT.encode())  # the classpath holds absolute paths
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    for rel in sorted(files):
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles graft and the harness with sbt, once per source state;
    returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(no build.sbt or src/main/scala/graft here)")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            fresh = f.read() == stamp
        with open(cp_file) as f:
            cp = f.read().strip()
        if fresh and all(os.path.exists(p) for p in cp.split(":") if p.startswith(ROOT)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    os.makedirs(os.path.join(BUILD_DIR, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", "-Dsbt.server.forcestart=false",
            f"-Dsbt.global.base={os.path.join(BUILD_DIR, 'sbt-global')}",
            f"-Djava.io.tmpdir={os.path.join(BUILD_DIR, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], out, 800, group=True, cwd=HERE, env=env)
    with open(os.path.join(BUILD_DIR, "build.log")) as f:
        lines = f.read().splitlines()
    cps = [ln for ln in lines if ln.startswith("/")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise SystemExit(f"perfbench: build failed (sbt exit {rc})")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cps[-1]


def cpu_steal_s():
    """CPU time the hypervisor gave to others while this VM wanted it
    (0 on bare metal): a shared host shows here when runs slow down."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def run_child(cmd, out, timeout, group=False, **kw):
    """Runs a child with stdin closed; it is killed (with its process
    group when `group`) if it overruns or anything goes wrong, and always
    waited for."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=group, **kw)
    try:
        return p.wait(timeout=timeout)
    finally:
        if p.poll() is None:
            if group:
                os.killpg(p.pid, signal.SIGKILL)
            else:
                p.kill()
            p.wait()


# ---------------------------------------------------------------- metrics

def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def done(result):
    """The timed operations that did not fail."""
    return [o for o in result["ops"] if "error" not in o]


def end_to_end(result):
    durs = [o["dur_s"] for o in done(result)]
    return {"setup_s": result["setup_s"], "op_s": mean(durs), "op_geomean_s": geomean(durs)}


def workload_view(workload, ops):
    """The workload's own end-to-end figures, from its timed operations."""
    if workload == "etl_daily":
        return {"etl_tick_s": mean([o["dur_s"] for o in ops])}
    per_q = {}
    for o in ops:
        per_q.setdefault(o["name"], []).append(o["dur_s"])
    passes = max(len(v) for v in per_q.values())
    return {"query_pass_s": sum(o["dur_s"] for o in ops) / passes,
            "query_geomean_s": geomean([statistics.median(v) for v in per_q.values()])}


def per_layer(workload, result):
    """Per-operation means over the timed part. The harness's own parse
    spans (sources.*) are taken out of the operations' totals."""
    ops = done(result)
    ok = {i for i, o in enumerate(result["ops"]) if "error" not in o}
    spans = [s for s in result["spans"] if s["op"] in ok]
    n_ops = len(ops)
    m = {name: 0.0 for name, _ in PER_LAYER}

    def named(name):
        return [s for s in spans if s["name"] == name]

    harness = [s for s in spans if s["name"].startswith("sources.")]
    top = [s for s in spans if s["name"].startswith("op.")]

    def net(key):
        return sum(s[key] for s in top) - sum(s[key] for s in harness)

    for k in SPARK_COUNTS:
        m[f"spark.{k}"] = net(k) / n_ops
    m["spark.task_run_s"] = net("task_run_ms") / 1e3 / n_ops
    m["spark.task_cpu_s"] = net("task_cpu_ns") / 1e9 / n_ops
    m["spark.outside_job_s"] = (net("dur_s") - net("busy_s")) / n_ops

    if workload == "etl_daily":
        for step in ("guard", "import", "top", "torrent", "cascade"):
            m[f"pipeline.{step}_s"] = sum(s["dur_s"] for s in named(f"pipeline.{step}")) / n_ops
        for step in ("csv_parse", "page_parse"):
            m[f"sources.{step}_s"] = sum(s["dur_s"] for s in named(f"sources.{step}")) / n_ops
        m["sources.rows_parsed"] = sum(s["rows"] for s in harness) / n_ops
        m["etl_tick_s"] = net("dur_s") / n_ops
        for call in TABLE_CALLS:
            m[f"table.{call}_s"] = mean([s["dur_s"] for s in named(f"table.{call}")])
        writes = [s for s in spans if s["name"] in {f"table.{c}" for c in TABLE_CALLS}]
        for k in ("bytes_written", "files_written", "log_bytes"):
            m[f"table.{k}"] = mean([s[k] for s in writes])
    else:
        for q in gen.ANALYTIC_QUERIES:
            idx = {i for i, o in enumerate(result["ops"]) if o["name"] == q}
            for part in ("build", "plan", "exec"):
                m[f"operators.{q}.{part}_s"] = mean(
                    [s["dur_s"] for s in spans if s["op"] in idx and s["name"] == f"operators.{part}"])
            m[f"operators.{q}.jobs"] = mean([s["jobs"] for s in top if s["op"] in idx])
        m.update(workload_view(workload, ops))
    m["jvm.gc_s"] = result["gc_s"]
    m["jvm.jit_s"] = result["jit_s"]
    return m


# ------------------------------------------------------------------- main

def java_cmd(cp, work, spec_path):
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK17_OPENS]
            + [f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
               f"-Djava.io.tmpdir={work}/tmp",
               f"-Dspark.local.dir={work}/spark-local",
               f"-Dspark.sql.warehouse.dir={work}/warehouse",
               "-cp", cp, "perfbench.Main", spec_path])


def main():
    # a terminated run still stops its children and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    rounds = max(1, round(args.seconds / ROUND_S[args.workload]))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        inputs, expected = gen.GENERATORS[args.workload](args.seed, work, rounds)
        spec_path = os.path.join(work, "spec.json")
        with open(spec_path, "w") as f:
            json.dump({"workload": args.workload, "work": work, "cpus": CPUS,
                       "trace": bool(args.trace), "inputs": inputs}, f)
        log(f"{args.workload} seed {args.seed}: {rounds} round(s), local[{CPUS}]")
        steal0 = cpu_steal_s()
        with open(os.path.join(work, "jvm.log"), "w") as out:
            rc = run_child(java_cmd(cp, work, spec_path), out, JVM_TIMEOUT_S, cwd=work)
        steal = cpu_steal_s() - steal0
        if rc != 0:
            with open(os.path.join(work, "jvm.log"), errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit(f"perfbench: the JVM exited with {rc}")
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)

        fails = checks.CHECKS[args.workload](work, expected, result)
        for msg in fails:
            log("CHECK FAILED " + msg)

        attempted = len(result["ops"])
        failed = attempted - len(done(result))
        if failed == attempted:
            raise SystemExit("perfbench: every timed operation failed")
        e2e = end_to_end(result)
        layers = per_layer(args.workload, result) if args.trace else {}
        record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "rounds": rounds, "trace": args.trace,
                  "env": dict(result["env"], session_s=result["session_s"],
                              cpu_steal_s=round(steal, 2)),
                  "attempted": attempted, "failed": failed, "correct": not fails,
                  "check_failures": fails, "end_to_end": e2e,
                  "workload_view": workload_view(args.workload, done(result)),
                  "per_layer": layers, "ops": result["ops"]}
        if args.trace:
            record["spans"] = result["spans"]
        os.makedirs(OUT_DIR, exist_ok=True)
        with open(os.path.join(OUT_DIR, f"{args.workload}_seed{args.seed}_trace{args.trace}.json"),
                  "w") as f:
            json.dump(record, f, indent=1)
        log(f"env {record['env']}; figures {record['workload_view']}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    listed, values = (PER_LAYER, layers) if args.trace else (END_TO_END, e2e)
    print(json.dumps({"correct": not fails, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": u} for k, u in listed}}))


if __name__ == "__main__":
    main()
