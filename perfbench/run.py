#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout of the program. It builds the program
and the benchmark from source with sbt (once per source state; the class
path is kept under .bench_build/), generates the workload's inputs from the
seed, runs the workload in one JVM on local[nproc], checks the program's
outputs against computations made apart from it, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (README.md lists both).
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("cdc_ingest", "olap_queries", "llm_pipeline")
WORK = os.path.join(".bench_build", "perfbench")
DEADLINE_S = 170          # the whole run, build excluded
CHECK_RESERVE_S = 30      # kept back from the JVM for the output checks
RECONCILE_TOLERANCE = 0.10

# llm_pipeline corpus and embedding sizes (the sf0.1 fixture has 5000/2000)
LLM_DOCS = 10000
LLM_VECTORS = 4000
# cdc_ingest: the standing table, the catch-up backlog and the open loop
CDC_ORDERS = 30000
CDC_BACKLOG_CHANGES = 6000
CDC_EVENTS_PER_BACKLOG_FILE = 4000
CDC_FILES_PER_BATCH = 3
CDC_INTERVAL_S = 0.1
CDC_EVENTS_PER_STEADY_FILE = 50

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties",
             "perfbench/src"]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """sbt-compiles the program and the benchmark; returns the class path."""
    stamp = os.path.join(WORK, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            kept = json.load(f)
        if kept["digest"] == digest:
            return kept["classpath"]
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building with sbt")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd="perfbench", env=env, stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=850, stdin=subprocess.DEVNULL)
        out.write(proc.stdout)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.exit(f"perfbench: sbt build failed, see {WORK}/build.log")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.0f}s")
    return classpath


# ---- inputs ------------------------------------------------------------

def generate(workload, seed, seconds, data):
    """Writes the workload's inputs under `data`; returns what checks need."""
    rng = gen.np.random.default_rng(seed)
    if workload == "olap_queries":
        tables = gen.relational(rng)
        tables["events"] = gen.events(rng)
        gen.check_tables(tables)
        gen.write_tables(tables, data)
        return {}
    if workload == "llm_pipeline":
        tables = {"documents": gen.documents(rng, LLM_DOCS),
                  "embeddings": gen.embeddings(rng, LLM_VECTORS)}
        gen.check_tables(tables)
        gen.write_tables(tables, data)
        return {}
    n_files = max(1, int(seconds / CDC_INTERVAL_S))
    lines, ops = gen.change_script(
        rng, CDC_ORDERS,
        CDC_BACKLOG_CHANGES + n_files * CDC_EVENTS_PER_STEADY_FILE)
    n_backlog = CDC_ORDERS + CDC_BACKLOG_CHANGES
    for sub, chunks in (
            ("backlog", [lines[i:i + CDC_EVENTS_PER_BACKLOG_FILE]
                         for i in range(0, n_backlog, CDC_EVENTS_PER_BACKLOG_FILE)]),
            ("steady", [lines[i:i + CDC_EVENTS_PER_STEADY_FILE]
                        for i in range(n_backlog, len(lines),
                                       CDC_EVENTS_PER_STEADY_FILE)])):
        os.makedirs(os.path.join(data, sub))
        for i, chunk in enumerate(chunks):
            with open(os.path.join(data, sub, f"{sub}-{i:05d}.json"), "w") as f:
                f.write("\n".join(chunk) + "\n")
    with open(os.path.join(data, "cdc.properties"), "w") as f:
        f.write(f"interval_s={CDC_INTERVAL_S}\n"
                f"max_files_per_trigger={CDC_FILES_PER_BATCH}\n"
                f"events={len(lines)}\n")
    return {"ops": ops, "n_backlog": n_backlog}


# ---- the JVM -----------------------------------------------------------

def run_jvm(classpath, workload, data, out, seconds, trace, seed, timeout):
    opens = [a for p in JDK17_OPENS
             for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xmx4g", "-XX:ReservedCodeCacheSize=512m",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={os.path.abspath(out)}/warehouse",
           "-cp", classpath, "graft.perfbench.Main", workload,
           os.path.abspath(data), os.path.abspath(out), str(seconds),
           str(trace), str(seed)]
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=os.path.abspath(os.path.join(out, "spark-local")))
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(f"perfbench: the run did not end within {timeout:.0f}s")
    if code != 0:
        sys.exit(f"perfbench: the JVM exited with {code}, see {out}/jvm.log")
    with open(os.path.join(out, "run.json")) as f:
        return json.load(f)


# ---- metrics -----------------------------------------------------------

def tail(values):
    """The highest percentile with at least ten samples beyond it."""
    v = sorted(values)
    return v[len(v) - 11] if len(v) >= 40 else None


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(workload, rec, extra):
    w = rec["workload"]
    if workload == "cdc_ingest":
        throughput = extra["catchup_per_s"]
        p50 = statistics.median(extra["commit"])
    else:
        lat = [b + a for _, _, b, a in w["calls"]]
        p50 = statistics.median(lat)
        if workload == "olap_queries":
            throughput = len(w["calls"]) / rec["wall_s"]
        else:
            items, busy = llm_items(w["calls"], extra)
            throughput = sum(items.values()) / sum(busy.values())
    return {
        "setup_s": metric(rec["setup_s"], "s"),
        "throughput_per_s": metric(throughput, "1/s"),
        "latency_p50_s": metric(p50, "s"),
    }


def llm_items(calls, extra):
    """Documents processed by text/dedup/graph calls and query vectors
    answered by search calls, with the seconds each kind took."""
    items = {"docs": 0, "vectors": 0}
    busy = {"docs": 0.0, "vectors": 0.0}
    for key, group, b, a in calls:
        kind = "vectors" if group == "llm.vector" else "docs"
        items[kind] += extra["probes"][key] if kind == "vectors" else LLM_DOCS
        busy[kind] += b + a
    return items, busy


def per_layer(workload, rec, extra):
    """Every per-layer metric; layers a workload does not use read 0."""
    lay = dict(rec["layers"])
    w = rec["workload"]
    cpus = rec["cpus"]
    m = {}

    def put(name, value, unit):
        m[name] = metric(value, unit)

    sql = lay.get("exec.sql_s", 0.0)
    jobs = lay.get("exec.jobs", 0.0)
    wall = rec["wall_s"]
    put("trace.wall_s", wall, "s")
    put("setup.session_s", statistics.median(rec["session_s"]), "s")
    put("setup.warm_up_s", rec["warm_up_s"], "s")
    put("mem.peak_rss_mb", rec["peak_rss_mb"], "MB")
    put("host.outside_sql_s", max(0.0, wall - sql)
        if workload != "cdc_ingest" else
        max(0.0, lay.get("cdc.maintain_s", 0.0) + lay.get("mv.probe_s", 0.0) - sql), "s")
    for n in ("catalyst.analysis_s", "catalyst.optimization_s",
              "catalyst.planning_s", "codegen.compile_s", "exec.sql_s",
              "exec.task_s", "gc.s", "stream.trigger_s", "stream.source_s",
              "stream.wal_s", "cdc.merge_s", "cdc.publish_s", "mv.fold_s",
              "mv.probe_s"):
        put(n, lay.get(n, 0.0), "s")
    for n in ("codegen.compiles", "exec.jobs", "exec.stages", "exec.tasks",
              "stream.batches", "scratch.stagings_timed"):
        put(n, lay.get(n, 0.0), "count")
    for n in ("exec.shuffle_bytes", "exec.input_bytes", "exec.output_bytes",
              "exec.spill_bytes", "cdc.state_bytes"):
        put(n, lay.get(n, 0.0), "bytes")
    put("exec.output_files", lay.get("exec.output_files", 0.0), "count")
    put("exec.tasks_per_job", lay.get("exec.tasks", 0.0) / jobs if jobs else 0.0,
        "tasks/job")
    put("exec.slot_use", lay.get("exec.task_s", 0.0) / (sql * cpus)
        if sql else 0.0, "ratio")
    maintain = lay.get("cdc.maintain_s", 0.0)
    put("mv.register_s", max(0.0, maintain - lay.get("cdc.merge_s", 0.0)
                             - lay.get("cdc.publish_s", 0.0)
                             - lay.get("mv.fold_s", 0.0)), "s")
    env_bytes = lay.get("cdc.envelope_bytes", 0.0)
    put("cdc.write_amp", lay.get("exec.output_bytes", 0.0) / env_bytes
        if env_bytes else 0.0, "ratio")
    cdc = workload == "cdc_ingest"
    put("stream.backlog_files_max", extra.get("backlog_max", 0) if cdc else 0,
        "count")
    put("gen.lateness_max_s", extra.get("lateness_max", 0.0) if cdc else 0.0, "s")
    lags = extra.get("lags", [])
    put("cdc.catchup_events_per_s", extra.get("catchup_per_s", 0.0), "events/s")
    put("cdc.commit_p50_s", statistics.median(extra["commit"]) if cdc else 0.0, "s")
    put("cdc.commit_lag_p50_s", statistics.median(lags) if cdc else 0.0, "s")
    put("cdc.commit_lag_tail_s", (tail(lags) or 0.0) if cdc else 0.0, "s")
    calls = w.get("calls", [])
    lat = [b + a for _, _, b, a in calls]
    olap = workload == "olap_queries"
    put("query.per_s", len(calls) / wall if olap else 0.0, "queries/s")
    put("query.latency_p50_s", statistics.median(lat) if olap else 0.0, "s")
    put("query.latency_tail_s", (tail(lat) or 0.0) if olap else 0.0, "s")
    put("olap.build_s", lay.get("olap.build_s", 0.0), "s")
    put("olap.action_s", lay.get("olap.action_s", 0.0), "s")
    for mod in OLAP_MODULES:
        put(f"olap.{mod}_s", lay.get(f"olap.{mod}_s", 0.0), "s")
    llm = workload == "llm_pipeline"
    items, busy = llm_items(calls, extra) if llm else ({}, {})
    put("llm.docs_per_s", items["docs"] / busy["docs"]
        if llm and busy["docs"] else 0.0, "docs/s")
    put("llm.knn_vectors_per_s", items["vectors"] / busy["vectors"]
        if llm and busy["vectors"] else 0.0, "vectors/s")
    for g in ("text", "dedup", "vector", "graph"):
        put(f"llm.{g}_s", lay.get(f"llm.{g}_s", 0.0), "s")
    put("trace.unreconciled_share", extra.get("unreconciled", 0.0), "ratio")
    return m


OLAP_MODULES = ("scans", "aggregates", "joins", "windows", "fns",
                "event_analytics", "sort_set_ops", "projections", "sql_api",
                "mv_route")


# ---- main --------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        sys.exit("perfbench: run from the root of a checkout of the program")
    classpath = build()
    started = time.time()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    os.makedirs(data)
    os.makedirs(out)
    inputs = generate(a.workload, a.seed, a.seconds, data)
    t_gen = time.time()
    budget = DEADLINE_S - CHECK_RESERVE_S - (t_gen - started)
    rec = run_jvm(classpath, a.workload, data, out, a.seconds, a.trace,
                  a.seed, budget)
    t_jvm = time.time()
    extra, problems = checks.check(a.workload, rec, data, out, inputs)
    log(f"generate {t_gen - started:.1f}s, jvm {t_jvm - t_gen:.1f}s "
        f"(timed {rec['wall_s']:.1f}s), checks {time.time() - t_jvm:.1f}s")
    for f in rec["failures"]:
        log(f"failed: {f}")
    if a.trace:
        extra["unreconciled"] = checks.reconcile(a.workload, rec)
        if extra["unreconciled"] > RECONCILE_TOLERANCE:
            problems.append(f"layers leave {extra['unreconciled']:.1%} of the "
                            "timed wall unexplained")
        metrics = per_layer(a.workload, rec, extra)
    else:
        metrics = end_to_end(a.workload, rec, extra)
    for p in problems:
        log(f"CHECK FAILED: {p}")
    print(json.dumps({"correct": not problems, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
