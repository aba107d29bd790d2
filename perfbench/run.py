#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload facade_read --seed 1 --seconds 18 --trace 0

Run from the repository root. It builds the program and the JVM harness
(perfbench/build.py), writes the fixture corpus (perfbench/fixtures.py),
generates the workload's operation stream from --seed
(perfbench/workloads.py), runs it in one JVM on local[N] with one client,
checks every result against DuckDB, and prints as
its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones (METRICS.md maps each to the end-to-end
metric and workload it should move). The line before it holds the run's
facts: seed, N, nproc, load average, CPU steal, sample counts.

Build output, fixtures and per-run scratch live under $CARGO_TARGET_DIR
(default .bench_build); each run's scratch directory is removed at exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import fixtures  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("facade_read", "curation_batch")
SETUPS = 3           # set-ups per run; setup_s is their median
# local[N], N = min(MAX_CPUS, nproc). Two task threads leave the driver
# thread, the JIT and the GC cores of their own on a 4-vCPU VM. With
# local[4] curation latencies swung further with the host's CPU steal
# (+45% at 7% steal) than with local[2] (+20% at 5%).
MAX_CPUS = 2
HEAP = "3g"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

CATALYST = {"parsing": "catalyst.parse_ms", "analysis": "catalyst.analyze_ms",
            "optimization": "catalyst.optimize_ms", "planning": "catalyst.plan_ms"}


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def run_jvm(classes, plan_path, out_dir, run_dir, timeout):
    jars = build.spark_jars(os.getcwd())
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir; every
    # file the run writes stays under run_dir
    cmd = (["java", f"-Xmx{HEAP}", "-Xss16m", "-XX:+UseG1GC", "-XX:-UsePerfData"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/local",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
              f"-Dderby.system.home={run_dir}/tmp",
              "-cp", f"{classes}{os.pathsep}{jars}",
              "org.apache.spark.perfbench.Harness", plan_path, out_dir])
    with open(f"{run_dir}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                env=dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/local"))
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM/Ctrl-C: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(f"{run_dir}/jvm.log") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness JVM ended with {rc}")


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return None


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def duck_connection(fx_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in fixtures.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fx_dir}/{t}.parquet')")
    return con


def check_facade(con, plan, out_dir):
    """Verdict per (key, sha): None when the output equals DuckDB's."""
    fmt_of = {o["key"]: o["format"] for d in [plan["warmup"]] + plan["decks"] for o in d}
    fmt_of["setup"] = "table"
    expect = dict(plan["expect"], setup=[workloads.SETUP_SQL])
    verdicts, rows, want_cache = {}, {}, {}
    for name in sorted(os.listdir(f"{out_dir}/out")):
        key, sha = name.rsplit("__", 1)
        with open(f"{out_dir}/out/{name}") as f:
            text = f.read()
        try:
            if key not in want_cache:
                want_cache[key] = check.duck_results(con, expect[key])
            verdicts[(key, sha)] = check.check_output(text, fmt_of[key], want_cache[key])
            rows[(key, sha)] = check.result_rows(text, fmt_of[key])
        except Exception as e:  # unparseable output is a wrong output
            verdicts[(key, sha)] = f"{type(e).__name__}: {e}"
    return verdicts, rows


def _columns_by_name(cols, rows):
    """Canonical result with columns sorted by name (the oracle's column
    order need not match the program's)."""
    order = sorted(range(len(cols)), key=cols.__getitem__)
    return check.canonical([cols[i] for i in order], [[r[i] for i in order] for r in rows])


def check_curation(con, ops, out_dir):
    """Verdict per query of the untimed check pass: its rows against its
    DuckDB oracle text (`SparkEntry.oracleSql`). Every listed query has
    one; a query without one fails the check."""
    with open(f"{out_dir}/oracle.json") as f:
        oracles = json.load(f)
    verdicts, seen = {}, {}
    for o in ops:
        key = o["key"]
        if o["phase"] != "warmup" or key in verdicts:
            continue
        if o["error"]:
            verdicts[key] = o["error"]
            continue
        cur = con.execute(f"SELECT * FROM read_parquet('{out_dir}/check/{key}/*.parquet')")
        cols = [d[0] for d in cur.description]
        got = (cols, cur.fetchall())
        seen[key] = check.digest(*got)
        if key in oracles:
            cur = con.execute(oracles[key])
            want = ([d[0] for d in cur.description], cur.fetchall())
            verdicts[key] = check.same(_columns_by_name(*got), _columns_by_name(*want))
        else:
            verdicts[key] = "no oracle"
    return verdicts, seen


def op_verdict(o, verdicts, workload):
    if o["error"]:
        return o["error"]
    if workload == "curation_batch":
        return verdicts.get(o["key"], "query missing from the check pass")
    return verdicts.get((o["key"], o["sha"]), "output not saved")


def end_to_end(ops, run, setups, wrong, workload):
    timed = [o for o in ops if o["phase"] == "timed"]
    walls = [o["wall_ms"] for o in timed]
    n = len(walls)
    p = workloads.REPORTED_PERCENTILE[workload]
    failed = sum(1 for o in timed if wrong(o))
    m = {
        "setup_s": (stats.median([s["total_ms"] for s in setups]) / 1000.0, "s"),
        "latency_p50_ms": (stats.percentile(walls, 50), "ms"),
        "latency_p90_ms": (stats.percentile(walls, p), "ms"),
        "throughput_ops_per_s": (n / (run["timed_ms"] / 1000.0), "ops/s"),
        "success_rate": (1.0 - failed / n, "ratio"),
        "heap_retained_mb": (run["heap_retained_mb"], "MB"),
    }
    return m, {"samples": n, "latency_p90_ms_is": f"p{p}"}


def per_layer(ops, jobs, setups, rows_of, cpus):
    traced = [o for o in ops if o["phase"] == "traced"]
    plain = [o["wall_ms"] for o in ops if o["phase"] == "timed"]
    roots = [(next((s for s in o["spans"] if s["name"] == "op"), None), o) for o in traced]
    # jobs of each op: the op whose root span was open at the job's start
    jobs_of = {o["id"]: [] for o in traced}
    for j in jobs:
        for root, o in roots:
            if root and int(root["start"]) <= j["start"] <= root["end"]:
                jobs_of[o["id"]].append(j)
                break
    per_op = []
    for root, o in roots:
        if root is None:
            continue
        spans = [s for s in o["spans"] if s["id"] >= 0]
        by_id = {s["id"]: s for s in spans}
        extra, v = [], {}
        for iv in (s for s in o["spans"] if s["id"] < 0):
            pid = stats.attribute(iv["start"], spans, by_id)
            extra.append((pid, iv["start"], iv["end"]))
            name = CATALYST.get(iv["name"].split(".", 1)[1])
            if name:
                v[name] = v.get(name, 0.0) + iv["end"] - iv["start"]
        job_ivs = []
        for j in jobs_of[o["id"]]:
            end = j["end"] if j["end"] >= 0 else root["end"]
            pid = stats.attribute(j["start"], spans, by_id)
            extra.append((pid, j["start"], end))
            job_ivs.append((j["start"], end))
            kind = by_id[pid]["name"] if pid is not None else "op"
            if kind in ("engine.statement", "ops.build", "ops.action"):
                v[kind + "_jobs"] = v.get(kind + "_jobs", 0) + 1
            st = j["stages"]
            for k, src in (("exec.stages", None), ("exec.tasks", "tasks"),
                           ("exec.task_run_ms", "run_ms"), ("exec.task_cpu_ms", "cpu_ms"),
                           ("exec.gc_ms", "gc_ms"), ("exec.shuffle_read_bytes", "shuffle_read"),
                           ("exec.shuffle_write_bytes", "shuffle_write"),
                           ("exec.spill_bytes", "spill")):
                v[k] = v.get(k, 0) + (len(st) if src is None else sum(s.get(src, 0) for s in st))
        v["exec.jobs"] = len(jobs_of[o["id"]])
        v["exec.job_wall_ms"] = stats.union_length(job_ivs, root["start"], root["end"])
        v["exec.driver_gap_ms"] = o["wall_ms"] - v["exec.job_wall_ms"]
        for s in spans:
            if s["name"] != "op":
                k = s["name"] + "_ms"
                v[k] = v.get(k, 0.0) + s["end"] - s["start"]
        selfs = stats.self_times(spans, extra)
        for s in spans:
            layer = s["name"].split(".")[0]
            if layer in ("engine", "ops"):
                v[layer + ".self_ms"] = v.get(layer + ".self_ms", 0.0) + selfs[s["id"]]
        kids = [(s["start"], s["end"]) for s in spans if s["parent"] == root["id"]]
        kids += [(st, en) for pid, st, en in extra if pid == root["id"]]
        v["trace.coverage"] = stats.union_length(kids, root["start"], root["end"]) / o["wall_ms"]
        v["engine.result_rows"] = rows_of(o)
        v["engine.output_bytes"] = o["bytes"]
        v["io.bytes_written"] = o["io_bytes"]
        v["io.files_written"] = o["io_files"]
        v["wall_ms"] = o["wall_ms"]
        per_op.append(v)

    def mean(k):
        return sum(v.get(k, 0.0) for v in per_op) / max(1, len(per_op))

    # means, not medians: the layers of a mean operation add up to its
    # mean wall time, and whole-millisecond sources stay fractional
    m = {k: (mean(k), unit) for k, unit in [
        ("engine.split_ms", "ms"), ("engine.statement_ms", "ms"),
        ("engine.statement_jobs", "count"), ("engine.format_ms", "ms"),
        ("engine.result_rows", "count"), ("engine.output_bytes", "bytes"),
        ("engine.self_ms", "ms"), ("catalyst.parse_ms", "ms"),
        ("catalyst.analyze_ms", "ms"), ("catalyst.optimize_ms", "ms"),
        ("catalyst.plan_ms", "ms"), ("ops.build_ms", "ms"), ("ops.build_jobs", "count"),
        ("ops.action_ms", "ms"), ("ops.action_jobs", "count"), ("ops.self_ms", "ms"),
        ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
        ("exec.job_wall_ms", "ms"), ("exec.driver_gap_ms", "ms"),
        ("exec.task_run_ms", "ms"), ("exec.task_cpu_ms", "ms"), ("exec.gc_ms", "ms"),
        ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
        ("exec.spill_bytes", "bytes")]}
    writes = [v for v in per_op if v["io.files_written"] > 0]
    for k, unit in [("io.bytes_written", "bytes"), ("io.files_written", "count")]:
        m[k] = (sum(v[k] for v in writes) / max(1, len(writes)), unit)
    wall = sum(v["wall_ms"] for v in per_op)
    run_ms = sum(v.get("exec.task_run_ms", 0.0) for v in per_op)
    m["exec.core_use"] = (run_ms / (wall * cpus) if wall else 0.0, "ratio")
    m["tables.register_ms"] = (stats.median([s["register_ms"] for s in setups]), "ms")
    m["trace.ops"] = (len(per_op), "count")
    m["trace.coverage"] = (stats.median([v["trace.coverage"] for v in per_op]), "ratio")
    m["trace.min_coverage"] = (min((v["trace.coverage"] for v in per_op), default=0.0), "ratio")
    m["trace.overhead_ms"] = (stats.median([v["wall_ms"] for v in per_op]) - stats.median(plain), "ms")
    return m, {"traced_samples": len(per_op), "untraced_samples": len(plain)}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build.ensure(root, build_dir)
    fx_dir = fixtures.ensure(os.path.join(build_dir, "perfbench-fixtures"))
    os.makedirs(os.path.join(build_dir, "perfbench-runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(build_dir, "perfbench-runs"))
    load_before = os.getloadavg()
    nproc = os.cpu_count() or 1
    cpus = min(MAX_CPUS, nproc)
    try:
        for d in ("tmp", "local", "io", "out"):
            os.makedirs(f"{run_dir}/{d}")
        out_dir = f"{run_dir}/out"
        n_decks = max(4, int(args.seconds))
        plan = workloads.make_plan(args.workload, args.seed, n_decks, f"{run_dir}/io",
                                   f"{out_dir}/warehouse")
        plan.update(workload=args.workload, fixtures=fx_dir, cpus=cpus, seconds=args.seconds,
                    trace=args.trace, setups=SETUPS, setup_sql=workloads.SETUP_SQL,
                    session_conf=workloads.session_conf(args.workload, cpus))
        plan_path = f"{run_dir}/plan.json"
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        t_jvm, ticks = time.monotonic(), cpu_ticks()
        run_jvm(classes, plan_path, out_dir, run_dir, timeout=3 * args.seconds + 110)
        load_after, ticks_after = os.getloadavg(), cpu_ticks()
        # share of CPU time the hypervisor gave to other guests meanwhile
        steal = (round((ticks_after[0] - ticks[0]) / max(1, ticks_after[1] - ticks[1]), 3)
                 if ticks and ticks_after else None)
        t_check = time.monotonic()

        ops = read_jsonl(f"{out_dir}/ops.jsonl")
        with open(f"{out_dir}/run.json") as f:
            run = json.load(f)
        with open(f"{out_dir}/setup.json") as f:
            setups = json.load(f)
        con = duck_connection(fx_dir)
        verdicts, rows = check_facade(con, plan, out_dir)
        info = {}
        if args.workload == "curation_batch":
            qv, digests = check_curation(con, ops, out_dir)
            verdicts.update(qv)
            info["digests"] = digests
        problems = {}
        for s in setups:
            why = verdicts.get(("setup", s["sha"]), "setup output not saved")
            if why:
                problems["setup"] = why
        for o in ops:
            why = op_verdict(o, verdicts, args.workload)
            if why:
                problems.setdefault(o["key"], why)

        def wrong(o):
            return op_verdict(o, verdicts, args.workload) is not None

        if args.trace:
            metrics, extra = per_layer(ops, read_jsonl(f"{out_dir}/jobs.jsonl"), setups,
                                       lambda o: rows.get((o["key"], o["sha"]), 0), cpus)
        else:
            metrics, extra = end_to_end(ops, run, setups, wrong, args.workload)
        measured = [o for o in ops if o["phase"] in ("timed", "traced")]
        failed = sum(1 for o in measured if wrong(o))
        info.update(extra, workload=args.workload, seed=args.seed, N=cpus, nproc=nproc,
                    load_avg_before=load_before, load_avg_after=load_after, cpu_steal=steal,
                    decks=run["decks_timed"] + run["decks_traced"],
                    warmup_s=round(run["warmup_ms"] / 1000, 1),
                    setup_ms=[round(s["total_ms"], 1) for s in setups],
                    problems=problems, jvm_s=round(t_check - t_jvm, 1),
                    check_s=round(time.monotonic() - t_check, 1),
                    template_p50_ms={t: round(stats.median(
                        [o["wall_ms"] for o in ops if o["template"] == t and o["phase"] == "timed"]), 1)
                        for t in sorted({o["template"] for o in ops})})
        print(json.dumps({"info": info}))
        print(json.dumps({
            "correct": not problems,
            "attempted": len(measured),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
