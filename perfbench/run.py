#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <pack_sf01|pg_serving|ilp_ingest|ilp_concurrent> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  The first run builds the program and the
harness from source into ``.bench_build/`` with the Scala compiler that
ships with Spark, and writes the sf0.1-shaped tables there; later runs
reuse both.  The harness JVM drives only public entry points
(``SparkEntry.queries``, ``graft.Engine``, ``PgWireServer``,
``RestServer``).  Output checks run outside the timed sections.  The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  See ``perfbench/README.md``.
"""
import argparse
import glob
import hashlib
import json
import os
import signal
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402

DEADLINE_S = 170            # a run must end within 180 s, not counting a first build

# A fixed cross-section of SparkEntry.queries: one query from each of the
# ten QueryPacks, near the pack's typical cost.  The whole 190-query pack
# takes over two minutes at 4 cores, longer than one run may.
PACK_SUBSET = [
    "q1_agg",                # RelationalQueries
    "q_asof_join",           # TimeSeriesQueries
    "q_window_rank",         # WindowFnQueries
    "q_agg_twap",            # AggFnQueries
    "q_fn_string",           # ScalarFnQueries
    "q_dedup_minhash",       # PipelineQueries
    "q_sql_sample_by",       # ExtrasQueries
    "q_sql_asof_where",      # DialectQueries
    "q_session_window",      # WindowingQueries
    "q_cube",                # MiscQueries
]
SETUP_REPS = 3
# ilp_concurrent is ilp_ingest with the reader in its own thread beside the
# writer; it reproduces the found defect (README) and is not in BENCHMARK.json
WORKLOADS = ["pack_sf01", "pg_serving", "ilp_ingest", "ilp_concurrent"]

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("heap_peak_mb", "MB"), ("latency_p50_ms", "ms"),
    ("latency_p95_ms", "ms"), ("throughput_per_s", "1/s"), ("read_p50_ms", "ms")]
# the workload-specific names of the end-to-end metrics
ALIASES = {
    "pack_sf01": {"latency_p50_ms": "pack_query_p50_ms", "latency_p95_ms": "pack_query_p95_ms"},
    "pg_serving": {"latency_p50_ms": "serve_p50_ms", "latency_p95_ms": "serve_p95_ms",
                   "throughput_per_s": "serve_qps"},
    "ilp_ingest": {"latency_p50_ms": "commit_p50_ms", "latency_p95_ms": "commit_p95_ms",
                   "throughput_per_s": "ingest_rows_per_s", "read_p50_ms": "ingest_read_p50_ms"},
}
PACKS = ["RelationalQueries", "TimeSeriesQueries", "WindowFnQueries", "AggFnQueries",
         "ScalarFnQueries", "PipelineQueries", "ExtrasQueries", "DialectQueries",
         "WindowingQueries", "MiscQueries"]
PER_LAYER = [  # name, unit
    ("sql.construct_ms", "ms"), ("sql.eager_jobs", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("catalyst.aqe_replans", "count"),
    ("codegen.compiles", "count"), ("codegen.compile_ms", "ms"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
    ("scheduler.gap_ms", "ms"), ("scheduler.delay_ms", "ms"),
    ("exec.task_run_ms", "ms"), ("exec.task_cpu_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.shuffle_write_bytes", "B"), ("exec.shuffle_read_bytes", "B"),
    ("exec.spill_bytes", "B"), ("exec.input_bytes", "B"), ("exec.output_bytes", "B"),
] + [("queries.%s.wall_s" % p, "s") for p in PACKS] + [
    ("http.pg.first_row_ms", "ms"), ("http.pg.complete_ms", "ms"), ("http.pg.bytes_in", "B"),
    ("http.rest.exec_ms", "ms"), ("http.rest.bytes_in", "B"),
    ("streaming.accept_ratio", "ratio"), ("streaming.partitions_per_commit", "count"),
    ("storage.write_amp", "ratio"), ("storage.write_amp_commit_p50", "ratio"),
    ("storage.files_per_partition", "count"), ("storage.bytes", "B"),
    ("trace.overhead_ms", "ms"), ("trace.overhead_share", "ratio"),
    ("trace.layer_cover_min", "ratio")]

ADD_OPENS = ["java.base/" + p for p in (
    "java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util "
    "java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs "
    "sun.security.action sun.util.calendar").split()]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("perfbench: " + msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        for line in open(sbt):
            if line.strip().startswith("unmanagedBase") and 'file("' in line:
                return line.split('file("', 1)[1].split('"', 1)[0]
    fail("no Spark jars: set SPARK_HOME or build.sbt unmanagedBase")


def compile_scala(jars, sources, classpath, out_dir):
    """scalac via the compiler jar on Spark's classpath; cached by source hash."""
    h = hashlib.sha256()
    for p in sorted(sources):
        h.update(p.encode() + b"\0" + open(p, "rb").read())
    h.update(":".join(classpath).encode())
    key = h.hexdigest()[:20]
    target = os.path.join(out_dir, key)
    if os.path.exists(os.path.join(target, ".done")):
        return target
    shutil.rmtree(target, ignore_errors=True)
    os.makedirs(target)
    cp = classpath + sorted(glob.glob(os.path.join(jars, "*.jar")))
    t = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-nowarn", "-d", target,
                        "-classpath", ":".join(cp)] + sorted(sources),
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(target, ignore_errors=True)
        fail("compile failed: " + out_dir)
    open(os.path.join(target, ".done"), "w").close()
    log("perfbench: compiled %d files into %s in %.1f s" % (len(sources), target, time.time() - t))
    return target


def build(root, build_dir):
    prog_src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not prog_src:
        fail("no program sources under src/main/scala: run from the root of a checkout")
    jars = spark_jars(root)
    if not glob.glob(os.path.join(jars, "scala-compiler*.jar")):
        fail("no Scala compiler among the Spark jars in " + jars)
    prog = compile_scala(jars, prog_src, [], os.path.join(build_dir, "program"))
    resources = os.path.join(root, "src/main/resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, prog, dirs_exist_ok=True)
    harness = compile_scala(jars, glob.glob(os.path.join(HERE, "harness/src/perfbench/*.scala")),
                            [prog], os.path.join(build_dir, "harness"))
    return jars, prog, harness


def tables(build_dir):
    """The sf0.1-shaped tables, generated once per checkout."""
    d = os.path.join(build_dir, "data", "sf0.1-seed%d" % gen.DATA_SEED)
    if not os.path.exists(os.path.join(d, ".done")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_tables(tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        open(os.path.join(d, ".done"), "w").write(gen.tables_digest(d))
    return d, open(os.path.join(d, ".done")).read().strip()


# -------------------------------------------------------------------- run

def driver_mem():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    g = 2
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                g = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return "%dg" % min(max(g, 2), 8)


def run_harness(jars, prog, harness, hargs, tmp, timeout):
    cmd = (["java"] + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS] +
           ["-Xmx" + driver_mem(), "-Xss8m", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", ":".join([harness, prog, os.path.join(jars, "*")]), "perfbench.Harness"] + hargs)
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
        fail("harness did not finish within %d s" % timeout)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, 9)
            p.wait()


def pct(xs, q):
    """Linear-interpolated percentile (q in 0..100) of a non-empty list."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--queries", default=None,
                    help="pack_sf01 only: comma list of queries, or 'all' (default: the fixed subset)")
    ap.add_argument("--capture-golden", action="store_true",
                    help="hash every SparkEntry.queries entry and write perfbench/golden/pack_sf01.json")
    a = ap.parse_args()
    # a TERM ends the run through run_harness's finally, which kills the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not a.capture_golden and not a.workload:
        ap.error("--workload is required")
    name = a.workload or "capture"
    reader = "concurrent" if a.workload == "ilp_concurrent" else "interleaved"
    if a.workload == "ilp_concurrent":
        a.workload = "ilp_ingest"

    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    jars, prog, harness = build(root, build_dir)
    data, digest = tables(build_dir)
    t_start = time.time()
    golden_path = os.path.join(HERE, "golden", "pack_sf01.json")
    golden = json.load(open(golden_path)) if os.path.exists(golden_path) else None

    run_dir = os.path.join(build_dir, "runs", "%s-s%d-%d" % (name, a.seed, os.getpid()))
    in_dir, out_dir, tmp = (os.path.join(run_dir, x) for x in ("in", "out", "tmp"))
    for d in (in_dir, out_dir, tmp):
        os.makedirs(d)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    hargs = ["--workload", a.workload or "capture", "--data", data, "--in", in_dir, "--out", out_dir,
             "--tmp", tmp, "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(cpus),
             "--seed", str(a.seed), "--setup-reps", str(SETUP_REPS)]
    if a.capture_golden:
        hargs += ["--queries", a.queries or ""]
    elif a.workload == "pack_sf01":
        names = PACK_SUBSET if a.queries is None else (
            sorted(golden["queries"]) if a.queries == "all" else a.queries.split(","))
        hargs += ["--queries", ",".join(names)]
    elif a.workload == "pg_serving":
        for i, stmts in enumerate(gen.serving_mix(a.seed)):
            open(os.path.join(in_dir, "client%d.sql" % i), "w").write("\n".join(stmts) + "\n")
    else:
        batches, expect = gen.ilp_batches(a.seed)
        open(os.path.join(in_dir, "batches.ilp"), "w").write("\n\n".join("\n".join(b) for b in batches))
        hargs += ["--measurements", ",".join(gen.ILP_MEASUREMENTS),
                  "--sum-columns", ",".join(gen.ILP_SUM_COLUMN[m] for m in gen.ILP_MEASUREMENTS),
                  "--dedup", ",".join(gen.ILP_DEDUP_KEYS), "--reader", reader]

    timeout = max(10, int(DEADLINE_S - (time.time() - t_start)))
    rc = run_harness(jars, prog, harness, hargs, tmp, timeout)
    res_path = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        fail("harness exited with %d and no result" % rc)
    res = json.load(open(res_path))
    if a.capture_golden:
        write_golden(golden_path, res, digest, golden)
        shutil.rmtree(run_dir, ignore_errors=True)
        return
    out = report(a, res, digest, golden, expect if a.workload == "ilp_ingest" else None,
                 names if a.workload == "pack_sf01" else None)
    # the raw result (and spans, when traced) of the latest run of each kind
    keep = os.path.join(build_dir, "last", "%s-trace%d" % (name, a.trace))
    shutil.rmtree(keep, ignore_errors=True)
    shutil.move(out_dir, keep)
    log("perfbench: raw result kept in " + keep)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


def write_golden(path, res, digest, old):
    queries = dict(old["queries"]) if old else {}
    for q, h in sorted(res["hashes"].items()):
        queries[q] = h
    os.makedirs(os.path.dirname(path), exist_ok=True)
    json.dump({"data_digest": digest, "queries": queries}, open(path, "w"), indent=1, sort_keys=True)
    log("perfbench: wrote %d golden entries to %s" % (len(queries), path))


# ----------------------------------------------------------------- report

def report(a, res, digest, golden, expect, names):
    all_ops = res.get("ops", [])
    w = a.workload
    primary = {"pack_sf01": ("query",), "pg_serving": ("pg", "rest"), "ilp_ingest": ("write",)}[w]
    reads = {"pack_sf01": ("query",), "pg_serving": ("pg", "rest"), "ilp_ingest": ("read",)}[w]
    ops = [o for o in all_ops if not o["warm"]]    # warm-up ops count only as attempted/failed
    timed = [o for o in ops if not o["traced"]] or ops
    failed_ops = [o for o in all_ops if not o["ok"]]
    checks, bad = check(w, res, digest, golden, expect, names)
    attempted = len(all_ops) + checks
    failed = len(failed_ops) + len(bad)
    for m in (res.get("failures", []) + bad)[:20]:
        log("perfbench: FAILED " + m)

    lat = [o["ms"] for o in timed if o["kind"] in primary and o["ok"]]
    rd = [o["ms"] for o in timed if o["kind"] in reads and o["ok"]]
    measure_s = res.get("measure_s", a.seconds) or a.seconds
    if w == "pack_sf01":
        # one latency per query, the median of its timed passes, so that the
        # percentiles range over the same query set in every run
        by_q = {}
        for o in timed:
            if o["ok"]:
                by_q.setdefault(o["name"], []).append(o["ms"])
        lat = rd = [statistics.median(v) for v in by_q.values()]
        throughput = 1000.0 * len(lat) / sum(lat) if lat else 0.0
    elif w == "ilp_ingest":
        # rows per second of /write time: the interleaved reads are not ingest time
        e = expect(res.get("acked", []))
        writes = [o for o in timed if o["kind"] == "write" and o["ok"]]
        write_s = sum(o["ms"] for o in writes) / 1e3
        throughput = expect([int(o["name"]) for o in writes])["wellformed"] / write_s if write_s else 0.0
    else:
        throughput = len(lat) / measure_s
    e2e = {
        "setup_s": statistics.median(res.get("setup_s") or [0.0]),
        "heap_peak_mb": res.get("heap_peak_mb", 0.0),
        "latency_p50_ms": pct(lat, 50) if lat else 0.0,
        "latency_p95_ms": pct(lat, 95) if lat else 0.0,
        "throughput_per_s": throughput,
        "read_p50_ms": pct(rd, 50) if rd else 0.0,
    }
    extra = workload_extras(w, res, ops, lat, rd, expect)
    units = dict(END_TO_END)
    print("workload %s seed %d: %d ops attempted, %d failed, %d checks"
          % (w, a.seed, attempted, failed, checks))
    print("  %-40s %12.4f %s" % ("error_rate", failed / max(attempted, 1), "ratio"))
    for k, v in e2e.items():
        name = k + (" (%s)" % ALIASES[w][k] if k in ALIASES[w] else "")
        print("  %-40s %12.4f %s" % (name, v, units[k]))
    for k, (v, u) in extra.items():
        print("  %-40s %12.4f %s" % (k, v, u))
    if not a.trace:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    else:
        layers = dict(res.get("layers", {}))
        tr = [o["ms"] for o in ops if o["traced"] and o["ok"] and o["kind"] in primary]
        un = [o["ms"] for o in ops if not o["traced"] and o["ok"] and o["kind"] in primary]
        if tr and un:
            layers["trace.overhead_ms"] = pct(tr, 50) - pct(un, 50)
            layers["trace.overhead_share"] = layers["trace.overhead_ms"] / pct(un, 50)
        if w == "ilp_ingest":
            layers["streaming.accept_ratio"] = extra["landed_rows"][0] / max(e["lines"], 1)
            layers["storage.bytes"] = res.get("storage_bytes", 0)
            layers["storage.files_per_partition"] = \
                res.get("storage_files", 0) / max(res.get("storage_partitions", 0), 1)
        metrics = {}
        for k, u in PER_LAYER:
            v = layers.get(k, 0.0)
            metrics[k] = {"value": float(v), "unit": u}
            print("  %-34s %14.4f %s" % (k, v, u))
        split = res.get("query_split")
        if split:
            print_split(split)
    # `correct` is about outputs: every check passed. An operation that
    # failed (an error reply) has no output to check; it counts in `failed`.
    return {"correct": not bad, "attempted": max(attempted, 1), "failed": failed,
            "metrics": metrics}


def workload_extras(w, res, ops, lat, rd, expect):
    n = len(lat)
    extra = {"samples": (n, "count")}
    if w == "pack_sf01":
        extra["pack_total_s"] = (sum(lat) / 1e3, "s")
        extra["executions"] = (sum(1 for o in ops if o["ok"] and not o["traced"]), "count")
        extra["timed_passes"] = (res.get("passes", 0), "count")
    elif w == "pg_serving":
        extra["distinct_statements"] = (res.get("distinct_statements", 0), "count")
        extra["repeat_share"] = (res.get("repeat_share", 0.0), "ratio")
    elif expect:
        e = expect(res.get("acked", []))
        landed = sum(t.get("rows", 0) for t in res.get("tables", {}).values())
        extra["landed_rows"] = (landed, "rows")
        extra["acked_batches"] = (len(res.get("acked", [])), "count")
        extra["stored_bytes_per_input_byte"] = (res.get("storage_bytes", 0) / max(e["bytes"], 1), "ratio")
        extra["ingest_read_p95_ms"] = (pct(rd, 95) if rd else 0.0, "ms")
        extra["read_samples"] = (len(rd), "count")
    return extra


def check(w, res, digest, golden, expect, names):
    """Output checks. Returns (checks made beyond the ops, failure messages).
    The harness's own failures (a reply that differs from the in-process
    result, a reader sanity check, a crash) come in as check_failures."""
    bad = list(res.get("check_failures", []))
    checks = 0
    if w == "pack_sf01":
        if golden is None:
            return 1, ["no golden file: run --capture-golden on a commit whose outputs are trusted"]
        if golden.get("data_digest") != digest:
            bad.append("generated tables differ from the golden's (digest %s != %s)"
                       % (digest[:12], golden.get("data_digest", "")[:12]))
        hashes = res.get("hashes", {})
        for q in names:
            checks += 1
            h = hashes.get(q, {"error": "not run"})
            g = golden["queries"].get(q)
            if g is None:
                bad.append("%s: no golden entry" % q)
            elif "error" in h:
                bad.append("%s: check run failed: %s" % (q, h["error"]))
            elif h.get("rows") != g.get("rows") or (not g.get("count_only") and h.get("hash") != g.get("hash")):
                bad.append("%s: rows/hash %s/%s != golden %s/%s"
                           % (q, h.get("rows"), h.get("hash"), g.get("rows"), g.get("hash")))
    elif w == "ilp_ingest":
        e = expect(res.get("acked", []))
        tables = res.get("tables", {})
        for m in gen.ILP_MEASUREMENTS:
            checks += 2
            t = tables.get(m, {"error": "not read"})
            if "error" in t:
                bad.append("%s: final read failed: %s" % (m, t["error"]))
                continue
            if t["rows"] != e["rows"][m]:
                bad.append("%s: %d rows stored, generator expects %d distinct (ts, sym) keys"
                           % (m, t["rows"], e["rows"][m]))
            if t["sum"] != e["sums"][m]:
                bad.append("%s: sum(%s) = %d, generator expects %d"
                           % (m, gen.ILP_SUM_COLUMN[m], t["sum"], e["sums"][m]))
    return checks, bad


def print_split(split):
    """Per-query layer self times of the traced pack runs (ms, median over runs)."""
    by_q = {}
    for s in split:
        by_q.setdefault(s["query"], []).append(s)
    print("  layer split per query (self ms; cover = layers / wall):")
    for q in sorted(by_q):
        rows = by_q[q]
        wall = statistics.median(r["wall_ms"] for r in rows)
        names = sorted(set(k for r in rows for k in r["self_ms"]))
        parts = {k: statistics.median(r["self_ms"].get(k, 0.0) for r in rows) for k in names}
        cover = sum(v for k, v in parts.items() if k != "op") / wall
        print("    %-26s wall %8.1f cover %.3f  %s" % (
            q, wall, cover, " ".join("%s=%.1f" % (k, v) for k, v in sorted(parts.items()) if v >= 0.05)))


if __name__ == "__main__":
    main()
