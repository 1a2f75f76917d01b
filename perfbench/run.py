#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one closed-loop workload per run.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_reactive --seed 1 --seconds 10 --trace 0

It builds the engine and the runner from the checkout's sources (cached
under .bench_build/ by a hash of those sources), copies the input fixture
into a fresh per-run scratch root, starts one JVM (perfbench.Runner) that
drives the engine, checks every result against DuckDB evaluating the
engine's own oracle SQL, and prints one JSON object as the last line of
stdout. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BUILD, "perfbench.jar")
FIXTURE = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SETUP_COPIES = 3          # fresh-state setups per run (median reported)
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
# JDK 17 module opens that Spark needs outside spark-submit (the list in
# the engine's build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

END_TO_END = {  # name -> unit
    "setup_s": "s", "first_pass_s": "s", "warm_pass_s": "s",
    "query_p50_s": "s", "query_tail_s": "s", "heap_live_mb": "MB",
}
PER_LAYER = {
    "queries.build_s": "s", "queries.action_s": "s",
    "catalyst.executions": "count", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "driver.gap_s": "s", "driver.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.failed_tasks": "count",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.input_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.busy_frac": "ratio",
    "ops.prepare_s": "s", "ops.prepare_write_mb": "MB", "ops.cached_rdds": "count",
    "ops.cached_mb": "MB", "ops.cache_scans": "count", "ops.cache_fills": "count",
    "ops.cache_hit_frac": "ratio", "ops.checkpoint_mb": "MB",
    "streaming.queries": "count", "streaming.batches": "count",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.state_commit_s": "s", "streaming.state_rows": "count",
    "streaming.lifecycle_s": "s", "streaming.tmp_entries": "count",
    "io.fs_read_mb": "MB", "io.fs_written_mb": "MB", "io.disk_left_mb": "MB",
    "plans.final_violations": "count",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "jvm.gc_s": "s", "jvm.rss_peak_mb": "MB", "host.calib_ms": "ms",
    "trace.overhead_frac": "ratio", "trace.reconciled_frac": "ratio",
}
# Traced per-query layers divided by traced passes: per warm pass.
PER_PASS = [k for k in PER_LAYER if k.split(".")[0] in
            ("queries", "catalyst", "driver", "exec", "streaming")
            and k not in ("exec.busy_frac",)] + ["ops.cache_scans", "ops.cache_fills"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def sha_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def tree_files(d):
    return [os.path.join(dp, fn) for dp, _, fns in os.walk(d) for fn in fns]


def build():
    """Build the engine + runner jar unless the sources are unchanged."""
    srcs = (tree_files(os.path.join(ROOT, "src", "main")) +
            tree_files(os.path.join(HERE, "src")) +
            [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    stamp = sha_files(srcs)
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "perfbench.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(JAR) and os.path.exists(stamp_file) and \
                open(stamp_file).read() == stamp:
            return
        log("building engine + runner (sbt package)")
        t0 = time.time()
        # Resolve offline only: everything the build needs is local.
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
        with open(os.path.join(BUILD, "perfbench-build.log"), "w") as out:
            rc = run_proc(["sbt", "-batch", "-Dsbt.log.noformat=true", "package"],
                          cwd=HERE, stdout=out, env=env, timeout=BUILD_TIMEOUT_S)
        if rc != 0 or not os.path.exists(JAR):
            fail(f"build failed (rc={rc}); see .bench_build/perfbench-build.log")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built in {time.time() - t0:.1f} s")


def run_proc(cmd, cwd, stdout, timeout, env=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, env=env, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def heap_size():
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        gb = max(2, min(4, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"{gb}g"


def tail_level(n_queries, min_passes):
    """The highest whole percentile with at least 10 samples beyond it in
    the guaranteed minimum sample (queries x the runner's minimum of
    measured passes), so the level is the same in every run of a workload."""
    n = n_queries * min_passes
    return max(0, (100 * (n - 10)) // n) / 100


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, math.ceil(p * len(s)) - 1))
    return s[k]


def oracle_results(con, names, sql_map, fixture_key):
    """Materialise each query's oracle result (cached by SQL + input
    content) and return name -> (parquet path, row count)."""
    cache = os.path.join(BUILD, "perfbench-oracle")
    os.makedirs(cache, exist_ok=True)
    out = {}
    for name in names:
        sql = sql_map.get(name)
        if sql is None:
            continue
        key = hashlib.sha256((sql + "\0" + fixture_key).encode()).hexdigest()[:32]
        path = os.path.join(cache, key + ".parquet")
        if not os.path.exists(path):
            tmp = path + f".{os.getpid()}.tmp"
            con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
            os.replace(tmp, path)
        n = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
        out[name] = (path, n)
    return out


def full_compare(con, mine_dir, oracle_path):
    """EXCEPT ALL both ways over the sorted column list; '' when equal."""
    files = [os.path.join(mine_dir, f) for f in os.listdir(mine_dir)
             if f.endswith(".parquet")] if os.path.isdir(mine_dir) else []
    if not files:
        return "no result written"
    mine = f"read_parquet({files!r})"
    orac = f"read_parquet('{oracle_path}')"
    mc = sorted(r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {mine}").fetchall())
    oc = sorted(r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {orac}").fetchall())
    if mc != oc:
        return f"columns differ: {mc} vs {oc}"
    cols = ", ".join(f'"{c}"' for c in mc)
    a = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {mine} EXCEPT ALL "
                    f"SELECT {cols} FROM {orac})").fetchone()[0]
    b = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {orac} EXCEPT ALL "
                    f"SELECT {cols} FROM {mine})").fetchone()[0]
    return "" if a == 0 and b == 0 else f"{a} rows only in result, {b} only in oracle"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    qfile = os.path.join(HERE, "workloads", args.workload + ".txt")
    if not os.path.isfile(qfile):
        fail(f"unknown workload {args.workload!r}")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    if not all(os.path.isfile(os.path.join(FIXTURE, t + ".parquet")) for t in TABLES):
        fail(f"input fixture missing under {FIXTURE}")
    spark_home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME/jars not found")
    try:
        import duckdb
    except ImportError:
        fail("python duckdb module not available")

    build()

    names = [l.strip() for l in open(qfile) if l.strip() and not l.startswith("#")]
    random.Random(args.seed).shuffle(names)

    run_root = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "tmp"))
    try:
        inputs = []
        for i in range(SETUP_COPIES + 1):
            d = os.path.join(run_root, f"setup{i}" if i else "in")
            os.makedirs(d)
            for t in TABLES:
                shutil.copyfile(os.path.join(FIXTURE, t + ".parquet"),
                                os.path.join(d, t + ".parquet"))
            inputs.append(d)
        with open(os.path.join(run_root, "queries.txt"), "w") as f:
            f.write("\n".join(names) + "\n")
        rec_path = os.path.join(run_root, "record.json")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        # -XX:-UsePerfData: no hsperfdata file outside the checkout.
        cmd = [java, f"-Xmx{heap_size()}", "-XX:-UsePerfData", *ADD_OPENS,
               "--add-modules=jdk.incubator.vector",
               f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')}",
               "-cp", f"{JAR}:{os.path.join(spark_home, 'jars', '*')}",
               "perfbench.Runner",
               "--queries", os.path.join(run_root, "queries.txt"),
               "--input", inputs[0], "--setup-inputs", ",".join(inputs[1:]),
               "--scratch", run_root, "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--out", rec_path]
        env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS",)}
        jvm_log = os.path.join(BUILD, f"perfbench-{args.workload}.log")
        t0 = time.time()
        with open(jvm_log, "w") as out:
            rc = run_proc(cmd, cwd=run_root, stdout=out, env=env, timeout=JVM_TIMEOUT_S)
        log(f"runner JVM took {time.time() - t0:.1f} s")
        if rc != 0 or not os.path.exists(rec_path):
            fail(f"runner failed (rc={rc}); see .bench_build/perfbench-{args.workload}.log")
        rec = json.load(open(rec_path))
        shutil.copyfile(rec_path, os.path.join(BUILD, f"perfbench-record-{args.workload}.json"))
        result = evaluate(rec, names, args, duckdb, run_root)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    print(json.dumps(result))


def evaluate(rec, names, args, duckdb, run_root):
    passes = rec["passes"]
    measured = [p for p in passes if p["kind"] == "measured"]
    untraced = [p for p in measured if not p["traced"]] or measured
    traced = [p for p in measured if p["traced"]]

    # Correctness: every timed count against the oracle, the full compare
    # of the last measured pass, plan violations after every pass.
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{os.path.join(run_root, 'duckdb_tmp')}'")
    fixture_key = sha_files([os.path.join(FIXTURE, t + ".parquet") for t in TABLES])
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(FIXTURE, t + '.parquet')}')")
    expected = oracle_results(con, names, rec["oracle_sql"], fixture_key)
    problems = []
    attempted = failed = 0
    for p in passes:
        for e in p["execs"]:
            attempted += 1
            exp = expected.get(e["name"])
            if "err" in e:
                failed += 1
                problems.append(f"pass {p['index']} {e['name']}: {e['err']}")
            elif exp is None:
                failed += 1
                problems.append(f"{e['name']}: no oracle SQL")
            elif e["count"] != exp[1]:
                failed += 1
                problems.append(f"pass {p['index']} {e['name']}: count {e['count']} != oracle {exp[1]}")
        failed += len(p["violations"])
        problems += [f"pass {p['index']} plan violation: {v}" for v in p["violations"]]
    last = measured[-1]
    for e in last["execs"]:
        if "err" in e or e["name"] not in expected:
            continue
        attempted += 1
        why = full_compare(con, os.path.join(run_root, "results", e["name"]),
                           expected[e["name"]][0])
        if why:
            failed += 1
            problems.append(f"full compare {e['name']}: {why}")
    con.close()
    for msg in problems[:20]:
        log(msg)

    def qwall(e):
        return e["build_s"] + e["action_s"]

    lat = [qwall(e) for p in untraced for e in p["execs"]]
    level = tail_level(len(names), rec["min_passes"])
    prep = rec["prepare_s"]
    m = {
        "setup_s": rec["session_start_s"] + statistics.median(prep),
        "first_pass_s": passes[0]["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in untraced),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": percentile(lat, level),
        "heap_live_mb": rec["heap_live_bytes"] / 1e6,
    }
    failed_frac = failed / attempted
    log(f"{args.workload} seed {args.seed}: {len(names)} queries, "
        f"{len(measured)} measured passes ({len(traced)} traced), "
        f"{sum(1 for p in passes if p['kind'] == 'warmup')} warm-up; "
        f"tail = p{round(level * 100)} of {len(lat)} samples")
    for k, u in END_TO_END.items():
        log(f"  {k:14s} {m[k]:12.4f} {u}")
    log(f"  setup_s = session start {rec['session_start_s']:.3f} s + median prepare "
        f"{statistics.median(prep):.3f} s (of {', '.join(f'{x:.3f}' for x in prep)})")
    log(f"  {'disk_mb':14s} {rec['disk_bytes'] / 1e6:12.4f} MB")
    log(f"  {'failed_frac':14s} {failed_frac:12.4f} ratio ({failed} of {attempted})")
    log(f"  host.calib_ms before/after {rec['calib_ms_before']:.1f}/{rec['calib_ms_after']:.1f}; "
        f"pre-touch probe {rec['pretouch_probe_mb_s']:.0f} MB/s, sweep {rec['pretouch_sweep_mb_s']:.0f} MB/s")
    log("  per pass (kind wall/cpu/steal/tmp entries:MB): " + ", ".join(
        f"{p['kind'][0]}{p['wall_s']:.2f}s/{p['cpu_s']:.2f}s/{100 * p['steal_frac']:.0f}%"
        f"/{p['tmp_entries']}:{p['tmp_bytes'] / 1e6:.1f}MB" for p in passes))

    if args.trace:
        metrics = per_layer(rec, traced, untraced, passes, args)
        units = PER_LAYER
    else:
        metrics = m
        units = END_TO_END
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}


def per_layer(rec, traced, untraced, passes, args):
    t = rec["trace"]
    n = max(1, len(traced))
    out = {k: t[k] / n for k in PER_PASS if k in t}
    out["exec.busy_frac"] = t["exec.busy_frac"]
    scans, fills = t["ops.cache_scans"], t["ops.cache_fills"]
    out["ops.cache_hit_frac"] = max(0, scans - fills) / scans if scans else 0.0
    out["ops.prepare_s"] = statistics.median(rec["prepare_s"])
    out["ops.prepare_write_mb"] = rec["prepare_write_bytes"] / 1e6
    out["ops.cached_rdds"] = rec["cached_rdds"]
    out["ops.cached_mb"] = rec["cached_bytes"] / 1e6
    out["ops.checkpoint_mb"] = rec["checkpoint_bytes"] / 1e6
    fs = {k: sum(p["fs"][k] for p in traced) / n for k in traced[0]["fs"]} if traced else {}
    out["io.fs_read_mb"] = fs.get("bytes_read", 0) / 1e6
    out["io.fs_written_mb"] = fs.get("bytes_written", 0) / 1e6
    out["io.disk_left_mb"] = rec["disk_bytes"] / 1e6
    out["plans.final_violations"] = sum(len(p["violations"]) for p in passes)
    out["codegen.compiles"] = rec["codegen_first_pass"][0]
    out["codegen.compile_s"] = rec["codegen_first_pass"][1] / 1e9
    out["jvm.gc_s"] = rec["jvm_gc_s"]
    out["jvm.rss_peak_mb"] = rec["rss_peak_bytes"] / 1e6
    out["host.calib_ms"] = (rec["calib_ms_before"] + rec["calib_ms_after"]) / 2
    tw = statistics.median(p["wall_s"] for p in traced) if traced else 0.0
    uw = statistics.median(p["wall_s"] for p in untraced)
    out["trace.overhead_frac"] = tw / uw - 1 if uw else 0.0
    out["trace.reconciled_frac"] = t["reconciled_queries"] / max(1, t["traced_queries"])
    log(f"  trace: overhead {out['trace.overhead_frac']:+.3f} (traced {tw:.3f} s vs untraced {uw:.3f} s); "
        f"{t['reconciled_queries']}/{t['traced_queries']} queries reconcile within 5% "
        f"(clipped + overcommitted {t['lost_s']:.3f} s in all; unowned jobs {t['unowned_jobs']}, "
        f"stages {t['unowned_stages']}); self s by layer {t['self_s']}")
    log(f"  exec.task_s / warm pass {out['exec.task_s'] / uw:.3f}, "
        f"job-union wall / warm pass {t['job_union_s'] / n / uw:.3f}")
    with open(os.path.join(BUILD, f"perfbench-trace-{args.workload}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "layers": out,
                   "self_s": t["self_s"], "per_query": t["per_query"]}, f)
    return out


if __name__ == "__main__":
    main()
