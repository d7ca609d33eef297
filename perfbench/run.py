#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the benchmark runner from source when either
changed (sbt, offline), sizes the JVM from the host, runs one benchmark
JVM (see src/main/scala/graft/bench/Main.scala), checks every distinct
query output against DuckDB, and prints the metrics. The last stdout
line is the result JSON; the line before it gives details such as the
tail percentile and the sample counts. Exits non-zero when an output
mismatches, a call fails, or the program cannot be built.

Workloads, metrics and what each per-layer metric should move are listed
in NOTES.md and in LAYERS below.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sparql-small", "ops-stream")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 150

# (name, unit, better); NOTES.md says what each one measures
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("latency_p50_ms", "ms", "lower"),
    ("latency_tail_ms", "ms", "lower"),
    ("cpu_s", "s", "lower"),
)

# (name, unit, better, the end-to-end metric and workload it should move)
LAYERS = (
    ("sparql.parse_ms", "ms", "lower", "latency_p50_ms on sparql-small"),
    ("mappings.parse_ms", "ms", "lower", "setup_s"),
    ("model.source_detect_ms", "ms", "lower", "latency_p50_ms on sparql-small"),
    ("model.sources_per_star", "count", "lower", "latency_p50_ms on sparql-small"),
    ("engine.build_ms", "ms", "lower",
     "latency_p50_ms on sparql-small"),
    ("engine.sqlgen_lower_ms", "ms", "lower", "latency_p50_ms on sparql-small"),
    ("engine.sqlgen_build_ms", "ms", "lower", "latency_p50_ms on sparql-small"),
    ("catalyst.analysis_ms", "ms", "lower", "latency_p50_ms on sparql-small"),
    ("catalyst.optimization_ms", "ms", "lower", "latency_p50_ms on sparql-small"),
    ("catalyst.planning_ms", "ms", "lower", "latency_p50_ms on sparql-small"),
    ("exec.wall_ms", "ms", "lower", "pass_s on both workloads"),
    ("exec.task_busy_s", "s", "lower", "pass_s on both workloads"),
    ("exec.core_util", "ratio", "higher", "pass_s on both workloads"),
    ("exec.shuffle_read_bytes", "bytes", "lower",
     "pass_s and latency_tail_ms on sparql-small"),
    ("exec.shuffle_write_bytes", "bytes", "lower",
     "pass_s and latency_tail_ms on sparql-small"),
    ("exec.spill_bytes", "bytes", "lower", "pass_s and latency_tail_ms on sparql-small"),
    ("exec.smj_count", "count", "lower", "pass_s and latency_tail_ms on sparql-small"),
    ("exec.bhj_count", "count", "higher", "pass_s and latency_tail_ms on sparql-small"),
    ("exec.shj_count", "count", "higher", "pass_s and latency_tail_ms on sparql-small"),
    ("exec.input_bytes", "bytes", "lower", "pass_s on both workloads"),
    ("exec.rows_scanned", "count", "lower", "pass_s on both workloads"),
    ("exec.result_rows", "count", "higher", "none; the base of the ratio below"),
    ("exec.rows_scanned_per_result_row", "ratio", "lower", "pass_s on both workloads"),
    ("exec.jobs", "count", "lower",
     "pass_s on ops-stream; latency_p50_ms on sparql-small"),
    ("exec.stages", "count", "lower",
     "pass_s on ops-stream; latency_p50_ms on sparql-small"),
    ("exec.tasks", "count", "lower",
     "pass_s on ops-stream; latency_p50_ms on sparql-small"),
    ("exec.driver_gap_ms", "ms", "lower",
     "pass_s on ops-stream; latency_p50_ms on sparql-small"),
    ("ops.build_ms", "ms", "lower", "pass_s on ops-stream"),
    ("ops.exec_ms", "ms", "lower", "pass_s on ops-stream"),
    ("ops.persisted_rdds_delta", "count", "lower", "latency_tail_ms on ops-stream"),
    ("streaming.batches", "count", "lower", "pass_s on ops-stream"),
    ("streaming.batch_ms", "ms", "lower", "pass_s on ops-stream"),
    ("streaming.state_rows", "count", "lower", "pass_s on ops-stream"),
    ("streaming.active_queries_delta", "count", "lower", "failed_ratio on ops-stream"),
    ("hygiene.persisted_rdds_delta", "count", "lower", "latency_tail_ms everywhere"),
    ("hygiene.ckpt_blocks_delta", "count", "lower", "latency_tail_ms on ops-stream"),
    ("hygiene.nondaemon_threads_delta", "count", "lower", "failed_ratio everywhere"),
    ("hygiene.conf_keys_changed", "count", "lower", "failed_ratio everywhere"),
    ("fixtures.derive_s", "s", "lower", "setup_s"),
    ("fixtures.datagen_s", "s", "lower",
     "none; the lake is generated once per checkout and version, then reused"),
    ("session.start_s", "s", "lower", "setup_s"),
    ("jvm.gc_ms", "ms", "lower", "latency_tail_ms everywhere"),
    ("jvm.heap_after_gc_mb", "MB", "lower", "latency_tail_ms everywhere"),
    ("trace.overhead_ratio", "ratio", "lower", "none; it qualifies the traced numbers"),
)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_heap_gb():
    """Half of MemTotal in whole GB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


# ---------------------------------------------------------------- build

def source_files():
    """Every file the build reads, relative to ROOT."""
    out = []
    for base in ("build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/project/build.properties",
                 "perfbench/src/main"):
        p = os.path.join(ROOT, base)
        if os.path.isfile(p):
            out.append(base)
        for d, _, files in os.walk(p):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Build with sbt when a source changed; return (classpath, jvm opts,
    whether it built, stamp of the program's own sources)."""
    files = source_files()
    if not any(f.startswith("src/main/scala/graft/") for f in files) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: the program's sources (build.sbt, src/main) "
                         "are not beside perfbench/; nothing to measure")
    stamp = digest(files)
    target = os.path.join(HERE, "target")
    stamp_file = os.path.join(target, "build.stamp")
    launch = os.path.join(target, "launch.txt")
    fresh = os.path.isfile(launch) and os.path.isfile(stamp_file) and \
        open(stamp_file).read() == stamp
    if not fresh:
        sbt = shutil.which("sbt")
        if not sbt:
            raise SystemExit("perfbench: sbt not found on PATH")
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.isfile(repos):
                opts = ["-Dsbt.override.build.repos=true",
                        f"-Dsbt.repository.config={repos}"] + opts
            env["SBT_OPTS"] = " ".join(opts)
        log("building the program and the benchmark runner (sbt)")
        t0 = time.time()
        os.makedirs(target, exist_ok=True)
        with open(os.path.join(target, "build.log"), "w") as lf:
            rc = run_bounded([sbt, "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                             HERE, env, lf, BUILD_TIMEOUT_S)
        if rc != 0:
            with open(os.path.join(target, "build.log")) as lf:
                sys.stderr.write(lf.read()[-4000:])
            raise SystemExit(f"perfbench: build failed (exit {rc})")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built in {time.time() - t0:.1f} s")
    with open(launch) as f:
        lines = [l for l in f.read().split("\n") if l]
    program = digest([f for f in files if not f.startswith("perfbench/")])
    return lines[0], lines[1:], not fresh, program


def run_bounded(cmd, cwd, env, out, timeout):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it. Returns the exit code (124 on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return 124
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---------------------------------------------------------------- run

def seed_tables(seed_dir):
    """nation and region, the two fixed-size tables the lake generator
    copies rather than generates: 25 nations over 5 regions."""
    import duckdb
    os.makedirs(seed_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"""COPY (SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
        (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i))
        TO '{seed_dir}/nation.parquet' (FORMAT PARQUET)""")
    con.execute(f"""COPY (SELECT * FROM (VALUES (0, 'AFRICA'), (1, 'AMERICA'),
        (2, 'ASIA'), (3, 'EUROPE'), (4, 'MIDDLE EAST')) t(r_regionkey, r_name))
        TO '{seed_dir}/region.parquet' (FORMAT PARQUET)""")
    con.close()


def lake_dir(workload, stamp):
    """Where the generated lake of `workload` is kept between runs: one
    per workload and program version; older versions are removed."""
    name = f"lake-{workload}-{stamp[:16]}"
    target = os.path.join(HERE, "target")
    for d in os.listdir(target):
        if d.startswith(f"lake-{workload}-") and not d.startswith(name):
            shutil.rmtree(os.path.join(target, d), ignore_errors=True)
    return os.path.join(target, name)


def run_jvm(args, cp, jvm_opts, work, lake, cores, heap_gb, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    seed_tables(os.path.join(work, "seed"))
    out = os.path.join(work, "records.json")
    cmd = (["java", f"-Xmx{heap_gb}g"] + jvm_opts + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        "-cp", cp, "graft.bench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--lake", lake, "--cores", str(cores), "--out", out])
    # the program's own tuning knobs and SPARK_LOCAL_DIRS stay out of the
    # run; the two generator inputs are set here
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    env.update(SPARK_GRAFT_CPUS=str(cores),
               SPARK_GRAFT_SRC_SF_DIR=os.path.join(work, "seed"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as lf:
        rc = run_bounded(cmd, work, env, lf, max(10, deadline - time.time()))
    if rc != 0 or not os.path.isfile(out):
        with open(log_path, errors="replace") as lf:
            sys.stderr.write(lf.read()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {rc})")
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def verify(rec):
    """Oracle-check every collected output. Returns ({key: reason} for the
    mismatches, {key: result rows})."""
    import oracle
    con = oracle.connect(rec["lake"])
    bad = {}
    for v in rec["verify"]:
        reason = oracle.check(con, v)
        if reason:
            bad[v["key"]] = reason
    con.close()
    return bad, {v["key"]: len(v["rows"]) for v in rec["verify"]}


def med(xs, default=0.0):
    return stats.median(xs) if xs else default


def per_pass(calls, passes, f):
    """Median over passes of the per-pass sum of f(call)."""
    sums = {p: 0.0 for p in passes}
    for c in calls:
        sums[c["pass"]] += f(c)
    return med(list(sums.values()))


def layer_metrics(rec, rows, cores):
    traced_passes = [p["pass"] for p in rec["passes"] if p["traced"]]
    calls = [c for c in rec["calls"] if c["traced"] and c["error"] is None]
    kind = lambda *ks: [c for c in calls if c["kind"] in ks]  # noqa: E731
    span = lambda c, k: c["spans"].get(k, 0.0)  # noqa: E731
    tr = lambda c, k: c["trace"][k] if c["trace"] else 0  # noqa: E731
    hy = lambda c, k: c["hygiene"][k]  # noqa: E731
    setup = rec["setup"]
    sparqlish = kind("sparql", "sqlgen")
    sg = kind("sqlgen")
    ops = kind("op")
    busy = sum(tr(c, "task_busy_ms") for c in calls)
    wall = sum(c["wall_ms"] for c in calls)
    scanned = sum(tr(c, "rows_scanned") for c in calls)
    result = sum(rows.get(c["key"], 0) for c in calls)
    stars = [n for c in kind("sparql") for n in c["stars"]]
    untraced = [p["wall_s"] for p in rec["passes"] if not p["traced"] and p["pass"] >= 0]
    traced = [p["wall_s"] for p in rec["passes"] if p["traced"]]
    pp = lambda f: per_pass(calls, traced_passes, f)  # noqa: E731
    gap = lambda c: stats.driver_gap_ms(  # noqa: E731
        c["wall_ms"], c["t0_ms"], c["t1_ms"], tr(c, "jobs") or [])
    v = {
        "sparql.parse_ms": med([span(c, "parse") for c in sparqlish]),
        "mappings.parse_ms": med([s["mappings_parse_ms"] for s in setup]),
        "model.source_detect_ms": med([span(c, "detect") for c in kind("sparql")]),
        "model.sources_per_star": sum(stars) / len(stars) if stars else 0.0,
        "engine.build_ms": med([span(c, "build") for c in kind("sparql")]),
        "engine.sqlgen_lower_ms": med([span(c, "lower") for c in sg]),
        "engine.sqlgen_build_ms": med([max(0.0, span(c, "build") - span(c, "lower"))
                                       for c in sg]),
        "catalyst.analysis_ms": med([tr(c, "analysis_ms") + c["df_analysis_ms"]
                                     for c in calls]),
        "catalyst.optimization_ms": med([tr(c, "optimization_ms") for c in calls]),
        "catalyst.planning_ms": med([tr(c, "planning_ms") for c in calls]),
        "exec.wall_ms": med([span(c, "exec") for c in calls]),
        "exec.task_busy_s": pp(lambda c: tr(c, "task_busy_ms") / 1000.0),
        "exec.core_util": busy / (wall * cores) if wall else 0.0,
        "exec.shuffle_read_bytes": pp(lambda c: tr(c, "shuffle_read_bytes")),
        "exec.shuffle_write_bytes": pp(lambda c: tr(c, "shuffle_write_bytes")),
        "exec.spill_bytes": pp(lambda c: tr(c, "spill_bytes")),
        "exec.smj_count": pp(lambda c: tr(c, "smj")),
        "exec.bhj_count": pp(lambda c: tr(c, "bhj")),
        "exec.shj_count": pp(lambda c: tr(c, "shj")),
        "exec.input_bytes": pp(lambda c: tr(c, "input_bytes")),
        "exec.rows_scanned": pp(lambda c: tr(c, "rows_scanned")),
        "exec.result_rows": pp(lambda c: rows.get(c["key"], 0)),
        "exec.rows_scanned_per_result_row": scanned / max(1, result),
        "exec.jobs": pp(lambda c: len(tr(c, "jobs") or [])),
        "exec.stages": pp(lambda c: tr(c, "stages")),
        "exec.tasks": pp(lambda c: tr(c, "tasks")),
        "exec.driver_gap_ms": pp(gap),
        "ops.build_ms": med([span(c, "build") for c in ops]),
        "ops.exec_ms": med([span(c, "exec") for c in ops]),
        "ops.persisted_rdds_delta": per_pass(ops, traced_passes,
                                             lambda c: hy(c, "persisted_rdds")),
        "streaming.batches": pp(lambda c: tr(c, "batches")),
        "streaming.batch_ms": pp(lambda c: tr(c, "batch_ms")),
        "streaming.state_rows": pp(lambda c: tr(c, "state_rows")),
        "streaming.active_queries_delta": per_pass(
            kind("stream"), traced_passes, lambda c: hy(c, "active_queries")),
        "hygiene.persisted_rdds_delta": pp(lambda c: hy(c, "persisted_rdds")),
        "hygiene.ckpt_blocks_delta": pp(lambda c: hy(c, "ckpt_blocks")),
        "hygiene.nondaemon_threads_delta": pp(lambda c: hy(c, "nondaemon_threads")),
        "hygiene.conf_keys_changed": pp(lambda c: hy(c, "conf_keys_changed")),
        "fixtures.derive_s": med([s["derive_s"] for s in setup]),
        "fixtures.datagen_s": med([s["datagen_s"] for s in setup]),
        "session.start_s": med([s["session_s"] for s in setup]),
        "jvm.gc_ms": med([p["gc_ms"] for p in rec["passes"] if p["traced"]]),
        "jvm.heap_after_gc_mb": max(p["heap_after_gc_mb"] for p in rec["passes"]),
        "trace.overhead_ratio": med(traced) / med(untraced) if untraced else 0.0,
    }
    return {name: (v[name], unit) for name, unit, _, _ in LAYERS}


def end_to_end_metrics(rec, attempted, failed):
    passes = [p for p in rec["passes"] if p["pass"] >= 0 and not p["traced"]]
    lat = [c["wall_ms"] for c in rec["calls"]
           if c["pass"] >= 0 and not c["traced"] and c["error"] is None]
    t = stats.tail(lat) if lat else None
    setup = stats.median([s["total_s"] for s in rec["setup"]]) + rec["warmup_s"]
    v = {
        "setup_s": setup,
        "pass_s": stats.median([p["wall_s"] for p in passes]),
        "latency_p50_ms": stats.median(lat) if lat else 0.0,
        "latency_tail_ms": t[1] if t else (max(lat) if lat else 0.0),
        "cpu_s": stats.median([p["cpu_s"] for p in passes]),
    }
    # failed_ratio is 0 whenever the run succeeds, so it is not a
    # BENCHMARK.json metric (those must never be 0); it is reported here
    detail = {"latency_tail_pct": t[0] if t else 100.0, "latency_samples": len(lat),
              "passes": len(passes),
              "failed_ratio": {"value": failed / attempted, "unit": "ratio"}}
    return {name: (v[name], unit) for name, unit, _ in END_TO_END}, detail


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()
    cp, jvm_opts, built, stamp = build()
    cores, heap_gb = host_cores(), host_heap_gb()
    work = os.path.join(HERE, "target", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # a run that had to build first starts its clock after the build
        deadline = (time.time() if built else t_start) + RUN_TIMEOUT_S
        rec = run_jvm(args, cp, jvm_opts, work, lake_dir(args.workload, stamp),
                      cores, heap_gb, deadline)
        bad, rows = verify(rec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    errors = {c["key"]: c["error"] for c in rec["calls"] if c["error"]}
    for k, why in sorted({**bad, **errors}.items()):
        log(f"FAIL {k}: {why}")
    attempted = len(rec["calls"])
    failed = sum(1 for c in rec["calls"] if c["error"] or c["key"] in bad)
    correct = failed == 0
    if args.trace:
        metrics = layer_metrics(rec, rows, cores)
        detail = {"should_move": {name: moves for name, _, _, moves in LAYERS}}
    else:
        metrics, detail = end_to_end_metrics(rec, attempted, failed)
    detail.update({"workload": args.workload, "seed": args.seed, "cores": cores,
                   "heap_gb": heap_gb, "scale": rec["scale"],
                   "verified_outputs": len(rec["verify"]), "oracle_mismatches": len(bad)})
    print(json.dumps({"detail": detail}))
    print(stats.result_line(correct, attempted, failed, metrics))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
