#!/usr/bin/env python3
"""Benchmark of the engine's batch, streaming and curation layers.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (once per source change),
makes the seeded input tables, runs the workload in one JVM
(`perfbench.Harness`), checks every query's output against DuckDB, and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Each workload: its queries in registry-name form, the hot input tables its
# set-up caches, whether every pass runs in a fresh SparkContext (cold), the
# set-ups before the warm-up (a cold workload also sets up before every
# pass), the warm-up passes, and the seconds one timed pass (with its set-up,
# if cold) takes on the reference host. A run makes --seconds / pass_s timed
# passes, at least three: a fixed count, so that a slow host does not take
# its median from earlier, less warm passes.
WORKLOADS = {
    # The reference pipeline in one warm session: its per-airline batch
    # aggregation, the HLL sketch query, a partitioned ETL write and its
    # streaming windowed distinct count.
    "flight_pipeline": dict(
        queries=["q01_supplier_stats", "q18_windowed_approx_distinct",
                 "q30_etl_year_partition", "q32_stream_windowed_distinct"],
        tables=["lineitem", "orders", "events"],
        cold=False, setups=3, warmup=2, pass_s=4.0),
    # Corpus curation with every session memo missed: the tokenized-corpus
    # artifact, the connected-components loop with its lineage cuts, and
    # the rank/median family behind the MAD gate.
    "curation_cold": dict(
        queries=["q79_dedup_clusters", "q152_mad_outlier_gate"],
        tables=["documents"],
        cold=True, setups=1, warmup=2, pass_s=5.5),
}
# The tables each streaming query's replay reads.
STREAM_REPLAYS = {"q32_stream_windowed_distinct": ["events"]}
APPROX_QUERY = "q18_windowed_approx_distinct"

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("cached_mb", "MB")]
LAYER_UNITS = {
    "sources.warm_s": "s", "sources.cached_mb": "MB", "sources.partitions": "count",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.exec_s": "s", "queries.exec_jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.cpu_s": "s", "spark.core_util": "ratio",
    "spark.job_overlap": "ratio", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.cut_jobs": "count", "spark.cut_s": "s",
    "artifacts.build_s": "s", "artifacts.mb": "MB",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.planning_s": "s", "streaming.wal_s": "s", "streaming.commit_s": "s",
    "streaming.offsets_s": "s", "streaming.outside_s": "s",
    "streaming.rows_per_s": "1/s", "streaming.state_rows": "count",
    "streaming.state_mb": "MB", "trace.overhead_s": "s",
}
ALL_QUERIES = [q for w in WORKLOADS.values() for q in w["queries"]]
for _q in ALL_QUERIES:
    LAYER_UNITS[f"query.{_q}_s"] = "s"

JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HARNESS_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.insert(1, f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(target, cores):
    """Compiles engine + harness into one jar with sbt, then records a JVM
    class-data archive from one untimed pass of every workload, so that
    each run's JVM maps the classes it loads instead of parsing them. Both
    are redone when any source changed."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(target, "build.stamp")
    jar = os.path.join(target, "perfbench.jar")
    archive = os.path.join(target, "perfbench.jsa")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return jar, archive
    if shutil.which("sbt") is None:
        fail("sbt not found")
    os.makedirs(target, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    log = os.path.join(target, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed")
    train = os.path.join(target, "train")
    shutil.rmtree(train, ignore_errors=True)
    import datagen
    datagen.write(os.path.join(train, "data"), 0)
    every = dict(queries=ALL_QUERIES, cold=False, setups=1, warmup=1,
                 tables=sorted({t for w in WORKLOADS.values() for t in w["tables"]}))
    if os.path.exists(archive):
        os.remove(archive)
    run_harness([f"-XX:ArchiveClassesAtExit={archive}"], jar, train, every,
                argparse.Namespace(seed=0, trace=0), 0, cores)
    if not os.path.exists(archive):
        fail("no class-data archive written")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return jar, archive


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation (set SPARK_HOME)")
    return os.path.join(home, "jars", "*")


def host_sample():
    """CPU steal ticks and load average, read-only diagnostics."""
    try:
        with open("/proc/stat") as fh:
            cpu = fh.readline().split()
        with open("/proc/loadavg") as fh:
            load = fh.read().split()[:3]
        total = sum(int(x) for x in cpu[1:9])
        return {"steal": int(cpu[8]), "total": total, "loadavg": [float(x) for x in load]}
    except (OSError, IndexError, ValueError):
        return None


def run_harness(jvm_opts, jar, run_dir, wl, args, passes, cores):
    """Runs the harness in `run_dir` on `run_dir/data`; returns result.json."""
    out_dir = os.path.join(run_dir, "out")
    # No JVM perf-data file and no SPARK_LOCAL_DIRS: the run writes only
    # under run_dir.
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", *jvm_opts, *JDK17_OPENS,
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-cp", jar + os.pathsep + spark_jars(), "perfbench.Harness",
           f"data={run_dir}/data", f"out={out_dir}", f"queries={','.join(wl['queries'])}",
           f"tables={','.join(wl['tables'])}",
           f"cold={'true' if wl['cold'] else 'false'}", f"seed={args.seed}",
           f"trace={args.trace}", f"setups={wl['setups']}", f"warmup={wl['warmup']}",
           f"passes={passes}", f"cores={cores}"]
    os.makedirs(os.path.join(run_dir, "tmp"))
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as out:
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    result = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"harness {'timed out' if rc is None else f'exited with {rc}'}")
    with open(result) as fh:
        return json.load(fh)


def run_checks(data_dir, out_dir, wl, res):
    """Returns (attempted, failed, wrong): one check per oracle query, the
    q18 error-band check, one input-row check per streaming query. A query
    that raised fails its checks; a check whose output differs is wrong."""
    import check
    con = check.connect(data_dir)
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    attempted, failed, wrong = 0, [], []
    for q in wl["queries"]:
        checks = []
        if q == APPROX_QUERY:
            checks.append(("approx", lambda q=q: check.check_q18(
                con, os.path.join(out_dir, "results", q))))
        else:
            checks.append(("oracle", lambda q=q: check.check_oracle(
                con, oracle[q], os.path.join(out_dir, "results", q))
                if q in oracle else "no oracle SQL"))
        if q in STREAM_REPLAYS:
            checks.append(("input_rows", lambda q=q: check.check_stream_rows(
                con, STREAM_REPLAYS[q], res["stream_input_rows"].get(q, 0))))
        for kind, fn in checks:
            attempted += 1
            if q in res["failed"]:
                failed.append(f"{q} {kind}: {res['failed'][q]}")
                continue
            reason = fn()
            if reason:
                wrong.append(f"{q} {kind}: {reason}")
    con.close()
    return attempted, failed, wrong


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    timed = [p for p in res["passes"] if p["kind"] == "timed"]
    plain = [p["wall_s"] for p in timed if not p["traced"]]
    return {"setup_s": median(res["setups_s"]), "pass_s": median(plain),
            "cached_mb": timed[-1]["cached_mb"]}


def per_layer(res, wl):
    passes = res["passes"]
    timed = [p for p in passes if p["kind"] == "timed"]
    traced = [p for p in timed if p["traced"]]
    plain = [p["wall_s"] for p in timed if not p["traced"]]
    m = {}
    for k in traced[0]["layers"]:
        m[k] = median([p["layers"][k] for p in traced])
    m["sources.warm_s"] = median(res["sources_warm_s"])
    m["sources.cached_mb"] = res["input_mb"]
    m["sources.partitions"] = res["input_partitions"]
    if wl["cold"]:
        # Each traced cold pass is followed by a warm pass in its context.
        pairs = [(p, passes[i + 1]) for i, p in enumerate(passes)
                 if p["kind"] == "timed" and p["traced"]]
        m["artifacts.build_s"] = median([c["wall_s"] - w["wall_s"] for c, w in pairs])
    else:
        # A warm session builds its artifacts in the untimed warm-up pass.
        m["artifacts.build_s"] = 0.0
    m["artifacts.mb"] = timed[-1]["cached_mb"] - res["input_mb"]
    m["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - median(plain)
    for q in ALL_QUERIES:
        m[f"query.{q}_s"] = median([p["queries"][q]["build_s"] + p["queries"][q]["exec_s"]
                                    for p in timed if q in p["queries"]])
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ROOT}")
    if shutil.which("java") is None:
        fail("java not found")
    target = os.path.join(HERE, "target")
    cores = len(os.sched_getaffinity(0))
    jar, archive = build(target, cores)

    run_dir = os.path.join(target, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    out_dir = os.path.join(run_dir, "out")
    import datagen
    datagen.write(data_dir, args.seed)
    host0 = host_sample()
    passes = max(3, round(args.seconds / wl["pass_s"]))
    res = run_harness([f"-XX:SharedArchiveFile={archive}"], jar, run_dir, wl, args, passes,
                      cores)
    host1 = host_sample()
    attempted, failed, wrong = run_checks(data_dir, out_dir, wl, res)

    if args.trace:
        values, units = per_layer(res, wl), LAYER_UNITS
    else:
        values, units = end_to_end(res), dict(END_TO_END)
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    diag = {"workload": args.workload, "seed": args.seed, "cores": cores,
            "order": res["order"], "failed": failed, "wrong": wrong,
            "passes": [(p["kind"], p["traced"], round(p["wall_s"], 3)) for p in res["passes"]]}
    if host0 and host1:
        ticks = max(1, host1["total"] - host0["total"])
        diag["steal_share"] = (host1["steal"] - host0["steal"]) / ticks
        diag["loadavg"] = host1["loadavg"]
    with open(os.path.join(run_dir, "diagnostics.json"), "w") as fh:
        json.dump(diag, fh, indent=1)
    for line in failed + wrong:
        print(f"perfbench: {line}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed={args.seed} passes={diag['passes']} "
          f"steal={diag.get('steal_share', 'n/a')} loadavg={diag.get('loadavg', 'n/a')}",
          file=sys.stderr)
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": not wrong, "attempted": attempted, "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
