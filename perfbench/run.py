#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

From the root of a checkout: builds the engine and the harness from
source when they changed (sbt, offline), runs the workload in its own
JVM at local[N] with N = min(4, cores), compares every checked output
with its DuckDB oracle, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. The full record (per-query build and
execute seconds, per-pass load, steal and calibration spin, sample counts,
check verdicts) goes to .bench_build/perfbench/<workload>-s<seed>-t<trace>.json.
Exits 1 when an output check fails, 2 when it cannot run at all.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
ENGINE = os.path.join(ROOT, "src", "main")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
CHECK = os.path.join(ROOT, "tools", "check.py")
JVM_TIMEOUT_S = 150
CHECK_TIMEOUT_S = 20
BUILD_TIMEOUT_S = 840
MAX_CORES = 4

sys.path.insert(0, HERE)
import stats  # noqa: E402


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation: set SPARK_HOME")
    return home


def source_digest():
    """Hash of every input of the build, so an unchanged checkout skips it."""
    h = hashlib.sha256()
    roots = [ENGINE, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(env):
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return
    if not shutil.which("sbt"):
        die("sbt not found")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"build failed (sbt exit {rc}); log in {log}")
    with open(stamp, "w") as f:
        f.write(digest)


def tool_env():
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


# Spark on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def run_jvm(args, out, env):
    with open(CLASSPATH) as f:
        cp = os.pathsep.join(line.strip() for line in f if line.strip())
    cores = min(MAX_CORES, os.cpu_count() or 1)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # C1 only: C2's profile-driven compiles gave each JVM its own speed
    # (flagship runs up to 30% apart with no steal), while C1's code runs
    # the same from one JVM to the next (see METRICS.md). Without tiers
    # the code cache shrinks to 48 MB, which the stream mix's freshly
    # generated classes fill by its fourth pass; keep the tiered size.
    cmd += ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
    cmd += ["-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--out", out, "--cores", str(cores)]
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=out, env=env, stdout=lf,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)

        def stop(signum, frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)

        # A stopped benchmark leaves no JVM behind.
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    raw = os.path.join(out, "raw.json")
    if rc != 0 or not os.path.exists(raw):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"harness failed ({rc}); log in {log}", code=1)
    with open(raw) as f:
        return json.load(f)


def oracle_verdicts(check_dir, env):
    """{query: status} from the repository's tools/check.py, which
    compares each checked output with its DuckDB oracle; {} when the
    workload wrote no checked outputs (the flagship checks its own)."""
    if not os.path.exists(os.path.join(check_dir, "oracle_sql.json")):
        return {}
    target = os.path.join(check_dir, "verdicts.json")
    p = subprocess.run(
        [sys.executable, CHECK, "--json", target, check_dir, DATA],
        cwd=ROOT, env=env, capture_output=True, text=True,
        stdin=subprocess.DEVNULL, timeout=CHECK_TIMEOUT_S)
    # check.py exits 1 on any mismatch; the verdicts say which
    if not os.path.exists(target):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        die(f"tools/check.py wrote no verdicts (exit {p.returncode})", code=1)
    with open(target) as f:
        return json.load(f)


def ok(record):
    return record.get("error") is None


def latencies(passes):
    """{query: [seconds of each successful run]} over the given passes."""
    out = {}
    for p in passes:
        for q in p["queries"]:
            if ok(q):
                out.setdefault(q["name"], []).append(q["build_s"] + q["exec_s"])
    return out


def pass_wall(passes):
    """One pass's wall time: the sum of each query's median latency."""
    return sum(statistics.median(v) for v in latencies(passes).values())


def timings(passes):
    """Pass wall time and per-query latency percentiles."""
    samples = [s for v in latencies(passes).values() for s in v]
    return {
        "wall_s": pass_wall(passes),
        "p50_s": stats.percentile(samples, 50),
        "p90_s": stats.percentile(samples, 90),
    }


def end_to_end(raw, passes):
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "wall_s": pass_wall(passes),
        "driver_heap_mb": raw["heap_mb"],
    }


def per_layer(raw, bare, traced):
    def med(f):
        return statistics.median(f(p) for p in traced)

    def layer(key):
        return med(lambda p: p["layers"][key])

    def query_sum(f):
        return med(lambda p: sum(f(q) for q in p["queries"]))

    def build_counter(key):
        return med(lambda p: sum(v["build"][key] for v in p["query_layers"].values()))

    flagship = [q for p in traced for q in p["queries"]
                if q["name"] == "okcupid_pipeline" and ok(q)]

    def stage(name):
        return statistics.median(q["stages"][name] for q in flagship) if flagship else 0.0

    conf_changes = sum(q.get("conf_changes", 0) for q in raw["check"]) + sum(
        q.get("conf_changes", 0) for p in traced for q in p["queries"])
    busy = sum(p["layers"]["task_run_ms"] for p in traced) / 1e3
    wall = sum(p["wall_s"] for p in traced)
    probes = raw["probes"]
    everything = raw["passes"]
    t = timings(bare)
    m = {"queries.p50_s": t["p50_s"], "queries.p90_s": t["p90_s"]}
    m.update({
        "queries.build_s": query_sum(lambda q: q.get("build_s", 0.0)),
        "queries.exec_s": query_sum(lambda q: q.get("exec_s", 0.0)),
        "queries.build_jobs": build_counter("jobs"),
        "queries.conf_changes": conf_changes,
        "queries.trace_overhead_s": pass_wall(traced) - pass_wall(bare),
        "spark.jobs": layer("jobs"),
        "spark.stages": layer("stages"),
        "spark.tasks": layer("tasks"),
        "spark.failed_tasks": layer("failed_tasks"),
        "spark.core_busy_frac": busy / (raw["cores"] * wall),
        "spark.gc_s": med(lambda p: p["gc_s"]),
        "spark.codegen_compiles": med(lambda p: p["codegen_compiles"]),
        "spark.spill_bytes": layer("spill_bytes"),
        "exchange.shuffle_write_bytes": layer("shuffle_write_bytes"),
        "exchange.shuffle_read_bytes": layer("shuffle_read_bytes"),
        "exchange.fetch_wait_s": layer("fetch_wait_ms") / 1e3,
        "tables.scan_s": sum(probes["scan_s"].values()),
        "tables.input_bytes": probes["scan"]["input_bytes"],
        "tables.input_rows": probes["scan"]["input_rows"],
        "sources.write_s": sum(probes["write_s"].values()),
        "sources.output_bytes": probes["write"]["output_bytes"],
        "sources.output_rows": probes["write"]["output_rows"],
        "okcupid.featurize_s": stage("featurize"),
        "okcupid.fit_s": stage("fit"),
        "okcupid.prune_eval_s": stage("prune_eval"),
        "okcupid.tree_accuracy":
            statistics.median(q["accuracy"] for q in flagship) if flagship else 0.0,
        "streaming.history_s": query_sum(
            lambda q: q.get("build_s", 0.0) if q["name"].startswith("q_stream_") else 0.0),
        "streaming.queries": layer("streams"),
        "driver.result_bytes": layer("result_bytes"),
        "host.load_1m": statistics.median(p["load1"] for p in everything),
        "host.spin_ms": statistics.median(p["spin_ms"] for p in everything),
        "host.steal_s": statistics.median(p["steal_s"] for p in everything),
    })
    m.update(raw["kernels"])
    return m


def query_table(passes):
    """Per-query medians of build, execute and total seconds."""
    rows = {}
    for p in passes:
        for q in p["queries"]:
            if ok(q):
                r = rows.setdefault(q["name"], {"build_s": [], "exec_s": []})
                r["build_s"].append(q["build_s"])
                r["exec_s"].append(q["exec_s"])
    return {name: {"runs": len(r["build_s"]),
                   "build_s": statistics.median(r["build_s"]),
                   "exec_s": statistics.median(r["exec_s"]),
                   "latency_s": statistics.median(
                       b + e for b, e in zip(r["build_s"], r["exec_s"]))}
            for name, r in sorted(rows.items())}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    if not (os.path.exists(os.path.join(ENGINE, "scala", "graft", "SparkEntry.scala"))
            and os.path.exists(CHECK)):
        die(f"no engine sources under {ENGINE} or no {CHECK}: run from a full checkout")
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    with open(bench_file) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {args.workload}")
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    os.makedirs(WORK, exist_ok=True)
    env = tool_env()
    t0 = time.monotonic()
    build(env)
    build_s = time.monotonic() - t0

    out = os.path.join(WORK, f"run-{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    raw = run_jvm(args, out, env)

    # Output checks, outside the timed region.
    verdicts = oracle_verdicts(os.path.join(out, "check"), env)
    records = raw["check"] + [
        q for p in raw["warmup"] + raw["passes"] for q in p["queries"]]
    attempted = len(records)
    failed = sum(not ok(q) for q in records) + sum(
        1 for q in raw["check"] if ok(q) and verdicts.get(q["name"], "OK") != "OK")

    passes = raw["passes"]
    bare = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    samples = [s for v in latencies(bare).values() for s in v]
    e2e = end_to_end(raw, bare)
    layers = per_layer(raw, bare, traced) if args.trace else {}
    values = layers if args.trace else e2e
    names = {m["name"] for m in declared}
    if set(values) != names:
        die(f"metrics {sorted(set(values) ^ names)} differ from {bench_file}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}

    tail = stats.supported_percentile(len(samples))
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cores": raw["cores"], "build_s": build_s,
        "end_to_end": e2e, "timings": timings(bare), "per_layer": layers,
        "samples": len(samples),
        "supported_tail": None if tail is None else {
            "percentile": tail, "value_s": stats.percentile(samples, tail)},
        "setup_s": raw["setup_s"], "check_s": raw["check_s"], "run_s": raw["run_s"],
        "queries": query_table(bare),
        "queries_traced": query_table(traced),
        "passes": [{k: p[k] for k in ("index", "traced", "load1", "spin_ms",
                                      "wall_s", "gc_s", "jit_s", "steal_s",
                                      "codegen_compiles")}
                   for p in raw["warmup"] + passes],
        "errors": {q["name"]: q["error"] for q in records if not ok(q)},
        "oracle": verdicts,
        "raw": raw,
    }
    with open(os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)

    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
