#!/usr/bin/env python3
"""Benchmark of the graft streaming pipeline and its query plane.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--results <file>]

Run from the repository root. The first run builds the library and the
harness from source with sbt (offline) and caches the classpath under
benchmark/target; later runs start the harness JVM directly. Inputs are
made from --seed; every output is checked; the last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
A result file describing the run (environment, samples, checks) goes to
--results, or to benchmark/results/<workload>-s<seed>-t<trace>.json.
See benchmark/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target", "bench-build")
HEAP = "3g"
WARM_SF = 0.001
RUN_LIMIT_S = 165

# workload -> query-table scale factor (None: the ingest workloads make
# their own wire files inside the JVM)
WORKLOADS = {
    "ingest_backlog": None,
    "ingest_paced": None,
    "query_light": 0.01,
    "query_loops": 0.01,
}

# queries of the mixes that scan the events table (for events_per_s)
EVENT_QUERIES = {
    "q_event_pipeline", "q_event_summary", "q_quality_histogram", "q_verification_count",
    "q_health_check", "q_type_counts", "q_hourly_counts", "q_dashboard_metrics",
    "q_recent_events", "q_tumbling_counts", "q_sliding_counts", "q_value_stats",
    "q_dbscan", "q_entity_resolution", "q_golden_records", "q_pagerank"}
UNITS = {"events_per_s": "events/s", "freshness_p50_ms": "ms", "freshness_p99_ms": "ms",
         "query_p50_ms": "ms", "query_p90_ms": "ms", "queries_per_s": "queries/s",
         "setup_s": "s", "peak_rss_mb": "MB"}

_QUERY_LAYERS = ["build_ms", "build_jobs", "analysis_ms", "optimization_ms", "planning_ms",
                 "execute_ms", "jobs", "stages", "tasks", "task_ms", "core_util",
                 "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "result_rows"]
# Every traced run reports all of these; a layer the workload does not
# exercise (the query plane on an ingest workload, say) reports 0.
PER_LAYER = (
    ["pipeline.parse_ms", "pipeline.validate_ms", "pipeline.enrich_ms", "pipeline.accept_ms",
     "pipeline.dead_letter_ms", "pipeline.rows_in", "pipeline.rows_accepted"]
    + [f"pipeline.rejected.{r}" for r in
       ["corrupt_json", "missing_required_field", "low_quality", "unparseable_timestamp"]]
    + ["pipeline.single_core_events_per_s"]
    + [f"stream.{p}_ms.{s}" for p in ["latest_offset", "get_batch", "query_planning",
                                      "add_batch", "wal_commit", "commit_offsets", "trigger"]
       for s in ["p50", "sum"]]
    + ["stream.batches", "stream.rows_per_batch_p50", "stream.reads_per_event",
       "sink.files", "sink.bytes_per_event", "sink.files_per_batch",
       "lifecycle.dropped_rows", "lifecycle.dlq_rows"]
    + [f"query.{k}" for k in _QUERY_LAYERS] + [f"loops.{k}" for k in _QUERY_LAYERS]
    + [f"self.{k}_ms" for k in ["query", "build", "execute", "job", "stage", "batch"]]
    + ["trace.overhead_pct", "trace.spans"])


def layer_unit(name):
    if name.startswith("gen."):
        return "ms"
    special = {"pipeline.single_core_events_per_s": "events/s",
               "stream.reads_per_event": "reads/event", "sink.bytes_per_event": "bytes/event",
               "sink.files_per_batch": "files/batch", "trace.overhead_pct": "%"}
    if name in special:
        return special[name]
    if name.endswith("_ms") or "_ms." in name:
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("core_util"):
        return "ratio"
    if "rows" in name or name.startswith("pipeline.rejected"):
        return "rows"
    return "count"


def fail(msg):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library + harness once per source state; return the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("library sources (src/main/scala/graft) not found; run from the repository root")
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BUILD_DIR, "classpath.txt"), os.path.join(BUILD_DIR, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=880)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def java_cmd(cp, work, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # A fixed, pre-touched heap, as JVM benchmarks are usually run. A heap
    # grown on demand grows by GC-timing decisions, which moved peak RSS by
    # a quarter between runs of the same code; with a fixed heap, peak RSS
    # is the heap plus the JVM's native memory, and only the latter moves.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graft.bench.Main"] + args


def cpu_ticks():
    """Aggregate /proc/stat CPU ticks: (total, steal)."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return sum(f), f[7]
    except (OSError, IndexError, ValueError):
        return None


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return None


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def percentile(values, p):
    """Percentile at the highest level <= p that keeps at least 10 samples
    beyond it, but never below the median; returns (value, level used,
    samples). The value is the Harrell-Davis estimate: a mean of all the
    order statistics weighted by a Beta(level*(n+1), (1-level)*(n+1))
    distribution, which varies far less from run to run than the single
    order statistic of a nearest-rank percentile."""
    xs, n = sorted(values), len(values)
    if n == 0:
        return None, None, 0
    level = max(0.5, min(p, 1.0 - 10.0 / n))
    if n == 1:
        return xs[0], level, n
    # a, b >= 1.5 here, so the density is finite on [0, 1]
    a, b = level * (n + 1), (1.0 - level) * (n + 1)
    t = numpy.linspace(0.0, 1.0, 100001)
    with numpy.errstate(divide="ignore"):
        log_pdf = (a - 1) * numpy.log(t) + (b - 1) * numpy.log1p(-t)
    pdf = numpy.exp(log_pdf - log_pdf.max())
    cdf = numpy.concatenate([[0.0], numpy.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    weights = numpy.diff(numpy.interp(numpy.arange(n + 1) / n, t, cdf / cdf[-1]))
    return float(numpy.dot(weights, xs)), level, n


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--results", help="result file to write (default under benchmark/results)")
    a = ap.parse_args()
    if a.results and os.path.basename(a.results) == "BENCH_RESULTS.json":
        fail("refusing to overwrite BENCH_RESULTS.json, the suite's artifact of record")

    cp = build()
    t_start = time.time()  # the time limit starts after a (first-run) build
    cpus = len(os.sched_getaffinity(0))
    sf = WORKLOADS[a.workload]
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data, warm = os.path.join(work, "data"), os.path.join(work, "warm-data")
    try:
        steps = {}
        t = time.time()
        if sf is not None:
            sys.path.insert(0, HERE)
            import tables
            tables.write_tables(data, sf, a.seed)
            tables.write_tables(warm, WARM_SF, a.seed)
        steps["inputs_s"] = time.time() - t
        load_before, ticks_before = loadavg(), cpu_ticks()
        out = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cpus", str(cpus), "--work", work,
                "--data", data, "--warm-data", warm, "--out", out]
        budget = max(30.0, RUN_LIMIT_S - (time.time() - t_start))
        p = subprocess.Popen(java_cmd(cp, work, args), cwd=work,
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        try:
            log, _ = p.communicate(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            log, _ = p.communicate()
            sys.stderr.write(log[-6000:])
            fail(f"harness exceeded {budget:.0f} s")
        load_after, ticks_after = loadavg(), cpu_ticks()
        # share of CPU time the hypervisor gave to other guests during the run
        steal = (100.0 * (ticks_after[1] - ticks_before[1]) / (ticks_after[0] - ticks_before[0])
                 if ticks_before and ticks_after and ticks_after[0] > ticks_before[0] else None)
        steps["jvm_s"] = time.time() - t - steps["inputs_s"]
        if p.returncode != 0 or not os.path.isfile(out):
            sys.stderr.write(log[-6000:])
            fail(f"harness exited with code {p.returncode}")
        r = json.load(open(out))

        failures = list(r["failures"])
        verdicts = {}
        failed = r["failed"]
        t = time.time()
        for res in sorted(glob.glob(os.path.join(work, "results-*"))):
            oracle = json.load(open(os.path.join(res, "oracle_sql.json")))
            verdicts.update(tables.check_results(open(os.path.join(res, "data_dir")).read(),
                                                 res, oracle))
        steps["oracle_s"] = time.time() - t
        for q, why in sorted(verdicts.items()):
            if why is not None:
                bad = sum(1 for c in r["calls"] if c["query"] == q and c["ok"])
                failed += bad
                failures.append(f"{q}: oracle mismatch ({why}); {bad} calls")
        details = {}
        e2e = {"setup_s": statistics.median(r["setup_s"]), "peak_rss_mb": r["peak_rss_mb"]}
        samples = dict(r["samples"])
        if sf is not None:
            # a query call is the operation; its input is ready when the
            # call starts, so its freshness is its latency
            good = [c for c in r["calls"] if c["ok"] and verdicts.get(c["query"]) is None]
            samples["op_ms"] = samples["freshness_ms"] = [c["ms"] for c in good]
            # the rates are taken per pass and reported as the median
            # pass, so one pass slowed by the host does not move them
            events = tables.rows(sf)["events"]
            samples["ops_per_s"], samples["events_per_s"] = [], []
            for n in sorted({c["pass"] for c in good}):
                calls = [c for c in good if c["pass"] == n]
                seconds = sum(c["ms"] for c in calls) / 1000.0
                scanned = events * sum(1 for c in calls if c["query"] in EVENT_QUERIES)
                samples["ops_per_s"].append(len(calls) / seconds)
                samples["events_per_s"].append(scanned / seconds)
        for name, key, p in [("query_p50_ms", "op_ms", 0.5), ("query_p90_ms", "op_ms", 0.9),
                             ("freshness_p50_ms", "freshness_ms", 0.5),
                             ("freshness_p99_ms", "freshness_ms", 0.99)]:
            e2e[name], lvl, n = percentile(samples.get(key, []), p)
            details[name] = {"percentile": lvl, "samples": n}
        for name, key in [("events_per_s", "events_per_s"), ("queries_per_s", "ops_per_s")]:
            e2e[name] = statistics.median(samples[key]) if samples.get(key) else None

        if a.trace:
            layers = r["layers"]
            metrics = {k: {"value": layers.get(k) if layers.get(k) is not None else 0.0,
                           "unit": layer_unit(k)} for k in PER_LAYER}
        else:
            metrics = {k: {"value": e2e.get(k), "unit": u} for k, u in UNITS.items()}
        line = {"correct": failed == 0 and r["attempted"] > 0, "attempted": r["attempted"],
                "failed": failed, "metrics": metrics}

        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "traced": bool(a.trace),
            "git_sha": git_sha(), "source_stamp": open(os.path.join(BUILD_DIR, "stamp")).read(),
            "sf": sf, "warm_sf": WARM_SF if sf is not None else None, "cpus": cpus,
            "heap": HEAP, "heap_mb": r["heap_mb"], "jvm": r["jvm"], "spark": r["spark"],
            "loadavg_before": load_before, "loadavg_after": load_after, "cpu_steal_pct": steal,
            "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(t_start)),
            "wall_s": time.time() - t_start, "result": line, "end_to_end": e2e,
            "percentiles": details, "setup_s": r["setup_s"],
            "phases_s": dict(r["phases_s"], **steps), "failures": failures,
            "oracle": verdicts, "layers": r["layers"], "detail": r["detail"],
            "samples": samples, "calls": r["calls"],
        }
        path = a.results or os.path.join(
            HERE, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json")
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        with open(path, "w") as f:
            json.dump(record, f, indent=1)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            shutil.copy(spans, os.path.splitext(path)[0] + ".spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
