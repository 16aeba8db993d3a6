"""graft benchmark: four workloads through the engine's public entry points.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness (perfbench/build.py), generates the
workload's inputs from the seed, runs one JVM (Spark local[n], n <= nproc)
that sets up, warms up and then runs the closed loop for --seconds, checks
the outputs against DuckDB/numpy references, and prints one JSON object as
the last line of stdout. With --trace 1 the run also replays the same steps
with spans and Spark listeners attached and reports per-layer metrics.
Exit code 0: correct; 1: an output differs from its reference; 2: build or
run failure (no result line).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import reference  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = [  # name, unit, direction: the gated metrics, same on every workload
    ("setup_s", "s", "lower"),
    ("step_p50_s", "s", "lower"),
    ("quality", "ratio", "higher"),
    ("lake_bytes_ratio", "ratio", "lower"),
    ("peak_rss_mb", "MiB", "lower"),
]

PER_LAYER = [
    ("planner.chunks", "count", "lower"), ("planner.plan_s", "s", "lower"),
    ("sources.boundary_s", "s", "lower"), ("sources.boundary_jobs", "count", "lower"),
    ("sources.rows_read", "count", "lower"), ("sources.read_amp", "ratio", "lower"),
    ("ingest.chunk_p50_s", "s", "lower"), ("ingest.chunk_tail_s", "s", "lower"),
    ("ingest.jobs_per_chunk", "count", "lower"), ("ingest.driver_gap_s", "s", "lower"),
    ("ingest.retries", "count", "lower"),
    ("streaming.microbatches", "count", "lower"), ("streaming.trigger_ms", "ms", "lower"),
    ("streaming.addbatch_ms", "ms", "lower"), ("streaming.overhead_ms", "ms", "lower"),
    ("streaming.jobs", "count", "lower"),
    ("operators.rows_in", "count", "higher"), ("operators.rows_out", "count", "higher"),
    ("operators.dedup_ratio", "ratio", "higher"),
    ("operators.shuffle_write_bytes", "bytes", "lower"), ("operators.jobs", "count", "lower"),
    ("sinks.append_files", "count", "lower"), ("sinks.append_bytes", "bytes", "lower"),
    ("sinks.merge_s", "s", "lower"), ("sinks.merge_jobs", "count", "lower"),
    ("sinks.merge_bytes_written", "bytes", "lower"), ("sinks.write_amp", "ratio", "lower"),
    ("sinks.trusted_files", "count", "lower"), ("sinks.refresh_s", "s", "lower"),
    ("sinks.refresh_bytes_written", "bytes", "lower"),
    ("ext.shuffle_write_bytes", "bytes", "lower"), ("ext.executor_cpu_s", "s", "lower"),
    ("ext.ann_jobs_per_query", "count", "lower"), ("ext.ann_driver_gap_s", "s", "lower"),
    ("ext.ann_cells_probed", "count", "lower"),
    ("ext.ann_rows_scored_per_query", "count", "lower"),
    ("core.jobs", "count", "lower"), ("core.stages", "count", "lower"),
    ("core.tasks", "count", "lower"), ("core.driver_gap_s", "s", "lower"),
    ("core.executor_run_s", "s", "lower"), ("core.executor_cpu_s", "s", "lower"),
    ("core.gc_s", "s", "lower"), ("core.shuffle_read_bytes", "bytes", "lower"),
    ("core.shuffle_write_bytes", "bytes", "lower"), ("core.spill_bytes", "bytes", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"), ("trace.extra_jobs", "count", "lower"),
]

# ext metrics only corpus_dedup exercises; that workload is not in
# BENCHMARK.json, so these appear in its report line only
DEDUP_LAYER = [
    ("ext.dedup_jobs", "count", "lower"), ("ext.candidate_pairs", "count", "lower"),
    ("ext.verified_pairs", "count", "higher"), ("ext.verify_yield", "ratio", "higher"),
]

# the named step time behind step_p50_s, per workload (on ann_serve
# together with its refresh steps, see step_p50)
PRIMARY = {
    "backfill_jdbc_date": ("resync", "step_s"),
    "upsert_stream": ("cycle", "step_s"),
    "corpus_dedup": ("dedup", "step_s"),
    "ann_serve": ("query", "step_s"),
}


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


# Heap of the one bench JVM in MiB: fixed, so that the resident-set
# high-water mark does not depend on when the heap happens to grow
DRIVER_MEM_MB = 2048


def run_jvm(classes, workload, scratch, seconds, trace, n):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = f"{DRIVER_MEM_MB}m"
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dderby.system.home={scratch}/derby",
              f"-Dderby.stream.error.file={scratch}/derby.log",
              f"-Dspark.sql.warehouse.dir={scratch}/warehouse",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", os.pathsep.join([classes, jars]), "graftbench.Main",
              "--workload", workload, "--dir", scratch, "--seconds", str(seconds),
              "--trace", str(trace), "--cpus", str(n)])
    log_path = os.path.join(scratch, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=scratch, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # never leave the JVM behind, also on an interrupt
            if p.poll() is None:
                p.kill()
                p.wait()
    return rc, log_path


def metric(value, unit, better, n=None, **extra):
    d = {"value": value, "unit": unit, "better": better}
    if n is not None:
        d["n"] = n
    d.update(extra)
    return d


def timing(xs, unit="s", better="lower"):
    """Median and tail of a list of step times, with the sample count."""
    med = metric(stats.median(xs), unit, better, n=len(xs))
    t = stats.tail(xs)
    tail = (metric(t[0], unit, better, n=t[2], percentile=t[1]) if t
            else metric(None, unit, better, n=len(xs), percentile=None,
                        note="fewer than 11 samples: no percentile has ten beyond it"))
    return med, tail


def detail_metrics(workload, res, check_extra, steps):
    """The named metrics of each workload, all from the untraced steps."""
    col = lambda kind, key: [s["t"][key] for s in steps if s["kind"] == kind]
    d = {}
    if workload == "backfill_jdbc_date":
        d["ingest_s"], _ = timing(col("resync", "ingest_s"))
        d["promote_s"], _ = timing(col("resync", "promote_s"))
    elif workload == "upsert_stream":
        d["freshness_p50_s"], d["freshness_tail_s"] = timing(col("cycle", "step_s"))
    elif workload == "corpus_dedup":
        d["dedup_s"], _ = timing(col("dedup", "step_s"))
        d["dedup_recall"] = metric(check_extra["dedup_recall"], "ratio", "higher")
        d["dedup_precision"] = metric(check_extra["dedup_precision"], "ratio", "higher")
    elif workload == "ann_serve":
        d["query_p50_s"], d["query_tail_s"] = timing(col("query", "step_s"))
        r = col("refresh", "refresh_s")
        d["refresh_s"] = (timing(r)[0] if r else metric(None, "s", "lower", n=0))
        d["recall_at_10"] = metric(check_extra["recall_at_10"], "ratio", "higher",
                                   n=check_extra["recall_n"])
    return d


def span_table(spans):
    """Spans of the traced steps, summed by name: count, wall time, self
    time, and the jobs attributed to the span itself (not its children)."""
    t = {}
    for sp in spans:
        r = t.setdefault(sp["name"], {"layer": sp["layer"], "count": 0, "total_s": 0.0,
                                      "self_s": 0.0, "jobs": 0})
        r["count"] += 1
        r["total_s"] += sp["dur_s"]
        r["self_s"] += sp["self_s"]
        r["jobs"] += sp["jobs"]
    return t


def step_p50(workload, res, steps):
    """step_p50_s and its sample count. On ann_serve one step in every
    `refresh_every` is an append + refresh, the rest are query batches:
    the value is the schedule's cost per step, built from the median query
    and the median refresh, so that slower index maintenance shows as
    surely as slower reads."""
    kind, key = PRIMARY[workload]
    prim = [s["t"][key] for s in steps if s["kind"] == kind]
    if workload != "ann_serve":
        return stats.median(prim), len(prim)
    every = res["outputs"]["refresh_every"]
    refresh = [s["t"]["refresh_s"] for s in steps if s["kind"] == "refresh"]
    if not refresh:
        raise RuntimeError("ann_serve measured no refresh step")
    value = ((every - 1) * stats.median(prim) + stats.median(refresh)) / every
    return value, len(prim) + len(refresh)


def summarize(workload, res, check_extra, gen_s, popen_t):
    """The gated end-to-end values, from the untraced (A) steps."""
    steps = [s for s in res["steps"] if s["phase"] == "A"]
    step_value, n_steps = step_p50(workload, res, steps)
    end = steps[-1]["v"]
    if workload == "corpus_dedup":
        quality = min(check_extra["dedup_recall"], check_extra["dedup_precision"])
    elif workload == "ann_serve":
        quality = check_extra["recall_at_10"]
    else:
        quality = check_extra["exact_fraction"]
    values = {
        "setup_s": gen_s + (res["setup"]["setup_end_ms"] / 1000.0 - popen_t),
        "step_p50_s": step_value,
        "quality": quality,
        "lake_bytes_ratio": end["lake_bytes"] / end["input_bytes"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    return values, n_steps


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    try:
        classes = build.build()
    except SystemExit as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    scratch_root = os.path.join(ROOT, ".bench_scratch")
    scratch = os.path.join(scratch_root, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        t0 = time.time()
        params = gen.generate(a.workload, a.seed, os.path.join(scratch, "input"))
        gen_s = time.time() - t0
        n = cpus()
        popen_t = time.time()
        rc, log_path = run_jvm(classes, a.workload, scratch, a.seconds, a.trace, n)
        result_path = os.path.join(scratch, "out", "result.json")
        if rc != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            print(f"perfbench: JVM exited with {rc}", file=sys.stderr)
            return 2
        with open(result_path) as f:
            res = json.load(f)
        errors = list(res["errors"])
        failures, checked, extra = [], 0, {}
        if not errors:
            checked, failures, extra = reference.check(a.workload, os.path.join(scratch, "input"),
                                                      params, res)
        if a.workload == "ann_serve" and not errors:
            measured = {s["i"] for s in res["steps"] if s["phase"] == "A"}
            rec = [v for (step, _), v in extra.pop("recalls").items() if step in measured]
            extra["recall_at_10"] = sum(rec) / len(rec) if rec else 0.0
            extra["recall_n"] = len(rec)
        extra["exact_fraction"] = max(0.0, 1.0 - len(failures) / max(1, checked))
        failed = len(errors) + len(failures)
        attempted = max(1, len(res["steps"]) + len(errors))
        correct = not errors and not failures
        for msg in errors + failures:
            print(f"perfbench: FAIL {msg}", file=sys.stderr)

        env = dict(res["env"], nproc=os.cpu_count(), affinity_cpus=n,
                   driver_mem_mb=DRIVER_MEM_MB, seed=a.seed, workload=a.workload,
                   seconds=a.seconds, trace=a.trace)
        report = {"env": env, "attempted": attempted, "failed": failed,
                  "error_rate": failed / attempted, "setup": res["setup"]}
        values, units = {}, {k: u for k, u, _ in END_TO_END}
        if not errors:
            values, n_steps = summarize(a.workload, res, extra, gen_s, popen_t)
            report["end_to_end"] = {k: metric(values[k], u, b, n=n_steps if k == "step_p50_s" else None)
                                    for k, u, b in END_TO_END}
            report["workload_metrics"] = detail_metrics(
                a.workload, res, extra, [s for s in res["steps"] if s["phase"] == "A"])
        if a.trace == 1:
            values, units = {}, {k: u for k, u, _ in PER_LAYER}
        if a.trace == 1 and "layers" in res:
            lay = dict.fromkeys((k for k, _, _ in PER_LAYER + DEDUP_LAYER), 0.0)
            lay.update({k: v for k, v in res["layers"].items() if k in lay})
            chunks = [sp["dur_s"] for sp in res["spans"] if sp["name"] == "ingest.chunk"]
            if chunks:
                lay["ingest.chunk_p50_s"] = stats.median(chunks)
                t = stats.tail(chunks)
                lay["ingest.chunk_tail_s"] = t[0] if t else 0.0
            tr = res["trace"]
            lay["trace.overhead_ratio"] = tr["overhead_ratio"]
            lay["trace.extra_jobs"] = tr["extra_jobs"]
            shown = PER_LAYER + (DEDUP_LAYER if a.workload == "corpus_dedup" else [])
            report["per_layer"] = {k: metric(lay[k], u, b) for k, u, b in shown}
            report["trace"] = tr
            report["span_totals"] = span_table(res["spans"])
            report["spans"] = [dict(sp, workload=a.workload, run=a.seed) for sp in res["spans"]]
            if lay["trace.extra_jobs"] != 0:
                correct = False
                print(f"perfbench: FAIL traced run submitted {lay['trace.extra_jobs']} extra jobs",
                      file=sys.stderr)
            values = {k: lay[k] for k, _, _ in PER_LAYER}
        print(json.dumps({"report": report}, sort_keys=True))
        final = {"correct": correct, "attempted": attempted, "failed": failed,
                 "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
        print(json.dumps(final))
        return 0 if correct else 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(scratch_root)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
