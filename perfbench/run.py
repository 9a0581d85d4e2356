#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <ingest_cycle|curation>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the library
(`src/main/scala`) and the harness (`perfbench/scala`) with the Scala compiler
that ships in Spark's jars, into `.bench_build/`; later runs reuse the build
while the sources are unchanged. Inputs are generated from the seed under
`.bench_work/` and deleted at the end.

A run measures a fixed number of operations (T7 cycles or curation passes)
after its cold one: `--seconds` divided by the nominal length of one
operation on a 4-core host, so the sample count never depends on how fast
the operations happen to run.

Output: one record line with the workload's own metric names, the run's
stamps (nproc, loadavg, seed, input sizes, commit, Spark version), and, as the
last line, the result object: `correct`, `attempted`, `failed` and `metrics`
(end-to-end metrics untraced, per-layer metrics with `--trace 1`). The exit
code is 0 only when every output matched its ground truth or oracle.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
WORKLOADS = ("ingest_cycle", "curation")
# seconds one operation takes on a 4-core host: an ingest cycle, a curation pass
NOMINAL_OP_S = {"ingest_cycle": 8.0, "curation": 12.0}
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RUN_TIMEOUT_S = 170


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------------------
# build

def scala_sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not lib:
        die("no library sources under src/main/scala; run from the root of a checkout")
    own = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    return lib + own


def build():
    """Compile library + harness once per source state; return the classpath."""
    srcs = scala_sources()
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        die("SPARK_HOME must name a Spark install whose jars/ holds the Scala compiler")
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "stamp")
        if not (os.path.isdir(classes) and os.path.exists(stamp_file)
                and open(stamp_file).read() == stamp):
            tmp = classes + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(classes, ignore_errors=True)
            os.makedirs(tmp)
            argfile = os.path.join(BUILD, "sources.txt")
            with open(argfile, "w") as f:
                f.write("\n".join(srcs) + "\n")
            t0 = time.time()
            r = subprocess.run(
                ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
                 "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                 "-classpath", f"{SPARK_JARS}/*", f"@{argfile}"],
                stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if r.returncode != 0:
                sys.stderr.write(r.stdout[-4000:])
                die("compile failed")
            os.rename(tmp, classes)
            with open(stamp_file, "w") as f:
                f.write(stamp)
            print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return [classes, os.path.join(ROOT, "src/main/resources"), f"{SPARK_JARS}/*"]


# ---------------------------------------------------------------------------
# statistics

def tail(xs):
    """(value, percentile): the sample at the highest percentile with at least
    ten samples beyond it. Below 20 samples that percentile would fall under
    the median, so the tail is then the largest sample, stated as 100."""
    s = sorted(xs)
    if len(s) < 20:
        return s[-1], 100.0
    k = len(s) - 11
    return s[k], round(100.0 * (k + 1) / len(s), 1)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def cpu_ticks():
    """(steal, total) jiffies of all CPUs so far; steal is the time a
    hypervisor gave this machine's CPUs to someone else."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks[:8])
    except (OSError, IndexError, ValueError):
        return 0, 0


def steal_pct(t0, t1):
    total = t1[1] - t0[1]
    return round(100.0 * (t1[0] - t0[0]) / total, 2) if total > 0 else -1.0


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "unknown (not a git checkout)"


def input_sizes(data_dir):
    files = [p for p in glob.glob(os.path.join(data_dir, "**"), recursive=True) if os.path.isfile(p)]
    return {"files": len(files), "bytes": sum(os.path.getsize(p) for p in files)}


# ---------------------------------------------------------------------------
# end-to-end metrics from what the harness measured

def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def n_ops(workload, seconds, trace):
    """Operations a run measures; a traced run needs a traced and an
    untraced one for its overhead figure."""
    return max(2 if trace else 1, round(seconds / NOMINAL_OP_S[workload]))


def end_to_end(workload, h, manifest):
    """(metrics every workload prints, the workload's own named metrics, tail stamps).

    An operation is a T7 cycle or a curation pass; a call is one public call
    inside it (a drain, an indicator run, a query)."""
    ops = [s for (s, traced) in h["ops"] if not traced]
    calls = [s for (_, s, traced) in h["steps"] if not traced]
    if not ops or not calls:
        raise ValueError("no untraced operation was measured")
    op_p50, call_p50 = statistics.median(ops), statistics.median(calls)
    (op_tail, op_pct), (call_tail, call_pct) = tail(ops), tail(calls)
    if workload == "ingest_cycle":
        msgs = manifest["history"]["price_msgs"] + manifest["history"]["news_msgs"]
        work = msgs / h["cold_s"]
        named = {"backfill_s": (h["cold_s"], "s"), "backfill_msgs_per_s": (work, "msg/s"),
                 "cycle_s_p50": (op_p50, "s"), "cycle_s_tail": (op_tail, "s")}
    else:
        docs = [v for k, v in h["figures"].items() if k.startswith("docs_per_s.")]
        knn = [v for k, v in h["figures"].items() if k.startswith("knn_queries_per_s.")]
        work = statistics.median(docs)
        named = {"docs_per_s": (work, "doc/s"),
                 "knn_queries_per_s": (statistics.median(knn), "q/s"),
                 "pass_s_p50": (op_p50, "s"), "query_s_p50": (call_p50, "s"),
                 "query_s_tail": (call_tail, "s"), "first_pass_s": (h["cold_s"], "s")}
    metrics = {
        "setup_s": (h["setup_s"], "s"),
        "op_s_p50": (op_p50, "s"),
        "call_s_geomean": (geomean(calls), "s"),
        "work_per_s": (work, "1/s"),
    }
    stamps = {"ops": len(ops), "op_tail_percentile": op_pct,
              "calls": len(calls), "call_tail_percentile": call_pct}
    return metrics, named, stamps


CURATION_QUERIES = ("q_curation_funnel", "q_cluster_canonical", "q_dedup_clusters",
                    "q_jaccard_prefix", "q_minhash_neardup", "q_lang_id", "q_cosine_topk")

# Every per-layer metric a traced run prints. See perfbench/README.md for
# what each one counts.
PER_LAYER = (
    [f"streaming.{n}" for n in (
        "drain_ms", "batches", "planning_ms", "offset_ms", "add_batch_ms", "commit_ms",
        "input_rows", "state_rows", "state_bytes", "state_commit_ms", "dup_dropped_rows",
        "sink_read_bytes", "sink_useful_ratio", "backfill_drain_ms")]
    + [f"pipeline.{n}" for n in (
        "indicator_ms", "indicator_jobs", "indicator_input_bytes",
        "indicator_shuffle_bytes", "indicator_rows_appended")]
    + ["queries.construction_ms", "queries.construction_jobs", "queries.action_ms"]
    + [f"operators.{q}_{k}" for q in CURATION_QUERIES for k in ("ms", "jobs")]
    + [f"operators.{n}" for n in (
        "dedup_candidates", "dedup_verified", "dedup_verify_yield", "knn_candidates_per_query")]
    + [f"spark.{n}" for n in (
        "jobs", "stages", "tasks", "failed_tasks", "task_ms", "task_cpu_ms", "gc_ms",
        "planning_ms", "codegen_compiles", "codegen_compile_ms", "cold_jobs",
        "cold_planning_ms", "cold_codegen_compiles", "cold_codegen_compile_ms",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
        "output_bytes")]
    + ["jvm.heap_after_gc_peak_mb"]
    + [f"self.{layer}_ms" for layer in (
        "workload", "streaming", "pipeline", "queries", "operators", "spark")]
    + ["trace.overhead_pct", "trace.traced_ops"])

LAYER_UNITS = (("_ms", "ms"), ("_bytes", "bytes"), ("_mb", "MB"), ("_pct", "%"),
               ("_ratio", "ratio"), ("_yield", "ratio"))


# Layers a workload does not exercise: their metrics print as 0, and the
# harness must not have set them. Every other metric must come from the
# harness as a finite number, or the run fails.
NOT_EXERCISED = {"ingest_cycle": ("queries.", "operators."),
                 "curation": ("streaming.", "pipeline.")}


def per_layer(workload, layers):
    """The traced run's metrics from what the harness set; raises ValueError
    when a metric is missing, not a number, or set for a layer the workload
    does not exercise."""
    idle = NOT_EXERCISED[workload]
    want = {k for k in PER_LAYER if not k.startswith(idle)}
    errors = [f"{k} missing" for k in sorted(want - set(layers))]
    errors += [f"{k} set but not exercised" for k in sorted(set(layers) - want) if k in PER_LAYER]
    errors += [f"{k} is not a number" for k in sorted(want & set(layers))
               if not isinstance(layers[k], (int, float)) or not math.isfinite(layers[k])]
    if errors:
        raise ValueError("per-layer metrics: " + "; ".join(errors))
    return {k: {"value": layers[k] if k in want else 0.0, "unit": layer_unit(k)}
            for k in PER_LAYER}


def layer_unit(name):
    for suffix, unit in LAYER_UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


# ---------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measured time; sets the number of operations")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    load0, ticks0 = loadavg(), cpu_ticks()
    classpath = build()
    ops = n_ops(a.workload, a.seconds, a.trace)

    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    data_dir, work_dir = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(work_dir, "tmp"))
    try:
        t0 = time.time()
        manifest = gen.GENERATORS[a.workload](data_dir, a.seed)
        gen_s = time.time() - t0
        sizes = input_sizes(data_dir)

        out = os.path.join(run_dir, "harness.json")
        log = os.path.join(run_dir, "harness.log")
        cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss8m"]
               + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Djava.io.tmpdir={work_dir}/tmp", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC",
                  "-cp", os.pathsep.join(classpath), "perfbench.Harness",
                  a.workload, data_dir, work_dir, str(ops), str(a.trace), out])
        t_harness = time.time()
        with open(log, "w") as lf:
            try:
                rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    timeout=RUN_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-6000:])
            die(f"harness exited with {rc}", 1)
        with open(out) as f:
            h = json.load(f)

        harness_s = time.time() - t_harness
        t_check = time.time()
        failures = list(h["failures"])
        if a.workload == "ingest_cycle":
            failures += checks.check_indicators(h["info"]["kline_sink"], h["info"]["indicator_sink"])
            bad_ops = 1 if len(failures) > len(h["failures"]) else 0
        else:
            mism = checks.check_queries(data_dir, h["info"]["check_dir"])
            failures += [f"{q}: {m}" for q, m in sorted(mism.items())]
            per_query = h["attempted"] // max(1, len({n for (n, _, _) in h["steps"]}))
            bad_ops = per_query * len(mism)
        check_s = time.time() - t_check
        attempted = h["attempted"]
        failed = min(attempted, h["failed"] + bad_ops)
        correct = not failures

        record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                  "trace": a.trace, "nproc": int(h["info"]["nproc"]),
                  "loadavg_start": load0, "loadavg_finish": loadavg(),
                  "cpu_steal_pct": steal_pct(ticks0, cpu_ticks()),
                  "input": dict(sizes, **{k: v for k, v in manifest.items()
                                          if k not in ("workload", "seed")}),
                  "gen_s": round(gen_s, 3), "harness_s": round(harness_s, 3),
                  "check_s": round(check_s, 3), "commit": git_commit(),
                  "spark_version": h["info"].get("spark_version"),
                  "setup_s": h["setup_s"],
                  "error_rate": failed / attempted, "failures": failures[:20],
                  "figures": h["figures"]}
        if a.trace == 0:
            e2e, named, stamps = end_to_end(a.workload, h, manifest)
            record.update(stamps)
            record["named"] = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        else:
            traced_ops = [s for (s, traced) in h["ops"] if traced]
            record["traced_op_s_p50"] = statistics.median(traced_ops)
            try:
                metrics = per_layer(a.workload, h["layers"])
            except ValueError as e:
                die(str(e), 1)
            record["trace_run_id"] = h["info"].get("trace_run_id")
        print(json.dumps({"record": record}))
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
