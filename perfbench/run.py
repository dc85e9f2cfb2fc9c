#!/usr/bin/env python3
"""QuestDB-dialect engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ts_dashboard --seed 1 --seconds 10 --trace 0

Builds the engine and the JVM harness once (offline sbt, into
perfbench/target), makes the workload's inputs from the seed, runs the
workload in fresh JVMs, checks every output against DuckDB or the input
generator, and prints one JSON line last: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. See README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = "/root/testdata/sf0.1"
SPARK_JARS = "/opt/spark/jars"
HEAP = "3g"
# Nominal seconds per round of each workload's operations. A run does
# round(--seconds / this) whole rounds: the same work in every run. At
# --seconds 10 that is 6, 5, 4 and 3 rounds, 8-13 s on a 4-core machine.
ROUND_S = {"ts_dashboard": 1.6, "ts_scan": 2.2, "ilp_ingest": 2.5, "corpus_pipeline": 3.4}
WORKLOADS = tuple(ROUND_S)
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def preflight():
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/Engine.scala")):
        die(f"engine sources not found under {ROOT}/src; run from a checkout of the repository")
    for t in ("events", "documents", "embeddings"):
        if not os.path.isfile(f"{DATA_DIR}/{t}.parquet"):
            die(f"test data missing: {DATA_DIR}/{t}.parquet")
    if not glob.glob(f"{SPARK_JARS}/spark-core_*.jar"):
        die(f"Spark jars not found in {SPARK_JARS}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")


def build():
    """Compiles engine + harness unless the sources are unchanged since the last build."""
    files = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True)
                   + glob.glob(f"{HERE}/src/**/*.scala", recursive=True)
                   + [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    target = os.path.join(HERE, "target")
    os.makedirs(target, exist_ok=True)
    stamp = os.path.join(target, "perfbench.stamp")
    classes = os.path.join(target, "scala-2.13", "classes")
    with open(os.path.join(target, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
            return classes
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
            "-Dsbt.override.build.repos=true -Dsbt.repository.config=/root/.sbt/repositories "
            "-Dsbt.offline=true -Xmx3g"))
        t0 = time.time()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE, env=env,
                           stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
        if r.returncode != 0:
            die(f"build failed (sbt exit {r.returncode})")
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
        with open(stamp, "w") as f:
            f.write(digest)
    return classes


def run_jvm(classes, run_dir, workload, warm_rounds, rounds, trace):
    cp = classes + ":" + ":".join(sorted(glob.glob(f"{SPARK_JARS}/*.jar")))
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
              f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Main",
              workload, str(warm_rounds), str(rounds), str(trace), run_dir, DATA_DIR])
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    log = f"{run_dir}/jvm.log"
    with open(log, "w") as lf:
        r = subprocess.run(cmd, cwd=run_dir, stdin=subprocess.DEVNULL, stdout=lf, stderr=lf, timeout=150)
    if r.returncode != 0 or not os.path.exists(f"{run_dir}/out.json"):
        with open(log) as lf:
            tail = lf.read()[-4000:]
        die(f"{workload} JVM exited with {r.returncode}:\n{tail}")
    with open(f"{run_dir}/out.json") as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    preflight()
    classes = build()

    import checks
    import inputs

    # fresh table and scratch directories for every run, removed afterwards
    # unless the JVM or a check failed
    run_dir = os.path.join(HERE, "target", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    keep = True
    try:
        rounds = max(1, round(a.seconds / ROUND_S[a.workload]))
        info = inputs.GENERATORS[a.workload](random.Random(a.seed), run_dir, rounds)
        out = run_jvm(classes, run_dir, a.workload, inputs.WARM_ROUNDS[a.workload], rounds, a.trace)
        errors, wrong = checks.CHECKERS[a.workload](run_dir, info, out)
        for e in errors[:10]:
            print(f"perfbench: check failed: {e}", file=sys.stderr)
        if wrong:
            print(f"perfbench: {len(wrong)} operations of a known defect gave wrong results, counted as "
                  f"failed: {wrong[0]}", file=sys.stderr)
        metrics = (layer_metrics(a.workload, info, out) if a.trace
                   else end_to_end(a.workload, info, out, run_dir))
        result = {"correct": not errors, "attempted": out["attempted"], "failed": out["failed"] + len(wrong),
                  "metrics": metrics}
        keep = bool(errors)
    finally:
        if keep:
            print(f"perfbench: run directory kept for inspection: {run_dir}", file=sys.stderr)
        else:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def end_to_end(workload, info, out, run_dir):
    lat = out["latencies_ms"]
    done = len(lat)
    m = {
        # JVM start to the first timed operation; the inputs run.py makes
        # from the seed beforehand are the benchmark's work, not the engine's
        "setup_s": (out["setup_s"], "s"),
        "op_ms": (op_ms(out), "ms"),
        "ops_per_s": (done / out["timed_s"], "1/s"),
        "cpu_ms_per_op": (out["cpu_ms"] / out["attempted"], "ms"),
        "heap_after_gc_mb": (out["heap_after_gc_mb"], "MB"),
        "rows_per_s": (rows_per_s(workload, info, out, run_dir), "rows/s"),
        "stored_bytes_per_row": (stored_bytes_per_row(workload, info, out), "B"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def op_ms(out):
    """Each operation kind's median latency, averaged over the kinds. Kinds
    cost very different amounts, so the median of all latencies would jump
    between them; this moves with any kind's own latency, by its share."""
    by_kind = {}
    for k, v in zip(out["kinds"], out["latencies_ms"]):
        by_kind.setdefault(k, []).append(v)
    return statistics.mean(median(v) for v in by_kind.values()) if by_kind else 0.0


TABLE_REF = re.compile(r"\b(?:FROM|JOIN)\s+(\w+)", re.I)
CORPUS_TABLE = {"q_dedup_clusters": "documents", "q_dedup_keep_one": "documents",
                "q_dedup_minhash": "documents", "q_contamination_bloom": "documents",
                "q_similarity_ivf_kmeans": "embeddings", "q_similarity_pq": "embeddings"}


def _parquet(paths):
    """(rows, bytes) of the Parquet files under `paths`."""
    import pyarrow.parquet as pq
    files = [f for p in paths for f in ([p] if os.path.isfile(p) else
                                        glob.glob(f"{p}/**/*.parquet", recursive=True))]
    return sum(pq.read_metadata(f).num_rows for f in files), sum(os.path.getsize(f) for f in files)


def _tables(workload, info, out):
    """Table name → Parquet file or directory, for the tables the workload
    reads or ingests into."""
    if workload == "ilp_ingest":
        return out["tables"]
    if workload == "ts_scan":
        return {t: f"{info['data_dir']}/{t}" for t in ("trades", "quotes")}
    names = ("events",) if workload == "ts_dashboard" else ("documents", "embeddings")
    return {t: f"{DATA_DIR}/{t}.parquet" for t in names}


def rows_per_s(workload, info, out, run_dir):
    """Input rows the completed operations consumed per second: rows
    acknowledged per second of /write on ilp_ingest, documents (or
    embeddings) per second on corpus_pipeline, source rows of the tables
    each statement reads on ts_dashboard and ts_scan."""
    if workload == "ilp_ingest":
        return out["rows_acked"] / out["write_s"]
    import checks
    rows = {t: _parquet([p])[0] for t, p in _tables(workload, info, out).items()}
    done = [r for r in checks.load_results(f"{run_dir}/results.jsonl") if "error" not in r]
    if workload == "corpus_pipeline":
        total = sum(rows[CORPUS_TABLE[r["kind"]]] for r in done)
    else:
        total = sum(rows.get(t, 0) for r in done for t in TABLE_REF.findall(r["sql"]))
    return total / out["timed_s"]


def stored_bytes_per_row(workload, info, out):
    """Data-file bytes per row of the tables the workload reads, or of the
    tables it ingests into."""
    rows, size = _parquet(list(_tables(workload, info, out).values()))
    return size / rows


LAYER_METRICS = [
    ("http.wire_ms", "ms"), ("sql.rewrite_ms", "ms"), ("sql.build_ms", "ms"), ("sql.build_jobs", "count"),
    ("sql.self_ms", "ms"), ("plans.analysis_ms", "ms"), ("plans.optimize_ms", "ms"),
    ("plans.planning_ms", "ms"), ("plans.self_ms", "ms"), ("exec.ms", "ms"), ("exec.jobs", "count"),
    ("exec.stages", "count"), ("exec.tasks", "count"), ("exec.task_run_ms", "ms"),
    ("exec.shuffle_write_bytes", "B"), ("exec.shuffle_read_bytes", "B"), ("exec.spill_bytes", "B"),
    ("exec.input_rows", "count"), ("exec.scan_files", "count"), ("exec.codegen_compile_ms", "ms"),
    ("exec.self_ms", "ms"), ("streaming.parse_ms", "ms"), ("streaming.apply_ms", "ms"),
    ("streaming.apply_jobs", "count"), ("streaming.matview_refresh_ms", "ms"),
    ("streaming.matview_jobs", "count"), ("streaming.self_ms", "ms"), ("tables.files_written", "count"),
    ("tables.bytes_written", "B"), ("tables.read_files", "count"),
    ("pipeline.build_ms", "ms"), ("pipeline.build_jobs", "count"), ("pipeline.self_ms", "ms"),
    ("jvm.gc_ms", "ms"),
]
LAYER_TOTALS = [("tables.files_written_total", "count"), ("tables.bytes_written_total", "B"),
                ("tables.register_ms", "ms")]


def layer_metrics(workload, info, out):
    per_op, totals = out.get("per_op", {}), out.get("totals", {})
    m = {name: {"value": median(per_op.get(name, [])), "unit": unit} for name, unit in LAYER_METRICS}
    for name, unit in LAYER_TOTALS:
        m[name] = {"value": totals.get(name, 0.0), "unit": unit}
    m["exec.codegen_compile_setup_ms"] = {"value": out["setup_codegen_compile_ms"], "unit": "ms"}
    m["jvm.heap_after_gc_mb"] = {"value": out["heap_after_gc_mb"], "unit": "MB"}
    m["trace.op_ms"] = {"value": op_ms(out), "unit": "ms"}
    return m


if __name__ == "__main__":
    main()
