#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft library.

Usage (from the repository root):

    python3 perfbench/run.py --workload <interactive|curation>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py, cached by seed under
.bench_build/inputs), runs one benchmark JVM, checks the outputs (DuckDB
oracle or pipeline invariants, untimed) and prints a report. The last
line of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

BUILD = build.BUILD
# Input scale of the interactive tables (sf 1 = 6M lineitem rows); the
# curation corpus and its warm-up corpus, in documents.
SCALE = 0.02
CORPUS_DOCS = 10000
WARM_DOCS = 400
# JVM heap and Spark memory share per workload: curation runs with a small
# execution-memory share so its working set exceeds it and stages spill
JVM = {"interactive": ["-Xmx3g"],
       "curation": ["-Xmx1g", "-Dspark.memory.fraction=0.05"]}
DEADLINE_S = 170
STAGE_ROOT = "/tmp/graft_shared_stream_stage"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
END_TO_END = [("setup_s", "s"), ("latency_p50_s", "s"),
              ("latency_tail_s", "s"), ("throughput_per_s", "1/s"),
              ("heap_peak_mb", "MB")]
# Every traced run prints each of these; a layer the workload does not use
# reads 0. `self.<layer>_s` is the span roll-up (duration minus children).
PER_LAYER = (
    ["spark." + m for m in (
        "jobs", "stages", "tasks", "exchanges", "task_s", "slot_util",
        "task_wait_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
        "input_mb", "failed_tasks")]
    + ["jvm.gc_s", "jvm.jit_setup_s", "jvm.jit_timed_s"]
    + ["queries." + m for m in ("build_s", "plan_s", "exec_s", "rows_out")]
    + ["operators." + m for m in (
        "clean_s", "quality_s", "dedup_s", "link_s", "decontam_s", "pack_s",
        "dedup_candidates", "dedup_yield", "link_match_ratio",
        "kept_ratio_clean", "kept_ratio_quality", "kept_ratio_dedup",
        "kept_ratio_decontam")]
    + ["topic.fit_s", "topic.transform_s", "pipeline.overhead_s"]
    + ["functions." + k + "_ns" for k in (
        "tokenize", "simplify", "boundedLevenshtein", "polyHash64",
        "cosineF", "signSignature")]
    + ["functions." + k + "_builtin_ns"
       for k in ("tokenize", "boundedLevenshtein", "polyHash64")]
    + ["streaming." + m for m in (
        "batches", "add_batch_ms", "get_batch_ms", "planning_ms",
        "wal_commit_ms", "commit_offsets_ms", "latest_offset_ms",
        "state_rows", "state_mem_mb", "state_commit_ms")]
    + ["sources." + m for m in ("stage_s", "ingest_s", "write_s", "write_mb")]
    + ["self." + l + "_s" for l in (
        "request", "queries.build", "queries.plan", "queries.exec",
        "spark.job", "spark.stage", "streaming.batch", "pipeline.run",
        "pipeline.step", "topic.fit", "topic.transform", "sources.write")]
    + ["spans." + l for l in (
        "request", "queries.build", "queries.plan", "queries.exec",
        "spark.job", "spark.stage", "streaming.batch", "pipeline.run",
        "pipeline.step", "topic.fit", "topic.transform", "sources.write")]
    + ["trace.overhead_s", "trace.traced_pass_s", "trace.untraced_pass_s"])


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def inputs(workload, seed):
    """Generate (or reuse) the seeded inputs; return (data, warm, info)."""
    cache = os.path.join(BUILD, "inputs")
    if workload == "curation":
        info = gen.ensure(cache, f"corpus-s{seed}-n{CORPUS_DOCS}",
                          lambda d: gen.corpus(d, seed, CORPUS_DOCS, 8))
        warm = gen.ensure(cache, f"corpus-s{seed}-n{WARM_DOCS}",
                          lambda d: gen.corpus(d, seed, WARM_DOCS, 2))
        return (os.path.join(cache, f"corpus-s{seed}-n{CORPUS_DOCS}"),
                os.path.join(cache, f"corpus-s{seed}-n{WARM_DOCS}"), info)
    key = f"tables-s{seed}-sf{SCALE}"
    info = gen.ensure(cache, key, lambda d: gen.tables(d, seed, SCALE))
    return os.path.join(cache, key), os.path.join(cache, key), info


def run_jvm(cp, args, run_dir, jvm, deadline):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = ["java", *jvm, "-XX:+UseG1GC",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={os.path.abspath(run_dir)}/tmp",
           f"-Dspark.hadoop.hadoop.tmp.dir={os.path.abspath(run_dir)}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"]
    cmd += [f"{k}={v}" for k, v in args.items()]
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    cmd.append(f"launch_ms={int(time.time() * 1000)}")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
    try:
        proc.wait(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log.close()
        fail("benchmark JVM exceeded its time budget; log tail:\n" +
             tail(os.path.join(run_dir, "jvm.log")))
    log.close()
    return proc.returncode


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# ---- oracle checks (normalisation and hash rules of the repository's
# local verification tool: sorted column names, row count, sha256 over the
# rows sorted on the name-sorted projection, floats at 10 significant
# digits) -----------------------------------------------------------------

def _norm(v):
    if isinstance(v, float):
        return f"{v:.10g}"
    return str(v)


def _hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for r in sorted(tuple(_norm(r[i]) for i in order) for r in rows):
        h.update("\x01".join(r).encode())
        h.update(b"\x02")
    return h.hexdigest()


def oracle_check(res, data_dir):
    import duckdb
    chk = res["checks"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = {}
    oracle_rows = {}
    for name in sorted(chk["request_rows"]):
        sql = chk["oracle_sql"].get(name)
        if sql is None:
            bad[name] = "no oracle"
            continue
        files = glob.glob(os.path.join(chk["output_dir"], name, "*.parquet"))
        if not files:
            bad[name] = "no output"
            continue
        try:
            want = con.execute(sql)
            wcols = [c[0] for c in want.description]
            wrows = want.fetchall()
            got = con.execute(
                f"SELECT * FROM '{os.path.join(chk['output_dir'], name)}/*.parquet'")
            gcols = [c[0] for c in got.description]
            grows = got.fetchall()
        except Exception as e:  # noqa: BLE001
            bad[name] = f"oracle failed: {e}"
            continue
        oracle_rows[name] = len(wrows)
        if sorted(gcols) != sorted(wcols):
            bad[name] = f"columns {sorted(gcols)} != {sorted(wcols)}"
        elif len(grows) != len(wrows):
            bad[name] = f"rows {len(grows)} != {len(wrows)}"
        elif _hash(grows, gcols) != _hash(wrows, wcols):
            bad[name] = "hash mismatch"
    failed_reqs = 0
    for name, rows in chk["request_rows"].items():
        for r in rows:
            if name in bad or r != oracle_rows.get(name):
                failed_reqs += 1
    return bad, failed_reqs


def invariant_check(res, data_dir):
    chk = res["checks"]
    bad = {f"invariant{i}": f for i, f in enumerate(chk.get("failures", []))}
    # the output digest must be equal across runs of one seed: within this
    # process, and against the digest recorded by the first run of the seed
    digests = set(chk.get("digests", []))
    if len(digests) > 1:
        bad["digest"] = f"{len(digests)} different digests within the run"
    record = os.path.join(data_dir, "digest.txt")
    if digests and len(digests) == 1:
        d = digests.pop()
        if os.path.exists(record):
            if open(record).read().strip() != d:
                bad["digest"] = "digest differs from an earlier run of this seed"
        else:
            with open(record, "w") as f:
                f.write(d)
    failed_reqs = res["attempted"] if bad else 0
    return bad, failed_reqs


# ---- metrics -------------------------------------------------------------

def tail_of(xs):
    """Value at the highest percentile with at least 10 samples beyond it,
    the percentile and the samples beyond it. Below 20 samples that
    percentile would fall under the median, so the maximum is reported."""
    s = sorted(xs)
    n = len(s)
    if n >= 20:
        return s[n - 11], 100.0 * (n - 10) / n, 10
    return s[-1], 100.0, 0


def end_to_end(workload, res):
    """The end-to-end metrics, plus notes on how they were taken."""
    lat = res["latencies_s"]
    if not lat:
        fail("no timed samples")
    if workload == "curation":
        through = res["docs_in"] * res["pipeline_runs"] / res["pipeline_wall_s"]
        unit = "pipeline run"
    else:
        through = len(lat) / sum(lat)
        unit = "request"
    tail, pct, beyond = tail_of(lat)
    vals = {"setup_s": res["setup_s"],
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": tail,
            "throughput_per_s": through,
            "heap_peak_mb": res["heap_peak_mb"]}
    notes = {"latency_unit": unit, "samples": len(lat),
             "tail_percentile": round(pct, 2), "tail_samples_beyond": beyond}
    return vals, notes


def named_report(workload, vals, res):
    """The same figures under the workload-specific names, plus the
    streaming and per-family figures of the interactive mix."""
    rep = {"setup_s": vals["setup_s"], "heap_peak_mb": vals["heap_peak_mb"]}
    if workload == "curation":
        rep["docs_per_s"] = vals["throughput_per_s"]
        rep["pipeline_s"] = vals["latency_p50_s"]
        return rep
    rep.update(query_p50_s=vals["latency_p50_s"],
               query_tail_s=vals["latency_tail_s"])
    fams = {}
    for name, t in zip(res["request_names"], res["latencies_s"]):
        fams.setdefault(name.split("_")[0][:2], []).append(t)
    rep["family_p50_s"] = {f: statistics.median(v) for f, v in sorted(fams.items())}
    batches = res["batch_s"]
    if batches:
        b_tail, b_pct, b_beyond = tail_of(batches)
        stream_wall = sum(t for n, t in zip(res["request_names"], res["latencies_s"])
                          if n.startswith("sm"))
        rep.update(batch_p50_ms=statistics.median(batches) * 1e3,
                   batch_tail_ms=b_tail * 1e3,
                   batch_tail_percentile=round(b_pct, 2),
                   batches=len(batches),
                   stream_rows_per_s=res["stream_rows"] / stream_wall)
    return rep


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(JVM))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()
    deadline = start + DEADLINE_S
    if not os.path.isdir("src/main/scala"):
        fail("run from the repository root (src/main/scala not found)")
    cp = build.build(".")
    # a first run builds; later runs must fit the per-run budget
    deadline = max(deadline, time.time() + DEADLINE_S - 10)
    data, warm, info = inputs(a.workload, a.seed)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        rc = run_jvm(cp, {
            "workload": a.workload, "data": os.path.abspath(data),
            "warm": os.path.abspath(warm), "seconds": a.seconds,
            "trace": a.trace, "seed": a.seed, "cores": os.cpu_count(),
            "run": os.path.abspath(run_dir),
            "out": os.path.abspath(os.path.join(run_dir, "result.json"))},
            run_dir, JVM[a.workload], deadline)
        out = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited with {rc}; log tail:\n" +
                 tail(os.path.join(run_dir, "jvm.log")))
        res = json.load(open(out))
        if a.workload == "curation":
            bad, failed_checks = invariant_check(res, data)
        else:
            bad, failed_checks = oracle_check(res, data)
        if a.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            spans = os.path.join(run_dir, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(
                    BUILD, "traces", f"{a.workload}-s{a.seed}.spans.jsonl"))
    finally:
        # the registry's streaming queries stage landing zones under a
        # shared /tmp root, named after the input path; remove this run's
        tag = re.sub(r"[^A-Za-z0-9]", "_", os.path.abspath(data))
        for d in glob.glob(f"{STAGE_ROOT}/*{tag}*"):
            shutil.rmtree(d, ignore_errors=True)
        # keep the JVM log of the latest run of each workload and seed
        logs = os.path.join(BUILD, "logs")
        os.makedirs(logs, exist_ok=True)
        for f in ("jvm.log", "result.json"):
            if os.path.exists(os.path.join(run_dir, f)):
                shutil.copy(os.path.join(run_dir, f), os.path.join(
                    logs, f"{a.workload}-s{a.seed}-t{a.trace}.{f}"))
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = res["attempted"]
    failed = min(attempted, res["failed"] + failed_checks)
    print(f"perfbench workload={a.workload} seed={a.seed} "
          f"seconds={a.seconds} trace={a.trace} passes={res['passes']} "
          f"cores={os.cpu_count()}")
    print("inputs " + json.dumps(info, sort_keys=True))
    if bad:
        print("CHECK FAILURES " + json.dumps(bad, sort_keys=True))
    if a.trace:
        layers = res["layers"]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": unit_of(k)}
                   for k in PER_LAYER}
    else:
        vals, notes = end_to_end(a.workload, res)
        rep = named_report(a.workload, vals, res)
        rep["failed_ratio"] = failed / attempted
        print("report " + json.dumps({**rep, **notes}, sort_keys=True))
        metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": not bad and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    if "ratio" in name or name.endswith(("_util", "_yield")):
        return "ratio"
    for suffix, unit in (("_ns", "ns"), ("_ms", "ms"), ("_mb", "MB"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
