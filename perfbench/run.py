#!/usr/bin/env python3
"""Load-wave benchmark: one workload, one seed, one command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The command
1. builds the program and the harness from source (`perfbench/harness`,
   skipped when nothing changed since the last build);
2. generates the workload's inputs from the seed (`perfbench/gen.py`);
3. starts the harness JVM directly (no build tool in the timed path);
   it runs a cold first pass, a warm-up pass, then measured passes for
   S seconds, at least three (`Harness.scala`);
4. checks every query's first-pass result against the DuckDB oracle on
   the same inputs, and every later pass against the first;
5. prints one JSON line: the end-to-end metrics (`--trace 0`) or the
   per-layer metrics of a traced run (`--trace 1`).

Everything it writes stays under `.bench_build/` in the checkout; the
full record of each run (conf, box state, per-query times, spans) is
kept in `.bench_build/records/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

# Closed loop, one client: a workload's queries run one at a time, in
# this order, in one JVM on local[nproc].
WORKLOADS = {
    "variant_load": {
        "scale": 0.02,
        "queries": ["q25_genic_status", "q78_vcf_file_read",
                    "q69_jsonl_roundtrip", "q17_stream_windowed"],
    },
    "dedup_index": {
        "scale": 0.01,
        "queries": ["q122_semantic_index_compaction"],
    },
}

# warm-pass metrics are the median of the first this many untraced passes
# after the warm-up, so every run, however many passes fit in its window,
# is measured on passes equally warm
MEASURED_PASSES = 3
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, dirs, fs in os.walk(base)
                           if "target" not in d.split(os.sep) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt; returns the runtime classpath."""
    sources = [os.path.join(ROOT, p) for p in
               ("build.sbt", "project/build.properties", "src/main")] + \
              [os.path.join(HERE, "harness", p) for p in
               ("build.sbt", "project/build.properties", "src")]
    missing = [p for p in sources if not os.path.exists(p)]
    if missing:
        fail(f"program sources not found: {', '.join(missing)}")
    stamp = tree_hash(sources)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=800)
    lines = [l for l in r.stdout.splitlines() if l.startswith(os.sep)]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def launch(cp, args, run_dir, log):
    """Start the harness JVM; returns (process, seconds until READY)."""
    # a fixed heap: left to grow on demand, G1 settled on a different heap
    # size run to run and process CPU fell into two modes 40 % apart
    cmd = ["java", "-Xms4g", "-Xmx4g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness"] + args
    env = dict(os.environ,
               GRAFT_SCRATCH_ROOT=os.path.join(run_dir, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=log, text=True)
    ready = None
    for line in proc.stdout:
        if line.strip() == "READY":
            ready = time.perf_counter() - t0
            break
    return proc, ready


def finish(proc, timeout):
    try:
        proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
    return proc.returncode


def oracle_digests(record, inputs, input_key, scratch):
    """DuckDB oracle digest of every query that has one, run and cached
    the way `tools/check.py` does it, with `input_key` (one per input
    set) in place of the scale-factor directory. A query whose oracle
    reads files the program wrote is never cached."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check as gate
    os.environ["GRAFT_ORACLE_CACHE"] = os.path.join(BUILD, "oracle")
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gate.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inputs}/{t}.parquet')")
    out = {}
    for name, sql in record["oracle"].items():
        try:
            df = con.sql(sql).df() if scratch in sql else \
                gate.run_oracle(con, input_key, sql)
            out[name] = stats.frame_digest(df)
        except Exception as e:  # an oracle that cannot run checks nothing
            out[name] = f"oracle-error: {e}"
    con.close()
    return out


def check(record, outputs, oracle):
    """Per query: None when correct, else the reason it is not."""
    import pandas as pd
    verdict = {}
    for q in record["passes"][0]["queries"]:
        name = q["name"]
        if q["status"] != "ok":
            verdict[name] = q["error"] or q["status"]
        elif name not in oracle:
            verdict[name] = None  # no oracle: held to the first pass only
        else:
            got = stats.frame_digest(pd.read_parquet(os.path.join(outputs, name)))
            verdict[name] = None if got == oracle[name] else f"oracle mismatch ({oracle[name][:40]})"
    return verdict


def pass_sum(p, field):
    return sum(q[field] for q in p["queries"])


def pass_time(record, pass_index):
    """Seconds the pass spent inside its queries' spans."""
    return sum((s["end_us"] - s["start_us"]) / 1e6 for s in record["spans"]
               if s.get("pass") == pass_index and s.get("kind") == "query")


def measured(record, traced):
    """Warm passes that count: pass 0 is the cold first pass and pass 1
    a warm-up, since JIT compilation still speeds up the second pass."""
    return [p for p in record["passes"][2:] if p["traced"] == traced]


def end_to_end(record, setup_s, attempted, failed):
    warm = measured(record, traced=False)[:MEASURED_PASSES]
    return {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (pass_time(record, 0), "s"),
        "pass_s": (stats.median([pass_time(record, p["index"]) for p in warm]), "s"),
        "cpu_s": (stats.median([pass_sum(p, "cpu_s") for p in warm]), "s"),
        "live_heap_mb": (stats.median([p["live_heap_mb"] for p in warm]), "MB"),
        "ok_frac": (1.0 - failed / attempted, "frac"),
    }


def per_layer(record):
    """Per-layer metrics: the median over traced passes of each pass's
    total, except task percentiles (pooled over traced passes) and the
    JIT and class-loading counters (read after the first pass)."""
    traced = [p["index"] for p in measured(record, traced=True)]
    untraced = [p["index"] for p in measured(record, traced=False)]
    selfs = stats.self_times(record["spans"])
    spans = record["spans"]

    def key_pass(key):
        return int(key.split("|")[1]) if key.startswith("pb|") else -1

    def key_phase(key):
        return key.split("|")[3] if key.count("|") >= 3 else "other"

    def per_pass(fn):
        return stats.median([fn(i) for i in traced])

    def self_sum(i, kind):
        return sum(selfs[s["id"]] for s in spans
                   if s.get("pass") == i and s.get("kind") == kind) / 1e6

    tasks = record["tasks"]
    plans = record["plans"]
    stream = record["streaming"]

    def tasks_of(i):
        return [t for t in tasks if key_pass(t["key"]) == i]

    def plan_sum(i, field):
        return sum(p.get(field, 0.0) for p in plans if key_pass(p["key"]) == i)

    def idle(i):
        total = 0.0
        for s in spans:
            if s.get("pass") == i and s.get("kind") == "execute":
                busy = [(t["launch_ms"] * 1000, t["finish_ms"] * 1000) for t in tasks
                        if t["key"].startswith(f"pb|{i}|{s['name']}|")]
                total += stats.idle_time(s["start_us"], s["end_us"], busy)
        return total / 1e6

    def skew(i):
        by_stage = {}
        for t in tasks_of(i):
            by_stage.setdefault((t["stage"], t["attempt"]), []).append(
                (t["finish_ms"] - t["launch_ms"]) / 1e3)
        return stats.stage_skew(by_stage)

    def stream_of(i):
        return [s for s in stream if key_pass(s["key"]) == i]

    binned = [j for q in record["passes"][0]["queries"] for j in q["binned_joins"]]
    cands = sum(c for c, _ in binned)
    matches = sum(m for _, m in binned)
    durations = [(t["finish_ms"] - t["launch_ms"]) for i in traced for t in tasks_of(i)]
    tail = stats.tail_percentile(durations) or (0.0, 0.0)
    mb = 1048576.0
    traced_pass = per_pass(lambda i: pass_time(record, i))
    untraced_pass = stats.median([pass_time(record, i) for i in untraced])
    m = {
        "queries.build_s": (per_pass(lambda i: self_sum(i, "build")), "s"),
        "queries.eager_jobs": (per_pass(lambda i: sum(
            1 for j in record["jobs"] if key_pass(j["key"]) == i and key_phase(j["key"]) != "execute")), "count"),
        "queries.persisted_blocks": (per_pass(lambda i: pass_sum(record["passes"][i], "persisted_blocks")), "count"),
        "plans.plan_s": (per_pass(lambda i: self_sum(i, "plan")), "s"),
        "plans.exchanges": (per_pass(lambda i: plan_sum(i, "exchanges")), "count"),
        "plans.nested_loop_joins": (per_pass(lambda i: plan_sum(i, "nested_loop_joins")), "count"),
        "plans.broadcast_joins": (per_pass(lambda i: plan_sum(i, "broadcast_joins")), "count"),
        "exec.jobs": (per_pass(lambda i: sum(1 for j in record["jobs"] if key_pass(j["key"]) == i)), "count"),
        "exec.stages": (per_pass(lambda i: sum(1 for s in record["stages"] if key_pass(s["key"]) == i)), "count"),
        "exec.tasks": (per_pass(lambda i: len(tasks_of(i))), "count"),
        "exec.task_p50_ms": (stats.median(durations), "ms"),
        "exec.task_tail_ms": (tail[1], "ms"),
        "exec.idle_s": (per_pass(idle), "s"),
        "exec.task_cpu_s": (per_pass(lambda i: sum(t["cpu_ns"] for t in tasks_of(i)) / 1e9), "s"),
        "exec.task_run_s": (per_pass(lambda i: sum(t["run_ms"] for t in tasks_of(i)) / 1e3), "s"),
        "exec.gc_s": (per_pass(lambda i: sum(t["gc_ms"] for t in tasks_of(i)) / 1e3), "s"),
        "exec.shuffle_write_mb": (per_pass(lambda i: sum(t["shuffle_write_bytes"] for t in tasks_of(i)) / mb), "MB"),
        "exec.shuffle_read_mb": (per_pass(lambda i: sum(t["shuffle_read_bytes"] for t in tasks_of(i)) / mb), "MB"),
        "exec.spill_mb": (per_pass(lambda i: sum(t["spill_bytes"] for t in tasks_of(i)) / mb), "MB"),
        "exec.stage_skew_s": (per_pass(skew), "s"),
        "sources.scan_rows": (per_pass(lambda i: plan_sum(i, "scan_rows")), "count"),
        "sources.scan_mb": (per_pass(lambda i: plan_sum(i, "scan_bytes") / mb), "MB"),
        "sources.scan_s": (per_pass(lambda i: plan_sum(i, "scan_s")), "s"),
        "sources.write_rows": (per_pass(lambda i: plan_sum(i, "write_rows")), "count"),
        "sources.write_files": (per_pass(lambda i: plan_sum(i, "write_files")), "count"),
        "sources.write_mb": (per_pass(lambda i: plan_sum(i, "write_bytes") / mb), "MB"),
        "sources.commit_s": (per_pass(lambda i: plan_sum(i, "commit_s")), "s"),
        "operators.range_candidates_per_match": (
            cands / matches if matches else 0.0, "ratio"),
        "operators.join_rows_out": (per_pass(lambda i: plan_sum(i, "join_rows")), "count"),
        "operators.sort_s": (per_pass(lambda i: plan_sum(i, "sort_s")), "s"),
        "operators.agg_s": (per_pass(lambda i: plan_sum(i, "agg_s")), "s"),
        "functions.codegen_s": (per_pass(lambda i: plan_sum(i, "codegen_s")), "s"),
        "streaming.batches": (per_pass(lambda i: len(stream_of(i))), "count"),
        "streaming.batch_p50_ms": (per_pass(lambda i: stats.median(
            [s["durations_ms"].get("triggerExecution", 0) for s in stream_of(i)])), "ms"),
        "streaming.planning_s": (per_pass(lambda i: sum(
            s["durations_ms"].get("queryPlanning", 0) for s in stream_of(i)) / 1e3), "s"),
        "streaming.commit_s": (per_pass(lambda i: sum(
            s["durations_ms"].get("walCommit", 0) + s["durations_ms"].get("commitOffsets", 0)
            for s in stream_of(i)) / 1e3), "s"),
        "streaming.state_store_instances": (per_pass(lambda i: sum(
            s["state_store_instances"] for s in stream_of(i))), "count"),
        "jvm.jit_s": (record["jvm_after_first"]["jit_s"], "s"),
        "jvm.classes_loaded": (record["jvm_after_first"]["classes_loaded"], "count"),
        "jvm.gc_s": (per_pass(lambda i: pass_sum(record["passes"][i], "gc_s")), "s"),
        "trace.execute_s": (per_pass(lambda i: self_sum(i, "execute")), "s"),
        "trace.between_queries_s": (per_pass(lambda i: self_sum(i, "pass")), "s"),
        "trace.traced_pass_s": (traced_pass, "s"),
        "trace.untraced_pass_s": (untraced_pass, "s"),
        "trace.overhead_frac": (traced_pass / untraced_pass - 1.0 if untraced_pass else 0.0, "frac"),
    }
    # the percentile behind exec.task_tail_ms and its sample count
    return m, {"task_tail_pct": tail[0], "task_samples": len(durations)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]

    cp = build()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    outputs = os.path.join(run_dir, "outputs")
    for d in ("scratch", "local", "outputs"):
        os.makedirs(os.path.join(run_dir, d))
    gen.generate(inputs, a.seed, w["scale"])

    log_path = os.path.join(run_dir, "jvm.log")
    rec_path = os.path.join(run_dir, "record.json")
    with open(log_path, "w") as log:
        proc, setup_s = launch(cp, [
            "--inputs", inputs, "--queries", ",".join(w["queries"]),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", rec_path, "--outputs", outputs], run_dir, log)
        rc = finish(proc, JVM_TIMEOUT_S)
    if setup_s is None or rc != 0 or not os.path.exists(rec_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"harness failed (exit {rc})")
    with open(rec_path) as f:
        record = json.load(f)

    gen_hash = tree_hash([os.path.join(HERE, "gen.py")])
    oracle = oracle_digests(record, inputs,
                            f"{gen_hash}|{w['scale']}|{a.seed}",
                            os.path.join(run_dir, "scratch"))
    verdict = check(record, outputs, oracle)
    attempted = failed = 0
    for p in record["passes"]:
        for q in p["queries"]:
            attempted += 1
            failed += q["status"] != "ok" or verdict.get(q["name"]) is not None
    if a.trace == 0:
        metrics, notes = end_to_end(record, setup_s, attempted, failed), {}
    else:
        metrics, notes = per_layer(record)

    stretches = [p["stretch"] for p in record["passes"]]
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "box": stats.box_state(stretches),
        "stretch_max": max(stretches), "loadavg_max": max(p["loadavg"] for p in record["passes"]),
        "passes": len(record["passes"]), **notes,
        "failures": {k: v for k, v in verdict.items() if v},
        "conf": {k: v for k, v in record["conf"].items()
                 if k.startswith("spark.sql.") or k == "spark.master"},
    }
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", f"{tag}.json"), "w") as f:
        json.dump(dict(summary, setup_s=setup_s, metrics=metrics, verdict=verdict,
                       passes=record["passes"], spans=record["spans"],
                       self_us=stats.self_times(record["spans"]),
                       conf=record["conf"]), f)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
