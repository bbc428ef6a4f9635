#!/usr/bin/env python3
"""Benchmark runner for the lakehouse engine.

    python3 perfbench/run.py --workload <pipeline|analytics|statements>
        --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) into `.bench_build/` and
`perfbench/target/`; later runs reuse the build while the sources are
unchanged. Each run generates its inputs from the seed, runs one JVM
(`perfbench.Main`) for the workload, checks the outputs and prints one
JSON object as the last line of standard output:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones. The full result (per-operation seconds, diagnostics,
host noise) is kept under `.bench_build/results/`, and a traced run's
spans under `.bench_build/results/*.spans.jsonl`.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("pipeline", "analytics", "statements")
END_TO_END = {"setup_s": "s", "total_s": "s", "geomean_s": "s", "peak_rss_mb": "MB"}
SILVER = ["authors", "topics", "subtopics", "keywords", "references_table", "articles",
          "article_keywords", "article_references", "comments", "comment_interactions"]
GOLD = ["dim_date", "dim_author", "dim_topic", "dim_sub_topic", "dim_keyword",
        "dim_reference_source", "dim_interaction_type", "fact_article_publication",
        "fact_article_keyword", "fact_article_reference", "fact_top_comment_activity",
        "fact_top_comment_interaction_detail"]
PER_LAYER = dict(
    [(f"spark.{m}", u) for m, u in [
        ("plan_ms", "ms"), ("query_executions", "count"), ("jobs", "count"),
        ("tasks", "count"), ("job_busy_ms", "ms"), ("driver_gap_ms", "ms"),
        ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"), ("gc_ms", "ms"),
        ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes")]]
    + [("b2s.load_s", "s"), ("b2s.rows_out", "count"), ("b2s.rejected_rows", "count"),
       ("b2s.stream_s", "s"), ("b2s.stream.batches", "count"),
       ("b2s.stream.add_batch_ms", "ms"), ("b2s.stream.query_planning_ms", "ms"),
       ("b2s.stream.wal_commit_ms", "ms")]
    + [(f"b2s.table_s.{t}", "s") for t in SILVER]
    + [("s2g.full_s", "s"), ("s2g.changelog_s", "s"), ("s2g.changelog_dates", "count"),
       ("s2g.incremental_vs_full", "ratio")]
    + [(f"s2g.{path}.table_s.{t}", "s") for path in ("full", "changelog") for t in GOLD]
    + [("export.full_s", "s"), ("export.daily_s", "s"), ("export.partitions_rewritten", "count")]
    + [("commit.bytes_written", "bytes"), ("commit.files_written", "count"),
       ("commit.write_amp", "ratio"), ("commit.root_versions", "count"),
       ("fs.list_ops", "count")]
    + [(f"analytics.module_s.{m}", "s") for m in
       ("dedup", "text", "similarity", "operators", "functions", "multimodal", "sql")])

# inputs per workload: (tables scale) or (articles, days, increments)
SIZES = {
    False: {"tables": 1.0, "corpus": (200, 5, 10)},
    True: {"tables": 0.1, "corpus": (40, 4, 1)},
}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
RUN_TIMEOUT_S = 165


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, to reuse it while nothing changed."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(f[len(ROOT):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt once; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        out.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed, see {log}")
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail(f"no classpath in build output, see {log}")
    classpath = lines[-1].strip()
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def oracle_failures(check_dir):
    """Compare each query output with its DuckDB oracle, using the
    comparison of the engine's correctness gate (`tools/check.py`)."""
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    import duckdb
    import pandas as pd
    data_dir = os.path.join(os.path.dirname(check_dir), "data")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = []
    for name in sorted(os.listdir(check_dir)):
        path = os.path.join(check_dir, name)
        if not os.path.isdir(path):
            continue
        got = pd.read_parquet(path)
        if name not in oracles:
            if len(got) == 0:
                bad.append(f"{name}: empty output")
            continue
        try:
            err = check.compare(name, got, con.sql(oracles[name]).df())
        except Exception as e:  # the oracle itself failed
            err = f"oracle error {str(e)[:200]}"
        if err:
            bad.append(f"{name}: {err}")
    return bad


def run(args):
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala"))
            and os.path.isfile(os.path.join(ROOT, "tools/check.py"))):
        fail(f"{ROOT} holds no engine sources to benchmark")
    classpath = build()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    size = SIZES[args.smoke]
    t0 = time.perf_counter()
    if args.workload == "pipeline":
        corpus.build(data, args.seed, *size["corpus"])
    else:
        tables.write(data, args.seed, size["tables"])
    gen_s = time.perf_counter() - t0

    out = os.path.join(work, "result.json")
    # the heap is committed and touched at start, and native allocations
    # share two malloc arenas, so the peak RSS does not depend on how far
    # the collector happened to spread over the heap or how many arenas
    # the executor threads opened: it moves with the program's off-heap
    # memory (classes, generated code, JIT, buffers, threads)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss4m"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--work", work, "--out", out]
           + (["--smoke"] if args.smoke else []))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             env=dict(os.environ, MALLOC_ARENA_MAX="2"))
        try:
            p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s, see {work}/jvm.log")
    if p.returncode != 0 or not os.path.exists(out):
        fail(f"JVM exited with {p.returncode}, see {work}/jvm.log")
    with open(out) as f:
        res = json.load(f)

    failures = list(res["failures"])
    if args.workload != "pipeline":
        failures += oracle_failures(os.path.join(work, "check"))
    res["failures"] = failures
    res["diagnostics"]["input_gen_s"] = gen_s
    res["diagnostics"]["error_rate"] = len(failures) / max(1, res["attempted"])
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    history = os.path.join(results, f"{args.workload}.untraced.jsonl")
    e2e = {k: v["value"] for k, v in res["metrics"].items()}
    ops = {o["op"]: o["seconds"] for o in res["ops"]}
    if args.trace:
        # tracing overhead: this run against the untraced runs of the same
        # workload kept in this checkout, over the operations both timed (a
        # traced pipeline run also makes an increment)
        if os.path.exists(history):
            with open(history) as f:
                past = [json.loads(l) for l in f if l.strip()]
            if past:
                def ratio(now, before):
                    return now / statistics.median(before) - 1
                common = [o for o in ops if all(o in p["ops"] for p in past)]
                res["diagnostics"]["trace_overhead"] = {
                    "untraced_runs": len(past),
                    "ops_s": ratio(sum(ops[o] for o in common),
                                   [sum(p["ops"][o] for o in common) for p in past]),
                    "setup_s": ratio(e2e["setup_s"], [p["metrics"]["setup_s"] for p in past]),
                    "peak_rss_mb": ratio(e2e["peak_rss_mb"],
                                         [p["metrics"]["peak_rss_mb"] for p in past])}
        metrics = {k: {"value": float(res["layers"].get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
        if os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(results, f"{run_id}.spans.jsonl"))
    else:
        if not args.smoke:
            with open(history, "a") as f:
                f.write(json.dumps({"metrics": e2e, "ops": ops}) + "\n")
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump(res, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    for msg in failures:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(f"perfbench: {args.workload} diagnostics {json.dumps(res['diagnostics'])}",
          file=sys.stderr)
    return {"correct": not failures, "attempted": int(res["attempted"]),
            "failed": len(failures), "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one round or increment (the benchmark's own tests)")
    result = run(ap.parse_args(argv))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
