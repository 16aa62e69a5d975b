#!/usr/bin/env python3
"""Benchmark of the extraction engine; one command for every workload.

    python3 perfbench/run.py --workload extract_scan|crawl_pipeline \\
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the repository root. It builds the program from source on first
use (perfbench/build.py), runs the workload in one JVM on local[nproc],
checks the outputs it timed, and prints as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The layers a workload does not run
(NOT_RUN) report 0; any other declared metric the run did not measure is
an error. The full record, host stamp included, and with --trace 1 the
span tree, stay under .bench_build/runs/. The curate query outputs of a
traced crawl_pipeline run are compared here with their DuckDB oracle SQL
(SparkEntry.oracleSql).
"""
import argparse
import json
import os
import shutil
import subprocess

import build

ROOT = build.ROOT
RUNS = os.path.join(build.BUILD, "runs")
WORKLOADS = ("extract_scan", "crawl_pipeline")
# Per-layer metrics a workload does not measure, by name or by a prefix that
# ends in ".": extract_scan writes nothing, so it has no lineage, resume,
# stored output or curate stage; crawl_pipeline reads its kernel figures from
# lineage only as kernel_share, and has no PDF timing and no local[1] window.
NOT_RUN = {
    "extract_scan": ("pipeline.lineage_s", "pipeline.resume_s",
                     "pipeline.resume_skipped_buckets", "pipeline.stored_bytes_ratio",
                     "curate."),
    "crawl_pipeline": ("htmltok.", "dom.", "extract.", "pdf.", "scaling_eff"),
}
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these; the same list as the
# sbt build's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def not_run(workload, name):
    return any(name == n or (n.endswith(".") and name.startswith(n))
               for n in NOT_RUN[workload])


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def oracle_failures(oracle):
    """Compare each query output with its oracle SQL in DuckDB over the same
    tables; returns one message per mismatch or error."""
    import duckdb
    failures = []
    for chk in oracle:
        try:
            con = duckdb.connect()
            for t in ("documents", "embeddings"):
                con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet/*.parquet')"
                            % (t, chk["tables"], t))
            want = sorted(map(str, con.execute(chk["sql"]).fetchall()))
            got = sorted(map(str, con.execute(
                "SELECT * FROM read_parquet('%s/*.parquet')" % chk["out"]).fetchall()))
            if want != got:
                failures.append("%s: %d rows differ from its oracle's %d"
                                % (chk["query"], len(got), len(want)))
            con.close()
        except Exception as e:  # a query whose output cannot be read fails too
            failures.append("%s oracle: %s" % (chk["query"], e))
    return failures


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, for the benchmark's own tests")
    a = p.parse_args()

    os.makedirs(RUNS, exist_ok=True)
    tag = "%s-%d-%d" % (a.workload, a.seed, a.trace)
    log_path = os.path.join(RUNS, tag + ".log")
    with open(log_path, "w") as log:
        build.build(log)
        work = os.path.join(build.BUILD, "work", a.workload)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        result = os.path.join(RUNS, tag + ".json")
        if os.path.exists(result):
            os.remove(result)
        cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-Xss8m", "-XX:CICompilerCount=6", "-XX:-UsePerfData",
               "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for m in ADD_OPENS:
            cmd += ["--add-opens", m + "=ALL-UNNAMED"]
        cmd += ["-cp", build.classpath(), "graft.perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--result", result]
        if a.smoke:
            cmd.append("--smoke")
        os.makedirs(os.path.join(work, "tmp"))
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit("benchmark JVM timed out after %ds; log: %s"
                             % (JVM_TIMEOUT_S, log_path))
    if r.returncode != 0 or not os.path.exists(result):
        raise SystemExit("benchmark JVM failed (exit %d); log: %s" % (r.returncode, log_path))

    with open(result) as fh:
        rec = json.load(fh)
    failures = list(rec["failures"])
    attempted, failed = rec["attempted"], rec["failed"]
    if rec["oracle"]:
        bad = oracle_failures(rec["oracle"])
        attempted += len(rec["oracle"])
        failed += len(bad)
        failures += bad
    measured = dict(rec["metrics"])
    measured["fail_frac"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    metrics = {}
    for m in declared_metrics(a.trace):
        if a.trace and not_run(a.workload, m["name"]):
            if m["name"] in measured:
                raise SystemExit("%s measured %s, listed as not run" % (a.workload, m["name"]))
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        elif m["name"] in measured:
            metrics[m["name"]] = measured[m["name"]]
        else:
            raise SystemExit("metric %s was not measured" % m["name"])
    rec.update(attempted=attempted, failed=failed, failures=failures)
    with open(result, "w") as fh:
        json.dump(rec, fh, indent=1)
    for f in failures:
        print("FAILED:", f)
    host = {k: v["value"] for k, v in measured.items() if k.startswith("host.")}
    print("host:", json.dumps(host), "record:", os.path.relpath(result, ROOT))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
