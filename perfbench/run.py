#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload amplab_scan_agg --seed 1 \
        --seconds 14 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt (offline); later runs reuse the build while the sources
are unchanged. Inputs are generated from the seed and cached under
perfbench/.work. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer
ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import layers  # noqa: E402

CORES = len(os.sched_getaffinity(0))
HEAP = "3g"
# Entries per workload; see README.md for why each was chosen. `scale`
# is the scale-out factor over the sf0.1-shaped base tables, None for
# the base tables themselves.
WORKLOADS = {
    "amplab_scan_agg": {
        "scale": 4,
        "entries": ["q01_scan_1a", "q02_scan_1b", "q04_agg_2a", "q07_distinct",
                    "q37_tpch_q3", "q63_orc_lifecycle"]},
    "corpus_stream": {
        "scale": None,
        "entries": ["q239_cdc_chunks", "q47_stream_hourly"]},
}
PARTS = 16
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the harness; returns the JVM classpath."""
    stamp_file = os.path.join(WORK, "build", source_stamp() + ".classpath")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = opts + " -Dsbt.offline=true -Dsbt.override.build.repos=true"
    log("building the program and the harness (sbt, offline)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def inputs(workload, seed):
    """(data dir, data key): the base tables, or the seeded scale-out."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    scale = WORKLOADS[workload]["scale"]
    key = f"base-{version}" if scale is None else f"x{scale}-{version}"
    out = os.path.join(WORK, "data", key if scale is None else f"{key}-s{seed}")
    if not os.path.exists(os.path.join(out, "rows.json")):
        t0 = time.time()
        tables = gen.base_tables()
        if scale is None:
            gen.write(tables, out)
        else:
            tables = gen.scale_out(tables, scale)
            gen.write(tables, out, seed=seed, parts=PARTS)
        with open(os.path.join(out, "rows.json"), "w") as f:
            json.dump(gen.row_counts(tables), f)
        # flush the new files now, not during the timed passes
        os.sync()
        log(f"generated {out} in {time.time() - t0:.1f} s")
    return out, key


def run_jvm(classpath, data_dir, out_dir, entries, seed, seconds, traced):
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *[a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Harness",
           data_dir, out_dir, ",".join(entries), str(seed), str(seconds),
           str(CORES), "1" if traced else "0", repr(time.time() * 1e3)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out_dir, "spark-local"))
    with open(os.path.join(out_dir, "jvm.log"), "w") as logf:
        p = subprocess.run(cmd, env=env, stdin=subprocess.DEVNULL, stdout=logf,
                           stderr=subprocess.STDOUT, timeout=170)
    if p.returncode != 0:
        with open(os.path.join(out_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness JVM exited with {p.returncode}")
    with open(os.path.join(out_dir, "run.json")) as f:
        return json.load(f)


def input_rows(data_dir, oracle_sql):
    """Rows of every table the workload's oracles read."""
    with open(os.path.join(data_dir, "rows.json")) as f:
        rows = json.load(f)
    sql = " ".join(oracle_sql.values()).lower()
    return sum(n for t, n in rows.items() if re.search(rf"\b{t}\b", sql))


def e2e_metrics(run, rows):
    timed = [p for p in run["passes"] if not p["traced"]]
    pass_s = [sum(e["build_s"] + e["exec_s"] for e in p["entries"]) for p in timed]
    pool = [e["build_s"] + e["exec_s"] for p in timed for e in p["entries"]]
    log(f"{len(timed)} timed passes, {len(pool)} entry latencies pooled; "
        f"pass_s {[round(x, 3) for x in pass_s]}")
    median_pass = statistics.median(pass_s)
    return {
        "pass_s": median_pass,
        "entry_p50_s": statistics.median(pool),
        "input_rows_per_s": rows / median_pass,
        "cost_usd": statistics.median(p["cost_usd"] for p in timed),
        "setup_s": run["setup_s"],
        "heap_peak_mb": max(p["heap_mb"] for p in timed),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        raise SystemExit("the program's sources are missing: run from a checkout "
                         "of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    classpath = build()
    w = WORKLOADS[args.workload]
    data_dir, data_key = inputs(args.workload, args.seed)
    out_dir = os.path.join(WORK, "runs", args.workload)
    run = run_jvm(classpath, data_dir, out_dir, w["entries"], args.seed,
                  args.seconds, args.trace == 1)

    verdict = oracle.check(data_dir, data_key, os.path.join(out_dir, "results"),
                           run["oracle_sql"], w["entries"],
                           os.path.join(WORK, "oracle"))
    mismatched = sorted(n for n, v in verdict.items() if v)
    for n in mismatched:
        log(f"oracle mismatch {n}: {verdict[n]}")
    failed = run["failed"] + len([n for n in mismatched if n not in run["check_failed"]])
    attempted = run["attempted"]
    log(f"failed_frac {failed / attempted:.4f} ({failed}/{attempted} entry runs)")

    if args.trace == 0:
        values = e2e_metrics(run, input_rows(data_dir, run["oracle_sql"]))
        wanted = spec["end_to_end"]
    else:
        values, residual = layers.layer_metrics(os.path.join(out_dir, "spans.jsonl"),
                                               run["passes"])
        # a layer the workload never enters reads 0
        values = {m["name"]: 0.0 for m in spec["per_layer"]} | values
        traced = [p for p in run["passes"] if p["traced"]]
        plain = [p for p in run["passes"] if not p["traced"]]

        def median_pass(ps):
            return statistics.median(
                sum(e["build_s"] + e["exec_s"] for e in p["entries"]) for p in ps)
        values["tracing_overhead_s"] = median_pass(traced) - median_pass(plain)
        values["session_start_s"] = run["session_start_s"]
        values["warmup_s"] = run["warmup_s"]
        log(f"tracing overhead {values['tracing_overhead_s']:.4f} s per pass "
            f"({len(traced)} traced, {len(plain)} untraced passes); largest gap "
            f"between an entry's summed self times and its wall: {residual:.2e} s")
        wanted = spec["per_layer"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
