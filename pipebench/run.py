#!/usr/bin/env python3
"""pipebench: graft's benchmark — the paper's config-driven ETL pipeline
and the shared-tier corpus gates, end to end and per layer.

Run from the root of a graft checkout:

    python3 pipebench/run.py --workload batch_backfill --seed 1 \
        --seconds 10 --trace 0

The first run builds the program and the harness from source with sbt
(offline) into .bench_build/. Each run generates its inputs from
--seed, runs the harness JVM at local[nproc] with the loopback import
endpoint in the same process, checks the outputs, prints a report, and
prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run
and writes that run's spans to .bench_build/traces/.
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
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ["batch_backfill", "small_files", "stream_shared_dir", "corpus_tiers"]
HEAP = "2g"
BUILD_TIMEOUT_S = 780
RUN_TIMEOUT_S = 165
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp(root):
    """Hash of every source the build compiles, so a checkout builds once."""
    h = hashlib.sha256()
    for top in (os.path.join(root, "src", "main"), HERE):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", "__pycache__"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt")):
                    p = os.path.join(d, f)
                    h.update(p.encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile the program's sources with the harness (sbt, offline);
    return the runtime classpath."""
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=(os.environ.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={out}/sbt-global", f"-Dsbt.ivy.home={out}/ivy",
           "compile", "export Runtime/fullClasspath"]
    with open(os.path.join(out, "build.log"), "w") as log:
        try:
            r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                               stderr=log, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        log.write(r.stdout)
    lines = [x for x in r.stdout.splitlines() if x.strip()]
    if r.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        fail(f"build failed, see {out}/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def quantiles(xs):
    """(q1, median, q3) as statistics.quantiles gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def percentile(xs, p):
    s = sorted(xs)
    pos = p * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def oracle_check(root, run):
    """Compare each corpus gate's dump against its DuckDB oracle SQL, with
    the row-count, column and value-matrix hash rules of
    tools/check_oracle.py. Returns [(gate, ok, detail)]."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{run}/sf/documents.parquet'")
    with open(os.path.join(run, "verify", "oracle_sql.json")) as f:
        sqls = json.load(f)
    out = []
    for gate, sql in sorted(sqls.items()):
        got = co.canon(pd.read_parquet(os.path.join(run, "verify", gate)))
        want = co.canon(con.execute(sql).df())
        if list(got.columns) != list(want.columns):
            out.append((gate, False, f"columns {list(got.columns)} != {list(want.columns)}"))
        elif len(got) != len(want):
            out.append((gate, False, f"rows {len(got)} != {len(want)}"))
        elif co.table_hash(got) != co.table_hash(want):
            out.append((gate, False, "value hash mismatch"))
        else:
            out.append((gate, True, f"{len(got)} rows"))
    return out


def self_times(spans):
    """Per span name: total duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault((s["run"], s["parent"]), []).append(s)
    out = {}
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        child = sum(c["end_ns"] - c["start_ns"] for c in kids.get((s["run"], s["id"]), []))
        out[s["name"]] = out.get(s["name"], 0.0) + (dur - child) / 1e9
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fault", choices=["none", "drop", "dup"], default="none",
                    help="make the endpoint drop or duplicate one batch, "
                         "to show that the output checks catch it")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft missing)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cp = build(root, out)

    run = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    gen.generate(a.workload, a.seed, run, a.seconds)
    os.makedirs(os.path.join(run, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # the heap is fixed and pre-touched, so peak RSS does not depend on
    # when the collector happened to grow the heap; heap use shows in
    # the per-layer heap_old_peak_mb
    cmd = [java, "-XX:+UseG1GC", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           *ADD_OPENS, f"-Djava.io.tmpdir={run}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-Dspark.ui.enabled=false", "-cp", cp, "graft.pipebench.Main",
           "--workload", a.workload, "--dir", run, "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cpus", str(cpus), "--fault", a.fault]
    t0 = time.time()
    with open(os.path.join(run, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out, see {run}/jvm.log")
    if r.returncode != 0:
        with open(os.path.join(run, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited {r.returncode}, see {run}/jvm.log")
    with open(os.path.join(run, "result.json")) as f:
        res = json.load(f)

    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    failed = res["failed"]
    if a.workload == "corpus_tiers":
        for gate, ok, detail in oracle_check(root, run):
            checks.append((f"oracle.{gate}", ok, detail))
            failed += 0 if ok else 1
    correct = failed == 0 and all(ok for _, ok, _ in checks)

    e2e = res["e2e"]
    samples = {
        "setup_s": res["setup_s"], "run_s": e2e["run_s"],
        "events_per_s": e2e["events_per_s"], "cpu_s": e2e["cpu_s"],
        "peak_rss_mb": e2e["peak_rss_mb"]}
    lag = e2e.get("lag_ms", [])
    print(f"pipebench {a.workload} seed={a.seed} trace={a.trace} "
          f"wall={time.time() - t0:.1f}s")
    ctx = res["context"]
    print("context " + json.dumps({**ctx, "attempted": res["attempted"],
                                   "failed": failed}))
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    metrics = {}
    if a.trace == 0:
        print(f"{'metric':<22}{'unit':>9}{'median':>12}{'q1':>12}{'q3':>12}{'n':>6}")
        for name, xs in samples.items():
            q1, med, q3 = quantiles(xs)
            metrics[name] = med
            print(f"{name:<22}{units[name]:>9}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{len(xs):>6}")
        for name, p in (("stream_lag_p50_ms", 0.5), ("stream_lag_p75_ms", 0.75)):
            metrics[name] = percentile(lag, p)
            print(f"{name:<22}{'ms':>9}{metrics[name]:>12.4f}{'':>24}{len(lag):>6}")
        wanted = [m["name"] for m in bench["end_to_end"]]
    else:
        layers = {k: statistics.median(v) for k, v in res["layers"].items()}
        layers["config_load_ms"] = statistics.median(res["config_load_ms"])
        layers["setup_cold_s"] = res["setup_s"][0]
        wanted = [m["name"] for m in bench["per_layer"]]
        for name in wanted:
            metrics[name] = layers.get(name, 0.0)
        print(f"{'layer metric':<34}{'unit':>8}{'value':>14}")
        for name in wanted:
            note = "" if name in layers else "  (layer idle here)"
            print(f"{name:<34}{units[name]:>8}{metrics[name]:>14.4f}{note}")
        print("ratios, with their bases:")
        for ratio, num, den in (("events_per_batch", "sink_events", "batches"),
                                ("gzip_ratio", "sink_raw_mb", "sink_gzip_mb"),
                                ("stream_read_amplification", "stream_input_rows",
                                 "stream_rows_landed"),
                                ("stream_jobs_per_batch", "stream_jobs", "micro_batches")):
            if den in layers:
                print(f"  {ratio} = {num} / {den} = {layers.get(num, 0):.4f} / "
                      f"{layers[den]:.4f}")
        print(f"  fail_share = failed / attempted = {failed} / {res['attempted']}")
        if "stage_sum_s" in layers:
            print(f"  untraced wall {layers['untraced_wall_s']:.4f} s = stage times "
                  f"{layers['stage_sum_s']:.4f} s + trace_residual_s "
                  f"{layers['trace_residual_s']:.4f} s; traced wall "
                  f"{layers['traced_wall_s']:.4f} s = untraced wall + trace_gap_s "
                  f"{layers['trace_gap_s']:.4f} s")
        traces = os.path.join(out, "traces")
        os.makedirs(traces, exist_ok=True)
        span_file = os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl")
        with open(span_file, "w") as f:
            for s in res["spans"]:
                f.write(json.dumps(s) + "\n")
        print(f"spans: {span_file} ({len(res['spans'])} spans)")
        print(f"{'span self time':<34}{'s':>8}")
        for name, s in sorted(self_times(res["spans"]).items(), key=lambda x: -x[1]):
            print(f"{name:<34}{s:>8.3f}")
    for name, ok, detail in checks:
        if not ok:
            print(f"CHECK FAILED {name}: {detail}")
    print(f"checks: {sum(ok for _, ok, _ in checks)}/{len(checks)} passed")
    logs = os.path.join(out, "logs")
    os.makedirs(logs, exist_ok=True)
    shutil.copy(os.path.join(run, "jvm.log"),
                os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log"))
    shutil.rmtree(run, ignore_errors=True)
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in wanted}}))


if __name__ == "__main__":
    main()
