#!/usr/bin/env python3
"""Product-path benchmark of the ingestion engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness (an sbt
project in this directory that compiles the engine's sources together with
the harness under src/); later runs reuse the build while no source file
changed. Each invocation works in a fresh directory under perfbench/.work/,
removed at the end; the result record, the JVM log and (traced runs) the
span file are kept under perfbench/results/.

Workloads (see BENCHMARK.json for why each exists):
  ingest_batch         closed loop of IngestPipeline.runOnce over a growing inbox
  status_read          nproc closed-loop HTTP clients on StatusHttp, ~20k-upload ledger
  ingest_stream_mixed  open-loop landings into StreamingIngest beside one status client
  query_sweep          banded-join queries of the dedup/similarity/text sets

End-to-end metrics, printed with --trace 0:
  setup_s      median of five set-ups in the run (the untimed warm-up of
               the measured state, such as a first streaming trigger, is
               not part of it)
  latency_ms   time of the workload's operation: the mean landing pass
               (ingest_batch), the mean get-upload-status request
               (status_read), the mean of scheduled land to ledger
               terminal timestamp over the files (ingest_stream_mixed),
               the median sweep over the query list (query_sweep). Medians
               and p90s of the other workloads are per-layer.
error_rate (failed / attempted) is printed with them. Memory is per-layer
only (jvm.peak_rss_mb, the JVM's resident-set high-water mark): under the
engine's default collector it follows heap-sizing decisions more than the
workload's data (2.1-3.7 GB from run to run of one workload), too loosely
to carry a bound.

With --trace 1 the run measures the same window with the benchmark's
listeners and spans on, prints the per-layer metrics (throughput,
percentiles, counts and self times included), and states the tracing
overhead: its end-to-end values minus those of the untraced run of the same
seed, kept in perfbench/results/, which landed the same files on the same
schedule or ran the same sweeps.

Output checks:
  ingest outcome oracle  each landed file's final state worked out from the
                         reference's rules (Python's split('\\n') line count,
                         retry to quarantine after 5 attempts in batch, one
                         attempt in streaming, no trace for non-CSV files)
                         against the ledger and the quarantine log
  status response oracle in the harness: every status_read body against the
                         rows its set-up wrote
  query oracle           each query result against its DuckDB oracle, with
                         tools/check_oracle.py
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench.stamp")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
JVM_TIMEOUT_S = 170
# BENCHMARK.json lists the workloads a full benchmark pass runs; the
# other two stay runnable by name for work on their layers.
WORKLOADS = ("ingest_batch", "status_read", "ingest_stream_mixed", "query_sweep")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile with sbt when any source changed since the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("engine sources (src/main/scala) not found next to perfbench/")
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("spark-submit") or "/")))
    if not os.path.isdir(os.path.join(spark_home, "jars")):
        die("no Spark distribution found: set SPARK_HOME or put spark-submit on PATH")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home)
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed", 3)
    cp = next((l for l in reversed(lines)
               if not l.startswith("[") and os.pathsep in l), None)
    if cp is None:
        die("build printed no classpath", 3)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp.strip())
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)


def run_jvm(args, work, out, log):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVM options of the engine's own run configuration (build.sbt):
    # default collector, heap limit from SPARK_DRIVER_MEM
    cmd = (["java", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out])
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            # on a timeout, or when this script is interrupted or
            # terminated, the JVM must not outlive it
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def created_iso(mtime_ms):
    """Python's isoformat of the object's creation time, as the reference
    embeds it in the upload identity."""
    t = datetime.datetime.fromtimestamp(mtime_ms // 1000, tz=datetime.timezone.utc)
    return t.replace(microsecond=(mtime_ms % 1000) * 1000).isoformat()


def ingest_oracle(o):
    """Expected final state of every landed file from the reference's rules,
    compared with the ledger and quarantine rows. Returns (checked, failures)."""
    inbox = o["inbox"]
    batch = o["mode"] == "batch"
    passes = o.get("passes", 0)
    ledger = {r["upload_id"]: r for r in o["ledger"]}
    quarantine = {}
    for r in o["quarantine"]:
        quarantine[r["upload_id"]] = quarantine.get(r["upload_id"], 0) + 1
    events = o["landed"]
    expected_ids = set()
    failures = []
    for i, ev in enumerate(events):
        name = ev["name"]
        uid = hashlib.sha256(
            f"file:{inbox}-{name}-{ev['size']}-{created_iso(ev['mtime_ms'])}"
            .encode()).hexdigest()[:16]
        row = ledger.get(uid)
        if not name.lower().endswith(".csv"):
            if row is not None or any(r.get("file_name") == name for r in o["ledger"]):
                failures.append(f"{name}: non-CSV file left a ledger row")
            continue
        expected_ids.add(uid)
        with open(os.path.join(inbox, name), "rb") as fh:
            n = len(fh.read().decode("utf-8").split("\n"))
        if n >= 2:
            want = {"status": "done", "lines_processed": n, "attempts": None}
            in_q = False
        else:
            if batch:
                # seen by every pass from its landing until a later
                # re-upload of the same name replaces its identity
                end = next((e["pass"] for e in events[i + 1:]
                            if e["name"] == name), passes)
                attempts = min(end - ev["pass"], 5)
            else:
                attempts = 1
            want = {"status": "failed", "lines_processed": None,
                    "attempts": attempts}
            in_q = attempts >= 5
        got = None if row is None else {k: row.get(k) for k in want}
        if got != want:
            failures.append(f"{name} ({ev['kind']}, {ev['size']} B): "
                            f"expected {want}, ledger has {got}")
        if quarantine.get(uid, 0) != (1 if in_q else 0):
            failures.append(f"{name} ({ev['kind']}): expected "
                            f"{1 if in_q else 0} quarantine rows, found "
                            f"{quarantine.get(uid, 0)}")
    for uid, r in ledger.items():
        if uid not in expected_ids:
            failures.append(f"{r.get('file_name')}: ledger row {uid} matches no landed file")
    return len(events), failures


def query_oracle(o):
    """DuckDB oracle for each query result, with the repo's own comparison."""
    tool = os.path.join(ROOT, "tools", "check_oracle.py")
    names = o["queries"]
    p = subprocess.run([sys.executable, tool, o["fixture"], o["results"]],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=120)
    ok = {l.split()[1].rstrip(":") for l in p.stdout.splitlines()
          if l.strip().startswith("OK ")}
    failures = [l.strip() for l in p.stdout.splitlines()
                if l.strip().startswith("FAIL ")]
    failures += [f"{n}: no oracle result" for n in names
                 if n not in ok and not any(f.startswith(f"FAIL {n}:") for f in failures)]
    return len(names), failures


def print_overhead(args, res, results):
    """Tracing overhead: this traced run's end-to-end values minus those of
    the untraced run of the same workload, seed and length, which measured
    the same inputs and schedule."""
    plain = os.path.join(results, f"{args.workload}-s{args.seed}-t0.json")
    base = None
    if os.path.exists(plain):
        with open(plain) as fh:
            base = json.load(fh)
    if base is None or base.get("seconds") != args.seconds:
        print(f"  tracing overhead: no untraced run of seed {args.seed} at "
              f"{args.seconds:g} s in {os.path.relpath(results, ROOT)}/ to "
              "compare with; run it with --trace 0 first")
        return
    for k in sorted(res["e2e"]):
        if k in base["e2e"]:
            print(f"  tracing overhead {k}: {res['e2e'][k] - base['e2e'][k]:+.4f} "
                  f"(traced {res['e2e'][k]:.4f}, untraced {base['e2e'][k]:.4f})")


def main():
    # SIGTERM unwinds like Ctrl-C, so the cleanup in run_jvm and main runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        die("BENCHMARK.json not found at the repository root")
    with open(bench_file) as fh:
        spec = json.load(fh)
    if args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload}")
    build()

    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    log = os.path.join(results, f"{tag}.log")
    try:
        code = run_jvm(args, work, out, log)
        if code != 0 or not os.path.exists(out):
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            die(f"harness {'timed out' if code is None else f'exited {code}'}", 4)
        with open(out) as fh:
            res = json.load(fh)
        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        o = res["oracle"]
        if o.get("mode") in ("batch", "stream"):
            n, fs = ingest_oracle(o)
        elif o.get("mode") == "queries":
            n, fs = query_oracle(o)
        else:
            n, fs = 0, []
        attempted += n
        failed += len(fs)
        failures += fs
        if os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(results, f"{tag}.spans.jsonl"))
        del res["oracle"]
        res.update(attempted=attempted, failed=failed, failures=failures)
        with open(os.path.join(results, f"{tag}.json"), "w") as fh:
            json.dump(res, fh, indent=1, sort_keys=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        wanted = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = res["layers"]
    else:
        wanted = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = res["e2e"]
    metrics = {}
    for name, unit in wanted:
        v = values.get(name)
        if v is None:
            if not args.trace:
                die(f"end-to-end metric {name} was not measured", 5)
            v = 0.0
        metrics[name] = {"value": v, "unit": unit}

    h = res["host"]
    print(f"{args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} host: nproc={h['nproc']} "
          f"mem_total_kb={h['mem_total_kb']} jdk={h['jdk']} spark={h['spark']}")
    for name, m in metrics.items():
        print(f"  {name:<40} {m['value']:>14.4f} {m['unit']}")
    print(f"  {'error_rate':<40} {failed / max(attempted, 1):>14.4f} "
          f"({failed} failed / {attempted} attempted)")
    if args.trace:
        print_overhead(args, res, results)
    for f in failures[:50]:
        print(f"  FAILED {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
