#!/usr/bin/env python3
"""Feature-store and operator-registry benchmark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the checked-out sources (see build.py), runs the workload once in a
fresh JVM with a fresh Spark session (`local[4]`, one client thread) and a
fresh store directory, checks the outputs, and prints as its last line
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the metrics
are the end-to-end ones; with `--trace 1` the workload runs twice, untraced
then traced, and the metrics are the per-layer ones from the traced run plus
`trace.overhead_pct`, the traced run's change in the workload's headline
number. The line before the last is a JSON record of the run: commit, seed,
host telemetry, Spark settings, both runs' end-to-end numbers, check results
and op errors. Host telemetry is recorded only; no run is dropped, retried or
reweighted because of it.

Workloads (see README.md for the reasons and the layer map):
  store_online   closed-loop serveFeatures over Zipf(1.1) keys; traced runs
                 also run ingest cycles (register, training read, as-of,
                 list, retention) after the timed window
  ops            registry queries: one cold pass, then warm passes

The input tables are read from $PERFBENCH_DATA, by default ~/testdata/sf0.1.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("store_online", "ops")
# The latency tail reported: the highest percentile that keeps >= 10 samples
# beyond it in one run of the current code (see README.md).
TAIL = 75
JVM_OPTS = ["-XX:-UsePerfData", "-Xmx4g", "-Xss8m"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170


class RunError(Exception):
    pass


def declared_metrics(kind):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def host_sample():
    """(steal jiffies, 1-minute load average) of the host, or None each."""
    steal = load = None
    try:
        with open("/proc/stat") as fh:
            cpu = fh.readline().split()
        steal = int(cpu[8]) if cpu[0] == "cpu" and len(cpu) > 8 else None
    except (OSError, ValueError):
        pass
    try:
        with open("/proc/loadavg") as fh:
            load = float(fh.read().split()[0])
    except (OSError, ValueError):
        pass
    return steal, load


def git_stamp():
    """(commit, dirty) of the checkout, or (None, None) outside a git work tree."""
    def git(*a):
        p = subprocess.run(["git", "-C", ROOT] + list(a), stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        return p.stdout.strip() if p.returncode == 0 else None
    top = git("rev-parse", "--show-toplevel")
    if top is None or os.path.realpath(top) != os.path.realpath(ROOT):
        return None, None
    return git("rev-parse", "HEAD"), bool(git("status", "--porcelain"))


def run_jvm(classpath, workload, seed, seconds, traced, data, deadline):
    """One JVM run of the workload; returns its parsed result.json."""
    out = os.path.join(build.BUILD, "runs", f"{os.getpid()}-{int(traced)}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    try:
        steal0, load0 = host_sample()
        launched = time.time()
        cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={out}/tmp", "-cp", classpath,
               "perfbench.PerfBench", workload, str(seed), str(seconds),
               "1" if traced else "0", data, out])
        with open(os.path.join(out, "jvm.log"), "w") as log:
            try:
                p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=out,
                                   env=dict(os.environ, TMPDIR=f"{out}/tmp"),
                                   timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                raise RunError(f"{workload} run exceeded the time limit")
        steal1, load1 = host_sample()
        if p.returncode != 0:
            with open(os.path.join(out, "jvm.log")) as log:
                tail = log.read()[-3000:]
            raise RunError(f"{workload} JVM exited with {p.returncode}:\n{tail}")
        with open(os.path.join(out, "result.json")) as fh:
            rec = json.load(fh)
        rec["uptime_s"]["exited"] = time.time() - launched
        rec["host"] = {"steal_jiffies": None if steal0 is None or steal1 is None
                       else steal1 - steal0, "loadavg1_before": load0,
                       "loadavg1_after": load1}
        if workload == "ops":
            rec["oracle"] = oracle_check(data, rec["dump_dir"], f"{out}/tmp")
        return rec
    finally:
        shutil.rmtree(out, ignore_errors=True)


def oracle_check(data, dump_dir, tmp):
    """Compare every dumped query with its DuckDB oracle via tools/check_oracle.py."""
    with open(os.path.join(dump_dir, "oracle_sql.json")) as fh:
        names = sorted(json.load(fh))
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        data, dump_dir], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, cwd=ROOT,
                       env=dict(os.environ, TMPDIR=tmp))
    passed = sorted(line.split()[1] for line in p.stdout.splitlines()
                    if line.startswith("✓ "))
    ok = p.returncode == 0 and passed == names
    return {"ok": ok, "passed": passed,
            "detail": "" if ok else p.stdout[-3000:]}


def summary(rec, workload):
    ok_ops, failed_ops = metrics.timed_ops(rec)
    checks = [c for c in rec["checks"] if not c["ok"]]
    if workload == "ops" and not rec["oracle"]["ok"]:
        checks.append({"name": "oracle", "ok": False, "detail": rec["oracle"]["detail"]})
    return {
        "correct": not checks and bool(ok_ops),
        "attempted": len(ok_ops) + len(failed_ops),
        "failed": len(failed_ops),
        "failed_checks": checks,
        "errors": sorted({s["error"] for s in failed_ops})[:10],
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    started = time.time()
    data = os.environ.get("PERFBENCH_DATA",
                          os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    if not os.path.exists(os.path.join(data, "events.parquet")):
        print(f"perfbench: no input tables under {data}", file=sys.stderr)
        return 2
    try:
        classpath, digest = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.time() + RUN_LIMIT_S - min(time.time() - started, 10)

    try:
        runs = [run_jvm(classpath, a.workload, a.seed, a.seconds, False, data, deadline)]
        if a.trace:
            runs.append(run_jvm(classpath, a.workload, a.seed, a.seconds, True, data,
                                deadline))
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1

    sums = [summary(r, a.workload) for r in runs]
    if not all(s["attempted"] > s["failed"] for s in sums):
        print(f"perfbench: no timed op succeeded: {sums}", file=sys.stderr)
        return 1
    e2e = [metrics.end_to_end(r, a.workload, TAIL) for r in runs]
    final = sums[-1]
    if a.trace:
        values = metrics.layer_metrics(runs[1], a.workload)
        values["trace.overhead_pct"] = (e2e[1]["p50_ms"] / e2e[0]["p50_ms"] - 1.0) * 100.0
    else:
        values = e2e[0]
    declared = declared_metrics("per_layer" if a.trace else "end_to_end")
    if set(values) != set(declared):
        print(f"perfbench: metrics {sorted(set(values) ^ set(declared))} disagree with "
              "BENCHMARK.json", file=sys.stderr)
        return 1
    out = {k: {"value": values[k], "unit": declared[k]} for k in declared}

    commit, dirty = git_stamp()
    samples = sum(len(u) for u in metrics.units(metrics.Trace(runs[0]), a.workload))
    query_s = None
    if a.workload == "ops":
        query_s = [dict(zip(("cold", "warm_median"), metrics.query_seconds(metrics.Trace(r))))
                   for r in runs]
    record = {"perfbench": {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "commit": commit, "dirty": dirty, "source_digest": digest,
        "nproc": os.cpu_count(), "spark_settings": runs[0]["settings"],
        "jvm_opts": JVM_OPTS[:3],
        "host": [r["host"] for r in runs],
        "end_to_end": e2e, "window_s": [r["window_s"] for r in runs],
        "jvm_uptime_s": [r["uptime_s"] for r in runs],
        "timed_jit_gc_ms": [[r["jit_ms"], r["gc_ms"]] for r in runs],
        "latency_samples": samples,
        "tail_supported": metrics.tail_percentile(samples),
        "query_s": query_s,
        "runs": [{k: v for k, v in s.items() if k != "correct"} for s in sums],
    }}
    print(json.dumps(record))
    print(json.dumps({"correct": all(s["correct"] for s in sums),
                      "attempted": final["attempted"], "failed": final["failed"],
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
