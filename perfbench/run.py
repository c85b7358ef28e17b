"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_daily --seed 1 --seconds 12 --trace 0

Builds the program from source (see build.py), generates the workload's
inputs from the seed, runs the Scala harness in one JVM with Spark on
`local[<cores>]`, checks outputs, and prints a host/diagnostics line and
then, as the last line, the result object. With `--trace 0` it reports the
end-to-end metrics, with `--trace 1` the per-layer ones.
"""
import argparse
import datetime
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import feedgen  # noqa: E402
import metrics  # noqa: E402
import tpchgen  # noqa: E402

WORKLOADS = ("cdc_daily", "catalog_sf01")
HISTORY_END = datetime.date(2025, 12, 31)
# warm-up units before the clock starts: the first daily runs pay JIT and
# codegen warm-up that a long-lived cron host has long since paid
WARMUP = {"cdc_daily": 1, "catalog_sf01": 3}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def load1():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cores():
    return len(os.sched_getaffinity(0))


# catalog_sf01's slice of Queries.all: each result matches Spark SQL's
# evaluation of the query's reference SQL on the generated tables
CATALOG = ["q58_zone_map", "q60_window_family", "q02_global_minmax", "q178_pareto",
           "q10_event_lag"]
# queries that build persisted state on first use; built during set-up
STATEFUL = ["q58_zone_map"]


def inputs(workload, seed, work):
    """Writes the workload's generated inputs; returns harness arguments."""
    if workload == "catalog_sf01":
        tpchgen.write(seed, os.path.join(work, "sf"))
        return ["--queries", ",".join(CATALOG), "--stateful", ",".join(STATEFUL)]
    with open(os.path.join(work, "feed.txt"), "w") as fh:
        fh.write(feedgen.feed_text(feedgen.feed_rows(seed)))
    return ["--history-end", HISTORY_END.isoformat()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build()
    start_ms = int(time.time() * 1000)  # set-up starts once the build is done
    work = os.path.join(build.OUT, "run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("input", "tmp", "local"):
        os.makedirs(os.path.join(work, d))
    args = inputs(a.workload, a.seed, os.path.join(work, "input"))
    out = os.path.join(work, "records.jsonl")
    n = cores()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n), SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss8m", "-Dspark.callstack.depth=200",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Harness",
              "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--input", os.path.join(work, "input"), "--work", work, "--out", out,
              "--warmup", str(WARMUP[a.workload]), "--start-ms", str(start_ms)] + args)
    before = load1()
    # a terminated benchmark still stops and reaps its JVM (see `finally`)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            # a run must end within 180 s of its start, build excluded
            rc = proc.wait(timeout=max(1.0, 170 - (time.time() - start_ms / 1000)))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    after = load1()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"harness failed: {rc}")

    with open(out) as fh:
        records = [json.loads(line) for line in fh if line.strip()]
    setup = next(r for r in records if r["type"] == "setup")
    attempted, failed = metrics.failures(records)
    if a.trace:
        values = metrics.per_layer(records, n)
        per_query = {}
        for r in records:
            if r["type"] == "query":
                per_query.setdefault(r["name"], []).append(r["s"])
        diag = {"query_p50_s": {q: metrics.median(xs) for q, xs in per_query.items()}}
    else:
        values, diag = metrics.end_to_end(records)
    diag["op_s"] = [round(r["s"], 4) for r in records if r["type"] == "op"]
    end = next(r for r in records if r["type"] == "end")
    diag["phases_s"] = {"session": setup["session_s"], "setup": setup["setup_s"],
                        "history_backfill": setup.get("history_backfill_s"),
                        "build": setup.get("build_s"), "measured": end["measured_s"],
                        "checks": end["checks_s"]}
    host = {"cores": n, "load1_before": before, "load1_after": after,
            "jvm": setup["jvm"], "spark": setup["spark"], "master": setup["master"],
            "seed": a.seed, "workload": a.workload, "trace": a.trace,
            "failed_checks": [r["what"] for r in records if r["type"] == "check"][:20]}
    print(json.dumps({"host": host, "diagnostics": diag}))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))


if __name__ == "__main__":
    main()
