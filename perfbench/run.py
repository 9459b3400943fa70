#!/usr/bin/env python3
"""One benchmark run: python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1, from the repository root.

Builds the program if its sources changed (perfbench/build.py), generates
the workload's inputs from the seed, runs the workload in a fresh JVM
(perfbench.Main), checks the outputs, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 they are the per-layer ones, and
the spans go to perfbench/out/spans-<workload>.jsonl.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import checks  # noqa: E402
import gen_audit  # noqa: E402
import gen_corpus  # noqa: E402

WORKLOADS = ["audit-bulk", "audit-many", "gates"]
END_TO_END = ["setup_s", "cold_pass_s", "warm_pass_s", "live_heap_mb"]
# Three task threads leave one core of a four-core machine to the Spark driver,
# the JIT and the collector; four made warm pass times wander.
THREADS = min(3, len(os.sched_getaffinity(0)))
HEAP = "2g"
RUN_LIMIT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(cp, args, work, deadline):
    log_path = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", *ADD_OPENS,
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "perfbench.Main", *args, "--threads", str(THREADS),
           "--launch-ms", str(int(time.time() * 1000))]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"run: benchmark JVM failed ({rc})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("run: terminated"))

    t0 = time.time()
    cp = build.build()
    deadline = time.time() + RUN_LIMIT_S
    phases = {"build": time.time() - t0}
    work = os.path.join(BENCH, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "input")
        expected = None
        if a.workload == "gates":
            gen_corpus.generate(inputs, a.seed)
        else:
            expected = gen_audit.generate(inputs, a.workload, a.seed)
        phases["generate"] = time.time() - t0 - sum(phases.values())
        steal0, total0 = cpu_ticks()
        run_jvm(cp, ["--workload", a.workload, "--input", inputs, "--work", work,
                     "--seconds", str(a.seconds), "--trace", str(a.trace)], work, deadline)
        phases["jvm"] = time.time() - t0 - sum(phases.values())
        steal1, total1 = cpu_ticks()
        # Time the hypervisor gave to other guests while the JVM ran: a run
        # with a high share was slowed by its neighbours, not by the program.
        steal = (steal1 - steal0) / max(total1 - total0, 1)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        bad = dict(res["bad"])
        if expected is not None:
            bad.update(checks.audit(os.path.join(work, "rows.jsonl"), expected))
        else:
            bad.update(checks.oracles(inputs, os.path.join(work, "gates"),
                                      os.path.join(work, "oracle_sql.json"), res["units"]))
        phases["check"] = time.time() - t0 - sum(phases.values())
        print("run: " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()) +
              f" cpu_steal={steal:.1%}", file=sys.stderr)
        for unit, why in sorted(bad.items()):
            print(f"run: FAILED {unit}: {why}", file=sys.stderr)
        # A result row for an archive the generator did not write counts as
        # one more failed unit. Every unit runs the same number of passes, so
        # the failed share of attempted operations does not depend on how
        # many passes fit.
        units = set(res["units"]) | set(bad)
        attempted = len(units) * res["passes"]
        failed = len(bad) * res["passes"]
        metrics = {k: v for k, v in res["metrics"].items()
                   if (k in END_TO_END) == (a.trace == 0)}
        if a.trace:
            out = os.path.join(BENCH, "out")
            os.makedirs(out, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(out, f"spans-{a.workload}.jsonl"))
        print(json.dumps({"correct": not bad,
                          "attempted": attempted, "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
