"""Benchmark entry point.

    python3 perfbench/run.py --workload lead_etl --seed 1 --seconds 5 --trace 0

``--workload all`` runs lead_etl, catalog_mix and curate_corpus one after
another in one JVM.

Run from the root of a checkout. It builds the program from ``src/main``
(see build.py), starts one JVM with a local Spark session and runs the
workload there (perfbench/src/perfbench/Main.scala). The last line of
stdout is the JSON result; the line before it is the full report of the
run (environment, every end-to-end metric of the workload with its unit,
and with ``--trace 1`` the per-layer metrics). Per-operation traces are
written to ``.bench_build/traces/``.

Other modes, for maintaining the benchmark:

    --selfcheck                 generator and tracing self-checks
    --record-goldens            rewrite perfbench/goldens.json, and time
                                every catalog query with count() and with
                                the forced action (.bench_build/hidden_cost.json)
"""

import argparse
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

WORKLOADS = ("lead_etl", "catalog_mix", "curate_corpus")
JVM_TIMEOUT_S = 165
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selfcheck", action="store_true")
    p.add_argument("--record-goldens", action="store_true")
    a = p.parse_args()
    if not (a.workload or a.selfcheck or a.record_goldens):
        p.error("--workload is required")
    return a


def jvm(root, classpath, run_dir, args, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "conf", "log4j2.properties"),
        "-cp", classpath, "perfbench.Main",
        "--root", root, "--run-dir", run_dir,
    ] + args
    # Program chatter (job JSON lines, Spark warnings) goes to stderr so the
    # result stays the last line of stdout.
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        # also on SIGTERM (raised as SystemExit below): never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    a = parse()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        sys.stderr.write("perfbench: run from the root of a checkout (no src/main/scala here)\n")
        return 2
    classpath = build.build(root)
    runs = os.path.join(root, ".bench_build", "runs")
    run_dir = os.path.join(runs, f"{a.workload or 'maint'}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    if a.workload:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out]
        timeout = JVM_TIMEOUT_S if a.workload != "all" else 4 * JVM_TIMEOUT_S
    else:
        mode = "selfcheck" if a.selfcheck else "record-goldens"
        args = ["--mode", mode, "--out", out]
        timeout = 3600
    try:
        t0 = time.time()
        code = jvm(root, classpath, run_dir, args, timeout)
        if code is None:
            sys.stderr.write(f"perfbench: JVM timed out after {time.time() - t0:.0f} s\n")
            return 3
        if code != 0 or not os.path.exists(out):
            sys.stderr.write(f"perfbench: JVM exited with {code}\n")
            return 1
        with open(out) as f:
            res = json.load(f)
        if "report" in res:
            print(json.dumps(res["report"], sort_keys=True))
        print(json.dumps(res["result"]))
        return 1 if res["result"].get("ok") is False else 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
