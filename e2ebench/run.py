"""End-to-end serving benchmark entry point.

    python3 e2ebench/run.py --workload browse|dashboard|live --seed N \
        --seconds S --trace 0|1

Builds the program from source (see build.py), runs one workload in a JVM
that boots GraftServer on loopback, and prints the JVM's report line and,
as the last line, the result JSON. Exits non-zero when the build fails, the
run crashes or times out (no result line), or an output check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["browse", "dashboard", "live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes, jars = build.build()
    out = os.path.join(ROOT, ".bench_out")
    work = os.path.join(ROOT, ".bench_work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "e2ebench.E2eBench", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out]
    log = os.path.join(out, "jvm-%s-%d-trace%d.log" % (a.workload, a.seed, a.trace))
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
            try:
                stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                sys.exit("e2ebench: run exceeded %d s (log: %s)" % (RUN_TIMEOUT_S, log))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit("e2ebench: run ended (exit %d) without a result line" % p.returncode)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and p.returncode == 0 else 1)


if __name__ == "__main__":
    main()
