"""Pipeline benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <backlog-drain|router-reindex|live-tail>
        --seed <n> --seconds <s> --trace <0|1> [--cores <n>]

Builds the program and the benchmark from source (see build.py), then
runs one JVM that generates the seeded inputs, sets up, measures for
`--seconds`, checks every output and prints the result as the last line
of standard output. Build outputs, inputs, logs and traces go under
`.bench_build/` (or $CARGO_TARGET_DIR when set).
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("backlog-drain", "router-reindex", "live-tail")
# Spark 4 on JDK 17 outside spark-submit (as in build.sbt's javaOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def out_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(REPO, d))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1))
    a = ap.parse_args()

    out = out_dir()
    os.makedirs(out, exist_ok=True)
    try:
        cp = build.build(out)
    except build.BuildError as e:
        sys.exit("build failed: %s" % e)

    tmp = os.path.join(out, "tmp")
    logs = os.path.join(out, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    # a fixed, pre-touched heap: peak RSS then reads the same heap on every
    # run, and moves with native memory and with anything past the heap
    cmd = ["java", "-Xms1536m", "-Xmx1536m", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + os.path.join(tmp, "spark"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", out,
            "--cores", str(a.cores), "--spec", os.path.join(REPO, "BENCHMARK.json")]
    # set-up, checks and (traced) the ladder and kernels come on top of the
    # measured seconds, and checking grows with them
    timeout_s = 140 + 3 * a.seconds
    log = os.path.join(logs, "%s-seed%d-trace%d.log" % (a.workload, a.seed, a.trace))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, cwd=tmp, text=True)
        try:
            stdout, _ = proc.communicate(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("benchmark JVM timed out after %d s (log: %s)" % (timeout_s, log))
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        sys.exit("benchmark JVM failed with code %d (log: %s)" % (proc.returncode, log))
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
