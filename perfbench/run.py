"""Run one workload of the benchmark and print its result line.

    python3 perfbench/run.py --workload daily|corpus_dedup \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the program from source on first use (see build.py), runs the
workload in one JVM on local[k] with k = min(4, cores - 1), checks its outputs,
and prints one JSON object as the last line of standard output. With
--trace 1 the spans are written to <build dir>/traces/. Exits non-zero,
printing no result, when the build, the run or an output check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("daily", "corpus_dedup")
TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def java_cmd(classes, work, main_args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    props = {
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "derby.system.home": os.path.join(work, "derby"),
        "log4j2.configurationFile": os.path.join(HERE, "log4j2.properties"),
    }
    return (["java", "-Xmx3g", "-Xss8m"] + opens +
            [f"-D{k}={v}" for k, v in props.items()] +
            ["-cp", build.classpath(classes), "graftbench.Main"] + main_args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    classes = build.build()
    out_dir = build.build_dir()
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}"
    work = os.path.join(out_dir, "work", f"{name}-{os.getpid()}")
    for d in ("spark-local", "warehouse", "tmp", "data"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    data = os.path.join(work, "data")
    if a.selftest:
        main_args = ["--selftest", "1", "--work", data]
    else:
        trace_out = os.path.join(out_dir, "traces", f"{a.workload}-seed{a.seed}.jsonl")
        main_args = ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", a.trace,
                     "--work", data, "--trace-out", trace_out]
    env = dict(os.environ, LC_ALL="C.utf8")
    proc = subprocess.Popen(java_cmd(classes, work, main_args), cwd=work,
                            stdout=subprocess.PIPE, stderr=sys.stderr, env=env,
                            text=True)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S if not a.selftest else 600)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"run: timed out after {TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if a.selftest:
        print("\n".join(lines))
        return proc.returncode
    if proc.returncode != 0 or not lines:
        print("\n".join(lines), file=sys.stderr)
        raise SystemExit(f"run: workload exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    print("\n".join(lines[:-1]), file=sys.stderr)
    print(json.dumps(result))
    if not result["correct"]:
        print("run: output checks failed (see [check failed] lines)", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
