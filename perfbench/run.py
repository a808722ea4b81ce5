#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness (perfbench/build.py), then runs one workload
in a fresh JVM on a local[4] Spark session: set-up, warm-up passes, then
whole measured passes with one operation in flight. The last stdout line is
the result: {"correct", "attempted", "failed", "metrics"}; the line before
it carries run details (pass walls, tail percentile, sentinel and job-floor
readings, failures). Run from the repository root. See perfbench/README.md.

Options beyond the four above (self-test and maintenance):
  --sf <sf0.01|sf0.001>   table set under perfbench/data (default sf0.01)
  --corpus-mb <mb>        mr_wordcount corpus size (default 8)
  --corrupt-op <op>       corrupt that op's output before its check
  --record 1              store the workload's result digests instead
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["mr_wordcount", "llm_curation"]
DEADLINE_S = 170  # whole-run limit, including the build check
HEAP = "3g"
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--sf", default="sf0.01", choices=["sf0.01", "sf0.001"])
    ap.add_argument("--corpus-mb", default="8")
    ap.add_argument("--corrupt-op")
    ap.add_argument("--record", choices=["0", "1"], default="0")
    a = ap.parse_args()
    try:
        classes = build.ensure_built()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")
    root = build.ROOT
    work = root / ".perfbench"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cp = os.pathsep.join([str(classes)] + build.classpath_jars())
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--root", str(root),
            "--sf", a.sf, "--corpus-mb", a.corpus_mb, "--record", a.record]
    if a.corrupt_op:
        args += ["--corrupt-op", a.corrupt_op]
    t0_ms = int(time.time() * 1000)
    # a fixed, pre-touched heap keeps peak RSS from following GC timing
    cmd = ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={build.HERE / 'log4j2.properties'}",
           "-cp", cp, "perfbench.Main", *args, "--t0-ms", str(t0_ms)]
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - start)))
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: run exceeded its deadline")
    finally:
        # nothing the run started may outlive it
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if a.record == "1":
        sys.stdout.write(out)
        sys.exit(proc.returncode)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if proc.returncode != 0 or not isinstance(result, dict) or "metrics" not in result:
        sys.stdout.write(out)
        sys.exit(f"perfbench: harness exited with code {proc.returncode} and no result")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
