#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (sf0.001 tables, a 1 MB corpus).

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it checks that
  * an untraced run prints every end_to_end metric, and a traced run every
    per_layer metric, each with the unit BENCHMARK.json gives, with
    correct=true and failed=0;
  * the layers that apply to the workload report non-zero values;
  * corrupting one operation's output makes `failed` (fail_frac) non-zero.
Exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--sf", "sf0.001", "--corpus-mb", "1", "--seconds", "1"]
# per_layer prefixes that must be non-zero on each workload
APPLIES = {
    "mr_wordcount": ["sched.jobs", "exec.task_run_s", "scan.input_mb",
                     "shuffle.write_mb", "mr.", "kernel."],
    "llm_curation": ["registry.build_s", "plan.analysis_s", "sched.jobs",
                     "exec.task_run_s", "scan.input_mb", "shuffle.write_mb",
                     "kernel.", "stream.batches", "stream.trigger_s"],
}
CORRUPT = {"mr_wordcount": "wc_piped", "llm_curation": "q_tfidf"}


def run(workload, trace, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--trace", str(trace), *TINY, *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {out.returncode}\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check(cond, msg):
    if not cond:
        sys.exit(f"FAIL {msg}")
    print(f"ok   {msg}")


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run(w, trace)
            check(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                  f"{w} trace={trace}: correct, {r['attempted']} ops attempted")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = r["metrics"]
            check(set(got) == set(want), f"{w} trace={trace}: metric names match {key}")
            for name, unit in want.items():
                check(got[name]["unit"] == unit and isinstance(got[name]["value"], (int, float)),
                      f"{w} {name} = {got[name]['value']} {unit}")
            if trace:
                for prefix in APPLIES[w]:
                    for name in want:
                        if name.startswith(prefix):
                            check(got[name]["value"] > 0, f"{w} {name} > 0")
        r = run(w, 0, ["--corrupt-op", CORRUPT[w]])
        check(not r["correct"] and r["failed"] > 0,
              f"{w}: corrupted {CORRUPT[w]} gives fail_frac {r['failed']}/{r['attempted']}")
    print("selftest passed")


if __name__ == "__main__":
    main()
