#!/usr/bin/env python3
"""Checks the benchmark's expected result digests against the DuckDB oracle.

    python3 perfbench/oracle_check.py [sf0.01|sf0.001]

Runs graft.Verify over perfbench/data/<sf> for every operation that has a
digest in perfbench/expected/digests.json, compares each result with its
DuckDB oracle through tools/check_oracle.py, and stores the verdict next to
the digest: "oracle": "ok", "FAIL" or "none" (SparkEntry.oracleSql has no
query for it). Run it after recording digests (run.py --record 1); it needs
the duckdb Python module. Writes only under .perfbench/.
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def main(sf):
    root = build.ROOT
    expected_file = build.HERE / "expected" / "digests.json"
    expected = json.loads(expected_file.read_text())
    ops = sorted(expected[sf])
    data = build.HERE / "data" / sf
    dump = root / ".perfbench" / "oracle" / sf
    classes = build.ensure_built()
    cp = os.pathsep.join([str(classes)] + build.classpath_jars())
    opens = [x for p in run.JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    subprocess.run(["java", "-XX:-UsePerfData", *opens, f"-Xmx{run.HEAP}",
                    "-Duser.timezone=UTC",
                    f"-Djava.io.tmpdir={root / '.perfbench' / 'tmp'}",
                    "-cp", cp, "graft.Verify", str(data), str(dump), ",".join(ops)],
                   cwd=root, check=True)
    with_oracle = set(json.loads((dump / "oracle_sql.json").read_text()))
    checked = [op for op in ops if op in with_oracle]
    r = subprocess.run([sys.executable, str(root / "tools" / "check_oracle.py"),
                        str(data), str(dump), ",".join(checked)],
                       cwd=root, capture_output=True, text=True,
                       env={**os.environ, "GRAFT_ORACLE_CACHE": "0"})
    print(r.stdout)
    ok = {l.split()[1] for l in r.stdout.splitlines() if l.startswith("ok ")}
    for op in ops:
        expected[sf][op]["oracle"] = ("ok" if op in ok else "FAIL") if op in with_oracle else "none"
        print(f"{op:28s} {expected[sf][op]['oracle']}")
    expected_file.write_text(json.dumps(expected, indent=2, sort_keys=True) + "\n")
    return 1 if any(expected[sf][op]["oracle"] == "FAIL" for op in ops) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "sf0.01"))
