#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the harness under perfbench/src into one class directory, with the Scala
compiler that ships among Spark's jars. A stamp of the sources' content
makes a rebuild a no-op when nothing changed.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the root
    build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (pathlib.Path(home) / "jars").is_dir():
        return pathlib.Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        for line in sbt.read_text().splitlines():
            if line.strip().startswith("unmanagedBase") and 'file("' in line:
                d = pathlib.Path(line.split('file("', 1)[1].split('"', 1)[0])
                if d.is_dir():
                    return d
    raise BuildError("no Spark jars: set SPARK_HOME")


def classpath_jars():
    return sorted(str(p) for p in spark_jars().glob("*.jar"))


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"no graft sources at {main.relative_to(ROOT)}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def ensure_built():
    """Returns the class directory, compiling first if the sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    if (OUT / "STAMP").is_file() and (OUT / "STAMP").read_text() == stamp:
        return classes
    OUT.mkdir(parents=True, exist_ok=True)
    tmp = pathlib.Path(tempfile.mkdtemp(prefix="classes.", dir=OUT))
    cp = os.pathsep.join(classpath_jars())
    argfile = tmp.with_suffix(".sources")
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    r = subprocess.run(cmd, cwd=ROOT)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    (OUT / "STAMP").write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
