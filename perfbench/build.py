#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main/scala) and the
harness (perfbench/src) into one class directory.

    python3 perfbench/build.py        # prints the class directory

It calls the Scala compiler that ships among Spark's jars
($SPARK_HOME/jars, else the unmanagedBase that build.sbt compiles graft
against), with those jars as the classpath, so no sbt, network or cache
outside the checkout is needed. The output goes
to .bench_build/classes-<digest> under the checkout, where <digest>
covers every source file; an unchanged tree is not rebuilt.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def spark_jars() -> Path:
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("build: set SPARK_HOME; build.sbt names no unmanagedBase")
    return Path(m.group(1))


def sources() -> list:
    graft = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not graft:
        raise SystemExit(f"build: no graft sources under {ROOT / 'src/main/scala'}")
    return graft + sorted((ROOT / "perfbench" / "src").glob("*.scala"))


def build() -> Path:
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    out = BUILD / f"classes-{digest.hexdigest()[:16]}"
    if (out / ".done").exists():
        return out
    BUILD.mkdir(exist_ok=True)
    tmp = BUILD / f"tmp-classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{spark_jars()}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(done.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {done.returncode}")
    (tmp / ".done").touch()
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    print(build())
