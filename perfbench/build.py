"""Build file of the benchmark.

Compiles the program's main sources together with the harness under
`perfbench/src` into `<build dir>/classes`, with the Scala compiler that ships
in the program's jar directory (the `unmanagedBase` that `build.sbt` names).
A content hash of every source makes a rebuild of unchanged sources a no-op.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def jar_dir():
    """The jar directory the program's own build uses as `unmanagedBase`."""
    with open("build.sbt", encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def jars():
    found = sorted(glob.glob(os.path.join(jar_dir(), "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in found):
        raise SystemExit(f"no Scala compiler among the jars in {jar_dir()}")
    return found


def sources():
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        raise SystemExit("no program sources under src/main/scala")
    return srcs + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build():
    """Compile when needed; return the runtime classpath as a list."""
    out = os.path.join(build_dir(), "classes")
    srcs, deps = sources(), jars()
    digest = hashlib.sha256()
    for p in srcs + ["build.sbt"]:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return [out] + deps
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(deps),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(deps)] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"compile failed (exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return [out] + deps


if __name__ == "__main__":
    build()
