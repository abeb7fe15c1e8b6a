#!/usr/bin/env python3
"""Builds graft and the benchmark driver from source with plain scalac.

The Scala compiler and every library come from the Spark distribution
(`$SPARK_HOME/jars`, else that of `spark-submit` on the PATH), so the
build needs no network, no sbt and no `target/` directory. Output lands in
`$CARGO_TARGET_DIR/build-<hash>/` (default `.bench_build/`), where the
hash covers this script, every source file and the jar names; an
unchanged tree reuses the finished build.

Usage: python3 bench/build.py    (prints the runtime classpath)
"""
import hashlib
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    submit = shutil.which("spark-submit")
    home = os.environ.get("SPARK_HOME") or (
        submit and os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    if not home:
        raise SystemExit("no Spark: set SPARK_HOME or put spark-submit on the PATH")
    d = os.path.join(home, "jars")
    jars = sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))
    if not any("scala-compiler" in j for j in jars):
        raise SystemExit(f"no scala-compiler jar in {d}")
    return jars


def sources(base):
    out = []
    for dirpath, _, files in os.walk(base):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def out_base():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def scalac(jars, classpath, dest, srcs, log):
    os.makedirs(dest)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest,
           "-classpath", ":".join(classpath)] + srcs
    with open(log, "a") as f:
        if subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT).returncode != 0:
            raise SystemExit(f"scalac failed for {dest}; see {log}")


def build():
    """Returns the classpath (graft classes, driver classes, Spark jars)."""
    graft_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(graft_src):
        raise SystemExit(f"no graft sources at {graft_src}")
    jars = spark_jars()
    graft_files = sources(graft_src)
    bench_files = sources(os.path.join(HERE, "src"))
    h = hashlib.sha256()
    for p in [os.path.abspath(__file__)] + graft_files + bench_files + jars:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        if not p.endswith(".jar"):
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(out_base(), "build-" + h.hexdigest()[:16])
    graft_cls, bench_cls = os.path.join(out, "graft"), os.path.join(out, "bench")
    if not os.path.exists(os.path.join(out, "ok")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        log = os.path.join(out, "build.log")
        scalac(jars, jars, graft_cls, graft_files, log)
        scalac(jars, [graft_cls] + jars, bench_cls, bench_files, log)
        open(os.path.join(out, "ok"), "w").close()
    return [graft_cls, bench_cls] + jars


if __name__ == "__main__":
    print(":".join(build()))
