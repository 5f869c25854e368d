#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala sources into `.bench_build/` with the Scala
compiler that ships in the Spark distribution's jars.

    python3 perfbench/build.py        # from the repository root

The output directory is keyed by a digest of every source file, so an
unchanged tree is compiled once. Exits non-zero when the program's sources
are not present.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_TIMEOUT_S = 850

# Spark 4.x on JDK 17 needs these outside spark-submit (same list as the
# repository's build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_options():
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts


def spark_jars(root=ROOT):
    """The Spark jars: `$SPARK_HOME/jars`, else the directory the repository's
    build.sbt names as `unmanagedBase` (the jars the program builds against)."""
    jars_dir = None
    if os.environ.get("SPARK_HOME"):
        jars_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
            jars_dir = m and m.group(1)
        except OSError:
            pass
    if not jars_dir or not os.path.isdir(jars_dir):
        sys.exit(f"perfbench: no Spark jars at {jars_dir} (set SPARK_HOME)")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(root, "perfbench", "src")
    if not os.path.isdir(main):
        sys.exit("perfbench: the program's sources (src/main/scala) are not in this directory")
    out = []
    for top in (main, bench):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root=ROOT):
    """Returns the classpath entries (classes dir first) of the built tree."""
    srcs = sources(root)
    jars = spark_jars(root)
    resources = os.path.join(root, "src", "main", "resources")
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if not os.path.isfile(os.path.join(out, ".complete")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs))
        cp = os.pathsep.join(jars)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
               "-encoding", "utf8", "-d", tmp, "-classpath", cp, "@" + argfile]
        print("perfbench: compiling", len(srcs), "sources", file=sys.stderr)
        r = subprocess.run(cmd, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            sys.exit("perfbench: compilation failed")
        os.remove(argfile)
        if os.path.isdir(resources):
            shutil.copytree(resources, tmp, dirs_exist_ok=True)
        open(os.path.join(tmp, ".complete"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return [out] + jars


if __name__ == "__main__":
    build()
