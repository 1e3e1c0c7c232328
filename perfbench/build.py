"""Build file of the benchmark harness.

Compiles the engine (``src/main/scala``) together with the harness
(``perfbench/scala``) into ``<build dir>/classes`` with the Scala compiler
that ships among the Spark jars, so a run needs neither sbt nor network.
The build is skipped when the sources have not changed since the last one.

    python3 perfbench/build.py          # build from the repo root
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

# Same module openings as build.sbt's forked JVMs (Spark on JDK 17).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def jars_dir(root):
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("cannot find the Spark jars (set SPARK_HOME)")
    return m.group(1)


def sources(root):
    files = glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
    files += glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"), recursive=True)
    if not any("/src/main/" in f for f in files):
        raise SystemExit("no engine sources under src/main/scala")
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, log=sys.stderr):
    """Compile if needed; return the runtime classpath."""
    out = os.path.join(build_dir(root), "classes")
    jars = jars_dir(root)
    files = sources(root)
    stamp = os.path.join(build_dir(root), "classes.sha256")
    want = digest(files)
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        if os.path.isdir(out):
            subprocess.run(["rm", "-rf", out], check=True)
        os.makedirs(out)
        argfile = os.path.join(build_dir(root), "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(files) + "\n")
        cp = os.path.join(jars, "*")
        print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
        subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", out, "-classpath", cp, "@" + argfile],
                       check=True, stdout=log, stderr=log)
        with open(stamp, "w") as f:
            f.write(want)
    return out + os.pathsep + os.path.join(jars, "*")


def heap():
    """JVM heap the way the repo's Tier-1 command sizes it: MemTotal / 2, in [2g, 8g]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def java_command(classpath, tmp_dir):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java", "-XX:-UsePerfData", f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=512m",
             f"-Djava.io.tmpdir={tmp_dir}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + opens + ["-cp", classpath])


if __name__ == "__main__":
    print(build(os.getcwd()))
