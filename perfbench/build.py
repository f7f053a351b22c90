"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the harness (`perfbench/scala`) into
`.bench_build/classes` with the Scala compiler that ships among the Spark
jars `build.sbt` names, and asks sbt for the JVM options `build.sbt` gives
the program. A stamp over every source's path and bytes skips the
compile when nothing changed.

    python3 perfbench/build.py        # from the root of a checkout
"""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
# keeps every JVM the benchmark starts from writing its perf-counter file
# to /tmp, outside the checkout
NO_PERF_DATA = "-XX:-UsePerfData"


def build_sbt(root):
    with open(os.path.join(root, "build.sbt")) as f:
        return f.read()


def spark_jars(root):
    """The `unmanagedBase` jar directory of build.sbt."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build_sbt(root))
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: build.sbt names no readable unmanagedBase jar dir")
    return m.group(1)


def jvm_options(root):
    """The javaOptions `build.sbt` gives the program, as sbt itself
    evaluates them (`sbt 'print javaOptions'`). Cached in `.bench_build/`
    under a stamp of the sbt build definition and of every environment
    variable whose name it mentions (SPARK_DRIVER_MEM sets the heap)."""
    defs = [os.path.join(root, "build.sbt")] + sorted(
        glob.glob(os.path.join(root, "project", "*.sbt")) +
        glob.glob(os.path.join(root, "project", "*.properties")))
    h = hashlib.sha256()
    text = ""
    for p in defs:
        with open(p, "rb") as f:
            b = f.read()
        h.update(os.path.relpath(p, root).encode() + b"\0" + b)
        text += b.decode(errors="replace")
    for k in sorted(os.environ):
        if re.search(r'"%s"' % re.escape(k), text):
            h.update(("%s=%s\0" % (k, os.environ[k])).encode())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    cache = os.path.join(out, "javaopts.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c["stamp"] == stamp:
            return c["options"]
    tmp = os.path.join(out, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.boot.lock=false",
         "-Djava.io.tmpdir=" + tmp, "-Djna.tmpdir=" + tmp, "print javaOptions"],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=600,
        # the sbt script starts JVMs of its own, which take no -J option
        env=dict(os.environ, JAVA_TOOL_OPTIONS=(
            os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + NO_PERF_DATA).strip()))
    lines = r.stdout.decode(errors="replace").splitlines()
    opts = [l[2:].strip() for l in lines if l.startswith("* ")]
    if r.returncode != 0 or not opts:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: sbt could not print javaOptions")
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "options": opts}, f)
    return opts


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    return main + bench


def build(root):
    """Compile if the sources changed; returns the runtime classpath."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode() + b"\0")
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    cp = os.path.join(jars, "*") + os.pathsep + classes
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", NO_PERF_DATA, "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("perfbench: compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build(os.getcwd()))
