"""Builds the program and the benchmark's JVM half from source with the
Scala compiler that ships among the Spark jars. The build is cached under
`.bench_build/` and redone when any source file changes."""
import hashlib
import os
import re
import shutil
import subprocess


def spark_jars(root):
    """The Spark jar directory: `$SPARK_HOME/jars`, else the directory the
    sbt build names as its `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("no Spark jar directory: set SPARK_HOME")
    return m.group(1)


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(root, "perfbench", "scala")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise RuntimeError(f"missing source directory {os.path.relpath(d, root)}")
        for base, _sub, names in os.walk(d):
            out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def ensure(root, log):
    """Compile if the sources changed since the last build; returns the
    class directory."""
    out = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp_path = os.path.join(out, "stamp")
    stamp = h.hexdigest()
    if os.path.isdir(classes) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", tmp, "-classpath", cp, "@" + argfile],
        stdout=log, stderr=subprocess.STDOUT)
    if proc.returncode != 0:
        raise RuntimeError("compilation failed; see the build log")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return classes
