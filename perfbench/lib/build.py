"""Compile the program and the benchmark harness from source with the
Scala compiler that ships in the Spark jars directory.

The program's `src/main/scala` and the harness's `perfbench/scala` compile
together into `<build dir>/classes`; `src/main/resources` is copied beside
them. A stamp of every source file's path and bytes skips the compile when
nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources(root):
    found = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not found:
        raise FileNotFoundError(f"no program sources under {root}/src/main/scala")
    found += sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    return found


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir, log):
    """Return the classpath entry holding the compiled classes."""
    files = sources(root)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    key = stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(SPARK_JARS, "*")
    with open(log, "w") as out:
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                            "-nowarn", "-d", classes, "-classpath", cp] + files,
                           stdout=out, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise RuntimeError(f"compile failed, see {log}")
    res = os.path.join(root, "src/main/resources")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(key)
    return classes
