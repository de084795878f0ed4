"""Build file of the benchmark package.

Compiles the library sources (`src/main/scala`) together with the
benchmark sources (`perfbench/src`) with the Scala compiler that ships
in the Spark distribution, packs them into one jar, and records a
class-data-sharing archive from a short training run (perfbench.Train)
so each benchmark JVM starts without re-loading Spark's classes. The
build needs neither sbt nor network access, writes only under its
output directory, and is reused while no source file changes.

    python3 perfbench/build.py      # build (or reuse); prints the jar path
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

SOURCE_ROOTS = ("src/main/scala", "perfbench/src")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(root):
    found = []
    for rel in SOURCE_ROOTS:
        base = os.path.join(root, rel)
        if not os.path.isdir(base):
            raise FileNotFoundError(f"missing source root {rel}")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def spark_jars(root):
    """The Spark distribution's jar directory, as build.sbt names it."""
    with open(os.path.join(root, "build.sbt")) as f:
        return os.path.join(re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1), "*")


def java_base(root, jar):
    """JVM flags shared by the training run and the benchmark runs (the
    class-sharing archive is only used when they match)."""
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return ["java", *opens, "-XX:-UsePerfData", "-cp", spark_jars(root) + os.pathsep + jar]


def archive(root):
    return os.path.join(build_dir(root), "classes.jsa")


def _stamp(root, srcs):
    digest = hashlib.sha256()
    for path in srcs + [os.path.abspath(__file__)]:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    return digest.hexdigest()


def _train(root, jar):
    """Record the class list of a training run into the archive; a
    failure only costs start-up time, so it is reported, not raised."""
    out = build_dir(root)
    scratch = os.path.join(out, "train")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    tmp_archive = archive(root) + ".tmp"
    cmd = java_base(root, jar) + [f"-XX:ArchiveClassesAtExit={tmp_archive}",
                            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
                            "-Dspark.ui.enabled=false",
                            f"-Dspark.local.dir={os.path.join(scratch, 'local')}",
                            "perfbench.Train", os.path.join(scratch, "data")]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=300, cwd=scratch)
    shutil.rmtree(scratch, ignore_errors=True)
    if proc.returncode == 0 and os.path.exists(tmp_archive):
        os.replace(tmp_archive, archive(root))
    else:
        sys.stderr.write("class-sharing training run failed; continuing without it\n")
        sys.stderr.write(proc.stdout[-3000:])


def build(root):
    """Compile if any source changed; return the benchmark jar."""
    srcs = sources(root)
    stamp = _stamp(root, srcs)
    out = build_dir(root)
    jar = os.path.join(out, "perfbench.jar")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return jar
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    for stale in (jar, stamp_file, archive(root)):
        if os.path.exists(stale):
            os.remove(stale)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(root),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise RuntimeError("scalac failed")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes, ignore_errors=True)
    _train(root, jar)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return jar


if __name__ == "__main__":
    print(build(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
