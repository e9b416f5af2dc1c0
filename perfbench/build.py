#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships among the Spark
jars named by the repository's build.sbt, packs each into a jar under
.bench_build/perfbench, and records a class-data-sharing (CDS) archive from
a short warm-up run, so each benchmark JVM starts from pre-parsed classes.

    python3 perfbench/build.py          # build if sources changed

run.py calls it before every run; a build whose sources are unchanged is
reused. Exits non-zero when the engine sources or the Spark jars are
missing.
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(REPO, ".bench_build", "perfbench")

# Spark on JDK 17 needs these outside spark-submit (as build.sbt sets them).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JAVA_PROPS = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


class BuildError(Exception):
    pass


def spark_jars():
    """Sorted Spark jar paths: build.sbt's unmanagedBase, else $SPARK_HOME/jars."""
    candidates = []
    sbt = os.path.join(REPO, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in candidates:
        if os.path.isdir(d):
            jars = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))
            if jars:
                return jars
    raise BuildError("no Spark jars found (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def scala_files(root):
    out = []
    for dirpath, _, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def sources():
    engine = scala_files(os.path.join(REPO, "src", "main", "scala"))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    return engine, scala_files(os.path.join(HERE, "src"))


def fingerprint(files, jars):
    h = hashlib.sha256()
    for f in files + [os.path.join(HERE, "build.py")]:
        h.update(os.path.relpath(f, REPO).encode() + b"\0")
        h.update(open(f, "rb").read())
    for j in jars:
        h.update(os.path.basename(j).encode() + b"\0")
    return h.hexdigest()


def scalac(jars, out_dir, files, extra_cp=()):
    os.makedirs(out_dir, exist_ok=True)
    cp = os.pathsep.join(list(extra_cp) + jars)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out_dir, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def make_jar(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                z.write(p, os.path.relpath(p, classes))


def classpath(out=OUT):
    return [os.path.join(out, "bench.jar"), os.path.join(out, "graft.jar")] + spark_jars()


def java_cmd(main, heap, out=OUT, jvm_flags=()):
    """The JVM command of a benchmark process, on the recorded CDS archive
    when there is one."""
    cmd = ["java"] + ADD_OPENS + JAVA_PROPS + [f"-Xmx{heap}"] + list(jvm_flags)
    archive = os.path.join(out, "app.jsa")
    if not jvm_flags and os.path.isfile(archive):
        cmd += [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    return cmd + ["-cp", os.pathsep.join(classpath(out)), main]


def build(train_args=None, log=sys.stderr):
    """Builds (or reuses) the jars and the CDS archive; returns OUT.

    `train_args` is the argument list of the warm-up run that records the
    archive (run.py supplies it); None skips the archive.
    """
    jars = spark_jars()
    engine, bench = sources()
    stamp = fingerprint(engine + bench, jars)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(OUT, "stamp")
        if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
            return OUT
        tmp = OUT + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        print("building engine and benchmark ...", file=log, flush=True)
        os.makedirs(tmp)
        engine_stamp = fingerprint(engine, jars)
        old_engine = os.path.join(OUT, "engine.stamp")
        if os.path.isfile(old_engine) and open(old_engine).read() == engine_stamp:
            shutil.copy(os.path.join(OUT, "graft.jar"), tmp)  # only the benchmark changed
        else:
            scalac(jars, os.path.join(tmp, "engine"), engine)
            make_jar(os.path.join(tmp, "engine"), os.path.join(tmp, "graft.jar"))
            shutil.rmtree(os.path.join(tmp, "engine"))
        open(os.path.join(tmp, "engine.stamp"), "w").write(engine_stamp)
        scalac(jars, os.path.join(tmp, "bench"), bench, extra_cp=[os.path.join(tmp, "graft.jar")])
        make_jar(os.path.join(tmp, "bench"), os.path.join(tmp, "bench.jar"))
        shutil.rmtree(os.path.join(tmp, "bench"))
        shutil.rmtree(OUT, ignore_errors=True)
        os.rename(tmp, OUT)
        # recorded against the final jar paths: the archive is only used
        # when the runtime class path matches the recorded one
        if train_args is not None:
            record_archive(OUT, train_args, log)
        open(stamp_file, "w").write(stamp)  # last: marks the build complete
        return OUT


def record_archive(out, train_args, log):
    """Dumps the classes a warm-up run loads into out/app.jsa. Optional: a
    failed recording leaves runs on the JVM's default class loading."""
    work = os.path.join(out, "train")
    os.makedirs(work)
    cmd = java_cmd("graftbench.Main", "2g", out=out, jvm_flags=[
        "-XX:ArchiveClassesAtExit=" + os.path.join(out, "app.jsa")]) + train_args + ["--work", work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    with open(os.path.join(out, "train.log"), "w") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work, env=env, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.isfile(os.path.join(out, "app.jsa")):
        print("class-data-sharing archive not recorded; runs start without it", file=log)
        if os.path.exists(os.path.join(out, "app.jsa")):
            os.remove(os.path.join(out, "app.jsa"))


if __name__ == "__main__":
    try:
        sys.path.insert(0, HERE)
        import run
        build(train_args=run.train_args())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
