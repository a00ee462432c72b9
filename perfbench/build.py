"""Build file of the benchmark: compiles the program and the harness.

The program (`src/main/scala`) and the harness (`perfbench/harness`)
are compiled with the Scala compiler that ships in Spark's jar
directory, against those same jars -- the classpath `build.sbt` gives
the program -- and packed into jars. A training run of the harness
on the seed-0 corpus, with the warm-up query as its only key, then
dumps a class-data-sharing archive of the set-up path's classes, so
each timed JVM maps them instead of parsing and verifying them again
(it halves `setup_s`). A failed or timed-out training run fails the build, and
every timed JVM starts with `-Xshare:on`, which exits rather than run
without the archive: `setup_s` always measures the same start path.

Output goes under `.bench_build/` (or `$CARGO_TARGET_DIR` when set) and
is reused while no source file changes.

Usage: python3 perfbench/build.py   (builds; prints the classpath)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
HEAP = "3g"


def target_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                           or os.path.join(ROOT, ".bench_build"))


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def harness_cmd(classpath, run_dir, args, train=False):
    """The java command line of one harness JVM writing under run_dir:
    a timed JVM maps the archive, the training JVM dumps it."""
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    archive = os.path.join(target_dir(), "classes.jsa")
    if train:
        cmd.append(f"-XX:ArchiveClassesAtExit={archive}")
    else:
        cmd += [f"-XX:SharedArchiveFile={archive}", "-Xshare:on"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", classpath, "perfbench.Harness",
            "--out", os.path.join(run_dir, "out"), *args]
    return cmd


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(jars, classpath, jar, files):
    out = jar + ".d"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-cp", classpath]
    r = subprocess.run(cmd + files, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit(f"compile failed: {jar}")
    # class-data sharing maps classes from jars only, not directories
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for base, _, names in os.walk(out):
            for n in sorted(names):
                p = os.path.join(base, n)
                z.write(p, os.path.relpath(p, out))
    shutil.rmtree(out)


def _train(classpath, target):
    """Dump the class-data-sharing archive from a harness run whose only
    key is the warm-up query; fail the build when that does not work."""
    import corpus
    data = os.path.join(target, "train-corpus")
    run_dir = os.path.join(target, "train-run")
    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    corpus.generate(data, 0, 1)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "out"))
    archive = os.path.join(target, "classes.jsa")
    cmd = harness_cmd(classpath, run_dir,
                      ["--corpus", data, "--keys", "q14_promo_revenue",
                       "--seconds", "0", "--min-warm", "0", "--settle", "0"],
                      train=True)
    log_path = os.path.join(target, "train.log")
    with open(log_path, "w") as log:
        try:
            code = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  cwd=run_dir, timeout=600).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(archive):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"class-data-sharing training run failed ({code})")
    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)


def build():
    """Compile when sources changed; return the runtime classpath."""
    jars = spark_jars()
    target = target_dir()
    os.makedirs(target, exist_ok=True)
    prog_src = _sources(os.path.join(ROOT, "src", "main", "scala"))
    if not prog_src:
        raise SystemExit("no program sources under src/main/scala")
    harness_src = _sources(os.path.join(HERE, "harness"))
    prog = os.path.join(target, "program.jar")
    harness = os.path.join(target, "harness.jar")
    classpath = os.pathsep.join([harness, prog, os.path.join(jars, "*")])
    stamp_file = os.path.join(target, "stamp")
    stamp = _stamp(prog_src + harness_src + [os.path.join(HERE, "corpus.py")])
    old = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if old != stamp:
        for f in (stamp_file, os.path.join(target, "classes.jsa")):
            if os.path.exists(f):
                os.remove(f)
        _scalac(jars, None, prog, prog_src)
        _scalac(jars, prog, harness, harness_src)
        _train(classpath, target)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(build())
