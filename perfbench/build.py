#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main) together with
the benchmark harness (perfbench/src) with the Scala compiler that ships in
the Spark distribution, then writes the frozen gate tables.

Everything goes under .bench_build/ in the checkout, keyed by a hash of the
sources, so a rebuild happens only when a source changes:

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SCALA = "2.13.17"

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_home():
    """SPARK_HOME, or the installation that `spark-submit` on PATH belongs to."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if not submit:
        raise BuildError("set SPARK_HOME or put spark-submit on PATH")
    return Path(submit).resolve().parent.parent


# child processes still running, so a signal handler can stop them
CHILDREN = []


def child_env():
    """The environment for the JVMs: without SPARK_LOCAL_DIRS, which would
    override spark.local.dir and send Spark's scratch files out of the
    checkout."""
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


def run_child(cmd, **kw):
    """Runs cmd to completion; returns its exit code."""
    proc = subprocess.Popen(cmd, env=child_env(), **kw)
    CHILDREN.append(proc)
    try:
        return proc.wait()
    finally:
        CHILDREN.remove(proc)


def stop_children(signum, _frame):
    for proc in list(CHILDREN):
        proc.kill()
        proc.wait()
    sys.exit(128 + signum)


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"program sources not found under {main}")
    srcs = sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return srcs, resources, res


def spark_classpath():
    jars = sorted((spark_home() / "jars").glob("*.jar"))
    if not jars:
        raise BuildError(f"no jars under {spark_home() / 'jars'}")
    return jars


def java_cmd(classes, *args, heap="2g"):
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cp = os.pathsep.join([str(classes)] + [str(j) for j in spark_classpath()])
    # a fixed, pre-touched heap keeps the resident set from following GC timing
    return ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            "-XX:-UsePerfData", *ADD_OPENS,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.goldens={HERE / 'goldens.json'}",
            "-cp", cp, "perfbench.Main", *args]


def build(log=sys.stderr):
    """Compiles if needed; returns (classes dir, fixtures dir)."""
    srcs, resources, res = sources()
    h = hashlib.sha256()
    for p in srcs + res + [Path(__file__)]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    key = h.hexdigest()[:16]
    out = BUILD / f"classes-{key}"
    if not (out / ".ok").exists():
        for old in BUILD.glob("classes-*"):
            shutil.rmtree(old, ignore_errors=True)
        out.mkdir(parents=True)
        args = BUILD / f"scalac-{key}.args"
        args.write_text("\n".join(str(s) for s in srcs) + "\n")
        compiler = os.pathsep.join(str(spark_home() / "jars" / f"scala-{m}-{SCALA}.jar")
                                   for m in ("compiler", "library", "reflect"))
        cp = os.pathsep.join(str(j) for j in spark_classpath())
        print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
        code = run_child(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", compiler,
                          "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", str(out),
                          f"@{args}"], stdout=log, stderr=log)
        if code != 0:
            raise BuildError("scalac failed")
        for p in res:
            dst = out / p.relative_to(resources)
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(p, dst)
        (out / ".ok").write_text(key)
    fixtures = BUILD / f"fixtures-{key}" / "tables"
    if not (fixtures.parent / ".ok").exists():
        for old in BUILD.glob("fixtures-*"):
            shutil.rmtree(old, ignore_errors=True)
        fixtures.mkdir(parents=True)
        print("[perfbench] writing gate tables", file=log, flush=True)
        code = run_child(java_cmd(out, "fixtures", str(fixtures)), stdout=log, stderr=log,
                         cwd=fixtures.parent)
        if code != 0:
            raise BuildError("fixture generation failed")
        (fixtures.parent / ".ok").write_text(key)
    return out, fixtures


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
