#!/usr/bin/env python3
"""Serving-path benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt when the
sources changed since the last build (the first run builds), then runs
one JVM with the named workload. The last line of standard output is
the result object; lines before it starting with '#' describe the run.
`--smoke` shrinks every workload to a handful of operations.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
TARGET = HERE / "target"
WORKLOADS = ("serve_read", "write_mix", "crawl_index")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=3):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout} s", 4)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def spark_home():
    """The Spark installation whose jars the program builds against."""
    if os.environ.get("SPARK_HOME"):
        return pathlib.Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = pathlib.Path(d, "spark-submit")
        if submit.is_file():
            home = submit.resolve().parent.parent
            if (home / "jars").is_dir():
                return home
    fail("SPARK_HOME is unset and no Spark installation's spark-submit is on PATH", 5)


def classpath():
    """Compile when the sources changed; return the runtime classpath."""
    digest = sources_digest()
    stamp = TARGET / "perfbench.stamp"
    cp_file = TARGET / "perfbench.classpath"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env["SPARK_HOME"] = str(spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = pathlib.Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed", 5)
    lines = [l for l in out.splitlines()
             if not l.startswith("[") and str(TARGET) in l and ":" in l]
    if not lines:
        sys.stderr.write(out[-4000:])
        fail("build printed no classpath", 5)
    TARGET.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


def main():
    # a terminated runner takes its JVM (its own process group) down too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and a handful of ops; same checks")
    args = ap.parse_args()
    if not PROGRAM_SRC.joinpath("graft").is_dir():
        fail(f"program sources not found under {PROGRAM_SRC}; "
             "run from the root of a full checkout")
    cp = classpath()
    # one directory per run, so runs never share state
    work = HERE / "work" / f"{args.workload}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = [
        "java", "-Xmx2g",
        *[a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--smoke", "1" if args.smoke else "0",
        "--work", str(work / "run"), "--out", str(HERE / "out"),
    ]
    try:
        code, _ = run_group(java, RUN_TIMEOUT_S, cwd=ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
