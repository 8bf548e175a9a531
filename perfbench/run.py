#!/usr/bin/env python3
"""CDC pipeline benchmark: build, run and report.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_live --seed 1 --seconds 12 --trace 0

The first run in a checkout builds the engine's sources together with the
benchmark (sbt, offline) and caches the classpath under perfbench/target;
later runs reuse it until a source file changes. Each run is one JVM
started with the engine's build.sbt fork flags (-Xmx from SPARK_DRIVER_MEM,
default 8g; -XX:+UseParallelGC unless SPARK_GC says otherwise), so what is
measured is the JVM the engine's own runs use. All files a run writes stay
under perfbench/out. The last stdout line is the JSON result.

`--selftest` runs the benchmark's own toy-size tests instead.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
TARGET = BENCH / "target"
OUT = BENCH / "out"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    files = sorted(
        p for d in (ENGINE_SRC, BENCH / "src" / "main")
        for p in d.rglob("*") if p.is_file())
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
        h.update(b"\0")
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # sbt's own temp files stay in the checkout too
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={OUT / 'tmp'}"
    return env


def run_group(cmd, cwd, env, timeout, stdout=None):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build(src_sha):
    """Compile engine + benchmark once per source state; return the classpath."""
    stamp = TARGET / "perfbench-stamp.txt"
    cp_file = TARGET / "perfbench-classpath.txt"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == src_sha:
        return cp_file.read_text().strip()
    print("perfbench: building engine and benchmark (sbt, offline)",
          file=sys.stderr, flush=True)
    t0 = time.time()
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BENCH, sbt_env(), BUILD_TIMEOUT_S, stdout=subprocess.PIPE)
    if code != 0:
        sys.stderr.write(out)
        fail("build failed", 4)
    lines = [ln for ln in out.splitlines() if ln and not ln.startswith("[")]
    cp = lines[-1].strip() if lines else ""
    if not cp or not (BENCH / "target").is_dir():
        sys.stderr.write(out)
        fail("build produced no classpath", 4)
    TARGET.mkdir(exist_ok=True)
    cp_file.write_text(cp)
    stamp.write_text(src_sha)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr, flush=True)
    return cp


def git_rev():
    if not (ROOT / ".git").exists():
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def clean_stale_work():
    """Remove work dirs left by runs that were killed."""
    for d in OUT.glob("work-*"):
        pid = d.name[len("work-"):]
        alive = pid.isdigit() and Path(f"/proc/{pid}").exists()
        if not alive:
            subprocess.run(["rm", "-rf", str(d)], check=False)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not ENGINE_SRC.is_dir():
        fail(f"engine sources not found at {ENGINE_SRC.relative_to(ROOT)}; "
             "run from a full checkout")
    if not a.selftest and a.workload not in ("cdc_live", "cdc_backlog"):
        fail("--workload must be cdc_live or cdc_backlog")
    src_sha = source_hash()
    (OUT / "tmp").mkdir(parents=True, exist_ok=True)
    if a.selftest:
        code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                            BENCH, sbt_env(), BUILD_TIMEOUT_S)
        sys.exit(code)
    cp = build(src_sha)
    clean_stale_work()
    env = dict(os.environ)
    env["PERFBENCH_GIT_REV"] = git_rev()
    env["PERFBENCH_SRC_SHA"] = src_sha
    jvm = ["java"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    jvm += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
        f"-XX:+{os.environ.get('SPARK_GC', 'UseParallelGC')}",
        f"-Djava.io.tmpdir={OUT / 'tmp'}",
        "-cp", cp, "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", str(OUT),
    ]
    if a.cpus:
        jvm += ["--cpus", str(a.cpus)]
    try:
        code, _ = run_group(jvm, OUT, env, RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 5)
    sys.exit(code)


if __name__ == "__main__":
    main()
