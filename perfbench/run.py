#!/usr/bin/env python3
"""Run one workload of the graft engine benchmark.

usage: python3 perfbench/run.py --workload <store_pushdown|eventlog_tail|corpus_dedup>
                                --seed <n> --seconds <n> --trace <0|1>

Run it from the root of a checkout of the repository. On first use (or
after any source change) it builds the engine and the harness in
perfbench/jvm with sbt, offline, and caches the runtime classpath under
.bench_build/. Each run then starts one JVM (Spark local[nproc]), which
prints an input-hash line and, as the last line of standard output, the
result JSON. Per-run reports and, for --trace 1, span files are kept in
.bench_build/runs/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
STATE = ROOT / ".bench_build"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads: engine sources and build, harness."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "jvm" / "src", HERE / "jvm" / "project"):
        files += sorted(p for p in base.rglob("*") if p.is_file() and "target" not in p.parts)
    files.append(HERE / "jvm" / "build.sbt")
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = env.get("SBT_OPTS") or " ".join(opts)
    return env


def classpath():
    """Build if the sources changed since the cached classpath; return it."""
    stamp = source_stamp()
    cached = STATE / f"classpath-{stamp}.txt"
    if cached.is_file():
        return cached.read_text().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    print(f"perfbench: building (stamp {stamp}) ...", file=sys.stderr)
    t0 = time.time()
    try:
        out = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE / "jvm", env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    lines = [l for l in out.stdout.splitlines() if "perfbench" in l and os.pathsep in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed", 1)
    STATE.mkdir(exist_ok=True)
    cached.write_text(lines[-1])
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"{ROOT} is not a checkout of the engine (no build.sbt / src/main/scala); "
             "run from the repository root")
    cp = classpath()
    work = STATE / "work" / uuid.uuid4().hex[:12]
    work.mkdir(parents=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--out", str(STATE / "runs"), "--work", str(work)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith("{") and '"correct"' in l]
    for l in lines:
        if l not in result:
            print(l)
    if proc.returncode != 0 or not result:
        fail(f"run failed (exit {proc.returncode})", 1)
    print(result[-1], flush=True)


if __name__ == "__main__":
    main()
