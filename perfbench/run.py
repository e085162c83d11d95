#!/usr/bin/env python3
"""Benchmark entry point for graft.

    python3 perfbench/run.py --workload assign_bulk --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first call builds the program and the
harness from source with sbt (offline) and caches the classpath; later calls
reuse it while the sources are unchanged. Generated inputs are cached per
workload and seed under perfbench/.work/data. The JVM prints one JSON line
per metric; this script adds a stamp line and ends with the summary line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Extra options: --scale F (input size factor, for the self-test),
--gen-only 1 (generate inputs, print their digest, exit), --cache-tag T
(separate input cache, for the determinism check).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
CP_FILE = BENCH / "target" / "perfbench-classpath.txt"
WORKLOADS = ("assign_bulk", "subscribe_ticks", "curate_corpus")
RUN_LIMIT_S = 175      # a run must end within 180 s
BUILD_LIMIT_S = 880    # the first run of a checkout may take 900 s
KEEP_INPUTS = 3        # cached input sets kept per workload
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build compiles, to detect a stale classpath."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_killable(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode


def spark_jars():
    """The jars directory of the Spark installation the program builds on."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark installation found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def classpath(digest, deadline):
    """The run classpath and whether it had to be built now."""
    if CP_FILE.exists():
        lines = CP_FILE.read_text().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1], False
    env = dict(os.environ, COURSIER_MODE="offline")
    # Keep sbt's own scratch (temp files, JNA natives, the boot lock) out of
    # the home directory; it resolves nothing, so the lock guards nothing.
    opts = [f"-Dperfbench.sparkJars={spark_jars()}",
            "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false", "-Xmx3g",
            f"-Djava.io.tmpdir={WORK / 'tmp'}", f"-Djna.tmpdir={WORK / 'tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = WORK / "build.log"
    with open(log, "w") as out:
        code = run_killable(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            max(60, deadline - time.time()), cwd=BENCH, env=env,
            stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    text = log.read_text().splitlines()
    cps = [l.strip() for l in text if l.strip().startswith("/") and ".jar" in l]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(text[-40:]) + "\n")
        fail(f"build failed (exit {code}); see {log}")
    CP_FILE.parent.mkdir(parents=True, exist_ok=True)
    CP_FILE.write_text(f"{digest}\n{cps[-1]}\n")
    return cps[-1], True


def git_stamp():
    if not (ROOT / ".git").exists() or shutil.which("git") is None:
        return None, None
    try:
        sha = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=20).stdout.strip() or None
        st = subprocess.run(["git", "-C", str(ROOT), "status", "--porcelain", "--untracked-files=no"],
                            capture_output=True, text=True, timeout=20).stdout
        return sha, bool(st.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


def prune_inputs(workload, keep):
    data = WORK / "data"
    if not data.exists():
        return
    dirs = sorted((d for d in data.iterdir() if d.name.startswith(workload + "-") and d != keep),
                  key=lambda d: d.stat().st_mtime, reverse=True)
    for d in dirs[KEEP_INPUTS - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--gen-only", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cache-tag", default="")
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft" / "GraftMain.scala").is_file():
        fail(f"program sources not found under {ROOT / 'src' / 'main'}; run from a full checkout")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)

    digest = source_digest()
    cp, built = classpath(digest, start + BUILD_LIMIT_S)

    nproc = len(os.sched_getaffinity(0))
    tag = f"-{a.cache_tag}" if a.cache_tag else ""
    data = WORK / "data" / f"{a.workload}-s{a.seed}-x{a.scale:g}{tag}"
    work = WORK / "run" / a.workload
    prune_inputs(a.workload, data)
    work.mkdir(parents=True, exist_ok=True)
    if data.exists():
        os.utime(data)

    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={WORK / 'tmp'}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.BenchMain",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(nproc), "--scale", str(a.scale),
            "--root", str(ROOT), "--data", str(data), "--work", str(work), "--gen-only", str(a.gen_only)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(WORK / "tmp" / "spark-local"))
    limit = (start + BUILD_LIMIT_S if built else start + RUN_LIMIT_S) - time.time()
    log = WORK / f"{a.workload}.log"
    out_path = WORK / f"{a.workload}.out"
    try:
        with open(log, "w") as err, open(out_path, "w") as out:
            code = run_killable(cmd, limit, cwd=work, env=env, stdout=out, stderr=err,
                                stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded its time limit; see {log}")
    lines = [l for l in out_path.read_text().splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        sys.stderr.write("".join(log.read_text().splitlines(True)[-40:]))
        fail(f"benchmark process failed (exit {code}); see {log}")

    inputs = {}
    result = None
    for l in lines:
        obj = json.loads(l)
        if "inputs" in obj:
            inputs = obj["inputs"]
        elif "correct" in obj:
            result = obj
        else:
            print(l)
    sha, dirty = git_stamp()
    print(json.dumps({"stamp": {"git_sha": sha, "dirty": dirty, "src_digest": digest[:16],
                                "nproc": nproc, "workload": a.workload, "seed": a.seed,
                                "seconds": a.seconds, "trace": a.trace, "scale": a.scale,
                                "inputs_digest": inputs.get("digest")}}))
    if a.gen_only:
        print(json.dumps({"inputs": inputs, "data": str(data)}))
        return
    if result is None:
        fail("benchmark process printed no summary line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
