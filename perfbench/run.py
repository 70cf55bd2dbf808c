#!/usr/bin/env python3
"""The repository's benchmark command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness
from the checkout's sources with sbt (once per source state; the
classpath is cached under ``.bench_build/``), runs one workload in its
own JVM sized to this host, and prints one JSON result line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run also
makes a traced pass and prints the per-layer metrics and the tracing
overhead. Workloads and metrics are described in ``BENCHMARK.json`` and
``perfbench/NOTE.md``.
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

import metrics

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("cdc_catchup", "cdc_steady")
RUN_TIMEOUT_S = 170
MIN_FREE_BYTES = 2 << 30

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's
# build.sbt passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def heap_size():
    """Heap from MemTotal, the rule the tier-1 test command uses: half
    of memory in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file()) if d.is_dir() else []
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = BUILD / f"classpath-{h.hexdigest()[:16]}.txt"
    if stamp.exists():
        cp = stamp.read_text().strip()
        if all(Path(e).exists() for e in cp.split(os.pathsep)):
            return cp
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "export Runtime/fullClasspath"],
                            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    cp = next((l for l in reversed(lines) if "perfbench" in l and os.pathsep in l
               and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        sys.stderr.write("\n".join(l[:300] for l in lines[-30:]) + "\n")
        die(f"build failed (sbt exit {rc}); log in {log}")
    for old in BUILD.glob("classpath-*.txt"):
        old.unlink()
    stamp.write_text(cp)
    return cp


def run_harness(cp, args, tmp, out):
    cpus = nproc()
    cmd = (["java", f"-Xmx{heap_size()}", "-XX:+UseG1GC",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp / 'jvm'}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), str(cpus), str(tmp), str(out)])
    log = tmp / "harness.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=tmp, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM/SIGINT: the JVM runs in its own session
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-4000:])
        return None
    return json.loads(out.read_text())


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--raw-out", type=Path, help="also keep the harness's raw observations here")
    args = ap.parse_args()
    if args.seconds < 1:
        die("--seconds must be at least 1")

    switches = sorted(k for k in os.environ if k.startswith(("GRAFT_", "SPARK_GRAFT_")))
    if switches:
        die(f"refusing to run with engine switches set: {', '.join(switches)}")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no engine sources under {ROOT}: run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    cp = build()

    BUILD.mkdir(exist_ok=True)
    free = shutil.disk_usage(BUILD).free
    if free < MIN_FREE_BYTES:
        die(f"only {free >> 20} MiB free under {BUILD}")
    tmp = BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}"
    (tmp / "jvm").mkdir(parents=True)
    try:
        raw = run_harness(cp, args, tmp, tmp / "raw.json")
        if raw is None:
            die("harness failed")
        if args.raw_out:
            shutil.copyfile(tmp / "raw.json", args.raw_out)
        res, problems = metrics.result(raw, bool(args.trace))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for q in problems:
        print(f"perfbench: check failed: {q}", file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
