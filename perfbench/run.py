#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt depends on the root
build); later runs reuse the build while the sources are unchanged. Each run
generates the workload's inputs from the seed (gen.py), then runs one JVM
(perfbench.Main) that prints an environment record, per-query lines and, as
its last line, one JSON object with the metrics. The exit code is non-zero
if any output check failed or the run did not complete.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "3g"
MAX_CORES = 4
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

sys.path.insert(0, HERE)
import gen  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stop(proc):
    """Kill `proc`'s process group (sbt and java children included) and wait."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (empty where there is none)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def source_stamp():
    """Content hash of every input of the build."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".java", ".sbt", ".properties")):
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    t0 = time.time()
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail(f"build exceeded {BUILD_LIMIT_S}s")
    finally:
        stop(proc)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"# build {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    # a terminated run still unwinds its `finally` blocks and stops children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources (build.sbt, src/main/scala) under {ROOT}")
    os.makedirs(WORK, exist_ok=True)
    cp = build()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    data = os.path.join(run_dir, "data")
    tmp = os.path.join(run_dir, "tmp")
    t0 = time.time()
    gen.generate(a.workload, a.seed, data)
    os.makedirs(tmp)
    print(f"# inputs generated in {time.time() - t0:.2f}s "
          f"sizes={gen.SIZES[a.workload]} props={gen.PROPS}")

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
              "--data", data, "--work", WORK, "--home", HERE,
              "--cores", str(cores)])
    print(f"# jvm heap={HEAP} (fixed) cores={cores}")
    sys.stdout.flush()
    cpu0 = cpu_times()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1, t0 + RUN_LIMIT_S - time.time()))
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_LIMIT_S}s")
    finally:
        stop(proc)
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.splitlines()
    last = lines[-1] if lines else ""
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    # CPU time the hypervisor gave to other guests while the JVM ran: the
    # main source of run-to-run noise on a shared virtual machine
    delta = [b - a for a, b in zip(cpu0, cpu_times())]
    if len(delta) > 7 and sum(delta) > 0:
        print(f"# env cpu_steal_share={delta[7] / sum(delta):.4f} during the run")
    if not last.startswith("{"):
        fail(f"no result (jvm exit {proc.returncode})")
    print(last)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
