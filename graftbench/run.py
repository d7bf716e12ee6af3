#!/usr/bin/env python3
"""Run one graftbench workload and print its metrics.

Usage, from the root of the repository:

    python3 graftbench/run.py --workload mm_dense --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark driver from source when they changed
(sbt, offline), starts one JVM for the run, records the host around it and
prints, as the last line of standard output, one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. The line before it is a JSON
object with the host record. `--workload pairs --record` rewrites the
expected digests from the current sources instead (see NOTES.md).
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

BENCH = "graftbench"
WORKLOADS = ("mm_dense", "pairs")
XMX = "3g"
DEADLINE_S = 170  # a run must end within 180 s once built
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    for base in (os.path.join(root, "src", "main"), os.path.join(root, BENCH, "src", "main")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        yield os.path.join(root, BENCH, f)


def source_hash(root):
    h = hashlib.sha256()
    for p in sorted(source_files(root)):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root, build_dir, src_hash):
    """Compile with sbt when the sources changed; returns the classpath."""
    stamp = os.path.join(build_dir, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved.get("hash") == src_hash:
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, BENCH), env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, stdin=subprocess.DEVNULL)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    print(f"[graftbench] built in {time.time() - t:.0f} s", file=sys.stderr)
    with open(stamp, "w") as f:
        json.dump({"hash": src_hash, "classpath": lines[-1]}, f)
    return lines[-1]


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals  # user nice system idle iowait irq softirq steal ...


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def git_commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite the expected digests of the pairs queries")
    args = ap.parse_args()

    root = os.getcwd()
    bench = os.path.join(root, BENCH)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found; run from the repository root")
    if args.record and args.workload != "pairs":
        fail("--record applies to the pairs workload")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    src_hash = source_hash(root)
    classpath = build(root, build_dir, src_hash)

    work = os.path.join(build_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cores = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xmx{XMX}", f"-Xms{XMX}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--data", os.path.join(bench, "data"),
              "--work", work, "--out", out,
              "--expected", os.path.join(bench, "expected", "digests.json"),
              "--record", "1" if args.record else "0"])

    load_pre, stat_pre, t0 = loadavg(), cpu_times(), time.time()
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=None if args.record else DEADLINE_S - (time.time() - t0))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {DEADLINE_S} s")
    stat_post, load_post = cpu_times(), loadavg()
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark JVM exited with {rc}")
    with open(out) as f:
        result = json.load(f)
    if args.record:
        print(json.dumps(result))
        return

    delta = [b - a for a, b in zip(stat_pre, stat_post)]
    total = max(sum(delta[:8]), 1)
    host = {
        "nproc": cores, "loadavg_pre": load_pre, "loadavg_post": load_post,
        "steal_frac": delta[7] / total, "iowait_frac": delta[4] / total,
        "xmx": XMX, "git_commit": git_commit(root), "source_sha256": src_hash,
        "wall_s": time.time() - t0, "pass_walls_s": result.get("pass_walls_s"),
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
    }
    with open(os.path.join(work, "host.json"), "w") as f:
        json.dump(host, f)
    for sub in os.listdir(work):
        if sub not in ("result.json", "host.json", "spans.jsonl"):
            shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    print(json.dumps({"host": host}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
