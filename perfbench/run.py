#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and caches the classpath under
perfbench/target; later runs start the JVM directly. Every run makes its
inputs from --seed, drives one workload through the engine's public API
on local[nproc] with one client thread, checks every output, and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones from a traced pass over all four workloads. --workload all
runs the four workloads one after another and prints the nine named
end-to-end metrics of README.md. See README.md for what each metric is.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import owners_csv  # noqa: E402
import report  # noqa: E402

WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
STAMP = os.path.join(TARGET, "perfbench.stamp")
RUN_LIMIT_S = 175
HEAP = "3g"  # fixed, so numbers never depend on the caller's environment
BUILD_LIMIT_S = 700  # a first run (build + run) stays within 900 s
WORKLOADS = ("lifecycle", "curation", "stream", "serve")
# one stream sequence (4 batches x 3 stores) and two serve request blocks
# per gated run, so a run takes about a minute on a 4-core host; the
# other input sizes are constants in Main.scala
SIZES = {"owners_rows": 5000, "min_steps": 12, "min_requests": 40}
# `--workload all` is a manual run: enough samples that the stream p80
# and the serve p90 each have ten samples beyond them
ALL_SIZES = dict(SIZES, min_steps=60, min_requests=100)
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def run_bounded(cmd, cwd, limit_s, env=None):
    """Run `cmd` in its own process group; kill the group at the limit.
    Returns (exit code, stdout). Stderr passes through.
    """
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=sys.stderr, stdin=subprocess.DEVNULL,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=max(limit_s, 1))
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, ""
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compile engine + harness once per source state; return the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need} missing under {ROOT})")
    digest = source_hash()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as f:
                    return f.read().strip()
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        env["SBT_OPTS"] = " ".join(
            ["-Dsbt.offline=true", "-Xmx2g"] +
            ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
             if os.path.exists(repos) else []))
    log("perfbench: building engine and harness with sbt")
    t0 = time.time()
    code, out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], HERE,
                            deadline - time.time(), env)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    log("\n".join(lines[-5:-1]))
    if code != 0 or not lines:
        fail(f"build failed (exit {code})")
    cp = lines[-1].strip()
    if not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        fail("build printed no usable classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return cp


def java_cmd(cp, work, args):
    argfile = os.path.join(work, "classpath.args")
    with open(argfile, "w") as f:
        f.write(f'-cp\n"{cp}"\n')  # quoted: the checkout path may hold spaces
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{HEAP}",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
            [f"@{argfile}", "graft.perfbench.Main"] + args)


def cores():
    """Cores this process may run on (what `nproc` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def cpu_ticks():
    """Host CPU time counters (user, nice, system, idle, iowait, irq,
    softirq, steal), or None where /proc/stat is missing.
    """
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def cpu_shares(start, end):
    """Busy and steal shares of all CPU time between two `cpu_ticks`. Steal
    is time the hypervisor ran someone else on this machine's CPUs: a run
    with a high steal share was slowed by its neighbours.
    """
    if not start or not end:
        return {}
    d = [b - a for a, b in zip(start, end)]
    total = sum(d) or 1
    return {"busy": round((total - d[3] - d[4] - d[7]) / total, 4),
            "steal": round(d[7] / total, 4)}


def run_one(workload, seed, seconds, trace, cp, deadline, sizes):
    """One JVM run; returns its raw result, with the CSV generation time."""
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work]
    gen, gen_s = None, 0.0
    if trace or workload in ("lifecycle", "serve"):
        csv_path = os.path.join(work, "owners.csv")
        t0 = time.time()
        _, gen = owners_csv.write(seed, sizes["owners_rows"], csv_path)
        gen_s = time.time() - t0
        args += ["--csv", csv_path, "--owners-rows", str(sizes["owners_rows"]),
                 "--owners-nameless", str(gen["nameless"])]
    args += ["--min-steps", str(sizes["min_steps"]),
             "--min-requests", str(sizes["min_requests"])]
    code, out = run_bounded(java_cmd(cp, work, args), work, deadline - time.time())
    if code is None:
        fail(f"{workload}: run exceeded its time limit", 3)
    lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not lines:
        fail(f"{workload}: engine run failed (exit {code})", 3)
    raw = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    raw["csv_gen_s"] = gen_s
    raw["owners"] = gen
    return raw


def _terminate(signum, _frame):
    # unwind through run_bounded's cleanup, which kills the JVM's group
    raise SystemExit(128 + signum)


def main(argv):
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description="graft end-to-end benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    start = time.time()
    load_start = loadavg()
    ticks_start = cpu_ticks()
    cp = build(start + BUILD_LIMIT_S)
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    results = []
    for w in names:
        run_start = time.time()
        raw = run_one(w, a.seed, a.seconds, a.trace == 1, cp, run_start + RUN_LIMIT_S,
                      ALL_SIZES if a.workload == "all" else SIZES)
        results.append(raw)
        if a.trace:
            break  # the traced pass covers every workload
    stamp = {"cores": cores(), "seed": a.seed, "loadavg_start": load_start,
             "loadavg_end": loadavg(), "cpu": cpu_shares(ticks_start, cpu_ticks()),
             "sizes": ALL_SIZES if a.workload == "all" else SIZES}
    out, checks = report.summarize(results, a.trace == 1, a.workload)
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, f"last-{a.workload}-trace{a.trace}.json"), "w") as f:
        json.dump({"stamp": stamp, "raw": results, "result": out}, f, indent=1)
    log(f"stamp {json.dumps(stamp)}")
    for line in report.human(out, results, checks):
        log(line)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
