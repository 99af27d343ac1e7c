#!/usr/bin/env python3
"""The repository benchmark: closed-loop query workloads on the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --golden          # re-record perfbench/golden.txt

Run it from the root of a checkout. The first run builds the engine from the
checkout's sources together with the runner (perfbench/build.sbt) and caches
the build under .bench_build/; later runs reuse it while the sources are
unchanged. Each run starts a fresh JVM with its own temp and Spark scratch
dir, which is measured and then removed. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}; --trace 1 reports the per-layer
metrics instead of the end-to-end ones and writes the spans to
.bench_build/traces/. See perfbench/NOTES.md.
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
BUILD = ROOT / ".bench_build"
DATA = BENCH / "data" / "sf0.1"
GOLDEN = BENCH / "golden.txt"
WORKLOADS = ("ingest_load", "analytics_mix")
DEADLINE_S = 170  # a run must end within 180 s (900 s when it builds)
BUILD_DEADLINE_S = 700  # a build and its run must end within 900 s

E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s",
    "heap_retained_mb": "MB", "disk_left_mb": "MB",
}

def layer_unit(name):
    if name.endswith("_frac"):
        return "fraction"
    if name.endswith("rec_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "_ms" in name:
        return "ms"
    return "count"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def shape():
    """The pinned machine and session shape: every core, a driver heap of
    half the RAM clamped to 2..8 GiB (as the tier-1 test command sizes it),
    UTC, the engine's Tuning.tuned conf."""
    cpus = len(os.sched_getaffinity(0))
    heap_g = 2
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                heap_g = min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return {"master": f"local[{cpus}]", "cpus": cpus, "shuffle_partitions": cpus,
            "driver_heap": f"{heap_g}g", "timezone": "UTC", "conf": "graft.Tuning.tuned",
            "data": "perfbench/data/sf0.1"}


def steal_s():
    """CPU time the hypervisor took from this machine's vCPUs, summed over
    them, in seconds (0 where /proc/stat has no steal column)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def sources_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_proc(cmd, cwd, deadline, **kw):
    """Run `cmd` in its own process group; kill the group at the deadline
    and wait until it has ended."""
    proc = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} passed its deadline and was stopped", 3)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    """Compile the engine and the runner; return the runtime classpath and
    the root build's JVM flags (module opens, UTC, no UI)."""
    if not (ROOT / "build.sbt").is_file() or \
            not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        fail("no engine sources (build.sbt, src/main/scala/graft) in this checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run the benchmark")
    stamp = sources_stamp()
    cp_file, opts_file, stamp_file = BUILD / "classpath.txt", BUILD / "jvm-opts.txt", BUILD / "stamp"

    def built():
        return cp_file.read_text().strip(), opts_file.read_text().split("\n")

    if all(f.is_file() for f in (cp_file, opts_file, stamp_file)) and stamp_file.read_text() == stamp:
        return built()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = BUILD / "build.log"
    sbt_tmp = BUILD / "sbt-tmp"
    sbt_tmp.mkdir(exist_ok=True)
    with open(log, "w") as out:
        # no sbt server, and sbt's own temp files inside the checkout
        rc = run_proc(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                       f"-Djava.io.tmpdir={sbt_tmp}", "writeClasspath"],
                      BENCH, time.monotonic() + BUILD_DEADLINE_S,
                      stdout=out, stderr=subprocess.STDOUT, env=env)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    shutil.copy(BENCH / "target" / "classpath.txt", cp_file)
    shutil.copy(BENCH / "target" / "jvm-opts.txt", opts_file)
    stamp_file.write_text(stamp)
    return built()


def jvm(built, sh, args, run_dir, deadline):
    classpath, opts = built
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java"] + [o for o in opts if o]
    cmd += [f"-Xmx{sh['driver_heap']}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
            "--data", str(DATA), "--cpus", str(sh["cpus"])] + args
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(run_dir / "jvm.log", "w") as log:
        rc = run_proc(cmd, run_dir, deadline, stdout=log, stderr=subprocess.STDOUT, env=env)
    if rc != 0:
        sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
        fail(f"benchmark JVM exited with {rc}", 1)


def main():
    start = time.monotonic()
    # a SIGTERM unwinds like an interrupt, so the JVM's group is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12,
                    help="sets the timed passes: one per 4 s, at least 3")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--golden", action="store_true",
                    help="re-record the golden fingerprints instead of running")
    a = ap.parse_args()
    if not a.golden and a.workload is None:
        ap.error("--workload is required")
    if not DATA.is_dir() or not (a.golden or GOLDEN.is_file()):
        fail("benchmark data or golden fingerprints missing under perfbench/")
    program = build()
    built = time.monotonic()
    # a run that had to build gets the build's time on top of its own budget
    deadline = (start + DEADLINE_S if built - start < 5 else built + DEADLINE_S)
    sh = shape()
    run_dir = BUILD / "runs" / f"{a.workload or 'golden'}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        if a.golden:
            jvm(program, sh, ["--mode", "golden", "--out", str(GOLDEN)],
                run_dir, time.monotonic() + 3600)
            print(f"wrote {GOLDEN}")
            return
        out = run_dir / "result.json"
        trace_out = BUILD / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
        trace_out.parent.mkdir(parents=True, exist_ok=True)
        steal0 = steal_s()
        jvm(program, sh, ["--mode", "run", "--workload", a.workload,
                            "--seed", str(a.seed), "--seconds", str(a.seconds),
                            "--trace", str(a.trace), "--golden", str(GOLDEN),
                            "--out", str(out), "--trace-out", str(trace_out)],
            run_dir, deadline)
        steal = steal_s() - steal0
        r = json.loads(out.read_text())
        results = BUILD / "results"
        results.mkdir(exist_ok=True)
        shutil.copy(out, results / f"{a.workload}-seed{a.seed}.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print("shape " + json.dumps(sh, sort_keys=True))
    print(f"workload {a.workload} seed {a.seed}: {r['attempted']} executions in "
          f"{r['passes']} passes of " + " ".join(f"{s:.3f}" for s in r["pass_s"])
          + f" s, {r['failed']} failed; set-up (session, warm pass, JIT warm) "
          + " ".join(f"{s:.3f}" for s in r["setup_steps_s"]) + " s")
    print(f"machine: {steal:.2f} s of vCPU time stolen by the host during the run")
    for f in r["failures"]:
        print(f"failure {f}")
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in r["per_layer"].items()}
        print(f"trace {trace_out.relative_to(ROOT)} (traced wall_s {r['metrics']['wall_s']:.4f} s)")
    else:
        metrics = {k: {"value": r["metrics"][k], "unit": u} for k, u in E2E_UNITS.items()}
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    correct = r["failed"] == 0 and r["setup_failed"] == 0 and r["attempted"] > 0
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
