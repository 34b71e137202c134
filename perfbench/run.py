"""perfbench: the repository benchmark (see perfbench/README.md).

Usage:
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the library from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), then runs one JVM with
local[N] Spark, N = min(4, nproc), and one client thread in a closed loop of
ops for S seconds, checking every op's output. The last line of stdout is one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. Every
file the run writes lives under .bench_build/run-<pid>, deleted at exit.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no caches in the checkout
import build  # noqa: E402
import gen  # noqa: E402
import selftest  # noqa: E402
import stats  # noqa: E402

# JVM heap, committed at start but not pre-touched (local mode runs the
# executors in it), and a fixed young generation: the resident set grows with
# the memory the program touches, without adaptive heap-expansion steps
HEAP = "2g"
YOUNG = "256m"
CORES = min(4, os.cpu_count() or 1)  # N of local[N]
GEN_REPEATS = 3   # input generations per run; setup_s counts their median
DEADLINE_S = 170  # a run (after any build) ends within 180 s

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def git_commit():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def cpu_ticks():
    """(steal, total) CPU ticks of the machine from /proc/stat: the share
    stolen by the hypervisor shows a run slowed by other machines' load."""
    with open("/proc/stat") as f:
        t = [int(v) for v in f.readline().split()[1:]]
    return t[7], sum(t)


def generate(workload, seed, run_dir):
    """Generates the inputs GEN_REPEATS times; all copies must be identical.
    Returns (input dir, median generation seconds, digest)."""
    times, digests = [], set()
    for k in range(GEN_REPEATS):
        out = os.path.join(run_dir, f"in{k}")
        t = time.perf_counter()
        gen.generate(workload, seed, out)
        times.append(time.perf_counter() - t)
        digests.add(gen.digest(out))
        if k:
            shutil.rmtree(out)
    if len(digests) != 1:
        raise SystemExit(f"perfbench: {workload} inputs differ between generations of seed {seed}")
    return os.path.join(run_dir, "in0"), statistics.median(times), digests.pop()


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=list(gen.GENERATORS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()

    classes, source_digest = build.build()
    started = time.monotonic()
    run_dir = os.path.join(build.build_dir(), f"run-{os.getpid()}")
    proc = None

    def stop(signum, frame):
        raise SystemExit(f"perfbench: stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    try:
        for d in ("scratch", "tmp", "selftest"):
            os.makedirs(os.path.join(run_dir, d))
        selftest.main(os.path.join(run_dir, "selftest"), [a.workload])
        load_before = os.getloadavg()[0]
        in_dir, gen_s, input_digest = generate(a.workload, a.seed, run_dir)

        out_file = os.path.join(run_dir, "record.json")
        jars = os.path.join(os.path.dirname(build.spark_jars()[0]), "*")
        # -XX:-UsePerfData: no counter file in the system temporary directory
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData", *JAVA_OPENS,
               f"-Djava.io.tmpdir={run_dir}/tmp",
               f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
               "-cp", os.pathsep.join([classes, jars]), "perfbench.Main",
               "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--cores", str(CORES), "--in", in_dir, "--scratch", f"{run_dir}/scratch",
               "--tmp", f"{run_dir}/tmp", "--out", out_file,
               "--t0-ms", str(int(time.time() * 1000))]
        ticks0 = cpu_ticks()
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
            try:
                code = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - started)))
            except subprocess.TimeoutExpired:
                code = "timeout"
        ticks1 = cpu_ticks()
        if code != 0:
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit(f"perfbench: JVM exited with {code}")
        with open(out_file) as f:
            rec = json.load(f)

        failures = [(o["i"], f) for o in rec["ops"] for f in o["failures"]]
        for i, f in failures[:20]:
            print(f"perfbench: op {i}: {f}", file=sys.stderr)
        for f in rec["warmup_failures"]:
            print(f"perfbench: warm-up op: {f}", file=sys.stderr)
        metrics = stats.per_layer(rec) if a.trace else stats.end_to_end(rec, gen_s)
        if a.trace and metrics["trace.coverage_min"][0] < 0.9:
            print("perfbench: layer spans cover less than 90% of an op", file=sys.stderr)
        n = len(rec["ops"])
        failed = sum(1 for o in rec["ops"] if o["failures"])
        _, beyond = stats.nearest_rank([o["wall_s"] for o in rec["ops"]], stats.TAIL_PCT)
        print("perfbench-stamp " + json.dumps({
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": CORES,
            "nproc": os.cpu_count(), "heap": HEAP, "young": YOUNG, "git_commit": git_commit(),
            "source_digest": source_digest[:16], "input_digest": input_digest[:16],
            "ops": n, "tail_pct": stats.TAIL_PCT, "tail_beyond": beyond,
            "warmups": rec["warmups"], "setup_phases": rec["setup_phases"], "gen_s": gen_s,
            "op_walls": [round(o["wall_s"], 3) for o in rec["ops"]],
            "load1_before": load_before, "load1_after": os.getloadavg()[0],
            "steal_frac": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])}))
        print(json.dumps({
            "correct": failed == 0 and not rec["warmup_failures"],
            "attempted": n, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
