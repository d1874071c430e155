"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (perfbench/build.py),
then runs one JVM: a single closed-loop client driving Spark local[nproc],
one operation at a time, over inputs generated from the seed. With
`--trace 0` it prints the end-to-end metrics, with `--trace 1` the per-layer
ones (stage spans, Spark cost per stage, kernel timings). The last stdout
line is one JSON object: {"correct", "attempted", "failed", "metrics"}.
The exit code is non-zero when an output check fails or the run errors.

Workloads (see BENCHMARK.json for why each exists):
  segments_small   Pipeline.run over a fresh small segment per operation
  crawl_resumable  Pipeline.runResumable into an empty store, then a resume

Build output, Spark scratch, snapshot stores and span files stay under
$CARGO_TARGET_DIR (default .bench_build) in the checkout.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("segments_small", "crawl_resumable")
RUN_LIMIT_S = 170  # one run, build excluded

# Spark on JDK 17+ needs these when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def host():
    """(cpus, heap in MB) sized from this host: every usable cpu, and an
    eighth of physical memory clamped to 1-4 GB (the workloads' live set is
    well under 1 GB)."""
    cpus = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_mb = min(max(mem_kb // 8 // 1024, 1024), 4096)
    return cpus, heap_mb


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    # a SIGTERM to this script unwinds it, so the compiler or the JVM it
    # started (the JVM runs in a session of its own) is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build_dir = os.path.join(build.ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build.build(build_dir)
    jars = build.spark_jars()
    cpus, heap_mb = host()
    work = os.path.join(build_dir, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)

    # a fixed-size heap: a heap that grows with GC pressure made the
    # operation wall and the peak RSS differ from run to run
    # no hsperfdata file: the JVM would write it to the system temp dir
    # 16 MB G1 regions: the driver's multi-MB plan strings were humongous
    # objects at the default 1 MB, and the GC cycles they forced varied from
    # run to run
    cmd = [build.java(), "-XX:-UsePerfData", "-XX:G1HeapRegionSize=16m",
           f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--cpus", str(cpus), "--work-dir", work]
    # few malloc arenas: with one per thread, native memory (and so the peak
    # RSS) depended on which threads happened to allocate; Spark scratch
    # stays in the checkout (spark.local.dir), whatever these say
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    env["MALLOC_ARENA_MAX"] = "2"
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True,
                            cwd=build.ROOT, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {RUN_LIMIT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n") if out.strip() else []
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write(out)
        print(f"perfbench: no result (exit code {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0 if result["correct"] and proc.returncode == 0 else 1


if __name__ == "__main__":
    t0 = time.time()
    rc = main()
    print(f"perfbench: {time.time() - t0:.1f} s wall", file=sys.stderr)
    sys.exit(rc)
