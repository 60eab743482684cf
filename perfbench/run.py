"""The repo benchmark: one workload per run, in a fresh Python + JVM process.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload training --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` repeats the same
passes with per-layer tracing on and prints the per-layer metrics. The last
line of standard output is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
The line before it is a record of the run's conditions. See README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # first statement: the process's start

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pyspark_coding_challenge_spark"
CORES = 4
WORKLOADS = ("training", "refresh")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: str, trace: bool) -> None:
    """Keep every file the run writes inside ``work`` and pin the settings
    the program would otherwise take from the environment."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # Spark's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    # every JVM, the spark-submit launcher's too: temp files in the work
    # directory, no perf-data files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job and stage of a pass in the status store
        confs["spark.ui.retainedJobs"] = "1000000"
        confs["spark.ui.retainedStages"] = "1000000"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        "--conf " + shlex.quote(f"{k}={v}") for k, v in confs.items()
    ) + " pyspark-shell"


def start_session():
    from pyspark_coding_challenge_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the JVM")


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant (the JVM, Spark's Python workers), plus what their
    reaped children used. Time the hypervisor steals is not in it."""
    children, used = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:  # exited meanwhile
            continue
        fields = s[s.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(d))
        used[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the host's hypervisor took from this machine so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def record(args, load1: float) -> dict:
    import pyspark

    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=30)
        commit = r.stdout.strip() or commit
    return {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "cores": CORES, "host_cpus": os.cpu_count(),
            "loadavg_1m_at_start": load1,
            "spark": pyspark.__version__,
            "python": platform.python_version(), "commit": commit}


def layer_metrics(passes: list[dict], ramp: int) -> dict:
    """Per-layer values: the mean over the measured warm passes (means add
    up, so the layer times of a pass can be set against its wall time),
    plus the traced pass times and the share of pass time the layers
    account for."""
    warm = passes[1 + ramp:] or passes  # a failed run may stop early
    out = {k: statistics.fmean(p.get(k, 0.0) for p in warm)
           for k in {k for p in warm for k in p}}
    total = sum(p["pass_s"] for p in warm)
    out["trace.pass_s"] = statistics.median(p["pass_s"] for p in warm)
    out["trace.cold_pass_s"] = passes[0]["pass_s"]
    out["exec.core_util"] = (sum(p.get("exec.executor_run_s", 0.0) for p in warm)
                             / (total * CORES))
    covered = sum(p.get("sources.read_s", 0.0) + p.get("plans.build_s", 0.0)
                  + p.get("exec.s", 0.0)
                  + sum(v for k, v in p.items() if k.startswith("catalyst."))
                  for p in warm)
    out["trace.coverage"] = covered / total
    return out


def per_layer_units() -> dict[str, str]:
    """name -> unit of every per-layer metric BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package next to {HERE}", file=sys.stderr)
        return 2
    load1 = os.getloadavg()[0]
    steal0 = steal_s()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work, bool(args.trace))
    spark = None
    try:
        from tracing import Tracer

        t0 = time.perf_counter()
        import pyspark_coding_challenge_spark.registry  # noqa: F401
        t1 = time.perf_counter()
        spark = start_session()
        t2 = time.perf_counter()

        tracer = Tracer(bool(args.trace))
        tracer.attach(spark)
        if args.workload == "training":
            from training import Training as W
        else:
            from refresh import Refresh as W
        wl = W(spark, work, args.seed, tracer)
        t3 = time.perf_counter()
        setup_s = t3 - T_PROCESS

        passes, passes_cpu, passes_steal, attempted, failed = [], [], [], 0, 0
        start = time.perf_counter()
        while True:
            inputs = wl.prepare_pass(len(passes))
            tracer.begin_pass()
            cpu0, steal_p0 = tree_cpu_s(), steal_s()
            p0 = time.perf_counter()
            try:
                wl.run_pass(inputs)
            except Exception as ex:  # noqa: BLE001 - counted, run ends
                print(f"perfbench: pass failed: {ex!r}", file=sys.stderr)
                failed += 1
            pass_s = time.perf_counter() - p0
            passes_cpu.append(tree_cpu_s() - cpu0)
            passes_steal.append(steal_s() - steal_p0)
            tracer.end_pass(pass_s)
            attempted += wl.ops_per_pass
            passes.append(pass_s)
            if failed:
                break
            # whole passes only, at least the workload's minimum; past it,
            # start another only if it should end within --seconds
            if (len(passes) >= wl.min_passes
                    and time.perf_counter() - start + passes[-1] > args.seconds):
                break

        c0 = time.perf_counter()
        failures = wl.check() if not failed else ["a pass failed"]
        check_s = time.perf_counter() - c0
        for f in failures:
            print(f"perfbench: check failed: {f}", file=sys.stderr)
        peak = jvm_peak_rss_mb() + (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
        tracer.detach()
        stop_session(spark)
        spark = None

        if args.trace:
            values = layer_metrics(tracer.passes(), wl.ramp_passes)
            values["mem.peak_rss_mb"] = peak
            values["session.import_s"] = t1 - t0
            values["session.get_spark_s"] = t2 - t1
            values["setup.prepare_s"] = t3 - t2
            n = 1 + wl.ramp_passes
            values["cpu.cold_pass_s"] = passes_cpu[0]
            values["cpu.pass_s"] = statistics.median(passes_cpu[n:] or passes_cpu)
            values["host.steal_s"] = statistics.fmean(passes_steal[n:] or passes_steal)
            metrics = {k: {"value": values.get(k, 0.0), "unit": u}
                       for k, u in per_layer_units().items()}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "cold_pass_s": {"value": passes[0], "unit": "s"},
                "pass_s": {"value": statistics.median(
                    passes[1 + wl.ramp_passes:] or passes), "unit": "s"},
            }
        print("perfbench-record " + json.dumps(
            {**record(args, load1), "passes_s": [round(p, 4) for p in passes],
             "passes_cpu_s": [round(p, 2) for p in passes_cpu],
             "passes_steal_s": [round(p, 2) for p in passes_steal],
             "setup_s": round(setup_s, 4), "check_s": round(check_s, 4),
             "run_s": round(time.perf_counter() - T_PROCESS, 4),
             "steal_s": round(steal_s() - steal0, 2),
             **({"layer_passes": [
                 {k: round(v, 3) for k, v in p.items() if k.endswith("_s")}
                 for p in tracer.passes()]} if args.trace else {})}))
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
