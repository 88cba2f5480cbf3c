"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload {dashboard,refresh,batch_10x}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The library is driven from outside, in
this one process, with ``local[nproc]``. Inputs are generated once into
``perfbench/.data/`` (prepare.py, in a child process, not counted in
``setup_s``). Every timed operation is checked against the library's
DuckDB oracle; the last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). A run record with
the machine context (cores, driver heap, CPU canary, load average) goes
to ``perfbench/.data/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
WORKLOADS = ("dashboard", "refresh", "batch_10x")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _environment() -> dict:
    """Fit Spark to this machine and keep every file it writes inside the
    checkout."""
    ncpu = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gib = max(1, min(4, int(ram_gib / 4)))
    tmp = os.path.join(DATA, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_DRIVER_MEM": f"{heap_gib}g",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # the whole heap is committed and touched at start-up, so neither
        # heap growth nor first-touch page faults land in a timed phase
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{heap_gib}g "
            "-XX:+AlwaysPreTouch' pyspark-shell"
        ),
        "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
    }
    os.environ.update(env)
    return {"cpus": ncpu, "driver_mem": env["SPARK_DRIVER_MEM"],
            "ram_gib": round(ram_gib, 1)}


def _peak_rss_mb(spark) -> float:
    """Peak memory of this Python process plus the driver JVM, with the
    JVM heap counted by use rather than by its (pre-touched) size: Python
    max RSS, plus the peak used bytes of each heap pool, plus the JVM's
    resident memory outside the heap (VmHWM minus the committed heap)."""
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    committed_mb = mx.getHeapMemoryUsage().getCommitted() / 2**20
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        hwm_mb = next(int(line.split()[1]) / 1024 for line in fh
                      if line.startswith("VmHWM:"))
    return py_mb + sum(_heap_peaks_mb(spark).values()) + hwm_mb - committed_mb


def _heap_peaks_mb(spark) -> dict[str, float]:
    """Peak used memory of each JVM heap pool (eden, survivor, old)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return {
        p.getName(): p.getPeakUsage().getUsed() / 2**20
        for p in mf.getMemoryPoolMXBeans()
        if p.getType().toString() == "Heap memory"
    }


def _cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process and the driver JVM."""
    with open(f"/proc/{jvm_pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    t = os.times()
    return jvm + t.user + t.system


def _canary() -> float:
    """Seconds for a fixed single-core Python loop: how fast this machine
    runs at the start of the run, recorded with the run."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x + i * i) % 1_000_003
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-error", action="store_true",
                    help="alter one result row before its check (self-test)")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import __spark_entry__  # noqa: F401
        import ufc_data_warehouse_spark  # noqa: F401
    except ImportError as ex:
        _fail(f"the library is not importable here: {ex}")

    import prepare
    import spec
    import workloads
    from spans import Tracer, median

    shutil.rmtree(os.path.join(DATA, "tmp"), ignore_errors=True)
    machine = _environment()
    os.chdir(os.path.join(DATA, "tmp"))  # spark-warehouse/, derby.log land here

    # ---- one-off input generation: excluded from setup_s ----
    t0 = time.perf_counter()
    root = os.path.join(DATA, prepare.data_key())
    if not os.path.exists(os.path.join(root, "_READY")):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "prepare.py"), DATA], check=True
        )
    if args.workload in ("refresh", "batch_10x"):
        spec.write_csv_fixture(root, args.seed)
    oneoff_s = time.perf_counter() - t0

    # ---- set-up: canary, session, workload warm-up ----
    from ufc_data_warehouse_spark.session import get_spark

    canary_s = _canary()
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    loadavg_start = os.getloadavg()

    with open(os.path.join(root, "oracle.json")) as fh:
        oracle = json.load(fh)
    tracer = Tracer(spark, bool(args.trace))
    run = workloads.make(
        args.workload, spark, root, oracle, args.seed, tracer, args.plant_error
    )
    run.warm_up()
    setup_s = time.perf_counter() - T_START - oneoff_s
    tracer.collect_stages()
    run.after_warm_up()

    # ---- measured phase ----
    iterations: list[float] = []
    t_measure = time.perf_counter()
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    cpu_s = []
    while not iterations or time.perf_counter() - t_measure < args.seconds:
        spark._jvm.System.gc()  # no garbage from the last iteration in this one
        c0 = _cpu_s(jvm_pid)
        iterations.append(run.iteration())
        cpu_s.append(_cpu_s(jvm_pid) - c0)
        tracer.collect_stages()

    peak_rss_mb = _peak_rss_mb(spark)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "machine": machine,
        "canary_s": canary_s,
        "loadavg_start": loadavg_start,
        "loadavg_end": os.getloadavg(),
        "oneoff_s": oneoff_s,
        "session_s": session_s,
        "setup_s": setup_s,
        "iterations_s": iterations,
        "iterations_cpu_s": cpu_s,
        "ops": list(zip(run.op_names, run.op_times)),
        "heap_peaks_mb": _heap_peaks_mb(spark),
        "failures": run.failures[:20],
    }
    if args.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
        metrics = workloads.per_layer(run, tracer, session_s, iterations, units)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "iteration_s": (median(iterations), "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    record["metrics"] = metrics
    prepare.stop_spark(spark)
    shutil.rmtree(os.path.join(DATA, "tmp"), ignore_errors=True)

    runs_dir = os.path.join(DATA, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(runs_dir, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    tracer.dump(os.path.join(runs_dir, stem + ".spans.json"))

    result = {
        "correct": run.attempted > 0 and not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
