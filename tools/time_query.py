"""Time registered queries in isolation: 1 untimed warmup + min of 3
noop-sink passes each, every pass from an empty block cache (bench.py
methodology), on a fresh session.

Next to each pass's wall time it prints two CPU figures read from
``/proc``: the CPU of the Python worker processes below the JVM, and the
JVM's reaped-child CPU (``cutime`` + ``cstime``), which counts the
short-lived processes the JVM forks (shell commands such as ``chmod``).
A query path that starts spawning processes shows up in either column.

Usage: python tools/time_query.py [sf_dir] <query> [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def python_worker_cpu_s(jvm: int) -> float:
    """CPU seconds of the live Python workers below ``jvm``, their own and
    their reaped children's (the daemon forks the workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        st = _stat(int(name)) if name.isdigit() else None
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    total, todo = 0, list(children.get(jvm, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        st = _stat(pid)
        if st is not None and (b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd):
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def reaped_child_cpu_s(pid: int) -> float:
    """``cutime`` + ``cstime`` of ``pid``: CPU of the children it reaped."""
    st = _stat(pid)
    return (int(st[13]) + int(st[14])) / _TICK if st is not None else 0.0


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and args[0].startswith("/") else "/root/testdata/sf0.1"

    from fraud_detection_etl_project_spark.plans import REGISTRY
    from fraud_detection_etl_project_spark.session import get_spark

    spark = get_spark(
        app_name="time-query",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    def isolate():
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    jvm = spark.sparkContext._gateway.proc.pid  # spark-submit execs the JVM
    spark.range(1000).count()
    for name in args:
        fn = REGISTRY[name].fn
        spark.sparkContext.setJobDescription(name)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warmup
        samples, py_cpu, child_cpu = [], [], []
        for _ in range(3):
            isolate()
            py0, ch0 = python_worker_cpu_s(jvm), reaped_child_cpu_s(jvm)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
            py_cpu.append(round(python_worker_cpu_s(jvm) - py0, 2))
            child_cpu.append(round(reaped_child_cpu_s(jvm) - ch0, 2))
        print(
            f"{name}: min={min(samples)} samples={samples} "
            f"python_worker_cpu_s={py_cpu} jvm_child_cpu_s={child_cpu}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
