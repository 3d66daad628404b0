"""Engine benchmark: one client in a closed loop on Spark ``local[nproc]``.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload etl_paysim --seed 1 --seconds 15 --trace 0

Workloads (``workloads.py``): ``etl_paysim`` (the paper's fraud ETL) and
``query_mix`` (registered bench queries). One run: generate the inputs
from the seed, set up three times (the first from process start, the
others on a restarted session) and report the median, warm up, time ops
until ``--seconds`` have passed, measure live memory, then check every
op against an independent reference. The last stdout line is one JSON
object; ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (spans are also written under ``perfbench/.work``).

Everything the run writes (inputs, tables, Spark local and temp
directories) lives in a per-run directory under ``perfbench/.work`` that
is removed at exit. Outside a checkout of the engine the run fails
without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

SETUP_REPS = 3
FALLING = 0.95  # warm-up goes on while a pass's wall time or CPU falls by more than 5%


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _engine() -> dict:
    sys.path.insert(0, ROOT)
    from fraud_detection_etl_project_spark import observability, pipeline, schemas, session, snapshot
    from fraud_detection_etl_project_spark import plans

    return {"observability": observability, "pipeline": pipeline, "schemas": schemas,
            "session": session, "snapshot": snapshot, "plans": plans}


def _spark_conf(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the host's /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }


def _attempt(w, spark, i: int, tracer=None):
    """Run one op; an op that raises counts as failed and the run goes on."""
    try:
        return w.op(spark, i, tracer)
    except Exception:
        traceback.print_exc()
        return 0, False


def _stop(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for every process below."""
    import probe

    below = probe.descendants(os.getpid())[1:]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in below:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def _sweep_stale() -> None:
    """Remove run directories left by runs that were killed."""
    for name in os.listdir(WORK) if os.path.isdir(WORK) else ():
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


def run(workload: str, seed: int, seconds: float, trace: bool, units: dict[str, str]) -> dict:
    import probe
    from workloads import WORKLOADS

    proc_start = probe.process_start_epoch()
    _sweep_stale()
    run_dir = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    spark = None
    try:
        e = _engine()
        tracer = probe.Tracer(e) if trace else None
        g0 = time.time()
        w = WORKLOADS[workload](e, run_dir, seed)
        gen_s = time.time() - g0
        checks: list[bool] = []  # setup ops, checked as they run
        results: list = []  # warm-up and timed ops, checked after the timed loop

        setups = []
        for rep in range(SETUP_REPS):
            t0 = time.time()
            if spark is not None:
                spark.stop()
            spark = e["session"].get_spark(app_name="perfbench", extra_conf=_spark_conf(run_dir))
            w.open_table(f"setup{rep}")
            res = _attempt(w, spark, 0)[1]
            setups.append(time.time() - (proc_start + gen_s if rep == 0 else t0))
            checks.append(res is not False and w.check(res) and w.final_check(spark))

        w.open_table("main")
        i, walls, cpus = 0, [], []
        lo, hi = w.warmup_passes
        while True:  # warm-up until op wall time and CPU stop falling
            p_wall, p_cpu = 0.0, 0.0
            for _ in range(w.whole_passes):
                c0, t0 = probe.tree_cpu_s(), time.perf_counter()
                results.append(_attempt(w, spark, i)[1])
                p_wall += time.perf_counter() - t0
                p_cpu += probe.tree_cpu_s() - c0
                i += 1
            walls.append(p_wall)
            cpus.append(p_cpu)
            if len(walls) >= hi:
                break
            if len(walls) >= lo and walls[-1] > FALLING * walls[-2] and cpus[-1] > FALLING * cpus[-2]:
                break
        warmup_ops = i

        if tracer is not None:
            tracer.attach(spark)
        op_walls, op_cpu, items = [], 0.0, 0
        steal0 = probe.host_steal()
        start = time.perf_counter()
        # at least two ops, so the quartiles below exist
        while (time.perf_counter() - start < seconds or (i - warmup_ops) % w.whole_passes
               or len(op_walls) < 2):
            c0 = probe.tree_cpu_s()
            if tracer is not None:
                tracer.begin_op()
            t0 = time.perf_counter()
            n_items, res = _attempt(w, spark, i, tracer)
            op_walls.append(time.perf_counter() - t0)
            if tracer is not None:
                tracer.end_op()
            op_cpu += probe.tree_cpu_s() - c0
            items += n_items
            results.append(res)
            i += 1
        t_timed = time.time()
        steal1 = probe.host_steal()
        steal_pct = 100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        live = probe.live_mb(spark)

        checks.extend(res is not False and w.check(res) for res in results)
        checks.append(w.final_check(spark))
        t_checked = time.time()
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    q = statistics.quantiles(op_walls, n=4, method="inclusive")
    if tracer is not None:
        metrics = tracer.metrics()
        metrics.update({
            "trace.op_p50_s": q[1],
            "setup.cold_s": setups[0],
            "setup.gen_s": gen_s,
            "warmup.ops": warmup_ops,
            "ops.timed": len(op_walls),
            "host.steal_pct": steal_pct,
        })
        metrics = {k: _metric(v, units[k]) for k, v in metrics.items()}
        tracer.dump(os.path.join(WORK, f"trace-{workload}-{seed}.json"))
    else:
        metrics = {
            "setup_s": _metric(statistics.median(setups), "s"),
            "op_p50_s": _metric(q[1], "s"),
            "op_p75_s": _metric(q[2], "s"),
            "items_per_s": _metric(items / sum(op_walls), "1/s"),
            "cpu_s_per_op": _metric(op_cpu / len(op_walls), "s"),
            "live_mb": _metric(sum(live), "MB"),
        }
    failed = checks.count(False)
    print(f"perfbench: {workload} seed={seed} gen={gen_s:.1f}s setups={[round(x, 2) for x in setups]} "
          f"warmup_ops={warmup_ops} timed_ops={len(op_walls)} heap_rss_mb={[round(x) for x in live]} "
          f"walls={[round(x, 2) for x in op_walls]} steal={steal_pct:.1f}% "
          f"checks={t_checked - t_timed:.1f}s stop={time.time() - t_checked:.1f}s total={time.time() - proc_start:.1f}s",
          file=sys.stderr)
    return {"correct": failed == 0, "attempted": len(checks), "failed": failed, "metrics": metrics}


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main() -> None:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    units = _per_layer_units()
    print(json.dumps(run(a.workload, a.seed, a.seconds, bool(a.trace), units)))


if __name__ == "__main__":
    main()
