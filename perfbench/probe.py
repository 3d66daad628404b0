"""Measurement from outside the engine: process-tree CPU, spans around
the package's public functions, and Spark's own status stores.

Nothing here changes what the engine does. The untraced run uses only
``tree_cpu_s`` and ``live_mb``; the traced run also installs ``Tracer``,
which wraps public functions in spans and reads the status stores after
each op, between op timers.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import re
import time

_TICK = os.sysconf("SC_CLK_TCK")


# -- process tree (/proc) ----------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _cpu_s(pids) -> float:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:  # utime stime cutime cstime: reaped children count too
            total += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
    return total / _TICK


def tree_cpu_s() -> float:
    """CPU seconds of the whole process tree: this Python driver, the JVM
    with its JIT and GC threads, and the Python workers."""
    return _cpu_s(descendants(os.getpid()))


def python_worker_cpu_s() -> float:
    """CPU seconds of the Python worker processes the JVM forked."""
    pids = []
    for pid in descendants(os.getpid())[1:]:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            pids.append(pid)
    return _cpu_s(pids)


def host_steal() -> tuple[int, int]:
    """(ticks stolen by the hypervisor, all ticks) over every CPU of the host."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + int(_stat(os.getpid())[19]) / _TICK


def live_mb(spark) -> tuple[float, float]:
    """(JVM heap in use after explicit full GCs, the driver's RSS), in MB.

    Collected three times: Spark's context cleaner frees shuffle and
    broadcast state only after a GC has cleared their references."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    heap = float("inf")
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.3)
        heap = min(heap, rt.totalMemory() - rt.freeMemory())
    with open("/proc/self/status") as f:
        rss_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    return heap / 2**20, rss_kb / 1024


# -- spans --------------------------------------------------------------------


class Spans:
    """In-memory span log: name, layer, start, end and parent span."""

    def __init__(self):
        self.log: list[dict] = []
        self._stack: list[int] = []

    def open(self, layer: str, name: str) -> dict:
        s = {"id": len(self.log), "parent": self._stack[-1] if self._stack else None,
             "layer": layer, "name": name, "t0": time.time(), "t1": None}
        self.log.append(s)
        self._stack.append(s["id"])
        return s

    def close(self, s: dict) -> None:
        s["t1"] = time.time()
        self._stack.pop()

    def self_times(self, ids: set[int]) -> dict[str, float]:
        """Per-layer self time of the spans in ``ids``: each span's duration
        minus the part its child spans cover."""
        child = {}
        for s in self.log:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["t1"] - s["t0"]
        out: dict[str, float] = {}
        for i in ids:
            s = self.log[i]
            out[s["layer"]] = out.get(s["layer"], 0.0) + s["t1"] - s["t0"] - child.get(i, 0.0)
        return out


def _union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


_PLAN_NODES = {
    "plan.exchanges": ("Exchange",),
    "plan.broadcasts": ("BroadcastExchange",),
    "plan.smj": ("SortMergeJoin",),
    "plan.bhj": ("BroadcastHashJoin",),
    "plan.inmemory_scans": ("InMemoryTableScan",),
    "plan.generates": ("Generate",),
    "plan.python_ops": ("MapInArrow", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"),
}
_NODE = re.compile(r"^[\s:|+\-]*\*?\s*(?:\(\d+\)\s*)?([A-Za-z]+)")


def plan_shape(description: str) -> dict[str, int]:
    """Operator counts of a physical plan description, taken from the final
    adaptive plan when there is one."""
    tree = description.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    names = [m.group(1) for m in map(_NODE.match, tree.splitlines()[1:]) if m]
    return {k: sum(n in v for n in names) for k, v in _PLAN_NODES.items()}


# -- the tracer -----------------------------------------------------------------

SNAPSHOT_CALLS = ("overwrite", "append", "merge", "merge_cdc", "delete", "scan", "plan_files", "read")

PER_OP_KEYS = (
    "sources.build_s", "scan.input_rows", "scan.input_mb", "scan.tasks",
    "pipeline.run_batch_s", "pipeline.rows_fetched", "pipeline.rows_valid", "pipeline.rows_fraud",
    "plans.build_s", "plans.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.driver_gap_s",
    "executor.run_s", "executor.cpu_s", "executor.gc_s", "executor.deser_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s", "spill.disk_mb", "spill.mem_mb",
    "python.worker_cpu_s", *_PLAN_NODES,
    "snapshot.call_s", "snapshot.driver_s", "snapshot.files_kept", "snapshot.files_total",
    "snapshot.files_rewritten", "snapshot.bytes_written_mb", "snapshot.versions",
    "self.pipeline_s", "self.sources_s", "self.plans_s", "self.snapshot_s", "self.op_s",
)


class Tracer:
    """Spans around the engine's public functions plus Spark status-store
    reads, attributed to ops by the range of job, stage and SQL execution
    ids that appear while the op runs (not by job group: streaming drains
    run on the stream's own thread and group)."""

    def __init__(self, modules: dict):
        self.spans = Spans()
        self.m = modules
        self.ops: list[dict] = []
        self.gauges: dict[str, float] = {}
        self.probe_s = 0.0
        self._frames: list = []
        self.session_start_s = 0.0
        self._tables: dict[str, int | None] = {}
        self._op_span = None
        self._wrap_all()

    # wrapping -------------------------------------------------------------

    def _wrap(self, module, attr: str, layer: str, on_return=None):
        fn = getattr(module, attr)
        sig = inspect.signature(fn)
        spans, tracer = self.spans, self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = spans.open(layer, attr)
            s["op"] = tracer._op_span["id"] if tracer._op_span else None
            try:
                if layer == "snapshot":
                    tracer._note_table(sig.bind_partial(*args, **kwargs).arguments.get("table_path"))
                out = fn(*args, **kwargs)
            finally:
                spans.close(s)
            if on_return is not None:
                on_return(s, out)
            return out

        setattr(module, attr, wrapper)

    def _wrap_all(self) -> None:
        m = self.m
        self._wrap(m["session"], "get_spark", "session", self._on_session)
        self._wrap(m["pipeline"], "run_batch", "pipeline", self._on_report)
        # run_batch resolves the CSV reader through its own module globals
        self._wrap(m["pipeline"], "read_transactions", "sources")
        for name in SNAPSHOT_CALLS:
            cb = self._on_plan_files if name == "plan_files" else None
            self._wrap(m["snapshot"], name, "snapshot", cb)

    def _on_session(self, s, _):
        if not self.session_start_s:
            self.session_start_s = s["t1"] - s["t0"]

    def _on_report(self, s, report):
        s["counts"] = (report.rows_fetched, report.rows_valid, report.rows_fraud)

    def _on_plan_files(self, s, out):
        s["files"] = (len(out[0]), out[1])

    def _note_table(self, path) -> None:
        if path and self._op_span is not None and path not in self._tables:
            self._tables[path] = self.m["snapshot"].current_version(path)

    def build(self, fn, *args):
        """Run a plan builder inside a ``plans`` span."""
        s = self.spans.open("plans", getattr(fn, "__name__", "build"))
        s["op"] = self._op_span["id"] if self._op_span else None
        s["jobs0"] = self._next_job
        try:
            return fn(*args)
        finally:
            self.spans.close(s)
            self._wait_bus()
            s["jobs1"] = self._scan_jobs(self._next_job)

    def planned(self, df) -> None:
        """Remember a DataFrame whose Catalyst phases are read after the op."""
        self._frames.append(df)

    # status stores ------------------------------------------------------------

    def attach(self, spark) -> None:
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._wait_bus()
        self._next_job = self._first_free_job()
        # SQL execution ids are global to the JVM, not to this SparkContext:
        # count executions in the store instead
        self._execs = self._sql.executionsCount()

    def _wait_bus(self) -> None:
        self._bus.waitUntilEmpty()

    def _job_exists(self, i: int) -> bool:
        try:
            self._store.job(i)
            return True
        except Exception:  # py4j surfaces NoSuchElementException
            return False

    def _first_free_job(self) -> int:
        hi = 1
        while self._job_exists(hi - 1):
            hi *= 2
        lo = hi // 2 if hi > 1 else 0
        while lo < hi:  # first id not yet in the store
            mid = (lo + hi) // 2
            if self._job_exists(mid):
                lo = mid + 1
            else:
                hi = mid
        return lo

    def _scan_jobs(self, start: int) -> int:
        i = start
        while self._job_exists(i):
            i += 1
        return i

    def begin_op(self) -> None:
        self._tables = {}
        self._frames = []
        self._py0 = python_worker_cpu_s()
        self._op_span = self.spans.open("op", "op")

    def end_op(self) -> None:
        op = self._op_span
        self.spans.close(op)
        self._op_span = None
        t1 = op["t1"]
        p0 = time.perf_counter()
        self._wait_bus()
        rec = dict.fromkeys(PER_OP_KEYS, 0.0)
        rec["python.worker_cpu_s"] = python_worker_cpu_s() - self._py0
        jobs_end = self._scan_jobs(self._next_job)
        job_ids = range(self._next_job, jobs_end)
        self._next_job = jobs_end
        intervals = self._jobs(job_ids, rec)
        rec["scheduler.driver_gap_s"] = (t1 - op["t0"]) - _union_s(intervals, op["t0"], t1)
        self._plans(rec)
        self._catalyst(rec)
        self._layers(op, rec, intervals)
        self._snapshot_files(rec)
        self.ops.append(rec)
        self.gauges = self._gauges()
        self.probe_s += time.perf_counter() - p0

    def _jobs(self, job_ids, rec) -> list[tuple[float, float]]:
        intervals = []
        stages = set()
        for j in job_ids:
            jd = self._store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            seq = jd.stageIds()
            stages.update(seq.apply(k) for k in range(seq.size()))
        rec["scheduler.jobs"] = len(job_ids)
        for sid in sorted(stages):
            attempts = self._store.stageData(sid, False, None, False, None)
            for k in range(attempts.size()):
                sd = attempts.apply(k)
                if str(sd.status()) == "SKIPPED":
                    continue
                rec["scheduler.stages"] += 1
                rec["scheduler.tasks"] += sd.numTasks()
                rec["executor.run_s"] += sd.executorRunTime() / 1e3
                rec["executor.cpu_s"] += sd.executorCpuTime() / 1e9
                rec["executor.gc_s"] += sd.jvmGcTime() / 1e3
                rec["executor.deser_s"] += sd.executorDeserializeTime() / 1e3
                rec["shuffle.write_mb"] += sd.shuffleWriteBytes() / 2**20
                rec["shuffle.read_mb"] += sd.shuffleReadBytes() / 2**20
                rec["shuffle.fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                rec["spill.disk_mb"] += sd.diskBytesSpilled() / 2**20
                rec["spill.mem_mb"] += sd.memoryBytesSpilled() / 2**20
                if sd.inputBytes() > 0:
                    rec["scan.input_rows"] += sd.inputRecords()
                    rec["scan.input_mb"] += sd.inputBytes() / 2**20
                    rec["scan.tasks"] += sd.numTasks()
        return intervals

    def _plans(self, rec) -> None:
        n = self._sql.executionsCount()
        new = self._sql.executionsList(self._execs, n - self._execs)
        for k in range(new.size()):
            for key, v in plan_shape(new.apply(k).physicalPlanDescription()).items():
                rec[key] += v
        self._execs = n

    def _catalyst(self, rec) -> None:
        # planning the op's DataFrame once more, outside the op's timer, is
        # the only way to reach its tracker from outside; it counts as probe
        # time, not op time
        for df in self._frames:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                if phases.contains(phase):
                    rec[f"catalyst.{phase}_ms"] += phases.apply(phase).durationMs()

    def _layers(self, op, rec, intervals) -> None:
        ids = {s["id"] for s in self.spans.log if s.get("op") == op["id"]}
        for s in (self.spans.log[i] for i in ids):
            wall = s["t1"] - s["t0"]
            if s["layer"] == "sources":
                rec["sources.build_s"] += wall
            elif s["layer"] == "pipeline":
                rec["pipeline.run_batch_s"] += wall
                if "counts" in s:
                    f, v, fr = s["counts"]
                    rec["pipeline.rows_fetched"] += f
                    rec["pipeline.rows_valid"] += v
                    rec["pipeline.rows_fraud"] += fr
            elif s["layer"] == "plans":
                rec["plans.build_s"] += wall
                rec["plans.build_jobs"] += s["jobs1"] - s["jobs0"]
            elif s["layer"] == "snapshot":
                if "files" in s:
                    rec["snapshot.files_kept"] += s["files"][0]
                    rec["snapshot.files_total"] += s["files"][1]
                parent = self.spans.log[s["parent"]] if s["parent"] is not None else None
                if parent is None or parent["layer"] != "snapshot":  # outermost call only
                    rec["snapshot.call_s"] += wall
                    rec["snapshot.driver_s"] += wall - _union_s(intervals, s["t0"], s["t1"])
        selfs = self.spans.self_times(ids | {op["id"]})
        for layer in ("pipeline", "sources", "plans", "snapshot", "op"):
            rec[f"self.{layer}_s"] = selfs.get(layer, 0.0)

    def _snapshot_files(self, rec) -> None:
        snap = self.m["snapshot"]
        for path, before in self._tables.items():
            after = snap.current_version(path)
            if after is None or after == before:
                continue
            old = set(snap.read_manifest(path, before)["files"]) if before is not None else set()
            new = set(snap.read_manifest(path, after)["files"])
            data_dir = snap._paths(path)[1]
            rec["snapshot.versions"] += after - (before or 0)
            rec["snapshot.files_rewritten"] += len(old - new)
            rec["snapshot.bytes_written_mb"] += sum(
                os.path.getsize(os.path.join(data_dir, f)) for f in new - old) / 2**20

    def _gauges(self) -> dict[str, float]:
        sc = self.spark.sparkContext
        infos = sc._jsc.sc().getRDDStorageInfo()
        return {
            "cache.persisted_rdds": sc._jsc.getPersistentRDDs().size(),
            "cache.storage_mb": sum(i.memSize() + i.diskSize() for i in infos) / 2**20,
            # a memory sink registers its query name as a temp view
            "streaming.memory_tables": sum(t.isTemporary for t in self.spark.catalog.listTables()),
        }

    # report -------------------------------------------------------------------

    def metrics(self) -> dict[str, float]:
        n = max(1, len(self.ops))
        out = {k: sum(r[k] for r in self.ops) / n for k in PER_OP_KEYS}
        out.update(self.gauges)
        out["session.start_s"] = self.session_start_s
        out["trace.probe_s_per_op"] = self.probe_s / n
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans.log, "ops": self.ops}, f, default=str)
