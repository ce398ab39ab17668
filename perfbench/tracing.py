"""Per-layer tracing from outside the program.

The tracer wraps the layers' public functions where the program looks them
up (a name ``engine.py`` imports at module level is patched on
``mydumper_spark.engine``; a name imported inside a function is patched on
its home module) and records one span per call: name, start, end, parent
span and thread. Wrappers cost one flag test while tracing is off, so one
process can alternate untraced and traced passes and report the overhead.

Spark's own numbers come from the status store (it answers with
``spark.ui.enabled=false``): the stages, jobs and tasks a pass added, with
their executor time, bytes and spill. ``HostRecord`` is the per-pass host
record (``/proc/stat`` deltas, loadavg, JVM GC time).
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: "Span | None"
    thread: int


def union_s(spans: list[Span]) -> float:
    """Seconds covered by at least one span (overlapping pool threads count
    once)."""
    total, cur_s, cur_e = 0.0, None, None
    for s in sorted(spans, key=lambda s: s.start):
        if cur_e is None or s.start > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s.start, s.end
        else:
            cur_e = max(cur_e, s.end)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _tree_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path`` (a file or a tree)."""
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    files = size = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if not f.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dp, f))
    return files, size


class Tracer:
    def __init__(self):
        self.on = False
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.dags: list = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def reset(self) -> None:
        self.spans, self.counts, self.dags = [], defaultdict(float), []

    def count(self, name: str, n: float) -> None:
        with self._lock:
            self.counts[name] += n

    def current(self) -> "Span | None":
        return getattr(self._local, "span", None)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a recording wrapper. ``after(args,
        kwargs, result)`` may add counts once the call returns."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.on:
                return orig(*args, **kwargs)
            parent = tracer.current()
            span = Span(name, time.perf_counter(), 0.0, parent,
                        threading.get_ident())
            tracer._local.span = span
            try:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(args, kwargs, out)
                return out
            finally:
                span.end = time.perf_counter()
                tracer._local.span = parent
                with tracer._lock:
                    tracer.spans.append(span)

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap every layer boundary the workloads cross."""
        from mydumper_spark import catalog, engine
        from mydumper_spark.functions import checksum
        from mydumper_spark.sinks import manifest

        def count_tables(args, kwargs, out):
            self.count("catalog.tables", len(out))

        def count_written(args, kwargs, out):
            files, size = _tree_stats(kwargs.get("path") or args[1])
            self.count("sinks.writers.files", files)
            self.count("sinks.writers.bytes", size)

        self.wrap(catalog.ParquetCatalog, "discover", "catalog.discover",
                  count_tables)
        self.wrap(engine, "write_parquet", "sinks.writers.write",
                  count_written)
        # build_entry is imported inside engine.dump, so it is looked up on
        # its home module at call time; table_checksum is also bound into
        # sinks.manifest at import
        self.wrap(manifest, "build_entry", "sinks.manifest.build_entry")
        for mod in (engine, manifest):
            self.wrap(mod, "verify_manifest", "sinks.manifest.verify")
        for mod in (checksum, manifest):
            self.wrap(mod, "table_checksum",
                      "functions.checksum.table_checksum")

        dag_cls = engine.LoaderDag
        tracer = self

        class RecordedDag(dag_cls):
            """The program's LoaderDag, remembered so its per-job
            ``results`` (elapsed, attempts) can be read after a restore."""

            def run(self, *args, **kwargs):
                if not tracer.on:
                    return super().run(*args, **kwargs)
                t0 = time.perf_counter()
                try:
                    return super().run(*args, **kwargs)
                finally:
                    tracer.count("plans.loader_dag.run_s",
                                 time.perf_counter() - t0)
                    tracer.dags.append(self)

        engine.LoaderDag = RecordedDag

    def layer_metrics(self) -> dict[str, float]:
        """Fold this pass's spans and counts into per-layer metrics. Span
        time is thread-seconds (``_s``: the dump runs one pool thread per
        table) and, separately, the wall time they cover (``_union_s``)."""
        by: dict[str, list[Span]] = defaultdict(list)
        for s in self.spans:
            by[s.name].append(s)
        out: dict[str, float] = {}
        for name in ("catalog.discover", "sinks.writers.write",
                     "sinks.manifest.build_entry",
                     "functions.checksum.table_checksum",
                     "sinks.manifest.verify"):
            out[f"{name}_s"] = sum(s.end - s.start for s in by[name])
        for name in ("sinks.writers.write", "sinks.manifest.build_entry",
                     "functions.checksum.table_checksum"):
            out[f"{name}_union_s"] = union_s(by[name])
        for name in ("catalog.tables", "sinks.writers.bytes",
                     "sinks.writers.files", "plans.loader_dag.run_s"):
            out[name] = self.counts.get(name, 0.0)
        for phase in ("schema", "data", "index", "constraint", "post"):
            out[f"plans.loader_dag.{phase}_busy_s"] = 0.0
        out["plans.loader_dag.retries"] = 0.0
        out["plans.loader_dag.failed_jobs"] = 0.0
        for dag in self.dags:
            for (_, phase), res in dag.results.items():
                out[f"plans.loader_dag.{phase.name.lower()}_busy_s"] += \
                    res.elapsed
                out["plans.loader_dag.retries"] += max(0, res.attempts - 1)
                out["plans.loader_dag.failed_jobs"] += 0 if res.ok else 1
        return out


class StageStore:
    """Deltas of Spark's status store between two points of a run."""

    FIELDS = ("numTasks", "numFailedTasks", "executorRunTime",
              "executorCpuTime", "inputBytes", "outputBytes",
              "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
              "diskBytesSpilled")

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.cores = cores
        self._quantiles = getattr(self.store, "stageList$default$4")()
        self.seen: set[tuple[int, int]] = set()
        self.jobs = 0
        self.mark()

    def _drain(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()

    def _stages(self):
        seq = self.store.stageList(None, False, False, self._quantiles, None)
        return [seq.apply(i) for i in range(seq.length())]

    def mark(self) -> None:
        """Forget every stage and job recorded so far."""
        self._drain()
        self.seen = {(s.stageId(), s.attemptId()) for s in self._stages()}
        self.jobs = self.store.jobsList(None).length()

    def delta(self, wall_s: float) -> dict[str, float]:
        """Spark metrics of the stages and jobs added since ``mark``."""
        self._drain()
        tot = dict.fromkeys(self.FIELDS, 0)
        stages = 0
        for s in self._stages():
            key = (s.stageId(), s.attemptId())
            if key in self.seen or s.status().toString() == "SKIPPED":
                continue
            stages += 1
            for f in self.FIELDS:
                tot[f] += getattr(s, f)()
        jobs = self.store.jobsList(None).length() - self.jobs
        self.mark()
        cpu_s = tot["executorCpuTime"] / 1e9
        return {
            "spark.jobs": jobs,
            "spark.stages": stages,
            "spark.tasks": tot["numTasks"],
            "spark.tasks_per_stage": tot["numTasks"] / stages if stages else 0.0,
            "spark.failed_tasks": tot["numFailedTasks"],
            "spark.executor_run_s": tot["executorRunTime"] / 1e3,
            "spark.executor_cpu_s": cpu_s,
            "spark.cpu_util": cpu_s / (wall_s * self.cores) if wall_s else 0.0,
            "spark.input_bytes": tot["inputBytes"],
            "spark.output_bytes": tot["outputBytes"],
            "spark.shuffle_read_bytes": tot["shuffleReadBytes"],
            "spark.shuffle_write_bytes": tot["shuffleWriteBytes"],
            "spark.spill_bytes": tot["memoryBytesSpilled"]
            + tot["diskBytesSpilled"],
        }


def _cpu_jiffies() -> "list[int] | None":
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, children included) used so far by
    process ``root`` and all its descendants: here the benchmark's Python
    process, the Spark JVM it launched and the JVM's Python workers. Time
    the hypervisor steals from the VM is not counted."""
    stats, children = {}, defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        children[int(fields[1])].append(int(d))
        stats[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, 0)
        todo.extend(children[pid])
    return total / os.sysconf("SC_CLK_TCK")


def jvm_gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


class HostRecord:
    """Per-pass host evidence: CPU idle/iowait/steal shares from /proc/stat
    deltas, loadavg at the end of the pass, JVM GC milliseconds, and the
    CPU seconds the benchmark's process tree used."""

    def __init__(self, spark):
        self.spark = spark

    def start(self) -> None:
        self.cpu0 = _cpu_jiffies()
        self.gc0 = jvm_gc_ms(self.spark)
        self.tree0 = tree_cpu_s(os.getpid())

    def finish(self) -> dict:
        rec: dict = {"cpu_s": tree_cpu_s(os.getpid()) - self.tree0,
                     "jvm_gc_ms": jvm_gc_ms(self.spark) - self.gc0}
        cpu1 = _cpu_jiffies()
        if self.cpu0 and cpu1:
            d = [b - a for a, b in zip(self.cpu0, cpu1)]
            total = sum(d) or 1
            rec["cpu_pct"] = {
                "idle": round(100 * d[3] / total, 1),
                "iowait": round(100 * d[4] / total, 1) if len(d) > 4 else 0.0,
                "steal": round(100 * d[7] / total, 1) if len(d) > 7 else 0.0,
            }
        try:
            with open("/proc/loadavg") as f:
                rec["loadavg"] = [float(x) for x in f.read().split()[:3]]
        except OSError:
            pass
        return rec
