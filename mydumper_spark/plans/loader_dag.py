"""Restore-side dependency-DAG scheduler (SURVEY §2.9 L1-L8).

Reference: myloader's table state machine NOT_FOUND→NOT_CREATED→CREATING→
CREATED→DATA_DONE→INDEX_ENQUEUED→ALL_DONE with separate thread pools per
phase (/root/reference/src/myloader/myloader.h:116-140, dispatcher
myloader_worker_loader_main.c:94-209, pools myloader.c:649-675).

Spark-first re-expression: phases become *barriers between groups of Spark
jobs* issued by the driver; intra-phase parallelism is Spark's scheduler
(many tables' writes submitted concurrently via the DAG's ready queue). The
state machine survives as pure driver bookkeeping — it is what gives us:
- schema before data before index before constraint before post (L1/L7)
- largest-table-first ordering within the data phase (O4)
- purge modes (L3), retry with error policy (L8), resume (L11)
"""

from __future__ import annotations

import enum
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from mydumper_spark.util import thread_map


class Phase(enum.IntEnum):
    SCHEMA = 0
    DATA = 1
    INDEX = 2
    CONSTRAINT = 3
    POST = 4  # triggers/views/routines (myloader_worker_post.c)


class TableState(enum.Enum):
    NOT_CREATED = "not_created"
    CREATED = "created"
    DATA_DONE = "data_done"
    INDEXED = "indexed"
    ALL_DONE = "all_done"
    FAILED = "failed"


class PurgeMode(enum.Enum):
    """L3 pre-overwrite handling (myloader_restore_job.c:120-160) mapped to
    Spark writer modes."""

    DROP = "drop"  # --drop-table → mode("overwrite")
    TRUNCATE = "truncate"  # overwrite without dropping (JDBC: truncate=true)
    DELETE = "delete"
    FAIL = "fail"
    SKIP = "skip"
    #: myloader --append-if-not-exist: CREATE TABLE IF NOT EXISTS, keep
    #: whatever rows are already there, APPEND the dump's rows on top
    APPEND = "append"

    @property
    def spark_mode(self) -> str:
        return {
            PurgeMode.DROP: "overwrite",
            PurgeMode.TRUNCATE: "overwrite",
            PurgeMode.DELETE: "append",
            PurgeMode.FAIL: "errorifexists",
            PurgeMode.SKIP: "ignore",
            PurgeMode.APPEND: "append",
        }[self]


@dataclass
class LoadJob:
    table: str
    phase: Phase
    action: Callable[[], None]
    size_hint: int = 0  # rows/bytes — drives largest-first ordering (O4)
    retries: int = 2  # L8 --retry-count
    depends_on: list[str] = field(default_factory=list)


@dataclass
class _JobResult:
    ok: bool
    error: str | None = None
    elapsed: float = 0.0
    attempts: int = 0


class LoaderDag:
    """Driver-side scheduler. ``run`` executes jobs phase-by-phase (barrier
    between phases, exactly the reference's pool barriers, myloader.c:638-675)
    and inside a phase in largest-first order, honoring cross-table deps.

    Concurrency note: actions are Spark job submissions; running them from a
    thread pool would overlap their stages, but sequential submission is
    already pipeline-parallel *inside* Spark (each write saturates the
    cluster). A ``parallelism`` knob submits concurrently when individual
    tables can't saturate (many small tables — the reference's exact
    many-tables case, test/specific_25)."""

    def __init__(self, resume_log: set[str] | None = None,
                 parallelism: int = 1,
                 phase_caps: "dict[Phase, int] | None" = None):
        self.jobs: list[LoadJob] = []
        self._keys: set[tuple[str, Phase]] = set()
        self.state: dict[str, TableState] = {}
        self.results: dict[tuple[str, Phase], _JobResult] = {}
        self.resume_log = resume_log if resume_log is not None else set()  # L11
        self.parallelism = parallelism
        #: per-phase concurrency ceilings — myloader's
        #: --max-threads-for-schema-creation / -index-creation /
        #: -post-actions and --serialized-table-creation (cap SCHEMA at 1):
        #: DDL storms hurt some servers (metadata-lock contention) even
        #: when the DATA phase wants full width, so the caps are
        #: per-phase, never one global knob (myloader_arguments.c)
        self.phase_caps = phase_caps or {}

    def add(self, job: LoadJob) -> None:
        # the phase queue (`remaining` in run) and the results map are
        # keyed by (table, phase): a second job under the same key would
        # silently shadow the first — data missing behind a success
        # report. Loud here, where the mistake is made.
        key = (job.table, job.phase)
        if key in self._keys:
            raise ValueError(
                f"duplicate load job {job.table!r} in phase "
                f"{job.phase.name}: the phase queue is keyed by name and "
                "would silently drop one of them")
        self._keys.add(key)
        self.jobs.append(job)
        self.state.setdefault(job.table, TableState.NOT_CREATED)

    def _advance(self, table: str, phase: Phase) -> None:
        order = {
            Phase.SCHEMA: TableState.CREATED,
            Phase.DATA: TableState.DATA_DONE,
            Phase.INDEX: TableState.INDEXED,
            Phase.CONSTRAINT: TableState.INDEXED,
            Phase.POST: TableState.ALL_DONE,
        }
        self.state[table] = order[phase]

    def _run_one(self, job: LoadJob) -> _JobResult:
        key = f"{job.table}:{job.phase.name}"
        if key in self.resume_log:  # L11 resume: skip completed objects
            return _JobResult(ok=True, attempts=0)
        last_err = None
        for attempt in range(1, job.retries + 2):
            t0 = time.time()
            try:
                job.action()
                self.resume_log.add(key)
                return _JobResult(ok=True, elapsed=time.time() - t0, attempts=attempt)
            except Exception as e:  # L8 retry policy
                last_err = str(e)
        return _JobResult(ok=False, error=last_err, attempts=job.retries + 1)

    def run(self, fail_fast: bool = True) -> dict[tuple[str, Phase], _JobResult]:
        for phase in Phase:
            phase_jobs = [j for j in self.jobs if j.phase == phase]
            # O4: largest first so the long pole starts immediately
            phase_jobs.sort(key=lambda j: -j.size_hint)
            remaining = {j.table: j for j in phase_jobs}
            # POST objects are order-dependent in ways the dump cannot see
            # (a view on a view, a routine reading a view): the reference
            # requeues a failed POST job behind the rest of the phase and
            # loops until a full pass makes no progress
            # (myloader_worker_post.c:1-129 CREATE-order retry). A job that
            # fails because its prerequisite object doesn't exist yet
            # succeeds on a later pass, after the prerequisite's own job
            # lands; only a pass with zero successes makes failures final.
            requeue_on_failure = phase == Phase.POST
            while remaining:
                ready = [
                    j
                    for j in remaining.values()
                    if all(
                        self.state.get(d) in (TableState.ALL_DONE, TableState.DATA_DONE,
                                              TableState.CREATED, TableState.INDEXED)
                        or d not in self.state
                        for d in j.depends_on
                    )
                ]
                if not ready:
                    stuck = sorted(remaining)
                    raise RuntimeError(
                        f"dependency cycle or failed deps in phase {phase.name}: {stuck}")
                width = min(self.parallelism,
                            self.phase_caps.get(phase, self.parallelism))
                outs = thread_map(self._run_one, ready, width)
                progressed = False
                failures: list[LoadJob] = []
                for j, res in zip(ready, outs):
                    self.results[(j.table, j.phase)] = res
                    del remaining[j.table]
                    if res.ok:
                        progressed = True
                        self._advance(j.table, j.phase)
                    elif requeue_on_failure:
                        failures.append(j)  # verdict after the pass
                    else:
                        self.state[j.table] = TableState.FAILED
                        if fail_fast:
                            raise RuntimeError(
                                f"load failed: {j.table} phase {j.phase.name}: {res.error}"
                            )
                if failures:
                    if progressed:
                        # something landed this pass — the failures may have
                        # been waiting on it; give them another pass (at the
                        # back: dict order is insertion order)
                        for j in failures:
                            remaining[j.table] = j
                    else:
                        for j in failures:
                            self.state[j.table] = TableState.FAILED
                        if fail_fast:
                            j = failures[0]
                            res = self.results[(j.table, j.phase)]
                            raise RuntimeError(
                                f"load failed: {j.table} phase {j.phase.name}: {res.error}"
                            )
        return self.results


def split_create_table(ddl: str) -> tuple[str, list[str], list[str]]:
    """L6 deferred-index rewrite: split a CREATE TABLE into (bare create,
    ADD-KEY alters, ADD-CONSTRAINT alters) — the Spark-side analogue of
    ``global_process_create_table_statement`` (/root/reference/src/common.c:
    1440-1509). Works on the generic `KEY ...` / `CONSTRAINT ...` lines of
    MySQL-style DDL; bare lines are preserved verbatim."""
    lines = [ln.rstrip(", \t") for ln in ddl.strip().splitlines()]
    if len(lines) < 2:
        # compact single-line DDL: head and tail would be the SAME line,
        # duplicating the whole statement — nothing to split, return as-is
        return ddl.strip(), [], []
    head, tail = lines[0], lines[-1]
    body = lines[1:-1]
    keep, keys, constraints = [], [], []
    table = head.split("CREATE TABLE", 1)[-1].split("(", 1)[0].strip()
    for ln in body:
        s = ln.strip()
        up = s.upper()
        if up.startswith(("PRIMARY KEY", "UNIQUE KEY", "KEY ", "INDEX ", "FULLTEXT")):
            if up.startswith("PRIMARY KEY"):
                keep.append(s)  # PK stays: needed for dedup/upsert semantics
            else:
                keys.append(f"ALTER TABLE {table} ADD {s};")
        elif up.startswith(("CONSTRAINT", "FOREIGN KEY")):
            constraints.append(f"ALTER TABLE {table} ADD {s};")
        else:
            keep.append(s)
    bare = head + "\n" + ",\n".join(keep) + "\n" + tail
    return bare, keys, constraints
