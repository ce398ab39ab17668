"""Benchmark entry point: one workload, one JSON result.

Usage (from the root of a checkout of the program):

    python3 perfbench/run.py --workload backup_roundtrip --seed 1 \
        --seconds 10 --trace 0

The run generates the workload's inputs from ``--seed`` once, then starts the
program in fresh processes, one after another, each with its own Spark JVM.
Each process times its first pass: the cold pass a one-shot CLI user pays
every time. The last one goes on with settle passes, then measured warm
passes for ``--seconds``, and checks the outputs against DuckDB. See
README.md for the details. The last line of
standard output is the result: ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics of ``BENCHMARK.json`` (``--trace
0``) or its per-layer metrics (``--trace 1``: one process, whose warm passes
alternate untraced and traced, so the tracing overhead is measured in the
same process). One host record per pass goes to standard error. Everything
the run writes lives under ``.perfbench_work/`` in the checkout and is
removed at the end.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [HERE, ROOT]
#: warm passes, and seconds of them, that let the JIT settle before the
#: measured ones begin
SETTLE, SETTLE_S = 2, 8.0
#: measured warm passes of each kind a run makes even when --seconds is
#: shorter
MIN_WARM = 3
#: a pass during which the hypervisor stole more than this share (percent)
#: of the VM's CPU time measures the neighbours, not the program: it stays
#: in the host record but out of the medians (see least_contended)
STEAL_MAX = 3.0
#: seconds a run may go past --seconds to collect MIN_WARM uncontended
#: passes
EXTEND_S = 12
#: seconds after its start by which the whole run must have ended
RUN_LIMIT_S = 170


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(rec: dict) -> None:
    print("perfbench " + json.dumps(rec), file=sys.stderr, flush=True)


def launcher_env(work: str) -> None:
    """Process environment for the program's processes, their Spark JVMs and
    the JVMs' Python workers: the workers must import the program from this
    checkout (pandas UDFs and ``mapInPandas`` unpickle its functions there),
    and all scratch files stay in ``work``."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def start_session(work: str, cores: int):
    from mydumper_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    spark = get_session(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every stage of a run in the status store
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and the Python workers it forked)
    have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at EOF on its stdin
        proc.wait(timeout=120)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def least_contended(passes: list[dict], k: int) -> list[dict]:
    """The passes during which the hypervisor stole at most STEAL_MAX
    percent of the CPU time or, when fewer than ``k`` were that quiet, the
    ``k`` passes it stole least from."""
    quiet = [p for p in passes if p["steal"] <= STEAL_MAX]
    if len(quiet) >= k:
        return quiet
    return sorted(passes, key=lambda p: p["steal"])[:k]


def program_process(args, work: str, role: str) -> dict:
    """One process of the program (``role`` "cold": the cold pass only;
    "full": cold pass, warm passes and the output check). Its last line of
    standard output is a JSON record of what it measured."""
    from tracing import HostRecord, StageStore, Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](work, args.seed)
    wl.load_inputs()
    cores = min(4, os.cpu_count() or 1)
    out: dict = {}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        out["session_s"] = time.perf_counter() - t0
        wl.start(spark)

        tracer = Tracer()
        if args.trace:
            tracer.install()
            stages = StageStore(spark, cores)
        host = HostRecord(spark)

        def one_pass(kind: str, traced: bool):
            split = defaultdict(float) if traced else None
            if traced:
                tracer.reset()
                stages.mark()
            host.start()
            tracer.on = traced
            t = time.perf_counter()
            try:
                calls = wl.run_pass(spark, split)
            except Exception as e:  # a failed pass is counted, not fatal
                wl.op(False, f"pass: {type(e).__name__}: {e}")
                calls = {}
            wall = time.perf_counter() - t
            tracer.on = False
            rec = host.finish()
            log({"workload": wl.name, "role": role, "pass": kind,
                 "wall_s": wall, **rec})
            layer = None
            if traced:
                layer = {**tracer.layer_metrics(), **stages.delta(wall),
                         **split, "spark.jvm_gc_s": rec["jvm_gc_ms"] / 1e3}
            return {"wall": wall, "calls": calls, "layer": layer,
                    "steal": rec.get("cpu_pct", {}).get("steal", 0.0)}

        # monotonic time is one clock for every process of the machine
        out["first_pass_at"] = time.monotonic()
        cold = one_pass("cold", False)
        out.update(cold_s=cold["wall"], cold_steal=cold["steal"])
        if role == "full":
            out["values"] = warm_phase(args, wl, spark, one_pass)
            out["values"]["session.start_s"] = out["session_s"]
    finally:
        if spark is not None:
            t = time.perf_counter()
            stop_session(spark)
            log({"workload": wl.name, "role": role,
                 "stop_s": time.perf_counter() - t})
    out.update(attempted=wl.attempted, failed=wl.failed,
               problems=wl.problems[:20])
    return out


def warm_phase(args, wl, spark, one_pass) -> dict[str, float]:
    """Settle passes, measured warm passes (untraced, or untraced and traced
    alternately) for --seconds, then the output check. Returns the medians
    of what the passes measured."""
    settled, n = time.perf_counter() + SETTLE_S, 0
    while n < SETTLE or time.perf_counter() < settled:
        one_pass("settle", False)
        n += 1
    deadline = time.perf_counter() + args.seconds
    warm, traced = [], []
    while True:
        # traced runs go untraced, traced, traced, untraced, ... so both
        # kinds see passes equally far from the cold start
        n = len(warm) + len(traced)
        is_traced = bool(args.trace) and n % 4 in (1, 2)
        p = one_pass("traced" if is_traced else "warm", is_traced)
        (traced if is_traced else warm).append(p)
        now = time.perf_counter()
        enough = len(warm) >= MIN_WARM and (
            not args.trace or len(traced) >= MIN_WARM)
        quiet = sum(p["steal"] <= STEAL_MAX for p in warm) >= MIN_WARM
        if enough and now >= deadline and (
                quiet or now >= deadline + EXTEND_S):
            break
    t = time.perf_counter()
    wl.check(spark)
    log({"workload": wl.name, "check_s": time.perf_counter() - t,
         "attempted": wl.attempted, "failed": wl.failed})

    def medians(records: list[dict]) -> dict[str, float]:
        keys = {k for r in records for k in r}
        return {k: median([r.get(k, 0.0) for r in records]) for k in keys}

    # per-call times (engine.*) come from the untraced passes
    measured = least_contended(warm, MIN_WARM)
    values = medians([p["calls"] for p in measured])
    values["wall_s"] = median([p["wall"] for p in measured])
    if args.trace:
        values.update(medians([p["layer"] for p in traced]))
        values["trace.wall_s"] = median([p["wall"] for p in traced])
        values["trace.overhead_s"] = values["trace.wall_s"] - values["wall_s"]
    return values


def spawn(args, work: str, role: str) -> dict:
    """Run one program process to its end and return its record, with
    ``start_s``: from its launch to the start of its first pass."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--role", role, "--work", work]
    launched = time.monotonic()
    # its own process group, so the JVM and Python workers it starts can be
    # stopped with it on every way out
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(
            timeout=max(1.0, RUN_LIMIT_S - (time.perf_counter() - T_START)))
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"the {role} process exited with code {proc.returncode}")
    rec = json.loads(lines[-1])
    rec["start_s"] = rec["first_pass_at"] - launched
    return rec


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # set by the run for the program processes it starts
    ap.add_argument("--role", choices=("cold", "full"), help=argparse.SUPPRESS)
    ap.add_argument("--work", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.role:
        print(json.dumps(program_process(args, args.work, args.role)))
        return

    if not (os.path.isfile(os.path.join(ROOT, "mydumper_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        fail("run this from the root of a checkout of the program: "
             "mydumper_spark/ and __spark_entry__.py are missing here")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload!r}")

    # a stop request unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        launcher_env(work)
        from workloads import WORKLOADS

        wl = WORKLOADS[args.workload](work, args.seed)
        wl.make_inputs()
        inputs_s = time.perf_counter() - T_START
        # the traced run reports no cold_s, so it needs no extra cold samples
        roles = ["cold"] * (0 if args.trace else wl.cold_runs - 1) + ["full"]
        runs = [spawn(args, work, role) for role in roles]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    full = runs[-1]
    values = full["values"]
    if args.trace:
        wanted = spec["per_layer"]
    else:
        colds = [{"wall": r["cold_s"], "steal": r["cold_steal"]} for r in runs]
        values.update(
            setup_s=inputs_s + median([r["start_s"] for r in runs]),
            cold_s=median([p["wall"] for p in least_contended(colds, 1)]))
        wanted = spec["end_to_end"]
    attempted = wl.attempted + sum(r["attempted"] for r in runs)
    failed = wl.failed + sum(r["failed"] for r in runs)
    for p in (wl.problems + [p for r in runs for p in r["problems"]])[:20]:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
