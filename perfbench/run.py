"""Benchmark for the KG engine: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the repository root.  The process starts one Spark session at
``local[<half the usable cores>]``, stages the workload's seeded inputs
(three times; the median counts toward ``setup_s``), runs the untimed
warm-up, then repeats the operation for ``--seconds`` seconds (and at least
the workload's ``min_ops`` times), checks the last operation's outputs against their DuckDB twins, and
prints one JSON object as the last line of stdout.

``--trace 1`` runs the traced layer pass instead (see ``layers.py``) and
prints the per-layer metrics; the spans are written as JSON lines under
``.perfbench_out/``.  All scratch data lives under ``.perfbench_work/`` and
is removed on exit.  The exit code is 1 when an output mismatches or a task
failed, and 2 when the run itself fails.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.getcwd()
STAGE_REPEATS = 3
# the inputs are small; the engine's 8g default heap grows the JVM to ~5 GB
JVM_HEAP = "3g"
SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    # the traced run reads every stage of its spans back from the status store
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("extract", "canon"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(work: str, cores: int):
    """The engine's own session factory, with every file Spark writes kept
    inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # both JVMs (the spark-submit launcher and Spark's own): temp files in the
    # work directory, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    # Python workers import the engine package from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from kie_invoice_minimal_spark.session import get_spark

    conf = dict(SPARK_CONF)
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its Python workers) to
    exit: the JVM ends when its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def failed_tasks(spark) -> int:
    """Failed task attempts over every stage the session ran."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jvm = sc._gateway.jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    return sum(stages.apply(i).numFailedTasks() for i in range(stages.size()))


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


class OpDirs:
    """A fresh directory per operation; the previous one is removed when the
    next is made, so only the last operation's outputs remain for the check."""

    def __init__(self, work: str):
        self.work, self.n, self.cur = work, 0, None

    def next(self) -> str:
        if self.cur:
            shutil.rmtree(self.cur, ignore_errors=True)
        self.n += 1
        self.cur = os.path.join(self.work, f"op{self.n}")
        return self.cur


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def unit_of(name: str) -> str:
    """A metric's unit, from its name's suffix."""
    if "_s." in name:  # checkpoints.stage_s.<stage>
        return "s"
    for suffix, unit in (
        (".s", "s"), (".util", "ratio"),
        ("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
        ("_mb", "MB"), ("_util", "ratio"), ("_ratio", "ratio"), ("_share", "ratio"),
        ("_per_input_byte", "ratio"),
    ):
        if name.endswith(suffix):
            return unit
    return "count"


def metrics_of(values: dict) -> dict:
    return {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}


def task_slots() -> int:
    """Spark task slots: half the usable cores.  Each task of an Arrow UDF
    stage keeps a JVM thread and a Python worker busy, so this many slots
    keep about one busy thread per core.  With a slot per core the timings
    follow whatever else the host runs: two busy-loop processes beside the
    benchmark slowed an ``extract`` operation by 50% at four slots on four
    cores, and by 10% at two."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def twin_digests(twins: dict, work: str, threads: int) -> dict:
    """DuckDB digest of every twin; needs only the key range, so it runs
    while the Spark session starts and warms up."""
    import duckdb

    from digest import duckdb_digest

    con = duckdb.connect(
        config={"threads": threads, "temp_directory": os.path.join(work, "duckdb")}
    )
    try:
        return {what: duckdb_digest(con, sql) for what, sql in twins.items()}
    finally:
        con.close()


def run(args, work: str) -> dict:
    from workloads import WORKLOADS, key_range

    cores = task_slots()
    cls = WORKLOADS[args.workload]
    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        twins = pool.submit(
            twin_digests, cls.twins(*key_range(args.seed, cls.turns)), work, cores
        )
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        start_s = time.perf_counter() - t0
        try:
            return measure(spark, args, work, cores, start_s, twins)
        finally:
            stop_session(spark)


def measure(spark, args, work: str, cores: int, start_s: float, twins) -> dict:
    from digest import spark_digest
    from tracing import Tracer
    from workloads import WORKLOADS

    off = Tracer(spark, enabled=False)
    wl = WORKLOADS[args.workload](spark, args.seed, cores)
    dirs = OpDirs(work)

    stage_walls = []
    for _ in range(1 if args.trace else STAGE_REPEATS):
        a = time.perf_counter()
        wl.stage()
        stage_walls.append(time.perf_counter() - a)
    a = time.perf_counter()
    for _ in range(wl.warm_ops):
        wl.op(dirs.next(), off)
    warm_s = time.perf_counter() - a
    setup_s = start_s + statistics.median(stage_walls) + warm_s
    # nothing else runs while the operations are timed
    want = twins.result()

    walls: list[float] = []
    mismatches: list[str] = []
    tr = Tracer(spark, enabled=bool(args.trace))
    if args.trace:
        # an untraced and a traced operation give the tracing overhead; the
        # layer pass follows, every call inside a named span
        from layers import run_layers

        walls.append(wl.op(dirs.next(), off))
        traced_start = time.time()
        with tr.span(f"workload.{wl.name}"):
            traced = wl.op(dirs.next(), tr)
        mismatches, resolve = run_layers(spark, tr, wl, work)
        traced_end = time.time()
    else:
        deadline = time.perf_counter() + args.seconds
        while True:
            walls.append(wl.op(dirs.next(), off))
            if time.perf_counter() >= deadline and len(walls) >= wl.min_ops:
                break

    t_check = time.perf_counter()
    for what, df in wl.outputs().items():
        got = spark_digest(df)
        if got != want[what]:
            mismatches.append(f"{what}: spark {got} != DuckDB twin {want[what]}")
    log(
        f"{wl.name} seed={args.seed}: start {start_s:.1f}s"
        f" stage {statistics.median(stage_walls):.1f}s"
        f" warm {warm_s:.1f}s ops {[round(w, 2) for w in walls]}"
        f" check {time.perf_counter() - t_check:.1f}s"
    )
    for m in mismatches:
        log(f"MISMATCH {wl.name} seed={args.seed}: {m}")
    attempted = len(walls) + (1 if args.trace else 0) + 1
    failed = len(mismatches) + failed_tasks(spark)

    wall = statistics.median(walls)
    if args.trace:
        t_collect = time.perf_counter()
        tr.collect()
        collect_s = time.perf_counter() - t_collect
        values = resolve()
        op_span = tr.get(f"workload.{wl.name}")
        sc = op_span["spark"]
        op_wall = op_span["end"] - op_span["start"]
        values.update(
            {
                "spark.jobs": sc["jobs"],
                "spark.stages": sc["stages"],
                "spark.tasks": sc["tasks"],
                "spark.failed_tasks": sc["failed_tasks"],
                "spark.exec_run_s": sc["exec_run_ms"] / 1000.0,
                "spark.util": sc["exec_run_ms"] / 1000.0 / (op_wall * cores),
                "spark.gc_s": sc["gc_ms"] / 1000.0,
                "spark.shuffle_bytes": sc["shuffle_bytes"],
                "spark.spill_bytes": sc["spill_bytes"],
                "session.start_s": start_s,
                "session.peak_rss_mb": peak_rss_mb(spark),
                "trace.op_wall_s": traced,
                "trace.overhead_s": traced - wall,
                "trace.collect_s": collect_s,
                "trace.unattributed_share": 1.0
                - tr.top_level_seconds(traced_start, traced_end) / (traced_end - traced_start),
            }
        )
        metrics = metrics_of(values)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tr.write(os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace.jsonl"))
    else:
        metrics = metrics_of(
            {"setup_s": setup_s, "wall_s": wall, "turns_per_s": wl.turns / wall}
        )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, ROOT]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
