"""Run one benchmark workload and print its metrics as JSON.

    python3 perfbench/run.py --workload tag_rollup --seed 1 --seconds 20 --trace 0

Run from the repository root. One driver process, one Spark session on
``local[<cpus>]``, one client: operations run one at a time (closed
loop). ``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` is a separate run that prints its per-layer metrics and
writes the spans to ``.perfbench/traces/``. Every operation's output is
checked; a failed check makes the exit code non-zero. The last stdout
line is the result object; the line before it holds the run's context.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


PR_SET_CHILD_SUBREAPER = 36


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _proc_tree() -> list[int]:
    """Pids of every descendant of this process (the JVM, the Python
    workers it forks, pool workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stat = Path(f"/proc/{d}/stat").read_text()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _adopt_orphans() -> None:
    """Make this process the subreaper of its descendants: one whose parent
    exits first (the multiprocessing resource tracker, a forked Python
    worker) is re-parented here instead of to init, so :func:`_reap` can
    still wait for it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap_children() -> None:
    """Collect every child of this process that has already ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _reap(grace: float = 20.0) -> None:
    """Stop the resource tracker ``bench.measure_bw_ceiling``'s process
    pool started, then wait until every descendant has ended: SIGTERM to
    those still running after `grace` seconds, SIGKILL after twice that."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    t0 = time.monotonic()
    sent = None
    while True:
        _reap_children()
        alive = _proc_tree()
        if not alive:
            return
        waited = time.monotonic() - t0
        sig = signal.SIGKILL if waited > 2 * grace else signal.SIGTERM if waited > grace else None
        if sig is not None and sig != sent:
            for pid in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            sent = sig
        time.sleep(0.05)


class PeakRss:
    """Largest sum, over samples, of the descendants' peak resident sizes
    (``VmHWM``): the driver JVM plus its Python workers."""

    def __init__(self):
        self.mb = 0.0

    def sample(self) -> None:
        total = 0
        for pid in _proc_tree():
            try:
                for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
            except OSError:
                continue
        self.mb = max(self.mb, total / 1024)


def _cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the machine so far, from /proc/stat."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    return f[7], sum(f)


def _ram_gb() -> float:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _session(cpus: int, wl):
    """``bench.make_spark``; for a workload that runs Python UDFs, also
    warm every Python worker with a pandas-UDF S2 encode over cpus*4
    tasks. The UDF object is made fresh for every session — a UDF planned
    in an earlier session keeps that session's accumulator endpoint."""
    import bench
    from pyspark.sql import functions as F

    from s2cell_spark.functions import udfs

    spark = bench.make_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", str(wl.adaptive).lower())
    if wl.python_workers:
        encode = F.pandas_udf(udfs.s2_lat_lon_to_cell_id.func, "long")
        warm = spark.range(cpus * 4).repartition(cpus * 4).withColumn("lat", (F.col("id") % 90).cast("double"))
        warm.select(encode(F.col("lat"), F.col("lat"), F.lit(30))).count()
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM the first session launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def measure(wl, ops, seconds: float) -> None:
    """Closed loop over the workload's operations for `seconds` and at
    least ``wl.min_passes`` passes, each operation run and checked by
    `ops` (a ``workloads.Checked``)."""
    deadline = time.perf_counter() + seconds
    for done in itertools.count(1):
        for op in wl.ops:
            ops(op)
        if done >= wl.min_passes and time.perf_counter() >= deadline:
            return


def main() -> int:
    bench_spec = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else None
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in ("s2cell_spark", "bench.py", "__spark_entry__.py", "tests/oracle_util.py")
               if not (ROOT / p).exists()]
    if missing or bench_spec is None:
        _fail(f"not a repository checkout (missing {missing or ['BENCHMARK.json']}); run from its root")
    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tests")]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")

    cpus = len(os.sched_getaffinity(0))
    driver_gb = max(1, min(8, int(_ram_gb() * 0.2)))
    work = ROOT / ".perfbench" / "work" / str(os.getpid())
    (work / "tmp").mkdir(parents=True)
    os.environ.update(
        PYTHONPATH=os.pathsep.join([str(ROOT), os.environ.get("PYTHONPATH", "")]),
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        # initial heap = max heap, touched during set-up: a heap growing at
        # GC-chosen moments, or faulting in fresh pages, makes pass walls
        # drift down over a run's first minute
        PYSPARK_SUBMIT_ARGS=shlex.join(
            ["--driver-java-options", f"-Xms{driver_gb}g -XX:+AlwaysPreTouch -Djava.io.tmpdir={work / 'tmp'}",
             "pyspark-shell"]),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_gb}g",
    )
    import gen

    _adopt_orphans()
    # a terminated run still stops the JVM and waits for every process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    wl = workloads.WORKLOADS[args.workload]()
    rss = PeakRss()
    stolen0, total0 = _cpu_jiffies()
    spark = None
    try:
        inp, gen_s, meta = gen.ensure_input(ROOT, wl.name, args.seed, wl.rows, wl.build)
        # set-up: JVM launch, session, Python-worker warm-up, driver-side
        # fixtures. Once per run — each set-up launches its own JVM, which
        # costs about as much as the measurement — so the median over a
        # series of runs is what steadies setup_s.
        t0 = time.perf_counter()
        spark = _session(cpus, wl)
        wl.prepare(spark, inp, meta, work)
        setup_s = time.perf_counter() - t0
        rss.sample()

        ops = workloads.Checked(wl, after=rss.sample)
        wl.warm()
        if args.trace:
            import spans

            tracer = spans.Tracer(spark)
            layers = wl.traced_layers(tracer, ops)
            layers.update(_trace_summary(tracer, wl))
            tdir = ROOT / ".perfbench" / "traces"
            tdir.mkdir(parents=True, exist_ok=True)
            (tdir / f"{wl.name}-seed{args.seed}.json").write_text(
                json.dumps({"spans": tracer.dump(), "metrics": layers}, indent=1))
        else:
            measure(wl, ops, args.seconds)
        samples, attempted, errors = ops.samples, ops.attempted, ops.errors
        medians = {op: statistics.median(v) for op, v in samples.items() if v}
        wall = sum(medians.values())  # a failed run (exit 1) may miss operations
        if args.trace:
            metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in bench_spec["per_layer"]}
        else:
            values = {
                "wall_s": wall,
                "pages_per_s": wl.pages / wall if wall else 0.0,
                "setup_s": setup_s,
            }
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in bench_spec["end_to_end"]}
        import bench
        import pyspark

        context = {
            "workload": wl.name, "seed": args.seed, "trace": args.trace, "cpus": cpus,
            "ram_gb": round(_ram_gb(), 2), "driver_memory": f"{driver_gb}g",
            "adaptive_execution": wl.adaptive,
            "pyspark": pyspark.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "encode_arm": wl.encode_arm, "pages": wl.pages,
            "input_gen_s": gen_s, "peak_rss_mb": rss.mb,
            # the share of the machine's CPU time the hypervisor gave to
            # other guests during the run: a slow run on a shared host
            "steal_share": (_cpu_jiffies()[0] - stolen0) / max(1, _cpu_jiffies()[1] - total0),
            "op_walls_s": samples,
            "failed_frac": len(errors) / attempted, "errors": errors,
            "bw_ceiling_bytes_per_s": bench.measure_bw_ceiling(cpus, n=4_000_000, reps=5),
        }
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            _reap()
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": len(errors), "metrics": metrics}))
    return 1 if errors else 0


def _trace_summary(tracer, wl) -> dict:
    """Per-query span walls and Spark job/task totals per traced pass."""
    jobs, tasks = tracer.jobs_and_tasks(tracer.spans)
    out = {"spark.jobs": jobs / wl.traced_passes, "spark.tasks": tasks / wl.traced_passes}
    for op in wl.ops:
        walls = [s["end"] - s["start"] for s in tracer.spans if s["name"] == wl.query_span(op)]
        out[f"query.{op}_s"] = statistics.median(walls)
    return out


if __name__ == "__main__":
    sys.exit(main())
