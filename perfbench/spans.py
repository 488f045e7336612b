"""Spans recorded from outside the engine, plus Spark's own counters.

A :class:`Tracer` wraps public functions of the engine's modules (the
modules themselves are not edited): each call becomes a span with a
name, start, end and parent, and runs under its own Spark job group so
the jobs it triggers can be counted through ``statusTracker()``. Spans
stay in memory and are written as JSON when the run ends.

A wrapped call that only builds a lazy plan is timed twice over: its
span covers the driver-side planning, and :meth:`Tracer.run_lazy` later
executes what it returned and what it was given, so the layer's
execution time is the difference of the two (a prefix marginal).

Row, byte, shuffle, spill and Python-boundary figures come from the SQL
metrics Spark keeps for every executed query
(:func:`harvest_sql_metrics`).
"""

from __future__ import annotations

import re
import sys
import time
from contextlib import contextmanager

import numpy as np
from pyspark.sql import DataFrame


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self._n = 0
        self.own_s = 0.0  # wall spent in the tracer's bookkeeping

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        rec = {"id": f"span-{self._n}", "name": name,
               "parent": parent["id"] if parent else None, **attrs}
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        self.own_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(rec)
            self.own_s += time.perf_counter() - rec["end"]

    def wrap(self, owner, attr: str, layer: str, rows: bool = False,
             rows_in: bool = False, lazy: bool = False, name_arg: int | None = None) -> None:
        """Replace ``owner.attr`` — and every binding of the same function
        object in the project's loaded modules — by a span-recording
        wrapper. ``rows`` / ``rows_in``: count the returned DataFrame / the
        first argument later (:meth:`run_lazy`). ``lazy``: the call
        returns an unexecuted DataFrame; time its execution later
        (:meth:`run_lazy`). ``name_arg``: index of a positional argument
        appended to the span name (``CheckpointedPipeline.stage`` ->
        ``stage.encode``)."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            name = layer if name_arg is None else f"{layer}.{args[name_arg]}"
            with self.span(name, fn=attr) as rec:
                out = orig(*args, **kwargs)
            if isinstance(out, np.ndarray):
                rec["cells"] = int(out.shape[0])
            rec.update(df=out, df_in=args[0] if args and isinstance(args[0], DataFrame) else None,
                       count=rows, count_in=rows_in, lazy=lazy)
            return out

        owners = [owner] + [
            m for n, m in list(sys.modules.items())
            if m is not None and m is not owner
            and (n.startswith("s2cell_spark") or n in ("__spark_entry__", "bench"))
            and getattr(m, attr, None) is orig
        ]
        for o in owners:
            self._patches.append((o, attr, orig))
            setattr(o, attr, wrapper)

    def unwrap(self) -> None:
        for o, attr, orig in reversed(self._patches):
            setattr(o, attr, orig)
        self._patches.clear()

    def run_lazy(self) -> None:
        """For every span of a lazy call, execute (to Spark's ``noop``
        sink) the DataFrame it returned and the one it was given; the
        span's ``exec_s`` is the difference — the layer's own execution
        time. Then count the rows ``wrap`` asked for. Extra actions, run
        after the timed passes and outside any span; each DataFrame runs
        once, and an executed one is counted as it runs."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        walls: dict[int, float] = {}
        rows: dict[int, int] = {}

        def wall(df) -> float:
            if df is None:
                return 0.0
            if id(df) not in walls:
                obs = Observation()
                t0 = time.perf_counter()
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
                walls[id(df)] = time.perf_counter() - t0
                rows[id(df)] = obs.get["n"]
            return walls[id(df)]

        def count(df) -> int:
            if id(df) not in rows:
                rows[id(df)] = df.count()
            return rows[id(df)]

        for rec in self.spans:
            df, df_in = rec.pop("df", None), rec.pop("df_in", None)
            if rec.get("lazy"):
                rec["exec_s"] = wall(df) - wall(df_in)
            if rec.pop("count", False):
                rec["rows"] = count(df)
            if rec.pop("count_in", False):
                rec["rows_in"] = count(df_in)

    def jobs_and_tasks(self, recs: list[dict]) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = tasks = 0
        seen: set[int] = set()
        for rec in recs:
            for jid in st.getJobIdsForGroup(rec["id"]):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    si = st.getStageInfo(sid)
                    tasks += si.numCompletedTasks if si else 0
        return jobs, tasks

    def dump(self) -> list[dict]:
        """The spans, without the DataFrames :meth:`run_lazy` has not
        consumed yet."""
        return [{k: v for k, v in s.items() if k not in ("df", "df_in")} for s in self.spans]


def layer_s(rec: dict) -> float:
    """A span's layer time: the call's own wall (driver-side work, and the
    Spark jobs of an eager call) plus, for a lazy call, the execution
    marginal :meth:`Tracer.run_lazy` measured."""
    return rec["end"] - rec["start"] + rec.get("exec_s", 0.0)


# ---------------------------------------------------------------------------
# SQL metrics
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "": 1}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?\b")
# (node-name prefix, metric display name) -> key in the harvested totals;
# the Python-worker metrics exist only on Python-boundary nodes
# (ArrowEvalPython, MapInPandas, MapInArrow, ...), whatever their kind
SQL_METRICS = {
    ("Scan parquet", "number of output rows"): "scan_rows",
    ("Scan parquet", "size of files read"): "scan_bytes",
    ("Exchange", "shuffle bytes written"): "shuffle_bytes",
    ("", "spill size"): "spill_bytes",
    ("", "data sent to Python workers"): "py_sent",
    ("", "data returned from Python workers"): "py_recv",
    ("", "time to run Python workers"): "py_s",
}


def metric_value(text: str) -> float:
    """Parse one formatted SQL metric ('9.5 KiB', '1,234', '2.8 s', or a
    'total (min, med, max ...)' block, whose first figure is the total)."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2) or ""]


def last_execution_id(spark) -> int:
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    last = -1
    while it.hasNext():
        last = max(last, it.next().executionId())
    return last


def harvest_sql_metrics(spark, after_id: int, scan_path: str) -> dict[str, float]:
    """Sum the SQL metrics of :data:`SQL_METRICS` over every query executed
    after execution id `after_id`. Scan metrics count only scans of the
    workload's input, `scan_path` — not re-reads of checkpoint snapshots
    or other files."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = dict.fromkeys(set(SQL_METRICS.values()), 0.0)
    it = store.executionsList().iterator()
    while it.hasNext():
        eid = it.next().executionId()
        if eid <= after_id:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if node.name().startswith("Scan parquet") and scan_path not in node.desc():
                continue
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                key = next((v for (pre, name), v in SQL_METRICS.items()
                            if name == m.name() and node.name().startswith(pre)), None)
                val = values.get(m.accumulatorId()) if key else None
                if val is not None and val.isDefined():
                    out[key] += metric_value(val.get())
    return out


def optimized_plan_bytes(df) -> int:
    return len(df._jdf.queryExecution().optimizedPlan().toString())
