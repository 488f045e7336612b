"""The benchmark's workloads.

Each workload generates its seeded input once (``build``), prepares its
driver-side fixtures as part of set-up (``prepare``; ``work`` is a
scratch directory), warms up untimed (``warm``), then runs a fixed list
of operations in a closed loop — one at a time, the next starting only
after the previous one finished. ``run(op)`` is the timed part and
returns what ``check(op, result)`` verifies, untimed, on every run
(:class:`Checked`). ``traced_layers`` returns the per-layer figures of a
traced run.
"""

from __future__ import annotations

import contextlib
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from pathlib import Path

import duckdb

import gen
import spans as T


class Checked:
    """Runs a workload's operations one at a time and checks every output.
    Keeps the walls of the operations that passed, the attempts and the
    failures; a failed operation is counted, not fatal."""

    def __init__(self, wl, after=lambda: None):
        self.wl, self.after = wl, after
        self.samples: dict[str, list[float]] = {op: [] for op in wl.ops}
        self.attempted = 0
        self.errors: list[dict] = []

    def __call__(self, op: str, run=None, span=None, then=lambda: None) -> float:
        """Time ``run()`` (default ``wl.run(op)``) inside `span`, call
        ``then()``, then check the result outside the span. Returns the
        wall."""
        self.attempted += 1
        wall = 0.0
        try:
            with span or contextlib.nullcontext():
                t0 = time.perf_counter()
                result = run() if run else self.wl.run(op)
                wall = time.perf_counter() - t0
            then()
            err = self.wl.check(op, result)
        except Exception:
            err = traceback.format_exc()
            print(err, file=sys.stderr)
        if err:
            self.errors.append({"op": op, "error": err[-2000:]})
        else:
            self.samples[op].append(wall)
        self.after()
        return wall


def _box_sql() -> str:
    import __spark_entry__ as E

    return " OR ".join(
        f"(lat >= {a} AND lat <= {b} AND lon >= {c} AND lon <= {d})"
        for _, a, b, c, d in E.PIP_BOXES
    )


class TagRollup:
    """The north-rule job: scan an at-rest pages table -> native S2
    encode -> LEFT broadcast containment join against the PIP-box
    coverings -> exact-rect flag -> level-8 rollup, folded to one
    (pages, matched) row (``bench.throughput_result_df``)."""

    name = "tag_rollup"
    rows = 2_000_000
    files = 16
    ops = ("tag_rollup",)
    warm_passes = 2
    min_passes = 5
    traced_passes = 2
    encode_arm = "native"
    adaptive = False  # bench.make_spark's setting, which tests/test_plans.py pins the plan under
    python_workers = False  # the native encode arm never leaves the JVM

    @staticmethod
    def query_span(op: str) -> str:
        return "prefix.rollup"

    def build(self, path: Path, seed: int, rows: int) -> dict:
        gen.write_parquet(lambda part: gen.pages_sql(seed, rows, part), rows, path / "pages", self.files)
        # the expected matched count: an S2-free lat/lon box filter
        con = duckdb.connect()
        try:
            n, m = con.sql(
                f"SELECT count(*), count(*) FILTER (WHERE {_box_sql()}) "
                f"FROM read_parquet('{path}/pages/*.parquet')"
            ).fetchone()
        finally:
            con.close()
        return {"pages": int(n), "matched": int(m)}

    def prepare(self, spark, path: Path, meta: dict, work: Path) -> None:
        """Scan splits sized by ``bench._tune_scan_splits``; the PIP-box
        coverings built and cached once, as ``bench._make_throughput_job``
        does."""
        import __spark_entry__ as E
        import bench
        from s2cell_spark.operators.containment import normalized_coverings_df

        self.spark = spark
        self.pages = meta["pages"]
        self.expected_m = meta["matched"]
        self.path = str(path / "pages")
        bench._tune_scan_splits(spark, self.path, self.pages)
        self.cov = normalized_coverings_df(spark, E._box_regions(), 10).cache()
        self.cov.count()

    def scan(self, path: str | None = None):
        return self.spark.read.parquet(path or self.path).select("lat", "lon")

    def job(self, path: str | None = None):
        """The north-rule job's one action, native encode arm."""
        import bench
        from s2cell_spark.functions.native_encode import with_cell_id

        return bench.throughput_result_df(self.spark, with_cell_id(self.scan(path), level=30), self.cov)

    def warm(self) -> None:
        """Untimed passes before measuring: the first pass on a fresh JVM
        runs mostly interpreted while the job's generated code compiles,
        and takes about three times a later pass; the next few still
        speed up while the JIT compiles the driver's planning code."""
        for _ in range(self.warm_passes):
            self.job().collect()

    def run(self, op: str):
        row = self.job().collect()[0]
        return int(row["p"]), int(row["m"] or 0)

    def check(self, op: str, result) -> str | None:
        p, m = result
        if p != self.pages or m != self.expected_m:
            return f"(p, m) = ({p}, {m}), expected ({self.pages}, {self.expected_m})"
        return None

    def traced_layers(self, tracer: T.Tracer, ops: Checked) -> dict:
        """Layer walls as marginal walls of nested prefix actions of the
        same job: scan-only -> +encode -> +join -> +flag+rollup, each
        timed from building its DataFrame (``plan.s``: the full job's
        driver-side analysis) to its collected row. Each
        traced pass is followed by a checked untraced pass of the job; the
        tracing overhead is the traced job's wall minus the untraced
        one's."""
        from pyspark.sql import functions as F

        from s2cell_spark.functions.exprs import cell_id_to_parent_cell_id_unchecked as parent_u
        from s2cell_spark.functions.native_encode import with_cell_id

        spark, cov, scan = self.spark, self.cov, self.scan
        prefixes = {
            "scan": lambda: scan().agg(F.sum(F.col("lat") + F.col("lon"))),
            "encode": lambda: with_cell_id(scan(), level=30).agg(F.bit_xor("cell_id")),
            "join": lambda: with_cell_id(scan(), level=30)
            .join(F.broadcast(cov), on=parent_u(F.col("cell_id"), 10) == F.col("cov_cell"), how="left")
            .agg(F.count("region_id"), F.bit_xor("cell_id")),
            "rollup": self.job,
        }
        passes = self.traced_passes
        walls, plan = {k: [] for k in prefixes}, []
        rows, sql, untraced = {}, Counter(), []
        for _ in range(passes):
            first_exec = T.last_execution_id(spark)
            with tracer.span("pass"):
                for k, make in prefixes.items():
                    # building the DataFrame analyzes its plan on the driver,
                    # a large share of a pass: it is part of the prefix
                    with tracer.span(f"prefix.{k}") as rec:
                        with tracer.span(f"plan.{k}") as planned:
                            df = make()
                        rows[k] = df.collect()[0]
                    walls[k].append(rec["end"] - rec["start"])
                plan.append(planned["end"] - planned["start"])
            sql.update(T.harvest_sql_metrics(spark, first_exec, self.path))
            untraced.append(ops("tag_rollup"))
        med = {k: statistics.median(v) for k, v in walls.items()}
        cells = with_cell_id(scan(), level=30).select(parent_u(F.col("cell_id"), 8)).distinct().count()
        candidates = int(rows["join"][0])
        exact = int(rows["rollup"]["m"])
        encode_s = med["encode"] - med["scan"]
        return {
            "scan.s": med["scan"],
            "scan.rows": sql["scan_rows"] / passes / len(prefixes),
            "scan.bytes_read": sql["scan_bytes"] / passes / len(prefixes),
            "encode.s": encode_s,
            "encode.ns_per_page": encode_s / self.pages * 1e9,
            "join.s": med["join"] - med["encode"],
            "join.candidate_rows": candidates,
            "join.exact_rows": exact,
            "join.exact_ratio": exact / candidates,
            "rollup.s": med["rollup"] - med["join"],
            "rollup.cells": cells,
            "udf.s": sql["py_s"] / passes,
            "udf.bytes_to_python": sql["py_sent"] / passes,
            "udf.bytes_from_python": sql["py_recv"] / passes,
            "spark.shuffle_bytes": sql["shuffle_bytes"] / passes,
            "spark.spill_bytes": sql["spill_bytes"] / passes,
            "plan.s": statistics.median(plan),
            "plan.optimized_bytes": T.optimized_plan_bytes(prefixes["rollup"]()),
            "trace.overhead_s": med["rollup"] - statistics.median(untraced),
        }


class _Collected:
    """Hands an already-collected result to ``oracle_util.compare``, which
    calls ``toPandas()`` on what it is given — the query is not run twice."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class QueryMix:
    """Small jobs over a seeded 400-page documents table, where fixed
    per-job costs dominate, each run once per run, cold, as a session's
    first job of its kind: three registry queries — the exact-Jaccard arm
    of ``dup_clusters`` (capped Jaccard pairs -> connected-components
    star rounds; the MinHash arm repeats the same rounds and is left out
    to keep a run short), ``knn_pages`` (ring search + verified re-query)
    and ``within_radius`` (cap coverings -> containment join -> exact
    haversine) — and the
    ``scripts/run_pipeline.py`` stage graph through
    ``CheckpointedPipeline`` (a fresh pass, then a resume pass over the
    complete snapshots). Everything encodes through the pandas-UDF arm."""

    name = "query_mix"
    rows = 400
    queries = ("dup_clusters_jaccard", "knn_pages", "within_radius")
    ops = queries + ("checkpoint_pipeline",)
    min_passes = 1
    traced_passes = 1
    encode_arm = "pandas-udf"
    adaptive = True  # Spark's default, as an interactive session runs these jobs
    python_workers = True

    @staticmethod
    def query_span(op: str) -> str:
        return f"query.{op}"

    def warm(self) -> None:
        """Nothing: each operation runs once per run, cold."""

    def build(self, path: Path, seed: int, rows: int) -> dict:
        gen.write_parquet(lambda part: gen.documents_sql(seed, rows, part), rows, path / "documents.parquet")
        return {"pages": rows}

    def prepare(self, spark, path: Path, meta: dict, work: Path) -> None:
        import __spark_entry__ as E

        self.spark = spark
        self.sf = str(path)
        self.pages = meta["pages"]
        self.registry = {**E.queries(), "dup_clusters_jaccard": E._q_dup_clusters}
        self.oracles = {**E.oracle_sql(), "dup_clusters_jaccard": E._dup_clusters_oracle()}
        self.ckpt = work / "pipeline"
        self.resume_s = 0.0

    def run(self, op: str, tracer: T.Tracer | None = None):
        if op in self.queries:
            return self.registry[op](self.spark, self.sf).toPandas()
        shutil.rmtree(self.ckpt, ignore_errors=True)
        with _maybe_span(tracer, "pipeline.fresh"):
            fresh = self._pipeline()
        files = _snapshot_files(self.ckpt)
        t0 = time.perf_counter()
        with _maybe_span(tracer, "pipeline.resume"):
            resumed = self._pipeline()
        self.resume_s = time.perf_counter() - t0
        return fresh, resumed, files, _snapshot_files(self.ckpt)

    def _pipeline(self) -> dict:
        """The stage graph of ``scripts/run_pipeline.py``: encode (+range
        partition + write) -> inner containment join + exact filter ->
        zoom-6 tiles."""
        import __spark_entry__ as E
        from s2cell_spark.operators.containment import containment_join_equi
        from s2cell_spark.operators.tiling import tile_heatmap
        from s2cell_spark.plans.checkpoint import CheckpointedPipeline
        from s2cell_spark.sources.pages import load_pages, with_cell_id

        spark = self.spark
        pipe = CheckpointedPipeline(spark, str(self.ckpt))
        enc = pipe.stage(
            "encode",
            lambda: with_cell_id(load_pages(spark, self.sf)).repartitionByRange(8, "cell_id_sortable"),
            sort_cols=("cell_id_sortable", "url"),
        )
        regions = E._box_regions()
        pip = pipe.stage(
            "pip",
            lambda: E._exact_box_filter(
                containment_join_equi(pipe.read("encode"), spark, regions, level=10)
            ).select("region_id", "doc_id", "url", "cell_id", "lat", "lon"),
            inputs=("encode",),
        )
        tiles = pipe.stage("tiles", lambda: tile_heatmap(pipe.read("encode"), zoom=6), inputs=("encode",))
        self.frames = {"pip": pip, "tiles": tiles}
        return {"encode": enc.count(), "pip": pip.count(), "tiles": tiles.count()}

    def check(self, op: str, result) -> str | None:
        """Query results and pipeline stages against their DuckDB oracles
        (``oracle_sql()`` twins, through ``tests/oracle_util.compare``)."""
        import __spark_entry__ as E
        import oracle_util

        oracle_util.TABLES = ("documents",)  # the only table generated
        if op in self.queries:
            got = [(result, self.oracles[op])]
        else:
            fresh, resumed, files_before, files_after = result
            if fresh != resumed:
                return f"resume counts {resumed} != fresh counts {fresh}"
            if files_after != files_before:
                return "resume rewrote snapshot files"
            if fresh["encode"] != self.pages:
                return f"encode rows {fresh['encode']} != {self.pages}"
            got = [(self.frames["pip"].select("region_id", "doc_id").toPandas(), E._pip_oracle()),
                   (self.frames["tiles"].toPandas(), self.oracles["tile_heatmap_z6"])]
        for pdf, sql in got:
            ok, msg = oracle_util.compare(_Collected(pdf), sql, self.sf)
            if not ok:
                return msg
        return None

    def traced_layers(self, tracer: T.Tracer, ops: Checked) -> dict:
        """One checked pass with the layers wrapped, cold like an untraced
        run's. A layer's time is the total over its calls of
        :func:`spans.layer_s`: the call's wall (an eager call's Spark jobs
        included) plus, for a call that returns a lazy plan, that plan's
        execution marginal over its input. Layers nest (a covering built
        inside ``knn`` counts for both). The tracing overhead is the
        tracer's own bookkeeping time within the pass: a cold pass cannot
        be repeated untraced in the same session."""
        from s2cell_spark.operators import components, containment, covering, dedup, knn, radius
        from s2cell_spark.plans.checkpoint import CheckpointedPipeline
        from s2cell_spark.sources import pages

        tracer.wrap(pages, "load_pages", "scan", lazy=True)
        tracer.wrap(pages, "with_cell_id", "encode", lazy=True)
        tracer.wrap(covering, "latlng_rect_covering", "cover")
        tracer.wrap(covering, "cap_covering", "cover")
        tracer.wrap(containment, "containment_join_equi", "join", rows=True, lazy=True)
        tracer.wrap(containment, "containment_join_range", "join", rows=True, lazy=True)
        tracer.wrap(knn, "knn", "knn", rows=True, lazy=True)
        tracer.wrap(radius, "within_radius_join", "knn", rows=True, lazy=True)
        tracer.wrap(dedup, "jaccard_pairs_exact", "pairs", rows=True, lazy=True)
        tracer.wrap(dedup, "minhash_near_dup_pairs", "pairs", rows=True, lazy=True)
        tracer.wrap(components, "connected_components", "components", rows_in=True)
        tracer.wrap(CheckpointedPipeline, "stage", "stage", rows=True, name_arg=1)
        passes = self.traced_passes
        resume, sql = [], Counter()
        try:
            for _ in range(passes):
                for op in self.ops:
                    # SQL metrics of the operation's queries, not of its check
                    first_exec = T.last_execution_id(self.spark)
                    ops(op, lambda: self.run(op, tracer), span=tracer.span(f"query.{op}"),
                        then=lambda: sql.update(T.harvest_sql_metrics(self.spark, first_exec, self.sf)))
                resume.append(self.resume_s)
        finally:
            tracer.unwrap()
        overhead = tracer.own_s / passes
        tracer.run_lazy()
        spans = tracer.spans
        by_id = {s["id"]: s for s in spans}

        def select(name, under=None):
            """Spans `name`, only those with every span of `under` among
            their ancestors."""
            return [s for s in spans if s["name"] == name
                    and set(under or ()) <= set(_ancestors(s, by_id))]

        def total(name, key=None, under=None):
            recs = select(name, under)
            return sum(T.layer_s(s) if key is None else s.get(key, 0) for s in recs) / passes

        # the pipeline's containment join: candidates it produced vs the
        # rows the pip stage kept after the exact test
        pip_join = ("stage.pip", "pipeline.fresh")
        candidates = total("join", "rows", under=pip_join)
        exact = total("stage.pip", "rows", under=("pipeline.fresh",))
        # knn / radius: verification-join candidates per result row
        knn_candidates = total("join", "rows", under=("knn",))
        comp_jobs, _ = tracer.jobs_and_tasks(select("components"))
        written = sum(f.stat().st_size for f in self.ckpt.rglob("*.parquet"))
        input_bytes = (Path(self.sf) / "documents.parquet").stat().st_size
        fresh = ("pipeline.fresh",)
        return {
            "scan.s": total("scan"),
            "scan.rows": sql["scan_rows"] / passes,
            "scan.bytes_read": sql["scan_bytes"] / passes,
            "encode.s": total("encode"),
            "udf.s": sql["py_s"] / passes,
            "udf.bytes_to_python": sql["py_sent"] / passes,
            "udf.bytes_from_python": sql["py_recv"] / passes,
            "join.s": total("join", under=pip_join),
            "join.candidate_rows": candidates,
            "join.exact_rows": exact,
            "join.exact_ratio": exact / candidates,
            "rollup.s": total("stage.tiles", under=fresh),
            "rollup.cells": total("stage.tiles", "rows", under=fresh),
            "cover.s": total("cover"),
            "cover.cells": total("cover", "cells"),
            "knn.s": total("knn"),
            "knn.candidates_per_result": knn_candidates / total("knn", "rows"),
            "pairs.s": total("pairs"),
            "pairs.rows": total("pairs", "rows"),
            "components.s": total("components"),
            "components.jobs": comp_jobs / passes,
            "components.edges_in": total("components", "rows_in"),
            "stage.encode_s": total("stage.encode", under=fresh),
            "stage.pip_s": total("stage.pip", under=fresh),
            "stage.tiles_s": total("stage.tiles", under=fresh),
            "checkpoint.bytes_written_per_input_byte": written / input_bytes,
            "checkpoint.resume_read_s": statistics.median(resume),
            "spark.shuffle_bytes": sql["shuffle_bytes"] / passes,
            "spark.spill_bytes": sql["spill_bytes"] / passes,
            "plan.optimized_bytes": sum(T.optimized_plan_bytes(self.registry[q](self.spark, self.sf))
                                        for q in self.queries),
            "trace.overhead_s": overhead,
        }


def _ancestors(span: dict, by_id: dict) -> list[str]:
    """Names of the spans enclosing `span`, innermost first."""
    out = []
    while span["parent"] is not None:
        span = by_id[span["parent"]]
        out.append(span["name"])
    return out


def _maybe_span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _snapshot_files(root: Path) -> dict[str, float]:
    return {str(p.relative_to(root)): p.stat().st_mtime_ns for p in root.rglob("*") if p.is_file()}


WORKLOADS = {w.name: w for w in (TagRollup, QueryMix)}
