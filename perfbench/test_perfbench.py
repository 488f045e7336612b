"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench -q

The traced-run test launches ``perfbench/run.py`` once per workload and
takes a few minutes; it also checks that no process the run started
outlives it.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tests")]

import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# per-layer metrics each workload must report as non-zero in a traced run
EXERCISED = {
    "tag_rollup": [
        "scan.s", "scan.rows", "scan.bytes_read", "encode.s", "encode.ns_per_page",
        "join.s", "join.candidate_rows", "join.exact_rows", "join.exact_ratio",
        "rollup.s", "rollup.cells", "spark.jobs", "spark.tasks", "spark.shuffle_bytes",
        "plan.s", "plan.optimized_bytes", "query.tag_rollup_s",
    ],
    "query_mix": [
        "scan.s", "scan.rows", "scan.bytes_read", "encode.s", "udf.s", "udf.bytes_to_python",
        "udf.bytes_from_python", "join.s", "join.candidate_rows", "join.exact_rows",
        "join.exact_ratio", "rollup.s", "rollup.cells", "cover.s", "cover.cells", "knn.s",
        "knn.candidates_per_result", "pairs.s", "pairs.rows", "components.s", "components.jobs",
        "components.edges_in", "stage.encode_s", "stage.pip_s", "stage.tiles_s",
        "checkpoint.bytes_written_per_input_byte", "checkpoint.resume_read_s", "spark.jobs",
        "spark.tasks", "spark.shuffle_bytes", "plan.optimized_bytes", "query.dup_clusters_jaccard_s",
        "query.knn_pages_s", "query.within_radius_s", "query.checkpoint_pipeline_s",
    ],
}


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_metric_value_parses_spark_formats():
    assert spans.metric_value("1,234") == 1234
    assert spans.metric_value("9.5 KiB") == 9.5 * 1024
    assert spans.metric_value("72 ms") == pytest.approx(0.072)
    assert spans.metric_value("total (min, med, max (stageId: taskId))\n2.5 s (1 s, 1 s, 1 s (stage 2.0: task 5))") == 2.5


def test_corrupted_rollup_result_fails_check():
    wl = workloads.TagRollup()
    wl.pages, wl.expected_m = 1000, 170
    assert wl.check("tag_rollup", (1000, 170)) is None
    assert wl.check("tag_rollup", (1000, 171)) is not None
    assert wl.check("tag_rollup", (999, 170)) is not None


def test_corrupted_query_result_fails_check(spark, tmp_path):
    wl = workloads.QueryMix()
    meta = wl.build(tmp_path, seed=5, rows=wl.rows)
    wl.prepare(spark, tmp_path, meta, tmp_path)
    good = wl.run("knn_pages")
    assert len(good) > 1 and wl.check("knn_pages", good) is None
    bad = good.copy()
    bad.loc[bad.index[0], "doc_id"] += 1
    assert wl.check("knn_pages", bad) is not None
    assert wl.check("knn_pages", good.iloc[1:]) is not None


def test_seeds_change_coordinates_not_shape(spark, tmp_path):
    from s2cell_spark.sources.pages import load_pages

    frames = {}
    for seed in (1, 2):
        d = tmp_path / f"s{seed}"
        d.mkdir()
        gen.write_parquet(lambda part: gen.documents_sql(seed, 4000, part), 4000, d / "documents.parquet")
        frames[seed] = load_pages(spark, str(d)).toPandas()
    a, b = frames[1], frames[2]
    assert len(a) == len(b) == 4000
    share = [float(((f.doc_id % 5) < 2).mean()) for f in (a, b)]
    assert share[0] == share[1] == 0.4
    coords = [set(zip(f.lat, f.lon)) for f in (a, b)]
    assert not coords[0] & coords[1]
    assert len(coords[0]) > 0.95 * len(a)
    # doc_id % 8 in (1, 2) repeat a text; the rest are (almost all) distinct
    assert 0.74 * len(a) <= a.text.nunique() <= 0.75 * len(a)
    with pytest.raises(ValueError):
        gen.documents_sql(1, 1001)


def test_cached_input_is_reused(tmp_path):
    calls = []

    def build(path, seed, rows):
        calls.append(seed)
        return {"pages": rows}

    first = gen.ensure_input(tmp_path, "k", 3, 40, build)
    again = gen.ensure_input(tmp_path, "k", 3, 40, build)
    assert calls == [3] and first[0] == again[0] and again[1] == 0.0 and again[2] == {"pages": 40}


def _session_members(sid: int) -> list[int]:
    """Pids of the processes, ended-but-unreaped ones included, in session `sid`."""
    found = []
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                stat = (d / "stat").read_text()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[3]) == sid:
                found.append(int(d.name))
    return found


@pytest.mark.parametrize("workload", sorted(EXERCISED))
def test_traced_run_emits_every_layer_metric(workload, tmp_path):
    # the run leads a session of its own; no process of it may outlive it.
    # Output goes to files, not pipes: a pipe's reader would wait for every
    # process holding it, hiding one that ends just after the run
    out, err = tmp_path / "out", tmp_path / "err"
    with out.open("w") as o, err.open("w") as e:
        proc = subprocess.Popen(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
             "--seconds", "1", "--trace", "1"],
            cwd=ROOT, stdout=o, stderr=e, start_new_session=True,
        )
        proc.wait(timeout=900)
    assert _session_members(proc.pid) == []
    assert proc.returncode == 0, err.read_text()[-3000:]
    stdout = out.read_text()
    result = json.loads(stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    names = {m["name"] for m in SPEC["per_layer"]}
    assert set(result["metrics"]) == names
    zero = [n for n in EXERCISED[workload] if not result["metrics"][n]["value"]]
    assert not zero, zero
    trace = json.loads((ROOT / ".perfbench" / "traces" / f"{workload}-seed7.json").read_text())
    assert all({"name", "start", "end", "parent"} <= set(s) for s in trace["spans"])
    if workload == "tag_rollup":
        # one scan of the generated pages per prefix action, nothing else
        assert result["metrics"]["scan.rows"]["value"] == workloads.TagRollup.rows
    else:
        # a lazy call's time includes executing what it returned
        lazy = [s for s in trace["spans"] if s.get("lazy")]
        assert lazy and all("exec_s" in s for s in lazy)


def test_fails_outside_a_checkout(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in HERE.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tag_rollup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and out.stdout == ""
