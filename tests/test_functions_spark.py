"""t2 — the Spark function surface (native exprs + pandas UDFs) against the
reference corpora, loaded through DataFrames. Sampled to keep CI fast; the
full-corpus pass runs in t1 on the raw kernels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2cell_spark import functions as S2F

N_SAMPLE = 8000


@pytest.fixture(scope="module")
def corpus_df(spark, encode_corpus):
    lat, lon, level, cell_id, token = encode_corpus
    rng = np.random.default_rng(42)
    idx = rng.choice(len(lat), N_SAMPLE, replace=False)
    pdf = pd.DataFrame(
        {
            "lat": lat[idx],
            "lon": lon[idx],
            "level": level[idx].astype(np.int32),
            "cell_id": cell_id[idx].view(np.int64),
            "token": token[idx],
        }
    )
    return spark.createDataFrame(pdf).cache(), pdf


def test_encode_udf_matches_corpus(corpus_df):
    df, pdf = corpus_df
    out = (
        df.withColumn("got", S2F.lat_lon_to_cell_id(F.col("lat"), F.col("lon"), F.col("level")))
        .select("cell_id", "got")
        .toPandas()
    )
    assert (out["got"] == out["cell_id"]).all()


def test_token_expr_matches_corpus(corpus_df):
    df, pdf = corpus_df
    out = df.select(
        "token",
        S2F.cell_id_to_token(F.col("cell_id")).alias("tok_expr"),
        S2F.token_to_cell_id(F.col("token")).alias("cid_expr"),
        "cell_id",
    ).toPandas()
    assert (out["tok_expr"] == out["token"]).all()
    assert (out["cid_expr"] == out["cell_id"]).all()


def test_level_parent_validity_exprs(corpus_df, ref_s2cell):
    df, pdf = corpus_df
    out = df.select(
        "cell_id",
        "level",
        S2F.cell_id_to_level(F.col("cell_id")).alias("lvl_expr"),
        S2F.cell_id_is_valid(F.col("cell_id")).alias("valid"),
        S2F.cell_id_to_parent_cell_id(F.col("cell_id"), 3).alias("parent3"),
        S2F.cell_id_range_min(F.col("cell_id")).alias("rmin"),
        S2F.cell_id_range_max(F.col("cell_id")).alias("rmax"),
        S2F.cell_id_sortable(F.col("cell_id")).alias("sortable"),
    ).toPandas()
    assert (out["lvl_expr"] == out["level"]).all()
    assert out["valid"].all()
    has3 = out["level"] >= 3
    # parent-3 vs reference on the rows that have a level-3 ancestor
    sub = out[has3]
    ref_parent = [
        ref_s2cell.cell_id_to_parent_cell_id(int(np.int64(c).astype(np.uint64)), 3)
        for c in sub["cell_id"]
    ]
    got_parent = [int(np.int64(c).astype(np.uint64)) for c in sub["parent3"]]
    assert got_parent == ref_parent
    assert out.loc[~has3, "parent3"].isna().all()
    # range containment: rmin <= id <= rmax in uint64 (=> sortable order)
    u = out["cell_id"].to_numpy(np.int64).view(np.uint64)
    lo = out["rmin"].to_numpy(np.int64).view(np.uint64)
    hi = out["rmax"].to_numpy(np.int64).view(np.uint64)
    assert ((lo <= u) & (u <= hi)).all()
    # sortable preserves uint64 order
    srt = out["sortable"].to_numpy(np.int64)
    order_u = np.argsort(u, kind="stable")
    order_s = np.argsort(srt, kind="stable")
    assert (order_u == order_s).all()


def test_decode_udf_tolerance(spark, decode_corpus):
    cell_id, token, lat, lon, level = decode_corpus
    rng = np.random.default_rng(5)
    idx = rng.choice(len(cell_id), 4000, replace=False)
    pdf = pd.DataFrame(
        {
            "cell_id": cell_id[idx].view(np.int64),
            "lat": lat[idx],
            "lon": lon[idx],
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        df.withColumn("ll", S2F.cell_id_to_lat_lon(F.col("cell_id")))
        .select("lat", "lon", F.col("ll.lat").alias("glat"), F.col("ll.lon").alias("glon"))
        .toPandas()
    )
    np.testing.assert_allclose(out["glat"], out["lat"], rtol=0, atol=1e-12)
    np.testing.assert_allclose(out["glon"], out["lon"], rtol=0, atol=1e-12)


def test_null_and_invalid_conventions(spark):
    pdf = pd.DataFrame(
        {
            # face-6 id (6<<61|1) expressed as the int64 two's-complement value
            "cell_id": pd.array([1, 0, (6 << 61 | 1) - (1 << 64), None, 2], dtype="Int64"),
            "tok": ["3", "zzz", None, "X", "12345678901234567"],
            "lat": [45.0, None, 91.0, 10.0, 10.0],
            "lon": [9.0, 3.0, 3.0, None, 10.0],
            "level": pd.array([12, 12, 12, 12, 99], dtype="Int32"),
        }
    )
    df = spark.createDataFrame(pdf)
    out = df.select(
        S2F.s2_cell_id_to_level(F.col("cell_id")).alias("lvl"),
        S2F.cell_id_to_level(F.col("cell_id")).alias("lvl_expr"),
        S2F.s2_token_to_cell_id(F.col("tok")).alias("tok_cid"),
        S2F.token_to_cell_id(F.col("tok")).alias("tok_cid_expr"),
        S2F.lat_lon_to_cell_id(F.col("lat"), F.col("lon"), F.col("level")).alias("enc"),
        S2F.cell_id_to_lat_lon(F.col("cell_id")).alias("ll"),
    ).toPandas()
    # cell_id 1 is a valid leaf; 0, face-6 and null are not; 2 has odd lsb
    assert out["lvl"].iloc[0] == 30 and pd.isna(out["lvl"]).tolist() == [False] + [True] * 4
    assert out["lvl_expr"].iloc[0] == 30 and pd.isna(out["lvl_expr"]).tolist() == [False] + [True] * 4
    # token 'zzz' malformed, 'X' -> 0, 17-char -> null; both impls agree
    assert pd.isna(out["tok_cid"]).tolist() == [False, True, True, False, True]
    assert pd.isna(out["tok_cid_expr"]).tolist() == [False, True, True, False, True]
    assert out["tok_cid"].iloc[3] == 0 and out["tok_cid_expr"].iloc[3] == 0
    # encode: null lat / null lon / level 99 -> null
    assert pd.isna(out["enc"]).tolist() == [False, True, False, True, True]
    # decode struct: invalid ids -> null members
    assert pd.isna(out["ll"].iloc[1]["lat"]) and pd.isna(out["ll"].iloc[2]["lat"])


def test_neighbors_udf_vs_reference(spark, ref_s2cell):
    rng = np.random.default_rng(31)
    lat = rng.uniform(-90, 90, 200)
    lon = rng.uniform(-180, 180, 200)
    from s2cell_spark import kernels as K

    ids = K.lat_lon_to_cell_id(lat, lon, rng.integers(0, 31, 200))
    pdf = pd.DataFrame({"cell_id": ids.view(np.int64)})
    df = spark.createDataFrame(pdf)
    out = df.select(
        "cell_id", S2F.neighbor_cell_ids(F.col("cell_id"), edge=True, corner=True).alias("nbrs")
    ).toPandas()
    for cid, nbrs in zip(out["cell_id"], out["nbrs"]):
        want = ref_s2cell.cell_id_to_neighbor_cell_ids(
            int(np.int64(cid).astype(np.uint64)), edge=True, corner=True
        )
        assert [int(np.int64(x).astype(np.uint64)) for x in nbrs] == want


def test_sql_registration(spark):
    S2F.register_sql_functions(spark)
    row = spark.sql(
        "SELECT s2_cell_id_to_token(s2_lat_lon_to_cell_id(45.0D, 9.0D, 12)) AS tok"
    ).collect()[0]
    # expectation generated from the reference: s2cell.lat_lon_to_token(45, 9, 12)
    assert row["tok"] == "47873ef"


def test_nullable_long_batch_does_not_corrupt(spark):
    """A null shares one Arrow batch with a leaf cell above 2^53 (through
    pandas such a batch arrived as float64 and lost the leaf's low bits).
    Every cell-ID boundary — the S2F Column API and the
    register_sql_functions names — must return exact results for the
    leaf and null for the null."""
    from s2cell_spark import kernels as K

    big = 4611686018427400249  # odd leaf id, > 2^53
    df = spark.createDataFrame([(big,), (None,)], "cid long").coalesce(1)
    column_api = df.select(
        "cid",
        S2F.s2_cell_id_to_token(F.col("cid")).alias("tok"),
        S2F.s2_cell_id_to_level(F.col("cid")).alias("lvl"),
        S2F.s2_cell_id_is_valid(F.col("cid")).alias("valid"),
        S2F.cell_id_to_lat_lon(F.col("cid")).alias("ll"),
        S2F.s2_cell_id_to_face_ij(F.col("cid")).alias("fij"),
        S2F.neighbor_cell_ids(F.col("cid"), edge=True, corner=True).alias("nbrs"),
    )
    S2F.register_sql_functions(spark)
    df.createOrReplaceTempView("nullable_cells")
    sql_api = spark.sql(
        "SELECT cid, s2_cell_id_to_token(cid) AS tok, s2_cell_id_to_level(cid) AS lvl, "
        "s2_cell_id_is_valid(cid) AS valid, s2_cell_id_to_lat_lon(cid) AS ll, "
        "s2_cell_id_to_face_ij(cid) AS fij, s2_neighbor_cell_ids(cid, true, true) AS nbrs "
        "FROM nullable_cells"
    )
    cell = np.array([big], dtype=np.uint64)
    lat, lon = K.cell_id_to_lat_lon(cell)
    face, i, j = K.cell_id_to_face_ij(cell)
    grid, valid, _ = K.cell_id_to_neighbor_cell_ids_grid(cell)
    for api, out in (("column", column_api), ("sql", sql_api)):
        got = {r["cid"]: r for r in out.collect()}
        leaf = got[big]
        assert leaf["tok"] == K.cell_id_to_token(cell)[0], api
        assert leaf["lvl"] == 30 and leaf["valid"] is True, api
        assert abs(leaf["ll"]["lat"] - lat[0]) < 1e-12, api
        assert abs(leaf["ll"]["lon"] - lon[0]) < 1e-12, api
        assert tuple(leaf["fij"]) == (int(face[0]), int(i[0]), int(j[0])), api
        assert leaf["nbrs"] == [int(x) for x in grid.view(np.int64)[0][valid[0]]], api
        nulls = got[None]
        assert all(nulls[c] is None for c in ("tok", "lvl", "valid", "ll", "fij", "nbrs")), api


def test_python_boundaries_are_arrow_native():
    """One Python boundary idiom: Arrow UDFs and mapInArrow. The package
    names pandas_udf / mapInPandas only for the encode, whose inputs are
    doubles and whose ``.func`` callers re-wrap as a pandas UDF."""
    import re
    from pathlib import Path

    import s2cell_spark

    root = Path(s2cell_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        lines = path.read_text().splitlines() + [""]
        for n, line in enumerate(lines):
            if re.search(r"pandas_udf|mapInPandas", line):
                hits.append((path.relative_to(root).as_posix(), lines[n + 1].strip()))
    assert len(hits) == 1, hits
    assert hits[0][0] == "functions/udfs.py"
    assert hits[0][1].startswith("def s2_lat_lon_to_cell_id("), hits


def test_face_ij_out_of_range_is_null(spark):
    from s2cell_spark import functions as S2F

    df = spark.createDataFrame(
        [(0, 2**40, 0), (0, -5, 0), (0, 5, 5)], "face long, i long, j long"
    )
    out = df.select(
        S2F.s2_face_ij_to_cell_id(
            F.col("face"), F.col("i"), F.col("j"), F.lit(30)
        ).alias("cid")
    ).collect()
    assert out[0]["cid"] is None and out[1]["cid"] is None
    assert out[2]["cid"] is not None


def test_range_min_invalid_is_null_not_error(spark):
    """token '8' decodes to LONG_MIN (well-formed, invalid): range_min
    must yield null under ANSI mode, not ArithmeticException."""
    from s2cell_spark import functions as S2F

    df = spark.createDataFrame([("8",), ("1",)], "tok string")
    rows = df.select(
        S2F.cell_id_range_min(S2F.token_to_cell_id(F.col("tok"))).alias("rmin")
    ).collect()
    assert rows[0]["rmin"] is None
    assert rows[1]["rmin"] is not None


def test_native_sql_functions_match_exprs_and_stay_native(spark):
    """The SQL-registered bit/token surface is generated FROM the
    Catalyst exprs — outputs must match the Column API on a frame
    covering all faces + invalid IDs + malformed tokens, and a pure-SQL
    query over them must contain no Python eval node."""
    from s2cell_spark import functions as S2F
    from s2cell_spark.functions.udfs import register_sql_functions

    register_sql_functions(spark)
    cells = [
        1152921504606846977, 3458764513820540928, -9223372036854775808 + 1,
        -3458764513820540928, 0, 7, 42, 2305843009213693952, 1,
    ]
    toks = ["3", "e66ef376f790adf8", "ABC0", "x", "", "zzz", "89c25"]
    df = spark.createDataFrame([(c,) for c in cells], "cid long")
    df.createOrReplaceTempView("cells_v")
    got = spark.sql(
        """
        SELECT s2_cell_id_is_valid(cid) AS v, s2_cell_id_to_level(cid) AS l,
               s2_cell_id_to_parent_cell_id(cid, 2) AS p,
               s2_cell_id_range_min(cid) AS rmin, s2_cell_id_range_max(cid) AS rmax,
               s2_cell_id_sortable(cid) AS srt, s2_cell_id_to_token(cid) AS t
        FROM cells_v
        """
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, "SQL bit/token functions fell back to Python"
    want = df.select(
        S2F.cell_id_is_valid(F.col("cid")).alias("v"),
        S2F.cell_id_to_level(F.col("cid")).alias("l"),
        S2F.cell_id_to_parent_cell_id(F.col("cid"), 2).alias("p"),
        S2F.cell_id_range_min(F.col("cid")).alias("rmin"),
        S2F.cell_id_range_max(F.col("cid")).alias("rmax"),
        S2F.cell_id_sortable(F.col("cid")).alias("srt"),
        S2F.cell_id_to_token(F.col("cid")).alias("t"),
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    tdf = spark.createDataFrame([(t,) for t in toks], "tok string")
    tdf.createOrReplaceTempView("toks_v")
    got_t = spark.sql(
        """
        SELECT s2_token_to_cell_id(tok) AS c, s2_token_is_valid(tok) AS v,
               s2_token_to_level(tok) AS l, s2_token_to_parent_token(tok, 1) AS p,
               s2_token_to_canonical_token(tok) AS canon
        FROM toks_v
        """
    )
    want_t = tdf.select(
        S2F.token_to_cell_id(F.col("tok")).alias("c"),
        S2F.token_is_valid(F.col("tok")).alias("v"),
        S2F.token_to_level(F.col("tok")).alias("l"),
        S2F.token_to_parent_token(F.col("tok"), 1).alias("p"),
        S2F.token_to_canonical_token(F.col("tok")).alias("canon"),
    )
    assert [tuple(r) for r in got_t.collect()] == [tuple(r) for r in want_t.collect()]


def test_canonical_token_strips_all_whitespace(spark):
    from s2cell_spark import functions as S2F

    # incl. Unicode whitespace (NBSP, ideographic space) and the \x1c-\x1f
    # separators: Python str.strip() — the reference behavior — strips all
    # of these, while Java \s (even with (?U)) does not
    toks = ["\t2ef0\n", "  X ", "\xa02ef0\xa0", "\x1c3\x1f", "　5　"]
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    got = [r["c"] for r in df.select(S2F.token_to_canonical_token(F.col("tok")).alias("c")).collect()]
    def ref(t: str) -> str:  # s2cell/s2cell.py:805-837 semantics
        s = t.strip().lower().rstrip("0")
        return "X" if s in ("", "x") else s

    assert got == [ref(t) for t in toks]
