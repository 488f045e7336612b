"""Seeded input generator for the benchmark, with an on-disk cache.

Inputs are written by DuckDB. Every page gets its own ``doc_id``
(``seed * rows + i``) and its coordinates are then derived from it by
``sources.pages.LAT_SQL`` / ``LON_SQL`` — the expressions ``load_pages``
evaluates and the oracles embed — so a table of N pages holds ~N
distinct coordinates. ``rows``
must be a multiple of 40: the shift is then 0 mod 5 and 0 mod 8, and the
geotag's city-skew classes (``doc_id % 5 < 2`` clusters on city
``doc_id % 8``) keep exactly the same shares for every seed.

Text is a pure function of ``doc_id`` too: 4-16 words drawn from the
31-word vocabulary of the project's test documents. Pages with
``doc_id % 8`` of 1 or 2 repeat the text of the page one or two ids
below, so a quarter of the pages sit in clusters of three exact
duplicates and the dedup pairs and connected components have edges.

Inputs are cached under ``<root>/.perfbench/cache``, keyed by kind, seed,
row count and ``LAYOUT_V``; the oldest entries beyond ``KEEP`` are
evicted.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import duckdb

LAYOUT_V = "v2"
KEEP = 6
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def documents_sql(seed: int, rows: int, part: range | None = None) -> str:
    """The seeded documents table — ``doc_id, text, lang, source, n_chars``,
    the schema of the project's ``documents.parquet`` — as DuckDB SQL;
    ``part``: only the rows with these indexes."""
    if rows % 40:
        raise ValueError(f"rows must be a multiple of 40, got {rows}")
    part = part or range(rows)
    # word k (k < 4 + h1 % 13) = VOCAB[h(text_id, k) % 31], cut from one
    # fixed-width string (plain string functions, no per-row list)
    padded = "".join(w.ljust(8) for w in VOCAB)
    words = ", ".join(
        f"CASE WHEN {k} < 4 + hash(text_id, 1) % 13 THEN "
        f"rtrim(substr('{padded}', CAST(hash(text_id, {k + 10}) % {len(VOCAB)} AS BIGINT) * 8 + 1, 8)) END"
        for k in range(16)
    )
    text = f"concat_ws(' ', {words})"
    lang = ("CASE WHEN hash(doc_id, 2) % 100 < 42 THEN 'en' WHEN hash(doc_id, 2) % 100 < 57 THEN 'zh' "
            "WHEN hash(doc_id, 2) % 100 < 72 THEN 'es' WHEN hash(doc_id, 2) % 100 < 86 THEN 'fr' ELSE 'de' END")
    return f"""
SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars FROM (
  SELECT doc_id, {text} AS text, {lang} AS lang, 'src' || CAST(hash(doc_id, 3) % 20 AS VARCHAR) AS source
  FROM (SELECT doc_id, doc_id - CASE WHEN doc_id % 8 IN (1, 2) THEN doc_id % 8 ELSE 0 END AS text_id
        FROM (SELECT CAST(range + {seed * rows} AS BIGINT) AS doc_id FROM range({part.start}, {part.stop}))))"""


def pages_sql(seed: int, rows: int, part: range | None = None) -> str:
    """The at-rest pages table: ``load_pages``' columns (minus the opt-in
    ``html``) over the seeded documents."""
    from s2cell_spark.sources.pages import LAT_SQL, LON_SQL

    return f"""
SELECT doc_id, 'https://example.org/page/' || CAST(doc_id AS VARCHAR) AS url,
       TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id % 86400) AS warc_ts,
       text, lang, {LAT_SQL} AS lat, {LON_SQL} AS lon
FROM ({documents_sql(seed, rows, part)})"""


def write_parquet(make_sql, rows: int, dest: Path, files: int = 1) -> None:
    """Write ``make_sql(part)`` for ``files`` equal parts of ``range(rows)``:
    to the file ``dest`` when ``files == 1``, else to ``files`` files in
    the directory ``dest``, written in parallel."""
    def write(i: int) -> None:
        part = range(rows * i // files, rows * (i + 1) // files)
        target = dest if files == 1 else dest / f"part-{i:03d}.parquet"
        con = duckdb.connect()
        try:
            con.execute("SET threads = 1")
            con.execute(f"COPY ({make_sql(part)}) TO '{target}' (FORMAT PARQUET)")
        finally:
            con.close()

    if files > 1:
        dest.mkdir()
    with ThreadPoolExecutor(max_workers=min(files, os.cpu_count() or 1)) as pool:
        list(pool.map(write, range(files)))


def _evict(cache: Path) -> None:
    entries = sorted(
        (p for p in cache.iterdir() if (p / "_READY").exists()),
        key=lambda p: (p / "_READY").stat().st_mtime,
    )
    for p in entries[:-KEEP]:
        shutil.rmtree(p, ignore_errors=True)


def ensure_input(root: Path, kind: str, seed: int, rows: int, build) -> tuple[Path, float, dict]:
    """Return (dir, seconds spent generating, meta) for a cached input.

    ``build(dir, seed, rows) -> dict`` writes the input into ``dir`` and
    returns metadata (expected counts and the like) stored next to it; it
    runs only on a cache miss."""
    cache = root / ".perfbench" / "cache"
    path = cache / f"{kind}_s{seed}_n{rows}_{LAYOUT_V}"
    ready = path / "_READY"
    if ready.exists():
        ready.touch()
        return path, 0.0, json.loads((path / "meta.json").read_text())
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    t0 = time.perf_counter()
    meta = build(path, seed, rows)
    (path / "meta.json").write_text(json.dumps(meta))
    ready.touch()
    _evict(cache)
    return path, time.perf_counter() - t0, meta
