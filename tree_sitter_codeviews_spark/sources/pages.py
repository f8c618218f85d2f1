"""Deterministic Common-Crawl-style pages table (BASELINE.json input_hint).

Synthesised from the driver's ``documents`` parquet with **SQL-text
expressions** (no Python anywhere at run time): every column is a
deterministic function of ``doc_id`` + ``text``, so the table is
byte-identical across reruns, retries and parallelism levels — the
engine-side restatement of the reference's content-derived-key discipline
(``custom_parser.py:45-57``) and the preprocessor's pure-function contract
(``utils/preprocessor.py:6-68``). The projections are module-level SQL text
passed to one ``selectExpr``: with the gazetteer and entity projections,
the Column-builder version cost about 1,200 of the ~1,500 py4j round trips
of a ``geo_pip_entities`` plan build. The optimized plans are identical.

Schema: (url string, warc_ts timestamp, html binary, text string, lang string)
plus ``doc_id`` kept as the lineage key back to the source table.

The page body embeds 1-3 gazetteer mentions (`` GEO_#####`` tokens, formulas in
``layers.py``) that the extraction operators later recover from the html —
the whole point being that extraction must reproduce them byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import layers
from .testdata import load_table

HTML_PRE = "<html><head><title>"
HTML_MID = "</title></head><body><p>"
HTML_POST = "</p></body></html>"

# mention j: ' GEO_#####' (gazetteer entry (doc_id*7 + j*131) % N_GAZ) when
# the doc has more than j mentions (1 + doc_id%3), else ''
_MENTION_SQL = [
    f"CASE WHEN {j} < doc_id % 3 + 1 THEN concat(' GEO_', "
    f"format_string('%05d', (doc_id * 7 + {j * 131}) % {layers.N_GAZ})) ELSE '' END"
    for j in range(3)
]
# text || embedded mentions — the byte-identical extraction target
TEXT_SQL = f"concat(text, {', '.join(_MENTION_SQL)})"
URL_SQL = "format_string('https://host%04d.example/doc/%d', doc_id % 100, doc_id)"
# seeded timestamp in a fixed 30-day window (FIXTURES.md §1)
WARC_TS_SQL = (
    "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0, (doc_id * 97) % 2592000)"
)
HTML_SQL = (
    f"encode(concat('{HTML_PRE}', {URL_SQL}, '{HTML_MID}', {TEXT_SQL}, '{HTML_POST}'), 'UTF-8')"
)


def pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the sf parquet is a single row group (= one task); spread the NARROW
    # source columns before synthesizing html so downstream Arrow-UDF
    # extraction parallelizes. Capped at 16: in local mode each extra UDF
    # partition costs a Python worker, and JVM-threads + workers > CPUs
    # thrashes (measured 0.47s at 4-16 parts vs 1.6s at 32 on this suite's
    # data). At production scale the table arrives already partitioned and
    # this shuffle disappears.
    n_parts = max(4, min(16, spark.sparkContext.defaultParallelism))
    docs = (
        load_table(spark, sf_dir, "documents")
        .selectExpr("doc_id", "text", "lang")
        .repartition(n_parts, "doc_id")
    )
    return docs.selectExpr(
        "doc_id",
        f"{URL_SQL} AS url",
        f"{WARC_TS_SQL} AS warc_ts",
        f"{HTML_SQL} AS html",
        f"{TEXT_SQL} AS text",
        "lang",
    )


def gazetteer_df(spark: SparkSession) -> DataFrame:
    """Broadcast dim: (gaz_idx, surface, lon, lat, entity_kind). Tiny (1000
    rows) — built natively from range(); always broadcast at join sites.
    SQL text with D-suffixed double literals, as in ``points_from_ids``."""
    gx = f"cast((id * 37 + 11) % {layers.GRID_N} as double)"
    gy = f"cast((id * 73 + 29) % {layers.GRID_N} as double)"
    return spark.range(layers.N_GAZ).selectExpr(
        "id AS gaz_idx",
        "format_string('GEO_%05d', id) AS surface",
        f"-180.0D + 360.0D * ({gx} + 0.5D) / {layers.GRID_N} AS lon",
        f"-90.0D + 180.0D * ({gy} + 0.5D) / {layers.GRID_N} AS lat",
        "element_at(array('city', 'poi', 'region'), cast(id % 3 + 1 as int)) AS entity_kind",
    )


def doc_points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic point per document (with hot-cell skew), native ops.

    (doc_id, gx, gy, lon, lat) at the res-10 derivation grid (layers.py)."""
    return points_from_ids(load_table(spark, sf_dir, "documents").select("doc_id"))


def points_from_ids(docs: DataFrame) -> DataFrame:
    """Derive deterministic skewed points from any (doc_id) set — same
    formulas as ``layers.doc_grid_xy_np`` / the DuckDB oracle CTEs.

    Built as SQL text (the DOC_GX_SQL constants + D-suffixed double
    literals so nothing parses as DECIMAL): the Column-builder version of
    this projection measured ~0.16 s of py4j driver time per plan build,
    and every geo query builds it. Values identical (hot-cell CASE == the
    element_at lookup, same IEEE op order for lon/lat)."""
    gx = f"cast({layers.DOC_GX_SQL} as bigint)"
    gy = f"cast({layers.DOC_GY_SQL} as bigint)"
    return docs.selectExpr(
        "doc_id",
        f"{gx} as gx",
        f"{gy} as gy",
        f"(-180.0D + 360.0D * (cast({gx} as double) + 0.5D) / 1024) as lon",
        f"(-90.0D + 180.0D * (cast({gy} as double) + 0.5D) / 1024) as lat",
    )
