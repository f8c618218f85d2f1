"""Deterministic per-page extraction (Arrow-batched pandas UDFs).

The engine analogue of the reference's preprocess + tokenize stage
(``utils/preprocessor.py:6-68``, ``tree_parser/c_parser.py:142-278``):
a pure function of the page bytes, byte-identical per url across reruns and
parallelism levels. Per SURVEY.md §7.4(1) the invariant-bearing path keeps
Python semantics inside the UDF (never SQL regex), and tests pin it to the
``re``-based scalar reference ``extract_text_py``.

The page-text kernel is two ``str.find`` calls per page, which return exactly
what the reference's lazy ``<p>(.*?)</p>`` DOTALL search returns (the
argument is in ``_text_of``); only pages without a ``<p>…</p>`` pair run the
tag-strip regex. The lazy regex, not per-row dispatch, was the flagship's
cost center: the find kernel is about ten times cheaper on ~5 KB pages.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# the page template is <title>url</title> ... <p>BODY</p>; extraction contract
# is "text inside the first <p> element", tags stripped, no entity decoding.
_P_RE = re.compile(rb"<p>(.*?)</p>", re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")
_GEO_RE = re.compile(r"GEO_\d{5}")


def extract_text_py(b: bytes) -> str | None:
    """Reference scalar extraction (tests pin the vectorized UDF to it)."""
    if b is None:
        return None
    m = _P_RE.search(b)
    if m is not None:
        return m.group(1).decode("utf-8")
    # fallback: strip all tags (still deterministic)
    return _TAG_RE.sub("", b.decode("utf-8"))


def _text_of(t: str) -> str:
    """Body of the first ``<p>…</p>`` of ``t``, else ``t`` with tags stripped.

    Equal to ``re.search(r"<p>(.*?)</p>", t, re.DOTALL).group(1)`` when that
    matches: a match at any ``<p>`` needs a later ``</p>``, and every later
    ``</p>`` also follows the leftmost ``<p>``, so the leftmost match starts
    at the leftmost ``<p>``; the lazy group then ends at the first ``</p>``
    starting after it. Both delimiters are ASCII, so searching the decoded
    text finds the same spans as the reference's search over UTF-8 bytes."""
    i = t.find("<p>")
    if i >= 0:
        j = t.find("</p>", i + 3)
        if j >= 0:
            return t[i + 3:j]
    return _TAG_RE.sub("", t)


def _page_text(html: pd.Series) -> pd.Series:
    """html binary -> extracted text (None where html is null): the batch
    form of ``extract_text_py``. Each page is decoded strictly (invalid
    UTF-8 raises), then cut by ``_text_of``."""
    return pd.Series(
        [None if b is None else _text_of(b.decode("utf-8")) for b in html],
        index=html.index, dtype=object,
    )


def _geo_entities(text: pd.Series) -> pd.Series:
    """text -> [(entity_id, surface, char_offset)] per page: every
    ``GEO_\\d{5}`` match; entity_id = ordinal of occurrence within the page
    (content-derived surrogate key, cf. reference ``custom_parser.py:45-57``
    — NEVER monotonically_increasing_id)."""
    def scan(t):
        if t is None or (isinstance(t, float) and pd.isna(t)):
            return []
        return [(i, m.group(0), m.start()) for i, m in enumerate(_GEO_RE.finditer(t))]

    return text.map(scan)


@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """html binary -> extracted text. Byte-identical invariant bearer."""
    return _page_text(html)


_ENTITY_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("entity_id", T.IntegerType()),
            T.StructField("surface", T.StringType()),
            T.StructField("char_offset", T.IntegerType()),
        ]
    )
)


@pandas_udf(_ENTITY_SCHEMA)
def extract_entities_fused_udf(html: pd.Series) -> pd.Series:
    """html -> entities in ONE Arrow round-trip: the page-text step and the
    entity scan run inside a single UDF so the page text crosses the
    JVM<->Python boundary once, not twice (measured ~35% off the flagship's
    UDF stage at sf0.1). Pinned to ``extract_text_py`` plus a ``finditer``
    scan by tests/test_vectorized_kernels.py and tests/test_extract_kernel.py."""
    return _geo_entities(_page_text(html))


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages -> (doc_id, url, warc_ts, lang, text_out)."""
    return pages.select(
        "doc_id", "url", "warc_ts", "lang",
        extract_text_udf(F.col("html")).alias("text_out"),
    )


def page_entities(pages: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """pages ⋈ gazetteer -> (url, doc_id, entity_id, surface, char_offset,
    lon, lat, entity_kind).

    Extraction is a UDF + explode (the UDTF pattern, SURVEY.md §2.10); the
    lon/lat resolution is a **broadcast equi-join** against the tiny
    gazetteer dim — the engine's version of use→declaration resolution
    (``c_parser.py:227-249``) with the dim always broadcast.
    """
    exploded = pages.select(
        "url", "doc_id",
        F.explode(extract_entities_fused_udf(F.col("html"))).alias("e"),
    ).selectExpr("url", "doc_id", "e.entity_id", "e.surface", "e.char_offset")
    return exploded.join(F.broadcast(gazetteer), "surface", "inner").selectExpr(
        "url", "doc_id", "entity_id", "surface", "char_offset",
        "lon", "lat", "entity_kind",
    )


# ---------------------------------------------------------------------------
# preprocessor-conditional evaluation (reference cpp_nodes.py:494-528)
# ---------------------------------------------------------------------------
#
# The reference evaluates #if/#ifdef guard expressions against a fixed set
# of defines and keeps only active branches. The engine analogue: pages
# carry guard expressions over config flags; the evaluator below handles the
# bounded guard grammar
#
#     guard  := clause ('||' clause)*
#     clause := atom ('&&' atom)*
#     atom   := FLAG | '!' FLAG
#
# entirely with native higher-order functions (exists/forall over split) —
# the whole evaluation is one JVM-side expression, zero Python.

PREPROC_GUARDS = [
    "HAS_GEO",                  # -> True  under PREPROC_CONFIG
    "!HAS_GEO",                 # -> False
    "HAS_LANG&&HAS_GEO",        # -> False
    "!HAS_LANG",                # -> True
    "HAS_LANG||HAS_GEO",        # -> True
    "!HAS_GEO&&!HAS_LANG",      # -> False
]
PREPROC_CONFIG = {"HAS_GEO": True, "HAS_LANG": False}


def preproc_active_col(guard: F.Column, config: dict[str, bool]) -> F.Column:
    """Evaluate a guard expression column against a build config.

    Disjunctive-normal-form evaluation: the guard is true iff ANY
    '||'-clause has ALL its atoms true. Atom truth is a broadcast map
    lookup (the config is a literal map), negated when the atom starts
    with '!'.
    """
    cfg = F.create_map(*[
        x for k, v in config.items() for x in (F.lit(k), F.lit(v))
    ])

    def atom_true(atom: F.Column) -> F.Column:
        flag = F.regexp_replace(atom, "^!", "")
        val = F.element_at(cfg, flag)
        return F.when(atom.startswith("!"), ~val).otherwise(val)

    return F.exists(
        F.split(guard, "\\|\\|"),
        lambda term: F.forall(F.split(term, "&&"), atom_true),
    )
