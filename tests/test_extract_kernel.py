"""Property tests (hypothesis, pure pandas) for the page-text kernel: the
``str.find`` cut and the fused entity scan must equal the ``re``-based
scalar reference on adversarial pages, element for element."""

from __future__ import annotations

import re

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from tree_sitter_codeviews_spark.operators import extract

# tag pieces, near-tags, the entity prefix, ASCII, Arabic-Indic and
# fullwidth digits (``\d`` matches both in a str pattern), multi-byte chars
_PIECES = ["<p>", "</p>", "<P>", "<", ">", "/", "\n", "GEO_", "GEO_00042",
           "GEO_1234", "p", " ", "a", "0", "12345", "٠١٢٣٤", "０１",
           "٥", "９", "é", "\U0001F600"]
_CHARS = "<>/pP\nGEO_ a09٠٩０９é\U0001F600"

_page = st.lists(
    st.one_of(st.sampled_from(_PIECES), st.text(alphabet=_CHARS, max_size=4)),
    max_size=30,
).map("".join)
# null pages, empty pages and adversarial pages, as UTF-8 bytes
_html = st.one_of(st.none(), st.just(""), _page).map(
    lambda s: None if s is None else s.encode("utf-8"))
_batch = st.lists(_html, min_size=1, max_size=20)


def _entities_ref(b: bytes | None) -> list[tuple[int, str, int]]:
    text = extract.extract_text_py(b)
    if text is None:
        return []
    return [(i, m.group(0), m.start())
            for i, m in enumerate(re.finditer(r"GEO_\d{5}", text))]


@settings(max_examples=500, deadline=None)
@given(pages=_batch)
def test_page_text_equals_scalar_reference(pages):
    got = extract._page_text(pd.Series(pages, dtype=object))
    assert list(got) == [extract.extract_text_py(b) for b in pages]


@settings(max_examples=500, deadline=None)
@given(pages=_batch)
def test_fused_entities_equal_scalar_reference(pages):
    got = extract.extract_entities_fused_udf.func(pd.Series(pages, dtype=object))
    assert [list(e) for e in got] == [_entities_ref(b) for b in pages]


def test_page_text_hand_cases():
    cases = [
        b"<p>a</p>",
        b"x<p>a</p>b<p>c</p>",          # first pair only
        b"<p></p>",                    # empty body
        b"<p>a<p>b</p>",               # nested open: body keeps the inner <p>
        b"</p><p>a</p>",               # close before the first open
        b"<p>a",                       # open without close: tag strip
        b"<p></p",                     # truncated close
        b"<p>\n\xc3\xa9\xf0\x9f\x98\x80</p>",  # DOTALL, multi-byte body
        b"<P>a</P>",                   # case-sensitive
        b"<div>GEO_00001 <b>GEO_00002</b></div>",
        b"",
        None,
    ]
    got = extract._page_text(pd.Series(cases, dtype=object))
    assert list(got) == [extract.extract_text_py(b) for b in cases]
    assert list(got)[:5] == ["a", "a", "", "a<p>b", "a"]
