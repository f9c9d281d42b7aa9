"""Pagination parity tests — the reference's exact unit fixtures
(tests/test_paragraph_extraction.py:25-50)."""

from mmore_spark.operators.pagination import parse_pagination


def test_no_separators_passthrough():
    text = "Just some text.\n\nMore text."
    starts, clean = parse_pagination(text)
    assert starts == [] and clean == text


def test_multi_page_with_trailing_content():
    text = "Para A.\n\nPara B.\n\n{0}----\n\nPara C."
    starts, clean = parse_pagination(text)
    assert starts == [(0, 0, 0), (9, 0, 1), (16, 1, 0), (23, -1, -1)]
    assert clean == "Para A.\n\nPara B.Para C."
    assert starts[-1][0] == len(clean)


def test_empty_trailing_no_phantom_page():
    text = "Hello.\n\n{0}----\n\n   "
    starts, clean = parse_pagination(text)
    pages = {p for _off, p, _i in starts[:-1]}
    assert pages == {0}
    assert clean == "Hello."
