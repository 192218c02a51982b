"""Unit tests: fence stripping (P2), filename sanitization (P5),
page selection/renumbering (C8/A8), document join (A1)."""

from __future__ import annotations

import pytest

from zerox_spark.extract.fences import format_markdown, sanitize_filename
from zerox_spark.extract.pages import (
    PageNumberOutOfBoundError,
    join_document,
    normalize_select_pages,
    select_and_renumber,
)


# --- python-SDK fence semantics (anchored whole-string unwrap) -------------

def test_py_unwraps_whole_string_markdown_fence():
    assert format_markdown("```markdown\n# t\nbody\n```") == "# t\nbody"


def test_py_unwraps_bare_fence():
    assert format_markdown("```\nplain\n```") == "plain"


def test_py_keeps_interior_fences():
    s = "# t\n\n```python\nx\n```"
    assert format_markdown(s) == s


def test_py_keeps_uppercase_lang_fence():
    s = "```SQL\nSELECT\n```"  # [a-z]* does not match 'SQL'
    assert format_markdown(s) == s


# --- filename sanitize (PY rule: every non-alnum → _) ----------------------

def test_sanitize_filename():
    assert sanitize_filename("/tmp/My Doc (v2).pdf") == "my_doc__v2_"
    assert sanitize_filename("simple.txt") == "simple"
    assert len(sanitize_filename("x" * 500)) == 255


# --- page selection / renumbering -----------------------------------------

PAGES = [(1, "p1", []), (2, "p2", []), (3, "p3", [])]


def test_no_selection_renumbers_contiguously():
    assert select_and_renumber(PAGES, None) == [
        (1, "p1", []), (2, "p2", []), (3, "p3", [])
    ]


def test_selection_keeps_source_numbers():
    # py_zerox/pyzerox/core/zerox.py:182-194: output page = select_pages[i]
    assert select_and_renumber(PAGES, [2, 3]) == [(2, "p2", []), (3, "p3", [])]


def test_selection_out_of_bounds_raises():
    with pytest.raises(PageNumberOutOfBoundError):
        select_and_renumber(PAGES, [5])


def test_normalize_scalar_and_sort():
    assert normalize_select_pages(3) == [3]
    assert normalize_select_pages([3, 1]) == [1, 3]
    with pytest.raises(PageNumberOutOfBoundError):
        normalize_select_pages([0])


def test_document_joins():
    assert join_document(["a", "b"]) == "a\n\nb"
