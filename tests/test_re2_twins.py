"""The RE2 character classes of rules.py against Python, code point by code
point (no Spark).

The Arrow extraction kernel runs the RE2_* twins of the rules.py patterns
in pyarrow.compute. RE2's own \\s and \\p{Nd} disagree with Python's re
(RE2 \\s is ASCII; RE2 follows a newer Unicode), so the twins use
explicit class literals — these tests keep those literals exact across
pyarrow and Python upgrades, over every code point outside the surrogates.
"""

from __future__ import annotations

import re
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pytest

from pdf_extract_spark import rules

CHARS = [chr(c) for c in range(sys.maxunicode + 1) if not 0xD800 <= c <= 0xDFFF]


@pytest.fixture(scope="module")
def chars():
    return pa.array(CHARS)


def _matches(arr, char_class: str) -> list[bool]:
    return pc.match_substring_regex(arr, "^[" + char_class + r"]\z").to_pylist()


def test_ws_class_is_str_isspace(chars):
    got = _matches(chars, rules.PY_WS_CHARS)
    bad = [hex(ord(c)) for c, g in zip(CHARS, got) if g != c.isspace()]
    assert not bad


def test_nonspace_ws_class_is_isspace_minus_space(chars):
    got = _matches(chars, rules.PY_NONSPACE_WS_CHARS)
    bad = [hex(ord(c)) for c, g in zip(CHARS, got) if g != (c.isspace() and c != " ")]
    assert not bad


def test_digit_class_is_python_re_digit(chars):
    got = _matches(chars, rules.PY_DIGIT_CHARS)
    digit = re.compile(r"\d")
    bad = [hex(ord(c)) for c, g in zip(CHARS, got) if g != bool(digit.match(c))]
    assert not bad


def test_arrow_trim_is_str_strip():
    # the char on both edges, twice, around an interior copy
    padded = [c + c + "x" + c + "x" + c + c for c in CHARS]
    got = pc.utf8_trim_whitespace(pa.array(padded)).to_pylist()
    bad = [hex(ord(c)) for c, p, g in zip(CHARS, padded, got) if g != p.strip()]
    assert not bad


def test_ws_run_twin_is_collapse_ws():
    """RE2_WS collapses exactly what RE_WS does, mixed runs included."""
    ws = [c for c in CHARS if c.isspace()]
    texts = ["a" + w + "b" + w + w + "c" for w in ws] + ["a" + "".join(ws) + "b"]
    got = pc.replace_substring_regex(pa.array(texts), rules.RE2_WS, " ").to_pylist()
    assert got == [rules.RE_WS.sub(" ", t) for t in texts]
