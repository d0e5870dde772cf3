"""Exact-semantics text kernels mirrored from the reference.

Where Spark built-ins differ from Python semantics the reference relies on,
these NumPy/pandas-vectorized kernels reproduce the Python behavior exactly
(SURVEY.md §2.8):

* ``py_title``    — Python ``str.title()`` (reference lib/wikimedia.py:45-52);
  differs from Spark ``initcap`` on apostrophes/hyphens.
* ``bracket_strip`` — remove parenthetical + trim (lib/wikimedia.py:33-41).
* ``re_sub``      — Python ``re.sub`` with ``\\1`` backrefs
  (reference src/regex_name_lang.py:55,66); Spark regexp_replace uses $1.
"""

from __future__ import annotations

import re

import pandas as pd

_BRACKET_RE = re.compile(r"\s*\(.+\)\s*")


def bracket_strip(s: pd.Series) -> pd.Series:
    """Strip ``(...)`` parentheticals — exact reference behavior
    ``re.sub(r'\\s*\\(.+\\)\\s*', '', v)`` (lib/wikimedia.py:33,41)."""
    return s.str.replace(_BRACKET_RE, "", regex=True)


def bracket_strip_str(v: str) -> str:
    return _BRACKET_RE.sub("", v)


def py_title(s: pd.Series) -> pd.Series:
    """Exact Python ``str.title()`` semantics, vectorized via pandas."""
    return s.map(lambda v: v.title() if isinstance(v, str) else v)


def re_sub(s: pd.Series, find: str, replace: str) -> pd.Series:
    """Python-dialect regex substitution (``\\1`` backrefs) — exact
    reference semantics for regex_name_lang."""
    pat = re.compile(find)
    return s.map(lambda v: pat.sub(replace, v) if isinstance(v, str) else v)

