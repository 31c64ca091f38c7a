"""Scalar function library (SURVEY.md §2.7, F1-F22).

Every function here is a Column-in/Column-out expression built from
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen'd, no Python
in the hot path. Reference citations point at the behavior each one
reproduces.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Keys / hashing
# ---------------------------------------------------------------------------


def md5_key(*cols: Column | str, sep: str = "_") -> Column:
    """Content-derived surrogate key: md5 of one column, or md5 of
    ``a_b`` for composite keys.

    Reference: md5(org_name) / md5(f"{name}_{parent}") surrogate uuids at
    ``org/create_c_org_info.py:7-19,180-182`` and
    ``leader/update_c_org_leader_info.py:192-194``.
    """
    if len(cols) == 1:
        return F.md5(F.col(cols[0]) if isinstance(cols[0], str) else cols[0])
    parts = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.md5(F.concat_ws(sep, *parts))


# ---------------------------------------------------------------------------
# Text cleaning (F2-F6, F20)
# ---------------------------------------------------------------------------

_CITATION_RE = r"\[\d+(-\d+)?\]|\[编辑\]|\[详情\]"
_TAG_RE = r"<[^>]+>"
_ZERO_WIDTH_RE = "[\\u200b\\u200c\\u200d\\ufeff\\u00a0]"
_PAREN_RE = r"（[^）]*）|\([^)]*\)"


def strip_citations(c: Column | str) -> Column:
    """Remove [1] / [1-3] / [编辑] / [详情] citation marks
    (``parser/baike_parser.py:197-199``)."""
    return F.regexp_replace(c, _CITATION_RE, "")


def strip_html_tags(c: Column | str) -> Column:
    """``re.sub(r'<[^>]+>', '', text)``
    (``html_extractor/extract_content_from_remark.py:695``)."""
    return F.regexp_replace(c, _TAG_RE, "")


def collapse_whitespace(c: Column | str) -> Column:
    """Whitespace collapse + trim
    (``html_extractor/extract_content_from_remark.py:698``)."""
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def strip_zero_width(c: Column | str) -> Column:
    """Remove zero-width/NBSP characters
    (``parser/baike_parser.py:201``)."""
    return F.regexp_replace(c, _ZERO_WIDTH_RE, "")


def clean_text(c: Column | str) -> Column:
    """The reference's standard cleaning cascade F2+F3+F5+F4 in its
    application order (``parser/baike_parser.py:197-205``)."""
    return collapse_whitespace(strip_zero_width(strip_html_tags(strip_citations(c))))


def strip_name_parens(c: Column | str) -> Column:
    """Remove （…）/(...) and all spaces from person names
    (``leader/update_c_org_leader_info.py:34-42``)."""
    return F.regexp_replace(F.regexp_replace(c, _PAREN_RE, ""), r"\s+", "")


def safe_filename(c: Column | str) -> Column:
    """``re.sub(r'[^\\w\\-\\.]', '_', filename)`` (``utils/file_utils.py:20-37``)."""
    return F.regexp_replace(c, r"[^\w\-\.]", "_")


# ---------------------------------------------------------------------------
# URL functions (F7-F10)
# ---------------------------------------------------------------------------


def strip_query_string(c: Column | str) -> Column:
    """``url.split('?')[0]`` (``leader/update_c_org_leader_info.py:44-50``)."""
    return F.substring_index(c, "?", 1)


def absolutize_url(c: Column | str, base: str) -> Column:
    """Prefix relative hrefs with the site base
    (``leader/update_c_org_leader_info.py:172-178``)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.when(col.startswith("/"), F.concat(F.lit(base), col)).otherwise(col)


# ---------------------------------------------------------------------------
# List packing / unpacking (F11-F13)
# ---------------------------------------------------------------------------


def first_of_packed_list(c: Column | str, sep: str = ",") -> Column:
    """SQL ``SUBSTRING_INDEX(c, ',', 1)`` — first element of a
    comma-packed multi-valued column (``src/mysql2neo4j.py:119``)."""
    return F.substring_index(c, sep, 1)


def unpack_list(c: Column | str, sep: str = ",") -> Column:
    """Comma list → array (``leader/update_c_org_leader_info.py:238-242``)."""
    return F.split(c, sep)


def pack_list(c: Column | str, sep: str = ",") -> Column:
    """Array → comma list, only at storage boundaries
    (``leader/update_c_org_leader_info.py:263``)."""
    return F.concat_ws(sep, c)


# ---------------------------------------------------------------------------
# Interval / month-scalar math (F15-F17)
# ---------------------------------------------------------------------------


def ts_months_scalar(ts: Column | str) -> Column:
    """Months-since-year-0 scalar for a timestamp column — the engine's
    canonical interval encoding (same year*12+month scheme the reference
    uses at ``src/mysql2neo4j.py:411-415``)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.year(c) * 12 + F.month(c)


def format_period(start_months: Column, end_months: Column) -> Column:
    """Zero-padded ``YYYY.MM-YYYY.MM`` overlap-period string
    (``src/mysql2neo4j.py:317-324,448-453``). Input is months-scalars
    where month is 1-12 (i.e. scalar = year*12 + month).

    Built from concat/lpad rather than ``format_string`` — measured
    ~1.8× faster on a 4.5M-row result (format_string re-parses the
    format per row), byte-identical output."""
    sy = ((start_months - 1) / 12).cast("int")
    sm = ((start_months - 1) % 12) + 1
    ey = ((end_months - 1) / 12).cast("int")
    em = ((end_months - 1) % 12) + 1
    return F.concat(
        sy.cast("string"),
        F.lit("."),
        F.lpad(sm.cast("string"), 2, "0"),
        F.lit("-"),
        ey.cast("string"),
        F.lit("."),
        F.lpad(em.cast("string"), 2, "0"),
    )


# ---------------------------------------------------------------------------
# JSON / misc (F18, F21, F22)
# ---------------------------------------------------------------------------


def truncate_chars(c: Column | str, n: int = 65000) -> Column:
    """Emulate the MySQL TEXT overflow fallback
    (``org/update_c_org_info_remark.py:263-273``)."""
    return F.substring(c, 1, n)


# ---------------------------------------------------------------------------
# Run timestamps (F19)
# ---------------------------------------------------------------------------


def run_timestamp(run_ts: str | None = None) -> Column:
    """The run-stamp column every reference write attaches
    (``utils/db_utils.py`` now()-default audit columns,
    ``org/create_c_org_info.py`` created/updated stamps).

    ``current_timestamp()`` is fixed once per QUERY at plan time, so
    all rows of one run share a single stamp — correct semantics — but
    reruns differ, which breaks reproducible releases and value-hash
    checking (the F19 "boundary concern"). Pass ``run_ts`` (ISO-8601
    string, UTC session) to pin it: backfills, CI, and the correctness
    gate inject a constant; live production omits it.
    """
    return F.to_timestamp(F.lit(run_ts)) if run_ts else F.current_timestamp()


# ---------------------------------------------------------------------------
# Higher-order function helpers
# ---------------------------------------------------------------------------


def bind(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row.

    Spark evaluates an expression that sits inside a higher-order
    function's lambda once per array element, and subexpression
    elimination does not reach into lambda bodies. A per-row input
    (a tokenized or normalized text) read inside a ``transform``
    lambda is therefore recomputed for every element. ``bind`` passes
    it in as a lambda variable instead — ``transform(array(value),
    body)[0]`` — so it is computed once and ``body`` reads the
    variable. Null ``value`` reaches ``body`` as null, exactly as an
    inline ``body(value)`` would see it."""
    return F.transform(F.array(value), body)[0]
