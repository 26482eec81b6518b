"""Numeric scalar functions (SURVEY §2.7 X1, X16, X17, X20).

All are native JVM-side, codegen'd expressions — no Python in the hot
path. ``price_diff_sql`` is SQL text, for the merge's SQL-text
aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_NUM_RE = r"(-?\d+(?:\.\d+)?)"


def parse_numeric_value(col: Column | str) -> Column:
    """X1: messy numeric string → double (ref normalize.py:7-23).

    Semantics: ``","`` → ``"."``, strip all whitespace (incl. NBSP),
    first ``-?\\d+(\\.\\d+)?`` match → number; no match → null.
    The reference returns int-if-integral; Spark columns are monotyped,
    so this returns DoubleType and :func:`format_int_if_integral`
    restores the int/float duality at the sink (SURVEY §7.4#3).
    """
    c = F.col(col) if isinstance(col, str) else col
    # (?U) = Java's UNICODE_CHARACTER_CLASS: the reference's Python
    # \s strips ALL unicode whitespace — NBSP (cian's thousands
    # separator), and also U+202F narrow NBSP / U+2009 thin space that
    # modern pages use. Java's default \s is ASCII-only; without the
    # flag "85\u202f000 ₽" silently parsed as 85.0 (1000x corruption).
    cleaned = F.regexp_replace(
        F.regexp_replace(c.cast("string"), F.lit(","), F.lit(".")),
        F.lit(r"(?U)\s+"),
        F.lit(""),
    )
    extracted = F.regexp_extract(cleaned, _NUM_RE, 1)
    return F.when(extracted != "", extracted.cast("double"))


def format_int_if_integral(col: Column | str) -> Column:
    """Sink-side rendering of X1's int-if-integral rule: ``85000.0`` →
    ``"85000"``, ``85000.5`` → ``"85000.5"``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNotNull() & (c == F.floor(c)) & ~F.isnan(c),
        c.cast("long").cast("string"),
    ).otherwise(c.cast("string"))


def km_from_meters(col: Column | str) -> Column:
    """X16: route meters → km rounded to 2 (ref distance.py:82-83)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c / F.lit(1000.0), 2)


def price_diff_sql(new: str, old: str) -> str:
    """X20: ``int(new) - int(old)`` (ref merge.py:45-47) as Spark SQL
    text over two SQL expressions — truncating cast to long on both
    sides before subtracting. try_cast: a dirty digit run normalizes to
    an overflow-scale double (or NaN), and a plain cast would crash the
    WHOLE state merge under ANSI the next time that key's price
    changes; the reference's int() raises too, but per-row null is the
    only sane degradation on a cluster."""
    return f"try_cast({new} AS BIGINT) - try_cast({old} AS BIGINT)"


def scrub_nan(col: Column | str) -> Column:
    """X17: NaN → null (ref parse_data.py:191-202 recursive scrub)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nanvl(c, F.lit(None))
