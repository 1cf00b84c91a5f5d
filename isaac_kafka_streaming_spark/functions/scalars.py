"""Scalar function layer — the reference's F1-F16 surface (SURVEY.md §2.9).

Thin Column helpers over pyspark.sql.functions; everything stays
JVM-side / whole-stage-codegen.  The reference's Jackson `.path()`
missing-field semantics (absent -> ""/0/false, never null) are
reproduced by `json_*` helpers with explicit zero-defaults.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def json_str(col: Column | str, path: str, default: str = "") -> Column:
    """F1/F2 — JSON string field with the reference's ''-default
    (Jackson .path().asText(), e.g. DerivedStreams.java:57)."""
    return F.coalesce(F.get_json_object(F.col(col) if isinstance(col, str) else col, path), F.lit(default))


def json_long(col: Column | str, path: str, default: int = 0) -> Column:
    """F1/F2 — JSON long field with 0-default (.path().asLong())."""
    c = F.get_json_object(F.col(col) if isinstance(col, str) else col, path)
    return F.coalesce(c.cast("bigint"), F.lit(default))


def json_bool(col: Column | str, path: str) -> Column:
    """F1/F2 — JSON boolean field with false-default (.path().asBoolean(),
    LoggedEventsListener.java:83)."""
    c = F.get_json_object(F.col(col) if isinstance(col, str) else col, path)
    return F.coalesce(c.cast("boolean"), F.lit(False))


def before(col: Column | str, delim: str) -> Column:
    """F4 — substring before first delimiter (DerivedStreams.java:147:
    question page id = part of questionId before '|')."""
    return F.substring_index(F.col(col) if isinstance(col, str) else col, delim, 1)


def after(col: Column | str, delim: str) -> Column:
    """F4 — substring after the FIRST delimiter (DerivedStreams.java:172-177
    splits questionId on '|' and takes everything past the first one).

    Not substring_index(col, delim, -1): that returns the part after the
    LAST delimiter, which diverges on values containing the delimiter
    more than once.  locate()-based instead, with the reference's exact
    corner case: Java's indexOf returns -1 when absent, so
    substring(indexOf+1) = substring(0) = the WHOLE string."""
    c = F.col(col) if isinstance(col, str) else col
    pos = F.locate(delim, c)
    return F.when(pos > 0, c.substr(pos + len(delim), F.length(c))).otherwise(c)


def null_to_empty(col: Column | str) -> Column:
    """F10 — NullHandler: null -> '' (KafkaLoader.java:132-135)."""
    return F.coalesce((F.col(col) if isinstance(col, str) else col).cast("string"), F.lit(""))


def hex_long(hex_col: Column | str, start: int, length: int) -> Column:
    """Engine-neutral hash slice: hex digits [start, start+length) of a
    hex string (an md5 digest at every call site) read as a long.
    Spark conv(hex, 16, 10) and DuckDB CAST('0x' || hex AS BIGINT)
    agree on every value up to 15 digits (60 bits), so anything keyed
    on this slice is oracle-replayable."""
    return F.conv(F.substring(hex_col, start, length), 16, 10).cast("long")


def normalized_text_hash(text_col: Column | str) -> Column:
    """sha256 hex of lower-cased, whitespace-collapsed, trimmed text —
    the normalized-dedup key.  The DuckDB twin is
    sha256(TRIM(regexp_replace(lower(text), '\\s+', ' ', 'g')))."""
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.sha2(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")), 256)
