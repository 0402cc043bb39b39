"""Pieces of generated SQL text.  A plan built as one statement
(``df.filter(text)``, ``spark.sql(text, df=df)``) costs a few py4j
sends where Column calls cost one per ``F.*`` call and operator;
Catalyst parses the text into the same expressions."""

from __future__ import annotations

import datetime as dt

from pyspark.sql.types import TimestampType


def ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def literal(v) -> str:
    """``v`` as the SQL literal ``F.lit(v)`` makes: a datetime (a pandas
    Timestamp too) as the µs instant pyspark converts it to, sub-µs
    digits floored; a string quoted; an integer as written."""
    if isinstance(v, dt.datetime):
        return f"timestamp_micros({TimestampType().toInternal(v)})"
    if isinstance(v, dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, int):
        return repr(v)
    raise TypeError(f"no SQL literal for {type(v).__name__} {v!r}")
