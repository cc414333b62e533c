"""Column-expression building blocks shared by the operators.

Everything here returns Spark ``Column``s built from ``pyspark.sql.functions``
so the whole validation/hash path stays inside whole-stage codegen — the
reference does the same work row-at-a-time in Python (validator.py:97-148);
this is the vectorized JVM-side re-expression.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# rendering for hashing / DLQ payloads
# ---------------------------------------------------------------------------


def render_value(col: Column, dtype: T.DataType) -> Column:
    """Deterministic string rendering of a value for hash input / payloads.

    The reference renders ``str(value)`` with None -> "" (db_utils.py:281-287).
    We pin a canonical rendering per type so the hash is stable across engines
    and across Spark versions: doubles as %.6f, timestamps second-resolution
    ISO, everything else SQL CAST-to-string.
    """
    if isinstance(dtype, T.DoubleType) or isinstance(dtype, T.FloatType):
        return F.format_string("%.6f", col.cast("double"))
    if isinstance(dtype, T.TimestampType):
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    if isinstance(dtype, T.BooleanType):
        return F.when(col, F.lit("true")).when(~col, F.lit("false"))
    return col.cast("string")


def row_hash(fields: dict[str, T.DataType]) -> Column:
    """16-byte-equivalent row digest over the business columns.

    Reference: xxh128 over '|'-joined stringified values in *sorted column
    name order*, None -> "" (db_utils.py:278-289, model_utils.py:125-126).
    We keep sorted-order/'|'/null->"" semantics but use md5 (hex string) —
    digest function divergence is documented in SURVEY §7.3; MERGE only needs
    self-consistency. md5 is JVM-native and identically available in DuckDB
    for the oracle.
    """
    parts = [
        F.coalesce(render_value(F.col(name), dtype), F.lit(""))
        for name, dtype in sorted(fields.items())
    ]
    return F.md5(F.concat_ws("|", *parts))


# ---------------------------------------------------------------------------
# cleaners (reference customer.py:25-41)
# ---------------------------------------------------------------------------


def clean_phone(col: Column) -> Column:
    """Strip every char not in [0-9+] (reference customer.py:9, 25-33)."""
    return F.regexp_replace(col, r"[^\d+]", "")


def clean_email(col: Column) -> Column:
    """trim + lowercase (reference customer.py:35-41)."""
    return F.lower(F.trim(col))


# ---------------------------------------------------------------------------
# Excel serial dates (reference excel.py:21-23, 44-84)
# ---------------------------------------------------------------------------

EXCEL_EPOCH = "1899-12-30"


def excel_serial_to_date(col: Column) -> Column:
    """Integer serial -> date from the 1899-12-30 epoch."""
    return F.date_add(F.to_date(F.lit(EXCEL_EPOCH)), col.cast("int"))


def excel_serial_to_timestamp(col: Column) -> Column:
    """Float serial -> timestamp; fractional day -> whole seconds (excel.py:68-84)."""
    d = col.cast("double")
    days = F.floor(d).cast("int")
    secs = F.floor((d - F.floor(d)) * 86400).cast("long")
    base = F.date_add(F.to_date(F.lit(EXCEL_EPOCH)), days).cast("timestamp")
    return base + F.make_interval(secs=secs.cast("double"))


# ---------------------------------------------------------------------------
# portable 32-bit token hash (identical in DuckDB as
# CAST('0x' || substr(md5(x),1,8) AS BIGINT))
# ---------------------------------------------------------------------------


def token_hash32(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# text tokenization (shared by text-analysis + dedup operators)
# ---------------------------------------------------------------------------


def tokens(col: Column) -> Column:
    """Whitespace tokens of trimmed text; empty text -> empty array."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


# Java \s is ASCII-only: [ \t\n\x0b\f\r]. Python \s is Unicode (\xa0, \x85...),
# so the mirror must use the explicit class, not r"\s".
_JAVA_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def py_tokens(text: str | None) -> list[str]:
    """Driver/UDF-side Python mirror of :func:`tokens` with EXACT JVM
    semantics — the single tokenizer every Arrow pass must use so its
    output matches the Column-expression operators on real text:

    - Spark ``trim`` strips ONLY ASCII space 0x20 (Python ``.strip()``
      strips all Unicode whitespace — wrong for ``'\\ta b'``).
    - Java ``split(re, -1)`` keeps leading AND trailing empty tokens when
      the text is edged by non-space whitespace (``'a b\\n'`` ->
      ``['a','b','']`` — the trailing '' votes in SimHash), while Python
      ``re.split(r'\\s+')`` on ``.strip()``-ed text never produces them.
    - Java ``\\s`` is ASCII-only; U+00A0 etc. are NOT token separators.

    Pinned against :func:`tokens` by test_py_tokens_mirror_spark.
    """
    t = (text or "").strip(" ")
    if not t:
        return []
    return _JAVA_WS_RE.split(t)


def local_rows_df(spark, rows, schema: str):
    """Literal driver-side rows as a LocalRelation-backed DataFrame.

    ``spark.createDataFrame(py_list, schema)`` parallelizes the rows into
    a defaultParallelism-partition PYTHON RDD (a ``LogicalRDD`` plan):
    every scan of the frame pays one Python-worker round trip per
    partition, and a ``coalesce(1)`` on it chains the partitions into ONE
    task that pays those round trips SEQUENTIALLY — measured 5-6 s to
    write a one-row frame at local[32] (optimization round 14; guide §4 —
    eliminate the JVM<->Python boundary). Routing the same rows through
    pandas yields a ``LocalRelation``: pure JVM at every scan, exact stats
    for the planner, broadcast-friendly. Values are identical — the rows
    are exact Python ints/floats/strings either way and the explicit
    ``schema`` pins the Spark types; only the transport differs. Columns
    map to the schema POSITIONALLY (as with the list form).
    """
    rows = [tuple(r) for r in rows]
    if not rows:  # pandas can't carry an empty positional frame's width
        return spark.createDataFrame([], schema)
    import pandas as pd

    # object-dtype Series built per column: every cell stays the exact
    # Python value (no pd.Timestamp coercion that the non-Arrow
    # createDataFrame path type-rejects, no NaN-ifying int columns that
    # contain None) — the explicit Spark ``schema`` is the single source
    # of types. Sessions without arrow.pyspark.enabled fall back to the
    # row-iterating path, which accepts exactly these Python values.
    pdf = pd.DataFrame(
        {
            i: pd.Series([r[i] for r in rows], dtype=object)
            for i in range(len(rows[0]))
        }
    )
    return spark.createDataFrame(pdf, schema)


def bind_once(value: Column, body) -> Column:
    """Let-binding for higher-order-function bodies: evaluate ``value`` once
    per row and pass the bound result to ``body``.

    A lambda body that references an outer *expression* (not a plain column)
    re-evaluates that expression for EVERY element — HOFs block Catalyst's
    common-subexpression elimination, so e.g. building word n-grams with
    ``element_at(split(text), i)`` inside ``transform`` re-splits the text
    per gram (measured 14x slowdown). Encoding: a 1-element-array
    ``transform`` whose lambda variable carries the evaluated value.
    """
    return F.element_at(F.transform(F.array(value), body), 1)
