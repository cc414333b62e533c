"""DuckDB oracle references for the Arrow text and dedup kernels.

The same rows load into Spark and into a DuckDB ``documents`` view, so a
kernel's output can be compared with the suite's oracle SQL row for row.
The oracles split on ``suite._shared.JAVA_WS`` (Java's ``\\s``, vertical tab
included) and trim spaces only, as the kernels do. One shape differs by
design and is not judged by the oracle: NULL text. The oracles drop the row
or count it as zero lines, while the kernels keep it (MinHash signs it as
empty text, the Gopher rules report NULL line/paragraph counts). Tests pin
those rows to literal values.
"""

from __future__ import annotations

import duckdb
import pandas as pd

SF_DIR = "/root/testdata/sf0.001"

# texts edged/infixed with non-space whitespace — where Python .strip() +
# re.split(r"\s+") diverge from Spark trim + Java split
WS_EDGE_CASES = [
    "a b",
    "\ta b",        # leading tab -> leading '' token
    "a b\n",        # trailing newline -> trailing '' token
    "trail\n\n",    # one trailing '' per edge RUN, not per char
    "\t",           # all-delimiter -> ['', '']
    " \t ",         # trim strips the spaces, not the tab
    "a\xa0b",       # U+00A0 is NOT whitespace to Java \s
    "x\x0by",       # \x0b IS whitespace to Java \s
    "a  b",
    "",
    None,
    "\x0bx y\x0b",  # Spark trim keeps the edge \x0b -> '' tokens at both ends
]

# edge shapes of the n-gram signals: NULL text, empty, ASCII-space only,
# tab-edged (Spark trim strips only 0x20, so the leading \t survives into
# the first token), newline-trailing (Java split keeps the trailing empty
# token), repeated multi-space runs, duplicate lines/paras, unicode NBSP
# (NOT a Java \s separator), long repetitive docs that exercise every
# n = 2..10 slice, and a long repetitive doc split by vertical tabs
EDGE_ROWS = [
    (100001, None),
    (100002, ""),
    (100003, "   "),
    (100004, "\ta b\n"),
    (100005, "a b c  d"),
    (100006, "x\n\ny y\nz\nz\n\n\nx"),
    (100007, "w1 w2 w1 w2 w1 w2 w1 w2 w1 w2 w1 w2"),
    (100008, "a\xa0b c a\xa0b c"),
    (100009, "one two three four five six seven eight nine ten eleven"),
    (100010, "r s t u v w x y z a r s t u v w x y z a r s t u v w x y z a"),
    (100011, "p q\x0bp q\x0bp q r s t u v w p q r s t u v w"),
]

WS_ROWS = [(200000 + i, t) for i, t in enumerate(WS_EDGE_CASES)]

NULL_IDS = {i for i, t in EDGE_ROWS + WS_ROWS if t is None}


def spark_documents(spark, rows, with_corpus: bool = False):
    """(doc_id, text) of ``rows``, after the sf0.001 documents if asked."""
    df = spark.createDataFrame(rows, "doc_id long, text string")
    if with_corpus:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        df = docs.select("doc_id", "text").unionByName(df)
    return df


def oracle(sql: str, rows, with_corpus: bool = False) -> list[tuple]:
    """The rows of ``sql`` over the same documents."""
    con = duckdb.connect()
    con.register("edge", pd.DataFrame(list(rows), columns=["doc_id", "text"]))
    union = "SELECT doc_id, text, CAST(NULL AS VARCHAR) AS lang FROM edge"
    if with_corpus:
        union = (
            f"SELECT doc_id, text, lang FROM '{SF_DIR}/documents.parquet' "
            f"UNION ALL {union}"
        )
    con.execute(f"CREATE VIEW documents AS {union}")
    return con.execute(sql).fetchall()


def by_id(rows) -> dict:
    """``{first column: the rest}`` of result rows."""
    return {r[0]: tuple(r[1:]) for r in rows}


def minhash_digests(sigs) -> dict:
    """``{doc_id: (md5 of the comma-joined signature,)}``, the row shape
    of the MinHash oracle ``Q_DEDUP_MINHASH_SQL``."""
    from pyspark.sql import functions as F

    digest = F.md5(F.concat_ws(",", F.transform("signature", lambda x: x.cast("string"))))
    return by_id(sigs.select("doc_id", digest).collect())
