"""The Gopher/text-signals Arrow passes against their DuckDB oracles.

The per-doc halves of the n-gram hygiene signals run in ``mapInArrow``
passes. Only integers leave Python, every fraction/round/threshold stays
in the shared expression tail, and tokenization mirrors the JVM exactly
(py_tokens: ASCII-space trim, Java-\\s ASCII-only split, kept edge-empty
tokens). These tests compare the passes with the suite's oracle SQL over
the real corpus plus the edge shapes that distinguish the tokenizer, trim
and split semantics (tests/text_oracle.py); NULL text, which the oracle
treats differently by design, is pinned to literal values.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_file_loader_spark.operators import text as tx
from etl_file_loader_spark.operators.cache import release_operator_caches
from etl_file_loader_spark.suite import text as suite_text
from tests.text_oracle import (
    EDGE_ROWS,
    NULL_IDS,
    WS_ROWS,
    by_id,
    oracle,
    spark_documents,
)

ROWS = WS_ROWS + EDGE_ROWS

# the Gopher row of NULL text: NULL line/paragraph counts, every signal 0,
# kept (the oracle reports 0 lines and 0 paragraphs instead)
NULL_GOPHER = (None, None) + (0.0,) * 13 + (1,)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark_documents(spark, ROWS, with_corpus=True)


def _by_id(df) -> dict:
    out = by_id(df.collect())
    release_operator_caches()
    return out


def _split_nulls(rows: dict) -> tuple[dict, dict]:
    return (
        {k: v for k, v in rows.items() if k in NULL_IDS},
        {k: v for k, v in rows.items() if k not in NULL_IDS},
    )


def test_gram_count_table_engines_identical(corpus):
    table = tx._gram_count_table(
        corpus, "doc_id", "text", range(2, 11), pos_ns=set(range(5, 11))
    )
    # _poss order is unconstrained — compare sorted position lists
    got = sorted((r[0], r[1], r[2], r[3], sorted(r[4])) for r in table.collect())
    want = sorted(
        oracle(
            f"""WITH {suite_text.GOPHER_GRAMS_CTE}
            SELECT doc_id, n, gram, count(*),
                   CASE WHEN n >= 5 THEN list_sort(list(pos)) ELSE [] END
            FROM g GROUP BY doc_id, n, gram""",
            ROWS,
            with_corpus=True,
        )
    )
    assert len(got) > 100_000  # real corpus, not a toy frame
    assert got == want  # NULL text has no grams on either side


def test_gopher_repetition_engines_identical(corpus):
    nulls, got = _split_nulls(_by_id(tx.gopher_repetition(corpus, "doc_id", "text")))
    _, want = _split_nulls(
        by_id(oracle(suite_text.Q_GOPHER_REPETITION_RULES_SQL, ROWS, with_corpus=True))
    )
    assert got == want  # doubles included: same ints through the same exprs
    assert nulls == {i: NULL_GOPHER for i in NULL_IDS}


def test_text_signals_engines_identical(corpus):
    # the composed oracle takes docs 0..19 as the contamination benchmark
    bench = corpus.filter(F.col("doc_id") < 20)
    nulls, got = _split_nulls(
        _by_id(tx.text_signals(corpus, "doc_id", "text", benchmark=bench))
    )
    _, want = _split_nulls(
        by_id(oracle(suite_text.Q_CURATION_TEXT_SIGNALS_SQL, ROWS, with_corpus=True))
    )
    assert got == want  # includes cleaned_md5: span accounting exact
    # NULL text: no grams, no tokens, no rebuilt text
    assert nulls == {
        i: NULL_GOPHER + (0, 0, None, None, 0, 0, None, 0) for i in NULL_IDS
    }
