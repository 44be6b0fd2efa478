"""Property-based websearch grammar checks: the DuckDB SQL twin emitted by
``websearch_sql`` must agree with a direct Python evaluation of the parsed
query over arbitrary token sequences and arbitrary query strings (quotes,
OR, dashes, punctuation noise). No SparkSession needed — the Spark predicate
is separately equivalence-tested in test_search.py; this pins the parse and
the SQL twin, the two halves every oracle depends on. The last test drives
the same random queries through Spark: the postings matcher must agree
with the tokenize-and-filter path."""

from __future__ import annotations

import re

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_search_spark.search.analysis import TOKEN_PATTERN
from ocr_search_spark.search.websearch import (
    parse_websearch,
    token_string_sql,
    websearch_sql,
)

_WORDS = ["spark", "join", "table", "or", "x1", "данные", "a"]

_query_atom = st.one_of(
    st.sampled_from(_WORDS),
    st.sampled_from(["OR", "or", "-spark", "-table", '-"spark join"']),
    st.builds(lambda a, b: f'"{a} {b}"', st.sampled_from(_WORDS), st.sampled_from(_WORDS)),
    st.sampled_from(["spark,", "spark,join", "...", "-", '"']),
)
_queries = st.lists(_query_atom, min_size=0, max_size=6).map(" ".join)
_docs = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12), min_size=1, max_size=8
)


def _py_eval(parsed, toks: list[str]) -> bool:
    tokstr = " " + " ".join(toks) + " "

    def item_match(item) -> bool:
        if len(item.words) == 1:
            hit = item.words[0] in toks
        else:
            hit = (" " + " ".join(item.words) + " ") in tokstr
        return not hit if item.negated else hit

    if not parsed:
        return True
    return any(all(item_match(it) for it in g) for g in parsed)


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


@settings(max_examples=200, deadline=None)
@given(q=_queries, docs=_docs)
def test_sql_twin_matches_python_semantics(q, docs, con):
    parsed = parse_websearch(q)
    # every parsed word must be a single document-style token
    for g in parsed:
        for item in g:
            for w in item.words:
                assert not re.search(TOKEN_PATTERN, w)
    pred = websearch_sql(parsed, "toks", "tokstr")
    want = [_py_eval(parsed, toks) for toks in docs]
    rows = ", ".join(
        "({}, [{}]::VARCHAR[])".format(i, ", ".join(f"'{w}'" for w in toks))
        for i, toks in enumerate(docs)
    )
    got_ids = {
        r[0]
        for r in con.execute(
            f"WITH d(i, toks) AS (VALUES {rows}), "
            f"s AS (SELECT i, toks, {token_string_sql('toks')} AS tokstr FROM d) "
            f"SELECT i FROM s WHERE {pred}"
        ).fetchall()
    }
    assert got_ids == {i for i, w in enumerate(want) if w}


@settings(max_examples=25, deadline=None)
@given(q=_queries, docs=_docs)
def test_postings_path_matches_tokenize_path(q, docs, spark):
    from ocr_search_spark.search.engine import build_postings, search_documents

    rows = [(f"d{i}", " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id string, content string")
    want = search_documents(df, q, limit=len(rows))
    got = search_documents(df, q, postings=build_postings(df), limit=len(rows))
    assert got["total"] == want["total"]
    assert sorted(r.doc_id for r in got["items"].collect()) == sorted(
        r.doc_id for r in want["items"].collect()
    )
