"""Spark-vs-DuckDB parity of ``near_dedup_cc``: the survivors of the Spark
operator equal those of its DuckDB twin, ``__spark_entry__``'s
recursive-CTE SQL, on the sf0.001 documents and on a planted bridge case."""

from __future__ import annotations

import re

import duckdb
import pandas as pd

from ocr_search_spark.ops.dedup import near_dedup_cc

from conftest import SF_DIR

THRESHOLD = 0.3


def _duckdb_survivors(register) -> set:
    """Run the twin over a ``documents`` view that ``register(con)`` creates."""
    import __spark_entry__ as entry

    con = duckdb.connect()
    try:
        register(con)
        sql = entry._near_dedup_cc_oracle_sql(THRESHOLD)
        # DuckDB inlines a CTE at every reference; materialising the
        # non-recursive ones evaluates each once and changes no result
        sql = re.sub(r"\b(sh|sig|bands|cand|ver|edges) AS \(", r"\1 AS MATERIALIZED (", sql)
        return {r[0] for r in con.execute(sql).fetchall()}
    finally:
        con.close()


def _spark_survivors(df) -> set:
    survivors = near_dedup_cc(
        df, "doc_id", "text", threshold=THRESHOLD, n_hashes=8, band_size=2
    )
    return {r.doc_id for r in survivors.collect()}


def test_sf0001_documents(spark):
    path = f"{SF_DIR}/documents.parquet"
    docs = spark.read.parquet(path).select("doc_id", "text")
    want = _duckdb_survivors(
        lambda con: con.execute(
            f"CREATE VIEW documents AS SELECT doc_id, text FROM read_parquet('{path}')"
        )
    )
    got = _spark_survivors(docs)
    assert got == want
    assert 0 < len(got) < docs.count()  # some documents are dropped


def test_planted_bridge(spark):
    """c bridges a and b (it holds both texts), a and b share no shingle:
    the case where the cluster keeper and a pairwise keeper can differ.
    Both engines keep the same documents."""
    a_txt = " ".join(f"aa{i}" for i in range(20))
    b_txt = " ".join(f"bb{i}" for i in range(20))
    pdf = pd.DataFrame(
        {
            "doc_id": ["a", "b", "c", "u"],
            "text": [
                a_txt,
                b_txt,
                a_txt + " " + b_txt,  # bridges a and b
                "completely unrelated content words here only once",
            ],
        }
    )
    want = _duckdb_survivors(lambda con: con.register("documents", pdf))
    got = _spark_survivors(spark.createDataFrame(pdf, "doc_id string, text string"))
    assert got == want
