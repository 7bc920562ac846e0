"""text_quality_score against its DuckDB oracle on hostile texts.

The fixtures hold neither non-ASCII nor supplementary code points, so the
punctuation count (a length difference over a regex rewrite) and the
tokenizer are pinned here on the edge cases: NULL, empty and
whitespace-only text, accents, surrogate-pair emoji, punctuation-only
text, one very long token and mixed-case stopwords.
"""

from __future__ import annotations

import os
import sys

import duckdb

from mergeextractor_spark.registry import load_all

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

TEXTS = [
    None,
    "",
    " ",
    "\t\n",
    "  leading and trailing whitespace, the end.  \n",
    "ÉCOLE é à the",
    "emoji 😀😀 the of",
    "!!!???",
    "x" * 5000 + " the!",
    "The OF And tO In IS That FOR It a",
]


def test_text_quality_score_matches_oracle_on_edge_texts(spark, tmp_path):
    from selfcheck import norm_rows

    d = str(tmp_path)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", list(enumerate(TEXTS))
    )
    con.execute(f"COPY documents TO '{d}/documents.parquet' (FORMAT PARQUET)")

    q = load_all()["text_quality_score"]
    pdf = q.spark(spark, d).toPandas()
    o = con.execute(q.oracle).df()
    con.close()

    assert sorted(pdf.columns) == sorted(o.columns)
    assert len(pdf) == len(TEXTS)
    got = norm_rows(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))
    want = norm_rows(list(o.columns), list(o.itertuples(index=False, name=None)))
    assert got == want
