"""Seeded input generator for the benchmark workloads.

Every (workload, seed, iteration) triple gets its own directory of parquet
tables, written by DuckDB from nothing but those three numbers: the same
triple always yields byte-identical files, and no two triples share a
directory, so a timed iteration can never reuse work derived from an
earlier input.

Text is drawn from the 30-word vocabulary of the repository's synthetic
``documents`` fixture (stop words ``the`` and ``a`` included, so the
language and classifier gates keep a non-trivial share of documents).

Run directly to generate one directory:

    python3 perfbench/gen.py --workload extract --seed 1 --iter 0 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os

import duckdb

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch",
]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
N_SOURCES = 20

_VOCAB_SQL = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
_LANGS_SQL = "[" + ", ".join(f"'{w}'" for w in LANGS) + "]"


def _salt(seed: int, it: int) -> int:
    """One integer per (seed, iteration), mixed into every hash below."""
    return (seed * 1_000_003 + it * 7_919 + 17) % (1 << 31)


def _h(salt: int, *cols: str) -> str:
    """Deterministic non-negative hash of ``salt`` and SQL expressions."""
    return f"hash({salt}, {', '.join(cols)})"


def _word(salt: int, *cols: str) -> str:
    return f"{_VOCAB_SQL}[1 + ({_h(salt, *cols)} % {len(VOCAB)})::INT]"


def _doc_meta(salt: int) -> str:
    return (
        f"{_LANGS_SQL}[1 + ({_h(salt, 'doc_id', '1')} % {len(LANGS)})::INT] AS lang, "
        f"'src' || (doc_id % {N_SOURCES}) AS source"
    )


def _short_docs(con, salt: int, n_docs: int, lo: int, hi: int) -> None:
    """``base(doc_id, text)``: one independently drawn word per position,
    ``lo..hi`` words, a line break every 9-16 words."""
    span = hi - lo + 1
    con.execute(f"""
        CREATE TEMP TABLE base AS
        WITH lens AS (
          SELECT range AS doc_id, {lo} + ({_h(salt, 'range', '0')} % {span})::INT AS n
          FROM range({n_docs})
        ),
        pos AS (SELECT doc_id, n, unnest(range(n)) AS pos FROM lens),
        words AS (
          SELECT doc_id, n, pos, {_word(salt, 'doc_id', 'pos')} AS w,
                 CASE WHEN {_h(salt, 'doc_id', 'pos', '2')} % 12 = 0 THEN chr(10)
                      ELSE ' ' END AS sep
          FROM pos
        )
        SELECT doc_id,
               string_agg(w || CASE WHEN pos = n - 1 THEN '' ELSE sep END, ''
                          ORDER BY pos) AS text
        FROM words
        GROUP BY doc_id
    """)


def _filing_docs(con, salt: int, n_docs: int, per_doc: int) -> None:
    """``base(doc_id, text)`` at filing length: each document strings
    ``per_doc`` sentences drawn from a 4,096-sentence pool, with a
    paragraph break after every sixth sentence on average."""
    con.execute(f"""
        CREATE TEMP TABLE pool AS
        WITH lens AS (
          SELECT range AS sid, 8 + ({_h(salt, 'range', '3')} % 17)::INT AS n
          FROM range(4096)
        ),
        pos AS (SELECT sid, unnest(range(n)) AS pos FROM lens)
        SELECT sid, string_agg({_word(salt, 'sid', 'pos', '4')}, ' ' ORDER BY pos) AS s
        FROM pos
        GROUP BY sid
    """)
    con.execute(f"""
        CREATE TEMP TABLE base AS
        WITH picks AS (
          SELECT d.range AS doc_id, k.range AS k,
                 ({_h(salt, 'd.range', 'k.range', '5')} % 4096)::BIGINT AS sid,
                 CASE WHEN {_h(salt, 'd.range', 'k.range', '6')} % 6 = 0
                      THEN chr(10) || chr(10) ELSE '.' || chr(10) END AS sep
          FROM range({n_docs}) d, range({per_doc}) k
        )
        SELECT doc_id, string_agg(p.s || picks.sep, '' ORDER BY k) AS text
        FROM picks JOIN pool p USING (sid)
        GROUP BY doc_id
    """)


def _ingest_docs(con, salt: int, shape: dict) -> None:
    """Replace some of ``base`` with copies of the document just before:
    a document whose own roll falls under the exact rate (and whose
    predecessor is not itself replaced) becomes an exact copy; the next
    band of the roll range becomes a near copy with every
    ``near_dup_edit_every``-th word swapped."""
    exact = int(shape["exact_dup_rate"] * 10_000)
    near = exact + int(shape["near_dup_rate"] * 10_000)
    edit = shape["near_dup_edit_every"]
    con.execute(f"""
        CREATE TEMP TABLE planted AS
        WITH roll AS (
          SELECT doc_id, {_h(salt, 'doc_id', '7')} % 10000 AS r FROM base
        ),
        kind AS (
          SELECT a.doc_id,
                 CASE WHEN b.r IS NULL OR b.r < {near} THEN 'orig'
                      WHEN a.r < {exact} THEN 'exact'
                      WHEN a.r < {near} THEN 'near'
                      ELSE 'orig' END AS kind
          FROM roll a LEFT JOIN roll b ON b.doc_id = a.doc_id - 1
        )
        SELECT k.doc_id, k.kind,
               CASE k.kind
                 WHEN 'orig' THEN cur.text
                 WHEN 'exact' THEN prev.text
                 ELSE array_to_string(list_transform(
                        string_split(prev.text, ' '),
                        (w, i) -> CASE WHEN i % {edit} = 0
                                       THEN {_word(salt, 'k.doc_id', 'i', '8')}
                                       ELSE w END), ' ')
               END AS text
        FROM kind k
        JOIN base cur ON cur.doc_id = k.doc_id
        LEFT JOIN base prev ON prev.doc_id = k.doc_id - 1
    """)
    con.execute("DROP TABLE base")
    con.execute("ALTER TABLE planted RENAME TO base")


def generate(shape: dict, seed: int, it: int, out: str) -> dict[str, dict[str, int]]:
    """Write ``out/documents.parquet`` for one workload input shape (a
    ``workloads.<name>.input`` entry of spec.json) and (seed, iteration);
    returns ``{"documents": {"rows": n, "bytes": b}}``.

    ``docs`` sizes the documents table: ``sentences_per_doc`` makes long
    documents, ``words`` = (lo, hi) short ones.  ``exact_dup_rate`` plants
    duplicates."""
    salt = _salt(seed, it)
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    try:
        # one thread: row-group layout, hence the bytes, must not depend on
        # how the scan was split across threads
        con.execute("SET threads = 1")
        if "sentences_per_doc" in shape:
            _filing_docs(con, salt, shape["docs"], shape["sentences_per_doc"])
        else:
            _short_docs(con, salt, shape["docs"], *shape["words"])
        if "exact_dup_rate" in shape:
            _ingest_docs(con, salt, shape)
        path = os.path.join(out, "documents.parquet")
        con.execute(f"""
            COPY (SELECT doc_id::BIGINT AS doc_id, text, {_doc_meta(salt)},
                         length(text)::BIGINT AS n_chars
                  FROM base ORDER BY doc_id)
            TO '{path}' (FORMAT parquet)""")
        rows = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
        return {"documents": {"rows": rows, "bytes": os.path.getsize(path)}}
    finally:
        con.close()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--iter", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spec = os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")
    with open(spec) as fh:
        shape = json.load(fh)["workloads"][args.workload]["input"]
    print(generate(shape, args.seed, args.iter, args.out))


if __name__ == "__main__":
    main()
