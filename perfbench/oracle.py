"""Correctness checks, run after the timed window.

- Ranked answers are compared with the engine's DuckDB twin
  (``oracle.sqlgen.bm25_topk_sql``) on rank, doc_id and ``score_q``.
- Percolate answers are compared with a DuckDB twin of the same law.
  ``sqlgen.percolate_sql`` takes idf and avgdl from the table it
  scores, while ``percolate`` freezes them from the index it is given,
  so this twin scores the arriving docs with statistics of the model
  corpus. Both sides tokenize through ``duckdb_tokens_sql``.
- Built indexes must pass ``check_index`` / ``check_segmented`` and
  carry ``sha256(content)`` of every live doc.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from org_rdkit_lucene_spark.config import BM25Params
from org_rdkit_lucene_spark.functions.tokenizer import duckdb_tokens_sql, tokenize_text
from org_rdkit_lucene_spark.operators.check import check_index, check_segmented
from org_rdkit_lucene_spark.oracle.sqlgen import bm25_topk_sql

from gen import sha256_hex

RESULT_COLS = ["query_id", "rank", "doc_id", "score_q"]


def _con(**tables: pd.DataFrame) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, docs in tables.items():
        con.register(f"{name}_src", docs[["doc_id", "content"]].rename(columns={"content": "text"}))
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_src")
    return con


def expected_topk(docs: pd.DataFrame, queries: list[tuple[int, str, int]], mode: str) -> dict[int, list[tuple]]:
    """query_id -> [(rank, doc_id, score_q)] from the DuckDB twin."""
    if not queries:
        return {}
    con = _con(documents=docs)
    try:
        got = con.execute(bm25_topk_sql(queries, mode=mode, table="documents")).fetchdf()
    finally:
        con.close()
    out: dict[int, list[tuple]] = {qid: [] for qid, _, _ in queries}
    for qid, rank, doc, score in got[RESULT_COLS].itertuples(index=False):
        out[int(qid)].append((int(rank), int(doc), int(score)))
    return out


def as_rows(pdf: pd.DataFrame) -> dict[int, list[tuple]]:
    """Engine answer -> query_id -> [(rank, doc_id, score_q)] in rank order."""
    out: dict[int, list[tuple]] = {}
    for qid, rank, doc, score in pdf.sort_values(["query_id", "rank"])[RESULT_COLS].itertuples(index=False):
        out.setdefault(int(qid), []).append((int(rank), int(doc), int(score)))
    return out


def expected_percolate(model: pd.DataFrame, batch: pd.DataFrame, queries: list[tuple[int, str, int]]) -> set[tuple]:
    """{(doc_id, query_id, score_q, n_matched)} for conjunctive
    percolation of ``batch`` against a model built from ``model``."""
    p = BM25Params()
    quant = 10**p.score_decimals
    rows = []
    for qid, text, _ in queries:
        toks = tokenize_text(text)
        counts = pd.Series(toks).value_counts()
        for term, qtf in counts.items():
            rows.append((qid, term, int(qtf), len(counts)))
    qdf = pd.DataFrame(rows, columns=["query_id", "term", "qtf", "n_terms"])
    toks = duckdb_tokens_sql("text")
    sql = f"""
WITH mtok AS (SELECT doc_id, unnest({toks}) AS term FROM model),
mdl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM mtok GROUP BY 1),
dfs AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM mtok GROUP BY 1),
nstat AS (SELECT count(*)::DOUBLE AS n FROM model),
dlstat AS (SELECT sum(coalesce(mdl.dl, 0)) / (SELECT n FROM nstat) AS avgdl
           FROM model LEFT JOIN mdl USING (doc_id)),
btok AS (SELECT doc_id, unnest({toks}) AS term FROM batch),
btf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM btok GROUP BY 1, 2),
bdl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM btok GROUP BY 1),
scored AS (
  SELECT q.query_id, btf.doc_id,
         sum(q.qtf * ln(1.0 + ((SELECT n FROM nstat) - dfs.df + 0.5) / (dfs.df + 0.5))
             * btf.tf * {p.k1 + 1.0}
             / (btf.tf + {p.k1} * (1.0 - {p.b} + {p.b} * bdl.dl / (SELECT avgdl FROM dlstat)))
         ) AS score_raw,
         count(*) AS n_matched, max(q.n_terms) AS n_terms
  FROM btf JOIN q USING (term) JOIN dfs USING (term) JOIN bdl USING (doc_id)
  GROUP BY 1, 2
)
SELECT doc_id, query_id, CAST(floor(score_raw * {quant} + 0.5) AS BIGINT) AS score_q,
       CAST(n_matched AS INTEGER) AS n_matched
FROM scored WHERE n_matched = n_terms"""
    con = _con(model=model, batch=batch)
    try:
        con.register("q", qdf)
        got = con.execute(sql).fetchdf()
    finally:
        con.close()
    return {tuple(int(x) for x in r) for r in got.itertuples(index=False)}


def percolate_rows(pdf: pd.DataFrame) -> set[tuple]:
    return {
        tuple(int(x) for x in r)
        for r in pdf[["doc_id", "query_id", "score_q", "n_matched"]].itertuples(index=False)
    }


def _sha_ok(docmeta_pdf: pd.DataFrame, docs: pd.DataFrame) -> bool:
    want = dict(zip(docs["doc_id"].astype("int64"), sha256_hex(docs["content"])))
    got = dict(zip(docmeta_pdf["doc_id"].astype("int64"), docmeta_pdf["sha256"]))
    return got == want


def index_ok(idx, docs: pd.DataFrame) -> tuple[bool, str]:
    """``check_index`` passes and docmeta holds sha256(content) of
    exactly ``docs``."""
    rep = check_index(idx)
    if not rep["passed"].all():
        return False, "check_index: " + ", ".join(rep.loc[~rep["passed"], "check"])
    if not _sha_ok(idx.docmeta.select("doc_id", "sha256").toPandas(), docs):
        return False, "sha256(content) invariant"
    return True, ""


def segmented_ok(seg, live_docs: pd.DataFrame) -> tuple[bool, str]:
    """``check_segmented`` passes and the live docmeta holds
    sha256(content) of exactly ``live_docs``."""
    rep = check_segmented(seg)
    if not rep["passed"].all():
        return False, "check_segmented: " + ", ".join(rep.loc[~rep["passed"], "check"])
    if not _sha_ok(seg.docmeta.select("doc_id", "sha256").toPandas(), live_docs):
        return False, "sha256(content) invariant"
    return True, ""
