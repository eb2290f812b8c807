"""Recall floors of the two production approximate queries, in DuckDB.

Each floor composes the active queries' oracle SQL, so no Spark plan runs
here: tests/test_oracle.py pins every Spark query to its oracle at the same
scale factor, and together the two files bound the production queries.
Floors, not equalities, so a better index never fails.

* embedding_topk_ivf: recall@10 inside the exact scan
  (embedding_topk_cosine) is 0.5 at sf0.01; the floor is 0.3.
* docs_near_dup_pairs: banded MinHash-LSH candidate recall against exact
  trigram-shingle Jaccard truth over a 1-in-29 doc sample is 1.0 at
  sf0.01 (7 of 7 true pairs share a band); the floor is 0.9. The truth is
  computed on the inverted shingle index, so only pairs sharing a
  shingle are scored.
"""

from __future__ import annotations

from real_time_flight_data_pipeline_spark.operators.dedup import JACCARD_THRESHOLD
from real_time_flight_data_pipeline_spark.plans import REGISTRY
from real_time_flight_data_pipeline_spark.plans.northstar import (
    _NEAR_CORPUS_SQL,
    _SQL_SHINGLES,
    _SQL_TOKS,
    _sql_md5_long,
)

from .conftest import SF_CORRECT
from .oracle_harness import duckdb_conn

_LSH_RECALL_SAMPLE_MOD = 29


def test_ivf_recall_at_10_floor():
    exact = REGISTRY["embedding_topk_cosine"].oracle
    ivf = REGISTRY["embedding_topk_ivf"].oracle
    n_exact, hits = duckdb_conn(SF_CORRECT).execute(f"""
    WITH exact_topk AS ({exact}),
    ivf_topk AS ({ivf})
    SELECT count(*), count(*) FILTER (
             WHERE vec_id IN (SELECT vec_id FROM ivf_topk))
    FROM exact_topk
    """).fetchone()
    assert n_exact == 10
    assert hits / 10 >= 0.3, hits


def test_lsh_candidate_recall_floor():
    lsh_pairs = REGISTRY["docs_near_dup_pairs"].oracle
    n_true, n_found = duckdb_conn(SF_CORRECT).execute(f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM corpus),
    shin AS (SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS sh FROM tok),
    sizes AS (SELECT doc_id, len(sh) AS n_sh FROM shin),
    post AS (
      SELECT doc_id, {_sql_md5_long('s')} AS gh
      FROM (SELECT doc_id, unnest(sh) AS s FROM shin)
    ),
    sample_post AS (
      SELECT doc_id, gh FROM post WHERE doc_id % {_LSH_RECALL_SAMPLE_MOD} = 0
    ),
    inter AS (
      SELECT s.doc_id AS a_id, p.doc_id AS b_id, count(*) AS inter
      FROM sample_post s JOIN post p
        ON s.gh = p.gh AND s.doc_id < p.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT i.a_id, i.b_id
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.a_id
      JOIN sizes sb ON sb.doc_id = i.b_id
      WHERE CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter)
              >= {JACCARD_THRESHOLD}
    ),
    lsh AS (
      SELECT a_id, b_id FROM ({lsh_pairs})
      WHERE a_id % {_LSH_RECALL_SAMPLE_MOD} = 0
    ),
    hit AS (SELECT t.a_id, t.b_id FROM truth t
            JOIN lsh l ON l.a_id = t.a_id AND l.b_id = t.b_id)
    SELECT (SELECT count(*) FROM truth), (SELECT count(*) FROM hit)
    """).fetchone()
    assert n_true > 0
    assert n_found / n_true >= 0.9, (n_true, n_found)
