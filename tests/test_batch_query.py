"""Batch query execution (Searcher.topk_many): one result frame for the
whole query set and no Spark job, per-query results rank-identical to
single execution."""

from __future__ import annotations

import time

import pytest
from conftest import jobs_and_stages

from search_ingest_spark.catalog import Catalog
from search_ingest_spark.index import build as ib
from search_ingest_spark.query.wand import Searcher

QUERIES = {
    0: "spark query data",
    1: "data",
    2: "customer order line",
    3: "hash join",
    4: "zzzunknownterm",
    5: "table scan fast row",
}


@pytest.fixture(scope="module")
def searcher(spark, documents_correct, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("batch")))
    ib.build_index(spark, documents_correct, cat, mode="simple", docs_per_shard=50)
    return Searcher(spark, cat)


def test_batch_matches_single_execution(spark, searcher):
    batch = searcher.topk_many(QUERIES, k=10).collect()
    by_q: dict[int, list] = {}
    for r in sorted(batch, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"], r["rank"])
        )
    for qid, text in QUERIES.items():
        single = [tuple(r) for r in searcher.topk(text, 10).collect()]
        assert by_q.get(qid, []) == single, (qid, text)


def test_unknown_query_absent_not_crashing(searcher):
    out = searcher.topk_many({7: "zzzunknownterm"}, k=10)
    assert out.count() == 0


def test_batch_starts_no_job(spark, searcher):
    assert jobs_and_stages(spark, lambda: searcher.topk_many(
        QUERIES, k=10)) == (0, 0)


def test_batch_amortizes_scheduling(searcher):
    # warm
    searcher.topk_many({0: "data"}, 5).collect()
    t0 = time.time()
    for text in list(QUERIES.values())[:5]:
        searcher.topk(text, 10).collect()
    singles = time.time() - t0
    t0 = time.time()
    searcher.topk_many(dict(list(QUERIES.items())[:5]), 10).collect()
    batch = time.time() - t0
    assert batch < singles  # one result frame beats five
