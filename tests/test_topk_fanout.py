"""Oracle fence for Searcher's top-k in each of the executor's two
placements (query/wand.py module doc): the driver plans the shards;
the driver or the serving process pool scores them with the serving
worker; the driver merges.  Every case runs once per placement, forced
by the executor's constants (conftest force_placement), and both
results must be bitwise equal.

Filtered queries ride the same executor: the plan carries each shard's
allowed doc ids.

Two layouts stress the two ends of the chunking: more shards than the
session's defaultParallelism (every worker scores several shards, so
its θ gates batches and the merge sees several candidate sets per
chunk) and a single shard (one chunk).  Every query kind is
checked against an oracle that never touches the index —
bm25_brute_force over the raw documents (over the filtered documents
for a filter), or the DuckDB oracles for the must clause, the
dictionary expansions and quantized scoring — not only against
LocalSearcher, which shares the planner, kernel and merge.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from conftest import PLACEMENTS, SF_SMOKE, force_placement, run_counted
from pyspark.sql import functions as F

from search_ingest_spark.catalog import Catalog
from search_ingest_spark.index import build as ib
from search_ingest_spark.query import bm25, reader
from search_ingest_spark.query.wand import Searcher

Q = "spark query data"
LAYOUTS = {"many_shards": 16, "one_shard": 10**6}


@pytest.fixture(scope="module", params=sorted(LAYOUTS))
def searcher(request, spark, documents_smoke, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp(request.param)))
    ib.build_index(spark, documents_smoke, cat, mode="simple",
                   docs_per_shard=LAYOUTS[request.param], quantize=True,
                   attr_cols=["lang", "n_chars"])
    s = Searcher(spark, cat)
    _, plan = s._local.plan_topk(s.plan(Q))
    if request.param == "many_shards":
        assert len(plan) > spark.sparkContext.defaultParallelism
    else:
        assert len(plan) == 1
    return s


def _brute(docs, text, **kw):
    # driver-side idf + sorted-term fold: the kernel's arithmetic, so
    # even unrounded scores compare bitwise
    return [tuple(r) for r in bm25.bm25_brute_force(
        docs, text, 10, mode="simple", deterministic_sum=True,
        driver_idf=True, **kw).collect()]


def _allowed(docs, cond):
    return docs.where(cond).select("doc_id")


LANGS = ["es", "fr", "en"]


def _duck(sql: str):
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF_SMOKE}/documents.parquet')")
    return [tuple(r) for r in con.execute(sql).fetchall()]


def _rows(df):
    return [tuple(r) for r in df.collect()]


@pytest.fixture(scope="module")
def cursor(documents_smoke):
    """(score, doc_id) of the 5th hit of the rounded oracle page."""
    page = _brute(documents_smoke, Q, round_to=4)
    return page[4][1], page[4][0]


CASES = {
    "plain": (lambda s, c: s.topk(Q, 10),
              lambda d, c: _brute(d, Q)),
    "round_to": (lambda s, c: s.topk(Q, 10, round_to=4),
                 lambda d, c: _brute(d, Q, round_to=4)),
    "match_all": (lambda s, c: s.topk(Q, 10, round_to=4, match_all=True),
                  lambda d, c: _brute(d, Q, round_to=4, match_all=True)),
    "min_match": (lambda s, c: s.topk(Q, 10, round_to=4, min_match=2),
                  lambda d, c: _brute(d, Q, round_to=4,
                                      min_should_match=2)),
    "exclude_text": (lambda s, c: s.topk(Q, 10, round_to=4,
                                         exclude_text="customer"),
                     lambda d, c: _brute(d, Q, round_to=4,
                                         exclude_text="customer")),
    "search_after": (lambda s, c: s.topk(Q, 10, round_to=4, search_after=c),
                     lambda d, c: _brute(d, Q, round_to=4, search_after=c)),
    "required_text": (lambda s, c: s.topk("query data", 10, round_to=4,
                                          required_text="spark"),
                      lambda d, c: _duck(bm25.bool_oracle_sql(
                          must="spark", should="query data", k=10))),
    "prefix": (lambda s, c: s.topk_prefix("da", 10, max_expansions=5,
                                          round_to=4),
               lambda d, c: _duck(bm25.prefix_oracle_sql(
                   "da", k=10, max_expansions=5))),
    "wildcard": (lambda s, c: s.topk_wildcard("d?t*", 10, max_expansions=8,
                                              round_to=4),
                 lambda d, c: _duck(bm25.wildcard_oracle_sql(
                     "d?t*", k=10, max_expansions=8))),
    "regexp": (lambda s, c: s.topk_regexp("data|spark", 10, max_expansions=8,
                                          round_to=4),
               lambda d, c: _duck(bm25.regexp_oracle_sql(
                   "data|spark", k=10, max_expansions=8))),
    "fuzzy": (lambda s, c: s.topk_fuzzy("spork data", 10, fuzziness=1,
                                        round_to=4),
              lambda d, c: _duck(bm25.fuzzy_oracle_sql(
                  "spork data", k=10, fuzziness=1))),
    "match_bool_prefix": (
        lambda s, c: s.match_bool_prefix_topk("spark qu", 10,
                                              max_expansions=8, round_to=4),
        lambda d, c: _duck(bm25.match_bool_prefix_oracle_sql(
            "spark qu", k=10, max_expansions=8))),
    "quantized": (lambda s, c: s.topk_quantized(Q, 10, round_to=4),
                  lambda d, c: _duck(bm25.bm25_quantized_oracle_sql(Q, k=10))),
    "attr_filter": (lambda s, c: s.topk(Q, 10, attr_filter={"lang": LANGS}),
                    lambda d, c: _brute(d, Q, candidate_filter=_allowed(
                        d, F.col("lang").isin(LANGS)))),
    "attr_filter_exclude_after": (
        lambda s, c: s.topk(Q, 10, round_to=4, attr_filter={"lang": LANGS},
                            exclude_text="customer", search_after=c),
        lambda d, c: _brute(d, Q, round_to=4, exclude_text="customer",
                            search_after=c, candidate_filter=_allowed(
                                d, F.col("lang").isin(LANGS)))),
    "attr_filter_and_where": (
        lambda s, c: s.topk(Q, 10, round_to=4, attr_filter={"lang": LANGS},
                            attr_where=F.col("n_chars") > 100),
        lambda d, c: _brute(d, Q, round_to=4, candidate_filter=_allowed(
            d, F.col("lang").isin(LANGS) & (F.col("n_chars") > 100)))),
}


@pytest.mark.parametrize("case", list(CASES))
def test_fan_out_matches_oracle(spark, searcher, documents_smoke, cursor,
                                case, monkeypatch):
    run, oracle = CASES[case]
    want = [(int(d), float(s), int(r)) for d, s, r in
            oracle(documents_smoke, cursor)]
    assert len(want) > 0
    real_pool = reader._get_serve_pool
    pools = []
    monkeypatch.setattr(reader, "_get_serve_pool",
                        lambda: pools.append(1) or real_pool())
    jobs = {}
    for placement in PLACEMENTS:
        with monkeypatch.context() as m:
            force_placement(m, placement)
            got, ids = run_counted(spark,
                                   lambda: _rows(run(searcher, cursor)))
        assert got == want, placement
        jobs[placement] = len(ids)
        assert bool(pools) == (placement == "pool"), placement
        pools.clear()
    assert not reader._SERVE_POOL_BROKEN
    # scoring starts no Spark job: only an attr_where reads its doc ids
    # in one
    assert jobs["driver"] == jobs["pool"] == int("where" in case)


class TestMergeCandidates:
    def test_ranks_by_score_desc_then_id(self):
        params = reader.kernel_params({}, 3)
        ids, scores = reader.merge_candidates(
            [7, 3, 9, 1], [1.0, 2.0, 2.0, 0.5], params)
        assert ids.tolist() == [3, 9, 7]
        assert scores.tolist() == [2.0, 2.0, 1.0]

    def test_rounds_half_up_then_applies_cursor(self):
        params = reader.kernel_params({}, 10, round_to=1, after=(0.3, 4))
        ids, scores = reader.merge_candidates(
            [1, 5, 2, 6], [0.25, 0.25, 0.35, 0.2], params)
        # 0.25 → 0.3 (HALF_UP); the cursor (0.3, 4) keeps doc 5 only
        # among the 0.3 ties, and everything strictly below 0.3
        assert ids.tolist() == [5, 6]
        assert scores.tolist() == [0.3, 0.2]

    def test_rejects_nan_score(self):
        with pytest.raises(ValueError, match="NaN"):
            reader.merge_candidates([1, 2], [1.0, np.nan],
                                    reader.kernel_params({}, 10))
