"""Physical-plan assertions — the scale contract, checked in CI.

`.explain()` is the evidence that Catalyst actually gets the chances we
designed for: filter pushdown into parquet scans, column pruning,
broadcast of small sides, TakeOrderedAndProject for top-k (no global
sort), zero exchanges in the doc-local tokenization stage.  These
assertions fail if a refactor silently degrades the plan at 100x data.
Every top-k returns a LocalRelation and is scored by the reader's
executor without a Spark job; the tests named "one job one stage" keep
the names of the Spark fan-out they replaced and assert (0 jobs,
0 stages).  An attr_where predicate adds one job that reads the
qualifying doc ids.
"""

from __future__ import annotations

import pytest
from conftest import (
    PLACEMENTS, force_placement, jobs_and_stages, run_counted,
)
from pyspark.sql import functions as F

from search_ingest_spark.catalog import Catalog
from search_ingest_spark.index import build as ib
from search_ingest_spark.query.bm25 import bm25_brute_force, doc_terms
from search_ingest_spark.query.wand import Searcher


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def doc_index(spark, documents_smoke, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("planidx")))
    ib.build_index(spark, documents_smoke, cat, mode="simple", docs_per_shard=16,
                   with_positions=True, attr_cols=["lang", "source"],
                   quantize=True)
    return cat


class TestScanPlans:
    def test_tokenization_stage_has_no_exchange(self, documents_smoke):
        # tf/dl are doc-local: anything shuffling here is a regression
        assert "Exchange" not in plan_of(doc_terms(documents_smoke, mode="simple"))

    def test_postings_scan_pushes_term_filter(self, spark, doc_index):
        s = Searcher(spark, doc_index)
        idf = s.plan("data table")
        pruned = s.postings.where(F.col("term_id").isin([int(t) for t in idf]))
        plan = plan_of(pruned)
        assert "PushedFilters: [In(term_id" in plan, plan

    def test_column_pruning_reaches_scan(self, spark):
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        q = li.select("l_orderkey", "l_quantity").where(F.col("l_quantity") > 10)
        plan = plan_of(q)
        assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan
        assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in plan


class TestQueryPlans:
    def test_brute_force_uses_broadcast_joins(self, documents_smoke):
        df = bm25_brute_force(documents_smoke, "data table", 10, mode="simple")
        plan = plan_of(df)
        # dfreq + stats are tiny: both joins must be broadcast, never SMJ
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan

    @pytest.mark.parametrize("call", [
        lambda s: s.topk("data table", 10),
        lambda s: s.topk("data table", 10, round_to=4, min_match=1,
                         exclude_text="spark"),
        lambda s: s.topk_quantized("data table", 10),
        lambda s: s.topk("zzzqqq", 10),
    ], ids=["topk", "topk_options", "topk_quantized", "empty"])
    def test_topk_result_is_local_relation(self, spark, doc_index, call):
        # the shard fan-out merges on the driver: the returned frame
        # holds the ranked rows themselves — no Exchange, no
        # TakeOrdered or rank aggregate left for collect() to run
        df = call(Searcher(spark, doc_index))
        assert optimized_of(df).startswith("LocalRelation"), optimized_of(df)
        plan = plan_of(df)
        assert "LocalTableScan" in plan, plan
        assert "Exchange" not in plan, plan

    @pytest.mark.parametrize("call", [
        lambda s: s.topk("data table", 10),
        lambda s: s.topk("data table", 10, round_to=4, match_all=True),
        lambda s: s.topk("table", 10, required_text="data",
                         search_after=(0.5, 3), round_to=4),
        lambda s: s.topk_quantized("data table", 10),
    ], ids=["topk", "match_all", "required_after", "topk_quantized"])
    def test_topk_is_one_job_one_stage(self, spark, doc_index, call):
        s = Searcher(spark, doc_index)
        assert jobs_and_stages(spark, lambda: call(s)) == (0, 0)

    def test_expanded_topk_is_one_job_one_stage(self, spark, doc_index):
        # the dictionary expansion is a pyarrow read on the driver; the
        # expanded terms score like any top-k, with no job
        s = Searcher(spark, doc_index)
        calls = {
            "prefix": lambda: s.topk_prefix("da", 10, max_expansions=5,
                                            round_to=4),
            "wildcard": lambda: s.topk_wildcard("d?t*", 10, round_to=4),
            "regexp": lambda: s.topk_regexp("dat[ae]|tabl.", 10,
                                            round_to=4),
            "fuzzy": lambda: s.topk_fuzzy("dats", 10, fuzziness=1,
                                          round_to=4),
            "match_bool_prefix": lambda: s.match_bool_prefix_topk(
                "table da", 10, round_to=4),
        }
        for name, call in calls.items():
            assert call().collect(), name
            assert jobs_and_stages(spark, call) == (0, 0), name

    def test_attr_filter_topk_is_one_job_one_stage(self, spark, doc_index):
        # the allowed doc ids are a pyarrow read of doc_attrs on the
        # driver: the filtered top-k scores like an unfiltered one
        s = Searcher(spark, doc_index)

        def call():
            return s.topk("data table", 10, round_to=4,
                          attr_filter={"lang": ["fr", "es"]})

        assert call().collect()
        assert jobs_and_stages(spark, call) == (0, 0)
        assert optimized_of(call()).startswith("LocalRelation")

    def test_attr_where_topk_adds_at_most_one_job(self, spark, doc_index):
        # Catalyst evaluates the Column predicate in one job that reads
        # the qualifying (shard, doc_id) rows; they mask the fan-out
        s = Searcher(spark, doc_index)

        def call():
            return s.topk("data table", 10, round_to=4,
                          attr_where=F.col("lang") == "fr")

        assert call().collect()
        jobs, _ = jobs_and_stages(spark, call)
        assert jobs <= 2
        assert optimized_of(call()).startswith("LocalRelation")

    def test_filter_matching_no_doc_starts_no_job(self, spark, doc_index):
        s = Searcher(spark, doc_index)
        assert jobs_and_stages(spark, lambda: s.topk(
            "data table", 10, attr_filter={"lang": "zz"})) == (0, 0)

    def test_opening_searcher_starts_no_job(self, spark, doc_index):
        # stats and the dictionary are read through pyarrow
        _, jobs = run_counted(spark, lambda: Searcher(spark, doc_index))
        assert jobs == []

    def test_empty_topk_starts_no_job(self, spark, doc_index):
        s = Searcher(spark, doc_index)
        assert jobs_and_stages(spark, lambda: s.topk("zzzqqq", 10)) == (0, 0)
        assert jobs_and_stages(
            spark, lambda: s.topk("data", 10, min_match=3)) == (0, 0)

    @pytest.mark.parametrize("placement", PLACEMENTS)
    def test_k_zero_starts_no_job(self, spark, doc_index, monkeypatch,
                                  placement):
        force_placement(monkeypatch, placement)
        s = Searcher(spark, doc_index)
        for call in (lambda: s.topk("data table", 0),
                     lambda: s.topk_quantized("data table", 0),
                     lambda: s.topk_prefix("da", 0),
                     lambda: s.topk("data table", 0,
                                    attr_where=F.col("lang") == "fr")):
            assert jobs_and_stages(spark, call) == (0, 0)
            assert call().collect() == []

    def test_positions_scan_pushes_term_filter(self, spark, doc_index):
        # a phrase query must read only its terms' row groups
        pos = doc_index.read(ib.POSITIONS_TABLE).where(
            F.col("term").isin(["data", "table"])
        )
        plan = plan_of(pos)
        assert "PushedFilters: [In(term" in plan, plan

    def test_attr_filter_pushes_predicate_and_prunes_columns(self, spark, doc_index):
        attrs = doc_index.read(ib.DOC_ATTRS_TABLE).where(
            F.col("lang") == "fr"
        ).select("shard", "doc_id")
        plan = plan_of(attrs)
        assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,fr)]" in plan, plan
        # source column never leaves the reader
        assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan, plan

    def test_range_filter_pushes_bounds_into_attrs_scan(self, spark, doc_index):
        # the shared filter spec (query/filters.py) must reach parquet:
        # a range clause shows up as pushed comparison predicates, so at
        # 100 TB the attrs scan prunes row groups by min/max stats
        from search_ingest_spark.query import filters

        attrs = doc_index.read(ib.DOC_ATTRS_TABLE).where(
            filters.spark_cond({"lang": {"gte": "b", "lt": "g"}})
        ).select("shard", "doc_id")
        plan = plan_of(attrs)
        assert "GreaterThanOrEqual(lang,b)" in plan, plan
        assert "LessThan(lang,g)" in plan, plan

    def test_exists_filter_pushes_isnotnull(self, spark, doc_index):
        from search_ingest_spark.query import filters

        attrs = doc_index.read(ib.DOC_ATTRS_TABLE).where(
            filters.spark_cond({"source": {"exists": True}})
        ).select("doc_id")
        plan = plan_of(attrs)
        assert "PushedFilters: [IsNotNull(source)]" in plan, plan

    def test_constant_score_is_pushed_scan_plus_take_ordered(
        self, spark, doc_index
    ):
        # filter-context-only query: ONE pruned attrs scan feeding
        # TakeOrderedAndProject — no shuffle, no postings read
        s = Searcher(spark, doc_index)
        plan = plan_of(s.constant_score({"lang": "fr"}, 10))
        assert "TakeOrderedAndProject" in plan, plan
        assert "EqualTo(lang,fr)" in plan, plan
        assert "postings" not in plan, plan

    def test_date_histogram_has_partial_aggregation(self, spark):
        # map-side partials before the single exchange: the 100 TB shape
        # (bucket cardinality = days) reduces almost everything map-side
        from search_ingest_spark.entrypoints import QUERIES

        df = QUERIES["search_date_histogram"](spark, "/root/testdata/sf0.001")
        plan = plan_of(df)
        assert plan.count("HashAggregate") >= 2, plan
        assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in plan, plan


class TestSelfReplicationGuard:
    def test_self_ref_parented_rows_skip_own_index(self, spark):
        # reference skip_replication?, elastic.cr:214-218 + spec:11-19
        from search_ingest_spark.schema import ParentRelation, skip_self_replication

        rel = ParentRelation("selfref", "selfref", "parent_id")
        df = spark.createDataFrame(
            [("1", None), ("2", "1"), ("3", "")],
            "id string, parent_id string",
        )
        kept = skip_self_replication(df, "selfref", rel, "selfref")
        assert sorted(r["id"] for r in kept.collect()) == ["1", "3"]
        # different index → untouched
        other = skip_self_replication(df, "other_index", rel, "selfref")
        assert other.count() == 3
