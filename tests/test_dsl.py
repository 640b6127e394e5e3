"""ES `_search` DSL façade (query/dsl.py): every COVERAGE query/agg
type the façade supports must be REACHABLE from a request dict and
compile onto exactly the operator a direct call would use — asserted
as row-level equality between the compiled request and the direct
API call on the same index.  Strictness (unknown clause → ValueError)
is pinned too: a silently dropped clause is a wrong answer."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from search_ingest_spark.catalog import Catalog
from search_ingest_spark.index import build as ib
from search_ingest_spark.query import aggs as _aggs
from search_ingest_spark.query import bm25, dsl, geo_grid, significant
from search_ingest_spark.query.phrase import PhraseSearcher
from search_ingest_spark.query.rescore import rescore_topk
from search_ingest_spark.query.wand import Searcher

SF = "/root/testdata/sf0.001"
Q = "spark query data"


@pytest.fixture(scope="module")
def built(spark, documents_smoke, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("dsl")))
    docs = (
        documents_smoke
        .withColumn("tag", F.when(F.col("doc_id") % 3 == 0,
                                  F.col("source")))
        .withColumn("lat", ((F.col("doc_id") * 7919) % 18000)
                    / F.lit(100.0) - F.lit(90.0))
        .withColumn("lon", ((F.col("doc_id") * 104729) % 36000)
                    / F.lit(100.0) - F.lit(180.0))
        .withColumn("props", F.transform(
            F.sequence(F.lit(0), (F.col("doc_id") % 3).cast("int")),
            lambda i: F.struct(
                F.concat(F.lit("k"), ((F.col("doc_id") + i) % 5)
                         .cast("string")).alias("k"),
                ((F.col("doc_id") * 7 + i * 13) % 100).alias("v"))))
    )
    ib.build_index(spark, docs, cat, mode="simple", docs_per_shard=50,
                   attr_cols=["lang", "source", "n_chars", "tag",
                              "lat", "lon", "props"],
                   store_fields=["text"], with_positions=True,
                   with_bigrams=True, sort_field="n_chars")
    return cat


@pytest.fixture(scope="module")
def searcher(spark, built):
    return Searcher(spark, built)


@pytest.fixture(scope="module")
def phrase(spark, built):
    return PhraseSearcher(spark, built)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _same(got_df, want_df):
    assert sorted(got_df.columns) == sorted(want_df.columns)
    assert _rows(got_df) == _rows(want_df)
    return True


def _hits(searcher, request, phrase=None, docs=None):
    return dsl.search(searcher, request, phrase_searcher=phrase,
                      docs=docs)["hits"]


class TestQueryTypes:
    """One request per supported query type ↔ the direct operator."""

    def test_match(self, searcher):
        _same(_hits(searcher, {"query": {"match": {"text": Q}}}),
              searcher.topk(Q, 10, round_to=4))

    def test_match_operator_and_msm(self, searcher):
        _same(_hits(searcher, {"query": {"match": {"text": {
            "query": Q, "operator": "and"}}}}),
            searcher.topk(Q, 10, round_to=4, match_all=True))
        _same(_hits(searcher, {"query": {"match": {"text": {
            "query": Q, "minimum_should_match": 2}}}}),
            searcher.topk(Q, 10, round_to=4, min_match=2))

    def test_match_all(self, searcher):
        got = _hits(searcher, {"query": {"match_all": {}}, "size": 7})
        rows = got.collect()
        assert [r["doc_id"] for r in rows] == sorted(
            r["doc_id"] for r in rows)
        assert len(rows) == 7 and all(r["score"] == 1.0 for r in rows)

    def test_bool_full(self, searcher):
        req = {"query": {"bool": {
            "must": {"match": {"text": "data"}},
            "should": {"match": {"text": "spark query table"}},
            "must_not": {"match": {"text": "customer"}},
            "filter": [{"range": {"lat": {"gte": -60.0}}}],
            "minimum_should_match": 1,
        }}}
        _same(_hits(searcher, req),
              searcher.bool_topk(
                  must="data", should="spark query table",
                  must_not="customer", filter={"lat": {"gte": -60.0}},
                  minimum_should_match=1, k=10, round_to=4))

    def test_filter_context_kinds(self, searcher):
        req = {"query": {"bool": {"filter": [
            {"term": {"lang": "es"}},
            {"terms": {"source": ["src1", "src2", "src3"]}},
            {"range": {"n_chars": {"gte": 10}}},
            {"exists": {"field": "tag"}},
        ]}}}
        _same(_hits(searcher, req),
              searcher.constant_score(
                  {"lang": "es", "source": ["src1", "src2", "src3"],
                   "n_chars": {"gte": 10}, "tag": {"exists": True}}, 10))

    def test_nested_filter(self, searcher):
        req = {"query": {"nested": {
            "path": "props",
            "query": [{"term": {"k": "k2"}},
                      {"range": {"v": {"gte": 50}}}],
        }}}
        _same(_hits(searcher, req),
              searcher.constant_score(
                  {"nested": {"path": "props",
                              "where": {"k": "k2", "v": {"gte": 50}}}},
                  10))

    def test_term_top_level(self, searcher):
        _same(_hits(searcher, {"query": {"term": {"lang": "fr"}}}),
              searcher.constant_score({"lang": "fr"}, 10))

    def test_constant_score_boost(self, searcher):
        req = {"query": {"constant_score": {
            "filter": {"term": {"lang": "fr"}}, "boost": 2.5}}}
        _same(_hits(searcher, req),
              searcher.constant_score({"lang": "fr"}, 10, boost=2.5))

    def test_match_phrase_and_slop(self, searcher, phrase):
        _same(_hits(searcher, {"query": {"match_phrase": {
            "text": "table hash"}}}, phrase=phrase),
            phrase.topk("table hash", 10, round_to=4))
        _same(_hits(searcher, {"query": {"match_phrase": {"text": {
            "query": "table hash", "slop": 2}}}}, phrase=phrase),
            phrase.topk("table hash", 10, slop=2, round_to=4))

    def test_match_phrase_prefix(self, searcher, phrase):
        _same(_hits(searcher, {"query": {"match_phrase_prefix": {
            "text": "table ha"}}}, phrase=phrase),
            phrase.topk_phrase_prefix("table ha", 10, round_to=4))

    def test_span_near(self, searcher, phrase):
        req = {"query": {"span_near": {
            "clauses": [{"span_term": {"text": "table"}},
                        {"span_term": {"text": "hash"}}],
            "slop": 3, "in_order": True}}}
        _same(_hits(searcher, req, phrase=phrase),
              phrase.span_near_topk("table hash", 10, slop=3,
                                    in_order=True, round_to=4))

    def test_match_bool_prefix(self, searcher):
        _same(_hits(searcher, {"query": {"match_bool_prefix": {
            "text": "spark qu"}}}),
            searcher.match_bool_prefix_topk("spark qu", 10, round_to=4))

    def test_multi_match_types(self, searcher, documents_smoke):
        d = documents_smoke
        for mm, direct in [
            ("best_fields", lambda: bm25.multi_match(
                d, "spark data", [("text", 1.0), ("source", 2.0)], 10)),
            ("most_fields", lambda: bm25.multi_match(
                d, "spark data", [("text", 1.0), ("source", 2.0)], 10,
                mm_type="most_fields")),
            ("cross_fields", lambda: bm25.multi_match_cross_fields(
                d, "spark data", [("text", 1.0), ("source", 2.0)], 10)),
        ]:
            req = {"query": {"multi_match": {
                "query": "spark data", "fields": ["text", "source^2"],
                "type": mm}}}
            _same(_hits(searcher, req, docs=d), direct())

    def test_dis_max(self, searcher, documents_smoke):
        req = {"query": {"dis_max": {
            "queries": [{"match": {"text": "spark data"}},
                        {"match": {"source": "spark data"}}],
            "tie_breaker": 0.3}}}
        _same(_hits(searcher, req, docs=documents_smoke),
              bm25.multi_match(documents_smoke, "spark data",
                               [("text", 1.0), ("source", 1.0)], 10,
                               tie_breaker=0.3))

    def test_prefix_wildcard_regexp_fuzzy(self, searcher):
        _same(_hits(searcher, {"query": {"prefix": {"text": "qu"}}}),
              searcher.topk_prefix("qu", 10, round_to=4))
        _same(_hits(searcher, {"query": {"wildcard": {"text": {
            "value": "qu*y"}}}}),
            searcher.topk_wildcard("qu*y", 10, round_to=4))
        _same(_hits(searcher, {"query": {"regexp": {"text": {
            "value": "qu.*"}}}}),
            searcher.topk_regexp("qu.*", 10, round_to=4))
        _same(_hits(searcher, {"query": {"fuzzy": {"text": {
            "value": "spark", "fuzziness": 1}}}}),
            searcher.topk_fuzzy("spark", 10, fuzziness=1, round_to=4))

    def test_terms_set(self, searcher):
        req = {"query": {"terms_set": {"text": {
            "terms": ["spark", "query", "data"],
            "minimum_should_match_script": {
                "source": "least(2, n_chars)"}}}}}
        _same(_hits(searcher, req),
              searcher.terms_set_topk(["spark", "query", "data"],
                                      "least(2, n_chars)", ["n_chars"],
                                      10, round_to=4))

    def test_function_score_fvf(self, searcher):
        req = {"query": {"function_score": {
            "query": {"match": {"text": Q}},
            "field_value_factor": {"field": "n_chars",
                                   "modifier": "log1p", "factor": 1.0},
            "boost_mode": "multiply"}}}
        _same(_hits(searcher, req),
              searcher.function_score_topk(Q, "n_chars", 10,
                                           round_to=4))

    def test_function_score_random(self, searcher):
        req = {"query": {"function_score": {
            "query": {"match": {"text": Q}},
            "random_score": {"seed": "r6"}}}}
        _same(_hits(searcher, req),
              searcher.random_score_topk(Q, "r6", 10))

    def test_function_score_decay(self, searcher):
        req = {"query": {"function_score": {
            "query": {"match": {"text": Q}},
            "functions": [{"gauss": {"n_chars": {
                "origin": 300.0, "scale": 100.0, "offset": 25.0,
                "decay": 0.5}}}]}}}
        _same(_hits(searcher, req),
              searcher.decay_score_topk(Q, "n_chars", 10, origin=300.0,
                                        scale=100.0, offset=25.0,
                                        decay=0.5, round_to=4))

    def test_boosting(self, searcher):
        req = {"query": {"boosting": {
            "positive": {"match": {"text": Q}},
            "negative": {"match": {"text": "customer"}},
            "negative_boost": 0.4}}}
        _same(_hits(searcher, req),
              searcher.boosting_topk(Q, "customer", 10,
                                     negative_boost=0.4, round_to=4))

    def test_more_like_this(self, searcher):
        req = {"query": {"more_like_this": {"like": {"_id": 7},
                                            "max_query_terms": 5}}}
        _same(_hits(searcher, req),
              searcher.more_like_this_topk(7, 10, round_to=4))

    def test_rank_feature_should(self, searcher):
        req = {"query": {"bool": {
            "must": {"match": {"text": Q}},
            "should": [
                {"rank_feature": {"field": "n_chars",
                                  "saturation": {"pivot": 200.0},
                                  "boost": 2.0}},
                {"distance_feature": {"field": "lat", "origin": 0.0,
                                      "pivot": 30.0, "boost": 1.5}},
            ]}}}
        specs = [
            {"function": "saturation", "field": "n_chars",
             "pivot": 200.0, "boost": 2.0},
            {"function": "distance", "field": "lat", "origin": 0.0,
             "pivot": 30.0, "boost": 1.5},
        ]
        _same(_hits(searcher, req),
              searcher.rank_feature_topk(Q, specs, 10, round_to=4))


class TestTopLevel:
    def test_from_size_paging(self, searcher):
        req = {"query": {"match": {"text": Q}}, "from": 10, "size": 10}
        got = _hits(searcher, req)
        want = searcher.topk(Q, 20, round_to=4).where(F.col("rank") > 10)
        _same(got, want)

    def test_size_zero_returns_no_hits_and_runs_no_job(self, spark,
                                                       searcher):
        # ES's aggregations-only request: "size": 0 asks for no hits
        from conftest import jobs_and_stages

        req = {"query": {"match": {"text": Q}}, "size": 0}
        assert jobs_and_stages(spark, lambda: _hits(searcher, req)) == (0, 0)
        hits = _hits(searcher, req)
        assert hits.collect() == []
        assert hits.columns == ["doc_id", "score", "rank"]
        out = dsl.search(searcher, dict(req, aggs={"langs": {
            "terms": {"field": "lang"}}}))
        assert out["hits"].collect() == []
        assert out["aggs"]["langs"].collect()

    def test_search_after(self, searcher):
        page1 = searcher.topk(Q, 10, round_to=4).collect()
        cursor = [float(page1[-1]["score"]), int(page1[-1]["doc_id"])]
        req = {"query": {"match": {"text": Q}}, "search_after": cursor}
        _same(_hits(searcher, req),
              searcher.topk(Q, 10, round_to=4,
                            search_after=tuple(cursor)))

    def test_sort_by_field(self, searcher):
        req = {"sort": [{"n_chars": {"order": "desc"}}], "size": 10}
        _same(_hits(searcher, req), searcher.sorted_topk("n_chars", 10))

    def test_collapse(self, searcher):
        req = {"query": {"match": {"text": Q}},
               "collapse": {"field": "source"}, "size": 8}
        _same(_hits(searcher, req),
              _aggs.collapse_topk(searcher, Q, "source", 8, round_to=4))

    def test_rescore(self, searcher, phrase):
        req = {"query": {"match": {"text": Q}},
               "rescore": {"window_size": 50, "query": {
                   "rescore_query": {"match_phrase": {
                       "text": "table hash"}},
                   "rescore_query_weight": 2.0}}}
        _same(_hits(searcher, req, phrase=phrase),
              rescore_topk(searcher, phrase, Q, "table hash", 10,
                           window_size=50, rescore_query_weight=2.0,
                           round_to=4))

    def test_suggest(self, searcher):
        req = {"size": 0, "suggest": {
            "fix": {"text": "spark qeury", "term": {"field": "text"}},
            "did_you_mean": {"text": "spark qeury",
                             "phrase": {"field": "text"}}}}
        out = dsl.search(searcher, req)
        _same(out["suggest"]["fix"], searcher.suggest_terms("spark qeury"))
        _same(out["suggest"]["did_you_mean"],
              searcher.suggest_phrases("spark qeury"))


class TestAggs:
    """query + aggs composed in ONE request — the composition the
    dedicated entry points never exercised."""

    def test_terms_and_stats_with_query(self, searcher):
        req = {"query": {"match": {"text": Q}}, "size": 5, "aggs": {
            "by_source": {"terms": {"field": "source", "size": 5}},
            "chars": {"stats": {"field": "n_chars"}},
        }}
        out = dsl.search(searcher, req)
        assert out["hits"].count() == 5
        hits = searcher.matching_doc_ids(Q)
        attrs = searcher.cat.read(ib.DOC_ATTRS_TABLE)
        want_terms = (attrs.select("doc_id", "source").join(hits, "doc_id")
                      .groupBy("source").agg(F.count("*").alias("n_docs"))
                      .orderBy(F.desc("n_docs"), F.asc("source")).limit(5))
        _same(out["aggs"]["by_source"], want_terms)
        stats = out["aggs"]["chars"].collect()[0]
        want = (attrs.select("doc_id", "n_chars").join(hits, "doc_id")
                .agg(F.count("*").alias("c"), F.min("n_chars").alias("mn"),
                     F.max("n_chars").alias("mx"),
                     F.sum("n_chars").alias("s")).collect()[0])
        assert (stats["count"], stats["min"], stats["max"],
                stats["sum"]) == tuple(want)

    @pytest.mark.parametrize("name,spec,direct", [
        ("histogram", {"histogram": {"field": "n_chars", "interval": 100}},
         lambda s: _aggs.histogram_agg(s, Q, "n_chars", 100)),
        ("range", {"range": {"field": "n_chars", "ranges": [
            {"key": "small", "to": 150.0},
            {"key": "big", "from": 150.0}]}},
         lambda s: _aggs.range_agg(s, Q, "n_chars",
                                   [("small", None, 150.0),
                                    ("big", 150.0, None)])),
        ("missing", {"missing": {"field": "tag"}},
         lambda s: _aggs.missing_agg(s, Q, "tag")),
        ("rare_terms", {"rare_terms": {"field": "source",
                                       "max_doc_count": 2}},
         lambda s: _aggs.rare_terms(s, Q, "source", 2)),
        ("extended_stats", {"extended_stats": {"field": "n_chars"}},
         lambda s: _aggs.extended_stats(s, Q, "n_chars")),
        ("string_stats", {"string_stats": {"field": "source"}},
         lambda s: _aggs.string_stats(s, Q, "source")),
        ("percentile_ranks", {"percentile_ranks": {
            "field": "n_chars", "values": [100.0, 300.0]}},
         lambda s: _aggs.percentile_ranks(s, Q, "n_chars",
                                          [100.0, 300.0])),
        ("multi_terms", {"multi_terms": {
            "terms": [{"field": "source"}, {"field": "lang"}],
            "size": 6}},
         lambda s: _aggs.multi_terms_agg(s, Q, ["source", "lang"], 6)),
        ("top_metrics", {"top_metrics": {
            "metrics": [{"field": "lang"}],
            "sort": {"n_chars": "desc"}, "size": 3}},
         lambda s: _aggs.top_metrics(s, Q, "n_chars", ["lang"], 3)),
        ("weighted_avg", {"weighted_avg": {
            "value": {"field": "n_chars"},
            "weight": {"field": "lat"}}},
         lambda s: _aggs.weighted_avg(s, Q, "n_chars", "lat",
                                      weight_cols=("lat",))),
        ("significant_terms", {"significant_terms": {"size": 5}},
         lambda s: significant.significant_terms(s, Q, 5)),
        ("significant_text", {"significant_text": {
            "field": "text", "size": 5, "sample_size": 40,
            "filter_duplicate_text": True}},
         lambda s: significant.significant_text(
             s, Q, 5, sample_size=40, filter_duplicate_text=True)),
        ("composite", {"composite": {
            "sources": [{"source": {}}, {"lang": {}}], "size": 7,
            "after": ["src12", "es"]}},
         lambda s: _aggs.composite_agg(s, Q, ["source", "lang"], 7,
                                       after=("src12", "es"))),
        ("sampler", {"sampler": {
            "shard_size": 40, "aggs": {"terms": {"field": "lang"}}}},
         lambda s: _aggs.sampler_terms(s, Q, "lang", shard_size=40)),
        ("geotile_grid", {"geotile_grid": {"precision": 3}},
         lambda s: _aggs.geotile_grid_agg(s, Q, 3)),
        ("geohash_grid", {"geohash_grid": {"precision": 3}},
         lambda s: geo_grid.geohash_grid_agg(s, Q, 3)),
        ("cardinality", {"cardinality": {"field": "source"}}, None),
        ("value_count", {"value_count": {"field": "tag"}}, None),
        ("filters", {"filters": {"filters": {
            "short": [{"range": {"n_chars": {"lt": 150}}}],
            "es": [{"term": {"lang": "es"}}]}}},
         lambda s: _aggs.filters_agg(s, Q, {
             "short": {"n_chars": {"lt": 150}}, "es": {"lang": "es"}})),
        ("adjacency_matrix", {"adjacency_matrix": {"filters": {
            "a": [{"term": {"lang": "es"}}],
            "b": [{"range": {"n_chars": {"gte": 150}}}]}}},
         lambda s: _aggs.adjacency_matrix_agg(s, Q, {
             "a": {"lang": "es"}, "b": {"n_chars": {"gte": 150}}})),
        ("geo_distance", {"geo_distance": {
            "origin": {"lat": 0.0, "lon": 0.0},
            "ranges": [{"to": 5000.0}, {"from": 5000.0, "to": 10000.0},
                       {"from": 10000.0}]}},
         lambda s: _aggs.geo_distance_agg(s, Q, 0.0, 0.0,
                                          [5000.0, 10000.0])),
        ("percentiles", {"percentiles": {"field": "n_chars",
                                         "percents": [50, 95]}}, None),
    ])
    def test_every_agg_reachable(self, searcher, name, spec, direct):
        out = dsl.search(searcher, {
            "query": {"match": {"text": Q}}, "aggs": {name: spec}})
        df = out["aggs"][name]
        if direct is not None:
            _same(df, direct(searcher))
        else:
            assert df.count() >= 1  # scalar aggs: shape checked below

    def test_terms_order_variants(self, searcher):
        base = dsl.search(searcher, {
            "query": {"match": {"text": Q}},
            "aggs": {"t": {"terms": {"field": "source", "size": 1000}}},
        })["aggs"]["t"].collect()
        counts = {r["source"]: r["n_docs"] for r in base}
        by_key = dsl.search(searcher, {
            "query": {"match": {"text": Q}},
            "aggs": {"t": {"terms": {"field": "source", "size": 3,
                                     "order": {"_key": "asc"}}}},
        })["aggs"]["t"].collect()
        assert [r["source"] for r in by_key] == sorted(counts)[:3]
        rare = dsl.search(searcher, {
            "query": {"match": {"text": Q}},
            "aggs": {"t": {"terms": {"field": "source", "size": 3,
                                     "order": {"_count": "asc"}}}},
        })["aggs"]["t"].collect()
        want = sorted(counts.items(), key=lambda t: (t[1], t[0]))[:3]
        assert [(r["source"], r["n_docs"]) for r in rare] == want

    def test_terms_sub_aggs(self, searcher):
        # ES's bread-and-butter nesting: per-bucket metrics beside the
        # bucket count, bucket selection/order unchanged
        out = dsl.search(searcher, {
            "query": {"match": {"text": Q}},
            "aggs": {"by_src": {
                "terms": {"field": "source", "size": 5},
                "aggs": {"avg_len": {"avg": {"field": "n_chars"}},
                         "max_len": {"max": {"field": "n_chars"}},
                         "n_tags": {"value_count": {"field": "tag"}}},
            }}})["aggs"]["by_src"]
        rows = out.collect()
        assert set(rows[0].asDict()) == {
            "source", "n_docs", "avg_len", "max_len", "n_tags"}
        plain = dsl.search(searcher, {
            "query": {"match": {"text": Q}},
            "aggs": {"t": {"terms": {"field": "source", "size": 5}}},
        })["aggs"]["t"].collect()
        assert [(r["source"], r["n_docs"]) for r in rows] == \
            [(r["source"], r["n_docs"]) for r in plain]
        # recompute one bucket's metrics from the raw hit set
        hits = searcher.matching_doc_ids(Q)
        attrs = searcher.cat.read(ib.DOC_ATTRS_TABLE)
        j = attrs.join(hits, "doc_id").where(
            F.col("source") == rows[0]["source"])
        want_max = j.agg(F.max("n_chars")).collect()[0][0]
        want_cnt = j.where(F.col("tag").isNotNull()).count()
        assert rows[0]["max_len"] == want_max
        assert rows[0]["n_tags"] == want_cnt

    def test_terms_nested_terms(self, searcher):
        out = dsl.search(searcher, {
            "query": {"match": {"text": Q}},
            "aggs": {"x": {"terms": {"field": "source", "size": 3},
                           "aggs": {"inner": {"terms": {
                               "field": "lang", "size": 2}}}}},
        })["aggs"]["x"].collect()
        # outer buckets = the plain terms top-3; ≤2 inner rows each,
        # count-desc within the bucket
        plain = dsl.search(searcher, {
            "query": {"match": {"text": Q}},
            "aggs": {"t": {"terms": {"field": "source", "size": 3}}},
        })["aggs"]["t"].collect()
        outer_want = {r["source"] for r in plain}
        by_outer: dict = {}
        for r in out:
            by_outer.setdefault(r["source"], []).append(r["n_docs"])
        assert set(by_outer) == outer_want
        for counts in by_outer.values():
            assert 1 <= len(counts) <= 2
            assert counts == sorted(counts, reverse=True)

    def test_terms_nested_strict(self, searcher):
        with pytest.raises(ValueError, match="cannot mix"):
            dsl.search(searcher, {
                "query": {"match": {"text": Q}},
                "aggs": {"x": {"terms": {"field": "source"},
                               "aggs": {
                                   "a": {"terms": {"field": "lang"}},
                                   "b": {"max": {"field": "n_chars"}},
                               }}}})
        with pytest.raises(ValueError, match="distinct"):
            dsl.search(searcher, {
                "query": {"match": {"text": Q}},
                "aggs": {"x": {"terms": {"field": "source"},
                               "aggs": {"a": {"terms": {
                                   "field": "source"}}}}}})

    def test_sub_aggs_only_under_terms(self, searcher):
        with pytest.raises(ValueError, match="sub-aggregations"):
            dsl.search(searcher, {
                "query": {"match": {"text": Q}},
                "aggs": {"x": {"stats": {"field": "n_chars"},
                               "aggs": {"m": {"max": {
                                   "field": "n_chars"}}}}}})

    def test_sub_aggs_unknown_kind(self, searcher):
        with pytest.raises(ValueError, match="sub-agg"):
            dsl.search(searcher, {
                "query": {"match": {"text": Q}},
                "aggs": {"x": {"terms": {"field": "source"},
                               "aggs": {"m": {"percentiles": {
                                   "field": "n_chars"}}}}}})

    def test_terms_order_strict(self, searcher):
        with pytest.raises(ValueError, match="_count\\|_key"):
            dsl.search(searcher, {
                "query": {"match": {"text": Q}},
                "aggs": {"t": {"terms": {"field": "source",
                                         "order": {"_max": "asc"}}}}})

    def test_cardinality_and_value_count_values(self, searcher):
        out = dsl.search(searcher, {
            "query": {"match": {"text": Q}},
            "aggs": {"c": {"cardinality": {"field": "source"}},
                     "v": {"value_count": {"field": "tag"}}}})
        hits = searcher.matching_doc_ids(Q)
        attrs = searcher.cat.read(ib.DOC_ATTRS_TABLE)
        j = attrs.join(hits, "doc_id")
        assert out["aggs"]["c"].collect()[0]["cardinality"] == \
            j.select("source").distinct().count()
        assert out["aggs"]["v"].collect()[0]["value_count"] == \
            j.where(F.col("tag").isNotNull()).count()


class TestIdsAndPinned:
    def test_ids_equals_constant_score(self, searcher):
        got = _hits(searcher, {"query": {"ids": {
            "values": [5, 42, 313, 999999]}}})
        want = searcher.constant_score({"doc_id": [5, 42, 313, 999999]},
                                       10)
        assert _same(got, want)
        assert {r["doc_id"] for r in got.collect()} == {5, 42, 313}

    def test_pinned_order_and_exclusion(self, searcher):
        rows = _hits(searcher, {"query": {"pinned": {
            "ids": [442, 7, 999999],
            "organic": {"match": {"text": Q}}}}}).collect()
        # both existing pins lead, in list order; the missing pin is
        # skipped; organic never re-lists a pin
        assert [r["doc_id"] for r in rows[:2]] == [442, 7]
        assert rows[0]["score"] > rows[1]["score"] > rows[2]["score"]
        assert len([r for r in rows if r["doc_id"] in (442, 7)]) == 2
        assert len(rows) == 10
        assert [r["rank"] for r in rows] == list(range(1, 11))

    def test_pinned_organic_tail_matches_match(self, searcher):
        pinned = _hits(searcher, {"query": {"pinned": {
            "ids": [442], "organic": {"match": {"text": Q}}}}}).collect()
        organic = _hits(searcher, {"query": {"match": {"text": Q}},
                                   "size": 10}).collect()
        want = [r["doc_id"] for r in organic if r["doc_id"] != 442][:9]
        assert [r["doc_id"] for r in pinned[1:]] == want

    def test_ids_empty_rejected(self, searcher):
        with pytest.raises(ValueError, match="≥1 value"):
            _hits(searcher, {"query": {"ids": {"values": []}}})

    def test_pinned_dup_rejected(self, searcher):
        with pytest.raises(ValueError, match="unique"):
            _hits(searcher, {"query": {"pinned": {
                "ids": [3, 3], "organic": {"match": {"text": Q}}}}})


class TestGeoBox:
    def test_box_equals_range_filters(self, searcher):
        # geo_bounding_box compiles onto EXACTLY the lat/lon range spec
        got = _hits(searcher, {"query": {"bool": {
            "must": {"match": {"text": Q}},
            "filter": [{"geo_bounding_box": {"location": {
                "top_left": {"lat": 40.0, "lon": -50.0},
                "bottom_right": {"lat": -40.0, "lon": 50.0}}}}]}}})
        want = _hits(searcher, {"query": {"bool": {
            "must": {"match": {"text": Q}},
            "filter": [
                {"range": {"lat": {"gte": -40.0, "lte": 40.0}}},
                {"range": {"lon": {"gte": -50.0, "lte": 50.0}}}]}}})
        assert _same(got, want)

    def test_box_actually_filters(self, searcher):
        got = _hits(searcher, {"query": {"bool": {
            "must": {"match": {"text": Q}},
            "filter": [{"geo_bounding_box": {"location": {
                "top_left": {"lat": 40.0, "lon": -50.0},
                "bottom_right": {"lat": -40.0, "lon": 50.0}}}}]}}})
        attrs = searcher.cat.read(ib.DOC_ATTRS_TABLE)
        checked = got.join(attrs, "doc_id").where(
            (F.col("lat") < -40) | (F.col("lat") > 40)
            | (F.col("lon") < -50) | (F.col("lon") > 50))
        assert got.count() >= 1 and checked.count() == 0


class TestKnn:
    def _emb(self, spark):
        return spark.read.parquet(f"{SF}/embeddings.parquet")

    def test_knn_equals_brute_force(self, spark, searcher):
        from search_ingest_spark.ops import similarity
        qv = [1.0] + [0.0] * 63
        out = dsl.search(searcher, {
            "knn": {"field": "embedding", "query_vector": qv,
                    "k": 10, "num_candidates": 128}},
            emb=self._emb(spark))
        assert _same(out["hits"],
                     similarity.brute_force_topk(self._emb(spark), qv, 10))

    def test_knn_paged(self, spark, searcher):
        qv = [1.0] + [0.0] * 63
        out = dsl.search(searcher, {
            "knn": {"field": "embedding", "query_vector": qv,
                    "num_candidates": 128}, "from": 2, "size": 5},
            emb=self._emb(spark))
        ranks = [r["rank"] for r in out["hits"].collect()]
        assert ranks == [3, 4, 5, 6, 7]

    def test_knn_needs_emb(self, searcher):
        with pytest.raises(ValueError, match="embeddings table"):
            dsl.search(searcher, {"knn": {
                "field": "embedding", "query_vector": [1.0], "k": 3}})

    def test_knn_rejects_combination(self, spark, searcher):
        with pytest.raises(ValueError, match="cannot be combined"):
            dsl.search(searcher, {
                "aggs": {"x": {"stats": {"field": "n_chars"}}},
                "knn": {"field": "embedding", "query_vector": [1.0]}},
                emb=self._emb(spark))

    def test_knn_hybrid_fusion(self, spark, searcher):
        # ES 8 hybrid: score = lexical BM25 (if in lexical top window)
        # + (1+cos)/2 (if in kNN top-k); recompute the fusion by hand
        qv = [1.0] + [0.0] * 63
        out = dsl.search(searcher, {
            "query": {"match": {"text": Q}},
            "knn": {"field": "embedding", "query_vector": qv,
                    "k": 10, "num_candidates": 128}, "size": 10},
            emb=self._emb(spark))["hits"].collect()
        lex = {r["doc_id"]: r["score"] for r in
               searcher.topk(Q, 10, round_to=4).collect()}
        from search_ingest_spark.ops import similarity
        kn = {r["vec_id"]: (1.0 + r["cosine"]) / 2 for r in
              similarity.brute_force_topk(
                  self._emb(spark), qv, 10).collect()}
        want = sorted(
            ((round(lex.get(d, 0.0) + kn.get(d, 0.0), 4), d)
             for d in set(lex) | set(kn)),
            key=lambda t: (-t[0], t[1]))[:10]
        got = [(r["score"], r["doc_id"]) for r in out]
        assert got == want and len(got) == 10
        # fusion actually fuses: some doc carries BOTH contributions
        # or the two sides disagree on membership
        assert set(lex) != set(kn) or any(
            d in lex and d in kn for _, d in want)

    def test_knn_similarity_floor(self, spark, searcher):
        qv = [1.0] + [0.0] * 63
        full = dsl.search(searcher, {
            "knn": {"field": "embedding", "query_vector": qv, "k": 10,
                    "num_candidates": 128}},
            emb=self._emb(spark))["hits"].collect()
        floor = sorted(r["cosine"] for r in full)[len(full) // 2]
        cut = dsl.search(searcher, {
            "knn": {"field": "embedding", "query_vector": qv, "k": 10,
                    "num_candidates": 128, "similarity": floor}},
            emb=self._emb(spark))["hits"].collect()
        assert 0 < len(cut) < len(full)
        assert all(r["cosine"] >= floor for r in cut)
        assert [r["rank"] for r in cut] == list(range(1, len(cut) + 1))

    def test_knn_filtered(self, spark, searcher):
        # filter restricts CANDIDATES: top-k among label-0 vectors,
        # not a post-filter of the global top-k
        from search_ingest_spark.ops import similarity
        qv = [1.0] + [0.0] * 63
        emb = self._emb(spark)
        out = dsl.search(searcher, {
            "knn": {"field": "embedding", "query_vector": qv, "k": 5,
                    "num_candidates": 500,
                    "filter": {"term": {"label": 0}}}},
            emb=emb)["hits"]
        want = similarity.brute_force_topk(
            emb.where(F.col("label") == 0), qv, 5)
        assert _same(out, want)
        labels = {r["label"] for r in
                  out.join(emb.select("vec_id", "label"), "vec_id")
                  .collect()}
        assert labels == {0}

    def test_knn_rrf_fusion(self, spark, searcher):
        # RRF: score = 1/(c+rank_lex) + 1/(c+rank_knn) over the two
        # windows — recompute by hand
        qv = [1.0] + [0.0] * 63
        c, window = 10, 15
        out = dsl.search(searcher, {
            "query": {"match": {"text": Q}},
            "knn": {"field": "embedding", "query_vector": qv,
                    "num_candidates": 500},
            "rank": {"rrf": {"rank_constant": c,
                             "rank_window_size": window}},
            "size": 10}, emb=self._emb(spark))["hits"].collect()
        lex = {r["doc_id"]: r["rank"] for r in
               searcher.topk(Q, window, round_to=4).collect()}
        from search_ingest_spark.ops import similarity
        kn = {r["vec_id"]: r["rank"] for r in
              similarity.brute_force_topk(
                  self._emb(spark), qv, window).collect()}
        want = sorted(
            ((round((1.0 / (c + lex[d]) if d in lex else 0.0)
                    + (1.0 / (c + kn[d]) if d in kn else 0.0), 6), d)
             for d in set(lex) | set(kn)),
            key=lambda t: (-t[0], t[1]))[:10]
        assert [(r["score"], r["doc_id"]) for r in out] == want

    def test_rrf_needs_knn_and_query(self, spark, searcher):
        with pytest.raises(ValueError, match="rrf"):
            dsl.search(searcher, {
                "query": {"match": {"text": Q}},
                "rank": {"rrf": {}}})
        with pytest.raises(ValueError, match="rrf"):
            dsl.search(searcher, {
                "knn": {"field": "embedding",
                        "query_vector": [1.0] + [0.0] * 63},
                "rank": {"rrf": {}}}, emb=self._emb(spark))

    def test_rrf_window_too_small(self, spark, searcher):
        with pytest.raises(ValueError, match="rank_window_size"):
            dsl.search(searcher, {
                "query": {"match": {"text": Q}},
                "knn": {"field": "embedding",
                        "query_vector": [1.0] + [0.0] * 63},
                "rank": {"rrf": {"rank_window_size": 3}},
                "size": 10}, emb=self._emb(spark))

    def test_knn_hybrid_requires_plain_match(self, spark, searcher):
        with pytest.raises(ValueError, match="plain match"):
            dsl.search(searcher, {
                "query": {"prefix": {"text": "qu"}},
                "knn": {"field": "embedding",
                        "query_vector": [1.0] + [0.0] * 63}},
                emb=self._emb(spark))

    def test_knn_min_score_rejected(self, spark, searcher):
        with pytest.raises(ValueError, match="cannot be combined"):
            dsl.search(searcher, {
                "knn": {"field": "embedding", "query_vector": [1.0]},
                "min_score": 0.5}, emb=self._emb(spark))

    def test_knn_bad_field(self, spark, searcher):
        with pytest.raises(ValueError, match="dense-vector column"):
            dsl.search(searcher, {"knn": {
                "field": "vec", "query_vector": [1.0], "k": 3}},
                emb=self._emb(spark))


class TestStrictness:
    def test_unknown_query_type(self, searcher):
        with pytest.raises(ValueError, match="unsupported query type"):
            _hits(searcher, {"query": {"knn": {}}})

    def test_unknown_agg_type(self, searcher):
        with pytest.raises(ValueError, match="unsupported agg type"):
            dsl.search(searcher, {"query": {"match": {"text": Q}},
                                  "aggs": {"x": {"t_test": {}}}})

    def test_unknown_top_level_key(self, searcher):
        with pytest.raises(ValueError, match="unsupported request keys"):
            dsl.search(searcher, {"query": {"match": {"text": Q}},
                                  "track_total_hits": True})

    def test_unknown_match_option(self, searcher):
        with pytest.raises(ValueError, match="unsupported match options"):
            _hits(searcher, {"query": {"match": {"text": {
                "query": Q, "fuzziness": "AUTO"}}}})

    def test_significant_text_bad_field(self, searcher):
        with pytest.raises(ValueError, match="indexed text field"):
            dsl.search(searcher, {"query": {"match": {"text": Q}},
                                  "aggs": {"x": {"significant_text": {
                                      "field": "title"}}}})

    def test_unknown_filter_kind(self, searcher):
        with pytest.raises(ValueError, match="unsupported filter clause"):
            _hits(searcher, {"query": {"bool": {
                "must": {"match": {"text": Q}},
                "filter": [{"geo_shape": {"x": 1}}]}}})

    def test_aggs_need_match(self, searcher):
        with pytest.raises(ValueError, match="plain match"):
            dsl.search(searcher, {"query": {"prefix": {"text": "qu"}},
                                  "aggs": {"x": {"stats": {
                                      "field": "n_chars"}}}})

    def test_phrase_needs_phrase_searcher(self, searcher):
        with pytest.raises(ValueError, match="phrase_searcher"):
            _hits(searcher, {"query": {"match_phrase": {"text": "a b"}}})

    def test_sort_bad_order_rejected(self, searcher):
        with pytest.raises(ValueError, match="asc\\|desc"):
            _hits(searcher, {"sort": [{"n_chars": {"order": "up"}}]})

    def test_sort_asc_reachable(self, searcher):
        got = _hits(searcher, {"sort": [{"n_chars": {"order": "asc"}}],
                               "size": 5})
        want = searcher.sorted_topk("n_chars", 5, ascending=True)
        assert _same(got, want)

    def test_sort_search_after_reachable(self, searcher):
        full = _hits(searcher, {"sort": [{"n_chars": "desc"}],
                                "size": 10}).collect()
        cursor = [full[4]["n_chars"], full[4]["doc_id"]]
        page2 = _hits(searcher, {"sort": [{"n_chars": "desc"}],
                                 "size": 5,
                                 "search_after": cursor}).collect()
        assert [(r["doc_id"], r["n_chars"]) for r in page2] == \
            [(r["doc_id"], r["n_chars"]) for r in full[5:]]

    def test_geo_sort_search_after_rejected(self, searcher):
        with pytest.raises(ValueError, match="search_after"):
            _hits(searcher, {"sort": [{"_geo_distance": {
                "location": {"lat": 0, "lon": 0}}}],
                "search_after": [1.0, 3]})

    def test_source_fields_joined(self, searcher, documents_smoke):
        out = dsl.search(searcher, {
            "query": {"match": {"text": Q}}, "size": 5,
            "_source": ["lang", "source"]}, docs=documents_smoke)
        rows = out["hits"].collect()
        assert rows and set(rows[0].asDict()) == {
            "doc_id", "score", "rank", "lang", "source"}

    def test_source_false_is_plain_hits(self, searcher, documents_smoke):
        a = _hits(searcher, {"query": {"match": {"text": Q}},
                             "_source": False})
        b = _hits(searcher, {"query": {"match": {"text": Q}}})
        assert _same(a, b)

    def test_source_bad_value(self, searcher, documents_smoke):
        with pytest.raises(ValueError, match="field list"):
            dsl.search(searcher, {"query": {"match": {"text": Q}},
                                  "_source": "lang"},
                       docs=documents_smoke)

    def test_highlight_matches_direct_rule(self, searcher,
                                           documents_smoke):
        out = dsl.search(searcher, {
            "query": {"match": {"text": "data table"}}, "size": 10,
            "highlight": {"fields": {"text": {}}}},
            docs=documents_smoke)
        got = {r["doc_id"]: r["snippet"] for r in out["hits"].collect()}
        texts = {r["doc_id"]: r["text"] for r in
                 documents_smoke.select("doc_id", "text").collect()}
        assert got
        for did, snip in got.items():
            t = texts[did]
            pos = t.lower().find("data")
            start = max(0, pos - 30) if pos >= 0 else 0
            assert snip == t[start:start + 80]

    def test_highlight_strict_options(self, searcher, documents_smoke):
        with pytest.raises(ValueError, match="unsupported highlight"):
            dsl.search(searcher, {
                "query": {"match": {"text": Q}},
                "highlight": {"fields": {"text": {
                    "fragment_size": 200}}}}, docs=documents_smoke)
        with pytest.raises(ValueError, match="highlight supports"):
            dsl.search(searcher, {
                "query": {"match": {"text": Q}},
                "highlight": {"fields": {"lang": {}}}},
                docs=documents_smoke)

    def test_collapse_inner_hits(self, searcher):
        out = _hits(searcher, {
            "query": {"match": {"text": Q}},
            "collapse": {"field": "source", "inner_hits": {"size": 2}},
            "size": 4}).collect()
        plain = _hits(searcher, {
            "query": {"match": {"text": Q}},
            "collapse": {"field": "source"}, "size": 4}).collect()
        # group set and order match the plain collapse; each group's
        # inner_rank-1 row IS the group's collapse representative
        by_group: dict = {}
        for r in out:
            by_group.setdefault(r["group_rank"], []).append(r)
        assert sorted(by_group) == [1, 2, 3, 4]
        for p in plain:
            g = by_group[p["rank"]]
            assert g[0]["source"] == p["source"]
            assert g[0]["doc_id"] == p["doc_id"]
            assert g[0]["score"] == p["score"]
            assert [r["inner_rank"] for r in g] == \
                list(range(1, len(g) + 1))
            assert len(g) <= 2
            # inner hits rank by score within the group
            scores = [r["score"] for r in g]
            assert scores == sorted(scores, reverse=True)

    def test_collapse_strict_options(self, searcher):
        with pytest.raises(ValueError, match="collapse options"):
            _hits(searcher, {"query": {"match": {"text": Q}},
                             "collapse": {"field": "source",
                                          "max_concurrent_group_searches": 4}})
        with pytest.raises(ValueError, match="inner_hits options"):
            _hits(searcher, {"query": {"match": {"text": Q}},
                             "collapse": {"field": "source",
                                          "inner_hits": {"name": "x"}}})

    def test_geo_sort_nearest_first(self, searcher):
        rows = _hits(searcher, {"sort": [{"_geo_distance": {
            "location": {"lat": 0.0, "lon": 0.0}, "order": "asc",
            "unit": "km"}}], "size": 8}).collect()
        assert len(rows) == 8
        dists = [r["dist_km"] for r in rows]
        assert dists == sorted(dists)
        assert [r["rank"] for r in rows] == list(range(1, 9))
        # farthest-first is the exact reverse ordering contract
        far = _hits(searcher, {"sort": [{"_geo_distance": {
            "location": {"lat": 0.0, "lon": 0.0},
            "order": "desc"}}], "size": 3}).collect()
        assert far[0]["dist_km"] >= far[-1]["dist_km"]
        assert far[0]["dist_km"] >= dists[-1]

    def test_geo_sort_strict(self, searcher):
        with pytest.raises(ValueError, match="location"):
            _hits(searcher, {"sort": [{"_geo_distance": "asc"}]})
        with pytest.raises(ValueError, match="unit"):
            _hits(searcher, {"sort": [{"_geo_distance": {
                "location": {"lat": 0, "lon": 0}, "unit": "mi"}}]})

    def test_min_score_filters_suffix(self, searcher):
        full = _hits(searcher, {"query": {"match": {"text": Q}},
                                "size": 10}).collect()
        floor = sorted(r["score"] for r in full)[len(full) // 2]
        cut = _hits(searcher, {"query": {"match": {"text": Q}},
                               "size": 10, "min_score": floor}).collect()
        assert 0 < len(cut) < len(full)
        assert all(r["score"] >= floor for r in cut)
        assert [r["rank"] for r in cut] == list(range(1, len(cut) + 1))

    def test_min_score_needs_scored_hits(self, searcher):
        with pytest.raises(ValueError, match="scored hits"):
            _hits(searcher, {"sort": [{"n_chars": {"order": "desc"}}],
                             "min_score": 1.0})
