"""geo_point filter queries, doc-store stored-fields serving, and the
completion suggester (VERDICT r02 items 5-7).

geo_distance / geo_bounding_box are filter-context predicates over
doc_attrs whose qualifying doc ids mask the WAND fan-out (reference maps
geo_point into ES, schemas.cr:211-222); doc_store is the ES
stored-fields analog (elastic.cr:224-233) served Spark-free; suggest is
a prefix scan over the term-sorted dictionary."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from search_ingest_spark.catalog import Catalog
from search_ingest_spark.index import build as ib
from search_ingest_spark.query.geo import (
    geo_bbox_filter,
    geo_distance_filter,
    haversine_km,
)
from search_ingest_spark.query.reader import LocalSearcher
from search_ingest_spark.query.wand import Searcher
from search_ingest_spark.query import bm25


def _with_geo(docs):
    return docs.withColumn(
        "lat", ((F.col("doc_id") * 7919) % 18000) / F.lit(100.0) - F.lit(90.0)
    ).withColumn(
        "lon", ((F.col("doc_id") * 104729) % 36000) / F.lit(100.0) - F.lit(180.0)
    )


@pytest.fixture(scope="module")
def rich(spark, documents_correct, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("geo_store")))
    ib.build_index(
        spark, _with_geo(documents_correct), cat, mode="simple",
        attr_cols=["lang", "source", "lat", "lon"],
        store_fields=["lang", "source", "text"],
    )
    return cat


class TestHaversine:
    def test_zero_distance(self, spark):
        df = spark.range(1).select(
            F.lit(48.8566).alias("lat"), F.lit(2.3522).alias("lon")
        )
        d = df.select(
            haversine_km("lat", "lon", 48.8566, 2.3522).alias("d")
        ).first()["d"]
        assert d == pytest.approx(0.0, abs=1e-9)

    def test_known_distance_nyc_la(self, spark):
        # JFK (40.6413, -73.7781) -> LAX (33.9416, -118.4085) ≈ 3974 km
        df = spark.range(1).select(
            F.lit(40.6413).alias("lat"), F.lit(-73.7781).alias("lon")
        )
        d = df.select(
            haversine_km("lat", "lon", 33.9416, -118.4085).alias("d")
        ).first()["d"]
        assert d == pytest.approx(3974.0, rel=0.01)

    def test_antipodal_bounded_by_pi_r(self, spark):
        df = spark.range(1).select(
            F.lit(0.0).alias("lat"), F.lit(0.0).alias("lon")
        )
        d = df.select(haversine_km("lat", "lon", 0.0, 180.0).alias("d")).first()["d"]
        assert d == pytest.approx(math.pi * 6371.0, rel=1e-6)


class TestGeoFilteredQuery:
    def test_distance_filter_matches_brute_force(self, spark, rich,
                                                 documents_correct):
        docs = _with_geo(documents_correct)
        pred = geo_distance_filter("lat", "lon", 40.0, -74.0, 5000.0)
        got = [tuple(r) for r in Searcher(spark, rich).topk(
            "table hash fast", 10, round_to=4, attr_where=pred
        ).collect()]
        want = [tuple(r) for r in bm25.bm25_brute_force(
            docs, "table hash fast", 10, mode="simple", round_to=4,
            candidate_filter=docs.where(pred).select("doc_id"),
        ).collect()]
        assert got == want
        assert len(got) > 0

    def test_bbox_filter_matches_brute_force(self, spark, rich,
                                             documents_correct):
        docs = _with_geo(documents_correct)
        pred = geo_bbox_filter("lat", "lon", -45.0, 45.0, -90.0, 90.0)
        got = [tuple(r) for r in Searcher(spark, rich).topk(
            "spark query data", 10, round_to=4, attr_where=pred
        ).collect()]
        want = [tuple(r) for r in bm25.bm25_brute_force(
            docs, "spark query data", 10, mode="simple", round_to=4,
            candidate_filter=docs.where(pred).select("doc_id"),
        ).collect()]
        assert got == want
        assert len(got) > 0

    def test_empty_region_returns_empty(self, spark, rich):
        pred = geo_bbox_filter("lat", "lon", 89.99, 90.0, 179.99, 180.0)
        assert Searcher(spark, rich).topk(
            "data", 10, attr_where=pred
        ).count() == 0


class TestDocStore:
    def test_fetch_returns_stored_fields(self, spark, rich, documents_correct):
        ls = LocalSearcher(rich)
        ids = [r["doc_id"] for r in documents_correct.select("doc_id")
               .orderBy("doc_id").limit(5).collect()]
        got = ls.fetch(ids, ["lang", "source"])
        want = {r["doc_id"]: (r["lang"], r["source"])
                for r in documents_correct.where(F.col("doc_id").isin(ids))
                .select("doc_id", "lang", "source").collect()}
        assert set(got) == set(ids)
        for d in ids:
            assert (got[d]["lang"], got[d]["source"]) == want[d]

    def test_topk_with_source_matches_spark_join(self, spark, rich,
                                                 documents_correct):
        ls = LocalSearcher(rich)
        hits = ls.topk_with_source("spark query data", 10,
                                   fields=["lang", "source"], round_to=4)
        top = bm25.bm25_brute_force(documents_correct, "spark query data", 10,
                                    mode="simple", round_to=4)
        want = {r["doc_id"]: (r["lang"], r["source"]) for r in
                top.join(documents_correct.select("doc_id", "lang", "source"),
                         "doc_id").collect()}
        assert len(hits) == 10
        for h in hits:
            assert (h["lang"], h["source"]) == want[h["doc_id"]]

    def test_fetch_missing_id_absent(self, rich):
        ls = LocalSearcher(rich)
        assert ls.fetch([10**12], ["lang"]) == {}

    def test_highlight_snippet_contains_term(self, rich):
        ls = LocalSearcher(rich)
        hits = ls.topk_with_highlight("data table", 5, round_to=4)
        assert len(hits) == 5
        # the window rule puts the first term inside the snippet when present
        assert any("data" in h["snippet"].lower() for h in hits)


class TestSuggest:
    def test_prefix_ranked_by_df(self, rich, documents_correct, spark):
        ls = LocalSearcher(rich)
        got = ls.suggest("s", 10)
        toks = documents_correct.select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("term"),
        ).distinct()
        want = [
            (r["term"], r["df"]) for r in toks.where(F.col("term").startswith("s"))
            .groupBy("term").agg(F.count("*").alias("df"))
            .orderBy(F.desc("df"), F.asc("term")).limit(10).collect()
        ]
        assert got == want
        assert len(got) > 0

    def test_no_match_and_empty_prefix(self, rich):
        ls = LocalSearcher(rich)
        assert ls.suggest("zzzz", 10) == []
        assert ls.suggest("", 10) == []

    def test_k_truncation(self, rich):
        ls = LocalSearcher(rich)
        assert len(ls.suggest("s", 2)) == 2
