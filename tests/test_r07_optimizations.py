"""Round-7 optimization invariants.

Each optimization that changed an operator's INTERNALS gets a focused
identity/fence test here (the round rule): the driver-side term_dict
fast path must equal the distributed aggregate, the dense_ids broadcast
fast path must equal the rank-window path, write_small_arrow's
create-with-DDL mode must round-trip through Spark reads, and the DSL
kNN driver-build fence must refuse unbounded collects with a message
naming the escape hatches.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import search_ingest_spark.index.build as ib
from search_ingest_spark.catalog import Catalog
from search_ingest_spark.index.build import build_index, dense_ids


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.01/documents.parquet")


class TestTermDictDriverPath:
    def test_driver_and_distributed_dicts_identical(
        self, spark, docs, tmp_path, monkeypatch
    ):
        # same corpus through both term_dict stages: the pyarrow
        # group_by/sort driver path (default at this size) vs the
        # distributed agg + dense_ids chain (forced via a 0 cap)
        cat_fast = Catalog(spark, str(tmp_path / "fast"))
        build_index(spark, docs, cat_fast, mode="simple", resume=False)
        monkeypatch.setattr(ib, "_TERM_DICT_DRIVER_MAX_BLOCK_ROWS", -1)
        cat_slow = Catalog(spark, str(tmp_path / "slow"))
        build_index(spark, docs, cat_slow, mode="simple", resume=False)
        fast = sorted(
            tuple(r) for r in cat_fast.read(ib.TERM_DICT_TABLE).collect()
        )
        slow = sorted(
            tuple(r) for r in cat_slow.read(ib.TERM_DICT_TABLE).collect()
        )
        assert fast == slow
        assert len(fast) > 0

    def test_stats_row_matches_doc_lens(self, spark, docs, tmp_path):
        # the Observation-derived stats row must equal a read-back agg
        cat = Catalog(spark, str(tmp_path / "st"))
        build_index(spark, docs, cat, mode="simple", resume=False)
        st = cat.read_small(ib.STATS_TABLE)[0]
        agg = cat.read(ib.DOC_LENS_TABLE).agg(
            F.count("*").alias("n"), F.sum("dl").alias("s")).first()
        assert st["n_docs"] == agg["n"]
        assert st["sum_dl"] == agg["s"]
        assert st["avgdl"] == float(agg["s"]) / float(agg["n"])


class TestDenseIdsFastPath:
    def test_fast_path_equals_window_path(self, spark, docs, monkeypatch):
        base = docs.select(
            F.concat(F.lit("u://"), F.col("doc_id")).alias("k"), "text")
        fast = sorted(
            (r["k"], r["nid"])
            for r in dense_ids(base, "k", "nid").select("k", "nid").collect()
        )
        monkeypatch.setattr(ib, "_DENSE_IDS_DRIVER_MAX", -1)
        slow = sorted(
            (r["k"], r["nid"])
            for r in dense_ids(base, "k", "nid").select("k", "nid").collect()
        )
        assert fast == slow
        ids = [i for _, i in fast]
        assert sorted(ids) == list(range(len(ids)))

    def test_duplicate_keys_fall_back(self, spark):
        # duplicate keys must still get DISTINCT dense ids (the window
        # path's row_number semantics — the fast path must not engage)
        df = spark.createDataFrame(
            [("a",), ("a",), ("b",)], "k string")
        out = dense_ids(df, "k", "nid")
        ids = sorted(r["nid"] for r in out.collect())
        assert ids == [0, 1, 2]

    def test_float_nan_key_equals_window_path(self, spark, monkeypatch):
        # a NaN key passes a set-based uniqueness check (NaN != NaN),
        # but Python's sorted() has no place for it while Spark orders
        # NaN above every number: with the size cap forced open, the
        # ids must still be the window path's
        df = spark.createDataFrame(
            [(float("nan"),), (2.5,), (-1.0,), (0.0,), (7.0,)], "k double")

        def ids():
            # str(k): NaN never equals itself, its string does
            return sorted((r["nid"], str(r["k"]))
                          for r in dense_ids(df, "k", "nid").collect())

        monkeypatch.setattr(ib, "_DENSE_IDS_DRIVER_MAX", 10**6)
        fast = ids()
        monkeypatch.setattr(ib, "_DENSE_IDS_DRIVER_MAX", -1)
        slow = ids()
        assert fast == slow
        assert slow == [(0, "-1.0"), (1, "0.0"), (2, "2.5"), (3, "7.0"),
                        (4, "nan")]


class TestWriteSmallArrowCreate:
    def test_create_with_ddl_roundtrips(self, spark, tmp_path):
        import pyarrow as pa

        cat = Catalog(spark, str(tmp_path / "c"))
        tbl = pa.table({
            "term": pa.array(["a", "b"]),
            "term_id": pa.array([0, 1], type=pa.int64()),
        })
        cat.write_small_arrow("newtab", tbl,
                              ddl="term string, term_id long")
        got = sorted(tuple(r) for r in cat.read("newtab").collect())
        assert got == [("a", 0), ("b", 1)]
        assert [f.simpleString() for f in cat.get_mapping("newtab").fields] \
            == ["term:string", "term_id:bigint"]

    def test_missing_table_without_ddl_raises(self, spark, tmp_path):
        import pyarrow as pa

        cat = Catalog(spark, str(tmp_path / "c2"))
        with pytest.raises(FileNotFoundError):
            cat.write_small_arrow("absent", pa.table({"x": [1]}))


class TestKnnBuildFence:
    def test_collect_fenced_above_cap(self, spark, monkeypatch):
        from search_ingest_spark.query import dsl as _dsl

        emb = spark.read.parquet(
            "/root/testdata/sf0.01/embeddings.parquet")
        monkeypatch.setattr(_dsl, "_KNN_BUILD_MAX_ROWS", 3)
        monkeypatch.setattr(_dsl, "_KNN_GRAPH_CACHE", {})
        with pytest.raises(ValueError, match="load_graph"):
            _dsl._knn_hits(
                {"query_vector": [1.0] + [0.0] * 63, "k": 2},
                emb, None, default_k=2)

    def test_graph_cached_per_file_set(self, spark, monkeypatch):
        from search_ingest_spark.query import dsl as _dsl

        emb = spark.read.parquet(
            "/root/testdata/sf0.01/embeddings.parquet")
        monkeypatch.setattr(_dsl, "_KNN_GRAPH_CACHE", {})
        r1 = _dsl._knn_hits({"query_vector": [1.0] + [0.0] * 63, "k": 2},
                            emb, None, default_k=2).collect()
        assert len(_dsl._KNN_GRAPH_CACHE) == 1
        cached_graph = next(iter(_dsl._KNN_GRAPH_CACHE.values()))
        r2 = _dsl._knn_hits({"query_vector": [1.0] + [0.0] * 63, "k": 2},
                            emb, None, default_k=2).collect()
        assert next(iter(_dsl._KNN_GRAPH_CACHE.values())) is cached_graph
        assert [tuple(r) for r in r1] == [tuple(r) for r in r2]

    def test_filtered_frame_gets_its_own_graph(self, spark, monkeypatch):
        # a frame filtered from the cached table reads the same files;
        # its graph must not be the whole table's
        from conftest import SF_CORRECT

        from search_ingest_spark.query import dsl as _dsl

        emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
        sub = emb.where("vec_id < 250")
        knn = {"query_vector": [1.0] + [0.0] * 63, "k": 5,
               "num_candidates": 5}
        monkeypatch.setattr(_dsl, "_KNN_GRAPH_CACHE", {})
        _dsl._knn_hits(knn, emb, None, default_k=5).collect()
        after_full = _dsl._knn_hits(knn, sub, None, default_k=5).collect()
        assert len(_dsl._KNN_GRAPH_CACHE) == 2
        monkeypatch.setattr(_dsl, "_KNN_GRAPH_CACHE", {})
        fresh = _dsl._knn_hits(knn, sub, None, default_k=5).collect()
        assert len(fresh) == 5
        assert [tuple(r) for r in after_full] == [tuple(r) for r in fresh]
