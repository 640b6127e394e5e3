"""Edge cases and stress shapes: pathological skew, tiny corpora, k
extremes, empty/degenerate docs, resume across changed cluster size."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from search_ingest_spark.catalog import Catalog
from search_ingest_spark.index import build as ib
from search_ingest_spark.query.bm25 import bm25_brute_force
from search_ingest_spark.query.wand import Searcher


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestSkewStress:
    def test_every_doc_contains_hot_term(self, spark, tmp_path):
        """Worst-case term skew: df(hot) == N.  Doc-range sharding must
        bound every posting run and stay rank-identical."""
        n = 2000
        rows = [(i, f"hot filler{i % 37} tok{i}") for i in range(n)]
        cat = Catalog(spark, str(tmp_path / "skew"))
        info = ib.build_index(spark, _corpus(spark, rows), cat, mode="simple",
                              docs_per_shard=128)
        post = cat.read(ib.POSTINGS_TABLE)
        hot_id = (
            cat.read(ib.TERM_DICT_TABLE).where(F.col("term") == "hot")
            .first()["term_id"]
        )
        per_shard = (
            post.where(F.col("term_id") == hot_id)
            .groupBy("shard").agg(F.sum("n_docs").alias("n")).collect()
        )
        # the hot term's postings are spread over every shard, each
        # bounded by the shard size (the salt contract, SURVEY §4.1)
        assert len(per_shard) == info.n_shards
        assert all(r["n"] <= 128 for r in per_shard)
        s = Searcher(spark, cat)
        fast = [tuple(r) for r in s.topk("hot filler3", 10).collect()]
        slow = [tuple(r) for r in bm25_brute_force(
            _corpus(spark, rows), "hot filler3", 10, mode="simple",
            deterministic_sum=True, driver_idf=True).collect()]
        assert fast == slow


class TestDegenerate:
    @pytest.fixture(scope="class")
    def tiny(self, spark, tmp_path_factory):
        rows = [
            (0, "alpha beta gamma"),
            (1, ""),                # empty doc
            (2, "alpha alpha alpha"),
            (3, "!!! ???"),         # analyzes to nothing
            (4, "beta"),
        ]
        cat = Catalog(spark, str(tmp_path_factory.mktemp("tiny")))
        ib.build_index(spark, _corpus(spark, rows), cat, mode="simple",
                       docs_per_shard=2)
        return cat, rows

    def test_k_exceeds_matches(self, spark, tiny):
        cat, rows = tiny
        out = Searcher(spark, cat).topk("gamma", 10).collect()
        assert len(out) == 1 and out[0]["doc_id"] == 0

    def test_k_one(self, spark, tiny):
        cat, rows = tiny
        out = Searcher(spark, cat).topk("alpha", 1).collect()
        slow = bm25_brute_force(_corpus(spark, rows), "alpha", 1, mode="simple",
                                deterministic_sum=True, driver_idf=True).collect()
        assert [tuple(r) for r in out] == [tuple(r) for r in slow]

    def test_empty_docs_excluded_from_stats(self, spark, tiny):
        cat, _ = tiny
        st = cat.read(ib.STATS_TABLE).first()
        assert st["n_docs"] == 3  # docs 1 and 3 have no tokens

    def test_single_doc_corpus(self, spark, tmp_path):
        cat = Catalog(spark, str(tmp_path / "one"))
        ib.build_index(spark, _corpus(spark, [(0, "only doc here")]), cat,
                       mode="simple", docs_per_shard=10)
        out = Searcher(spark, cat).topk("doc", 5).collect()
        assert len(out) == 1 and out[0]["rank"] == 1

    def test_ranked_desc_rejects_non_numeric_score_and_id(self, spark):
        from search_ingest_spark.ranking import ranked_desc

        df = spark.createDataFrame([("a", "x")], "label string, key string")
        with pytest.raises(TypeError, match="'label' is string.*'key' is string"):
            ranked_desc(df, "label", "key")


class TestResumeLayoutStability:
    def test_resume_reuses_shard_layout_despite_new_default(
        self, spark, documents_smoke, tmp_path
    ):
        """A resumed build must keep the checkpointed tokens' shard
        layout even when the docs_per_shard default would differ."""
        cat = Catalog(spark, str(tmp_path / "lay"))
        first = ib.build_index(spark, documents_smoke, cat, mode="simple",
                               docs_per_shard=7)
        # drop downstream stages; leave tokens; resume with NO explicit
        # docs_per_shard (the default would be recomputed differently)
        import json as _json
        import os as _os

        state_path = _os.path.join(cat.root, "build_state.json")
        st = _json.load(open(state_path))
        for s in list(st["stages"]):
            if s != "_layout":
                del st["stages"][s]
        _json.dump(st, open(state_path, "w"))
        for t in (ib.POSTINGS_TABLE, ib.TERM_DICT_TABLE, ib.DOC_LENS_TABLE,
                  ib.STATS_TABLE, ib.MANIFEST_TABLE):
            cat.drop(t)
        again = ib.build_index(spark, documents_smoke, cat, mode="simple")
        assert again.n_shards == first.n_shards  # layout preserved
        s = Searcher(spark, cat)
        fast = [tuple(r) for r in s.topk("data table", 10).collect()]
        slow = [tuple(r) for r in bm25_brute_force(
            documents_smoke, "data table", 10, mode="simple",
            deterministic_sum=True, driver_idf=True).collect()]
        assert fast == slow


class TestCatalogTransactions:
    """Multi-table commit semantics: all-or-nothing visibility, crash
    roll-forward from the journal, rollback cleanup."""

    def _mk(self, spark, tmp_path, name="txcat"):
        from search_ingest_spark.catalog import Catalog

        return Catalog(spark, str(tmp_path / name))

    def test_staged_writes_invisible_until_commit(self, spark, tmp_path):
        from search_ingest_spark.catalog import Catalog

        cat = self._mk(spark, tmp_path)
        cat.write("t1", spark.createDataFrame([(1,)], "v int"))
        cat.begin()
        cat.write("t1", spark.createDataFrame([(2,)], "v int"))
        cat.write("t2", spark.createDataFrame([(3,)], "v int"))
        # the writer's own reads see pending state...
        assert cat.read("t1").first()["v"] == 2
        # ...but a second reader over the same root sees the OLD state
        other = Catalog(spark, cat.root)
        assert other.read("t1").first()["v"] == 1
        assert not other.exists("t2")
        cat.commit()
        fresh = Catalog(spark, cat.root)
        assert fresh.read("t1").first()["v"] == 2
        assert fresh.read("t2").first()["v"] == 3

    def test_rollback_discards_staged_state(self, spark, tmp_path):
        from search_ingest_spark.catalog import Catalog

        cat = self._mk(spark, tmp_path)
        cat.write("t1", spark.createDataFrame([(1,)], "v int"))
        cat.begin()
        cat.write("t1", spark.createDataFrame([(2,)], "v int"))
        cat.rollback()
        assert cat.read("t1").first()["v"] == 1
        assert Catalog(spark, cat.root).read("t1").first()["v"] == 1

    def test_crash_after_journal_rolls_forward(self, spark, tmp_path, monkeypatch):
        """Crash between the journal fsync and the meta swaps: the next
        Catalog open must complete the commit (no torn multi-table
        state)."""
        import os

        from search_ingest_spark.catalog import Catalog

        cat = self._mk(spark, tmp_path)
        cat.write("t1", spark.createDataFrame([(1,)], "v int"))
        cat.begin()
        cat.write("t1", spark.createDataFrame([(2,)], "v int"))
        cat.write("t2", spark.createDataFrame([(3,)], "v int"))
        # simulate the crash: journal lands, publishes never run
        monkeypatch.setattr(Catalog, "_apply_publish",
                            lambda self, e: (_ for _ in ()).throw(
                                RuntimeError("crash")))
        with pytest.raises(RuntimeError):
            cat.commit()
        monkeypatch.undo()
        assert os.path.exists(os.path.join(cat.root, "_txn.json"))
        recovered = Catalog(spark, cat.root)  # roll-forward on open
        assert not os.path.exists(os.path.join(cat.root, "_txn.json"))
        assert recovered.read("t1").first()["v"] == 2
        assert recovered.read("t2").first()["v"] == 3
