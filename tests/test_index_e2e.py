"""End-to-end index build + WAND query tests: rank-identity vs the
brute-force oracle, resumability, lineage manifest (SURVEY §5 test plan
items 2-4; north rule: rank-identical top-k, resumable from checkpoint)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from search_ingest_spark.catalog import Catalog
from search_ingest_spark.corpus import generate_pages, reference_queries
from search_ingest_spark.index import build as ib
from search_ingest_spark.query.bm25 import bm25_brute_force
from search_ingest_spark.query.wand import Searcher, shard_topk

QUERIES = ["spark query data", "customer order line", "table scan fast", "data"]


@pytest.fixture(scope="module")
def doc_index(spark, documents_correct, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("idx_docs")))
    info = ib.build_index(
        spark, documents_correct, cat, mode="simple", docs_per_shard=50,
        shard_batches=2,
    )
    return cat, info


class TestBuild:
    def test_build_info(self, doc_index):
        cat, info = doc_index
        assert info.n_docs == 500
        assert info.n_shards == 10
        assert info.n_terms > 0
        assert "doc_lens" in info.stages_run

    def test_all_tables_exist(self, doc_index):
        cat, _ = doc_index
        for t in [ib.DOC_LENS_TABLE, ib.STATS_TABLE,
                  ib.TERM_DICT_TABLE, ib.POSTINGS_TABLE, ib.MANIFEST_TABLE]:
            assert cat.exists(t), t
        # the raw token stream is deliberately NOT a committed table
        # (postings columns carry everything a splice needs)
        assert not cat.exists("tokens")

    def test_term_dict_dense_sorted_ids(self, doc_index):
        cat, info = doc_index
        td = cat.read(ib.TERM_DICT_TABLE).orderBy("term_id").collect()
        ids = [r["term_id"] for r in td]
        assert ids == list(range(len(ids)))  # dense 0..V-1
        terms = [r["term"] for r in td]
        assert terms == sorted(terms)  # id order == term order (determinism)

    def test_postings_blocks_sorted_and_bounded(self, doc_index):
        cat, _ = doc_index
        rows = cat.read(ib.POSTINGS_TABLE).collect()
        assert all(r["n_docs"] <= 128 for r in rows)
        assert all(r["first_doc_id"] <= r["last_doc_id"] for r in rows)
        # within (shard, term): blocks ordered, non-overlapping doc ranges
        by_key: dict = {}
        for r in rows:
            by_key.setdefault((r["shard"], r["term_id"]), []).append(r)
        for key, blocks in by_key.items():
            blocks.sort(key=lambda r: r["block_id"])
            for a, b in zip(blocks, blocks[1:]):
                assert a["last_doc_id"] < b["first_doc_id"], key

    def test_manifest_lineage(self, doc_index):
        cat, info = doc_index
        m = cat.read(ib.MANIFEST_TABLE).collect()
        assert len(m) == info.n_shards
        assert all(r["status"] == "complete" for r in m)
        assert all(r["rows"] > 0 and r["bytes"] > 0 for r in m)
        assert all(":" in r["input_fingerprint"] for r in m)

    def test_compression_effective(self, doc_index):
        cat, _ = doc_index
        row = cat.read(ib.POSTINGS_TABLE).agg(
            F.sum(F.length("data")).alias("bytes"), F.sum("n_docs").alias("postings")
        ).first()
        # varint blocks with dl section: well under 16 raw bytes/posting
        assert row["bytes"] / row["postings"] < 8.0


class TestRankIdentity:
    @pytest.mark.parametrize("q", QUERIES)
    def test_wand_bitwise_equals_oracle(self, spark, documents_correct, doc_index, q):
        cat, _ = doc_index
        s = Searcher(spark, cat)
        fast = [tuple(r) for r in s.topk(q, 10).collect()]
        slow = [
            tuple(r)
            for r in bm25_brute_force(
                documents_correct, q, 10, mode="simple",
                deterministic_sum=True, driver_idf=True,
            ).collect()
        ]
        assert fast == slow  # doc ids AND scores, bitwise

    def test_unknown_term_only(self, spark, doc_index):
        cat, _ = doc_index
        s = Searcher(spark, cat)
        assert s.topk("zzzzunknownterm", 10).count() == 0

    @pytest.mark.parametrize("q", ["spark query data", "data table"])
    def test_conjunctive_and_bitwise(self, spark, documents_correct, doc_index, q):
        cat, _ = doc_index
        s = Searcher(spark, cat)
        fast = [tuple(r) for r in s.topk(q, 10, match_all=True).collect()]
        slow = [
            tuple(r)
            for r in bm25_brute_force(
                documents_correct, q, 10, mode="simple",
                deterministic_sum=True, driver_idf=True, match_all=True,
            ).collect()
        ]
        assert fast == slow
        # AND results ⊆ OR results' doc set is NOT generally true for
        # top-k, but every AND hit must contain all terms — spot-check
        # via the oracle instead (driver query covers it)

    def test_conjunctive_unknown_term_empty(self, spark, doc_index):
        cat, _ = doc_index
        s = Searcher(spark, cat)
        assert s.topk("data zzzunknown", 10, match_all=True).count() == 0

    def test_mixed_known_unknown(self, spark, documents_correct, doc_index):
        cat, _ = doc_index
        s = Searcher(spark, cat)
        fast = [tuple(r) for r in s.topk("data zzzzunknown", 10).collect()]
        slow = [
            tuple(r)
            for r in bm25_brute_force(
                documents_correct, "data", 10, mode="simple",
                deterministic_sum=True, driver_idf=True,
            ).collect()
        ]
        assert fast == slow


class TestPagesCorpus:
    """Standard analyzer (accents + preserve_original) on the synthetic
    web corpus — the BASELINE input_hint shape."""

    @pytest.fixture(scope="class")
    def pages_index(self, spark, tmp_path_factory):
        pages = generate_pages(spark, 800, seed=7)
        latest = (
            pages.groupBy("url")
            .agg(F.max_by(F.struct("warc_ts", "text"), "warc_ts").alias("s"))
            .select("url", F.col("s.text").alias("text"))
        )
        docs = latest.withColumn(
            "doc_id", F.regexp_extract("url", r"(\d+)$", 1).cast("long")
        )
        cat = Catalog(spark, str(tmp_path_factory.mktemp("idx_pages")))
        ib.build_index(spark, docs, cat, mode="standard", docs_per_shard=100)
        return cat, docs

    def test_reference_query_set_rank_identical(self, spark, pages_index):
        cat, docs = pages_index
        s = Searcher(spark, cat)
        for qid, qtext, k in reference_queries(seed=7, n=8):
            fast = [tuple(r) for r in s.topk(qtext, k).collect()]
            slow = [
                tuple(r)
                for r in bm25_brute_force(
                    docs, qtext, k, mode="standard",
                    deterministic_sum=True, driver_idf=True,
                ).collect()
            ]
            assert fast == slow, (qid, qtext)

    def test_accented_query_folds_to_same_results(self, spark, pages_index):
        # "café" and "cafe" must hit the same docs (asciifolding both sides)
        cat, _ = pages_index
        s = Searcher(spark, cat)
        accented = [(r["doc_id"]) for r in s.topk("café", 10).collect()]
        folded = [(r["doc_id"]) for r in s.topk("cafe", 10).collect()]
        assert accented == folded and len(accented) > 0


class TestResume:
    def test_second_build_skips_everything(self, spark, documents_correct, tmp_path):
        cat = Catalog(spark, str(tmp_path / "idx"))
        first = ib.build_index(spark, documents_correct, cat, mode="simple",
                               docs_per_shard=100)
        again = ib.build_index(spark, documents_correct, cat, mode="simple",
                               docs_per_shard=100)
        assert again.stages_run == []
        assert set(first.stages_run) == set(again.stages_skipped)

    def test_input_change_rebuilds(self, spark, documents_correct, tmp_path):
        cat = Catalog(spark, str(tmp_path / "idx"))
        ib.build_index(spark, documents_correct, cat, mode="simple",
                       docs_per_shard=100)
        smaller = documents_correct.limit(300)
        info = ib.build_index(spark, smaller, cat, mode="simple",
                              docs_per_shard=100)
        assert "doc_lens" in info.stages_run  # fingerprint mismatch → rebuild
        assert info.n_docs == 300

    def test_interrupted_publish_resumes_incrementally(
        self, spark, documents_correct, tmp_path, monkeypatch
    ):
        """Kill the build mid-way (during postings publish) → restart →
        only the unfinished stages run, and results match a clean build."""
        cat = Catalog(spark, str(tmp_path / "idx"))
        real_write = Catalog.write
        calls = {"n": 0}

        def failing_write(self, name, df, **kw):
            if name == ib.POSTINGS_TABLE:
                raise RuntimeError("simulated crash mid-publish")
            return real_write(self, name, df, **kw)

        monkeypatch.setattr(Catalog, "write", failing_write)
        with pytest.raises(RuntimeError):
            ib.build_index(spark, documents_correct, cat, mode="simple",
                           docs_per_shard=50, shard_batches=3)
        monkeypatch.setattr(Catalog, "write", real_write)

        info = ib.build_index(spark, documents_correct, cat, mode="simple",
                              docs_per_shard=50, shard_batches=3)
        assert "doc_lens" in info.stages_skipped
        assert all(f"postings_batch_{i}" in info.stages_skipped for i in range(3))
        assert "postings" in info.stages_run

        s = Searcher(spark, cat)
        fast = [tuple(r) for r in s.topk("spark query data", 10).collect()]
        slow = [
            tuple(r)
            for r in bm25_brute_force(
                documents_correct, "spark query data", 10, mode="simple",
                deterministic_sum=True, driver_idf=True,
            ).collect()
        ]
        assert fast == slow


class TestShardKernel:
    """Pure-Python unit tests of the WAND kernel (no Spark)."""

    def test_prunes_blocks_but_stays_exact(self):
        from search_ingest_spark.index.codec import encode_block

        rng = np.random.default_rng(3)
        avgdl = 20.0
        pdf_rows = []
        truth: dict[int, float] = {}
        idf = {0: 1.5, 1: 0.4}
        for term, docs_n in [(0, 300), (1, 900)]:
            docs = np.sort(rng.choice(2000, size=docs_n, replace=False)).astype(np.int64)
            tfs = rng.integers(1, 8, size=docs_n).astype(np.int64)
            dls = rng.integers(10, 40, size=docs_n).astype(np.int64)
            for i, bi in enumerate(range(0, docs_n, 128)):
                sl = slice(bi, bi + 128)
                d, t, l = docs[sl], tfs[sl], dls[sl]
                pdf_rows.append({
                    "term_id": term, "shard": 0, "block_id": i,
                    "first_doc_id": int(d[0]), "last_doc_id": int(d[-1]),
                    "n_docs": len(d), "max_tf": int(t.max()),
                    "min_dl": int(l.min()),
                    "data": encode_block(d, t, l, int(d[0])),
                })
            for dd, tt, ll in zip(docs, tfs, dls):
                contrib = idf[term] * ((tt * 2.2) / (tt + 1.2 * (1 - 0.75 + 0.75 * ll / avgdl)))
                truth[int(dd)] = truth.get(int(dd), 0.0) + contrib
        pdf = pd.DataFrame(pdf_rows)
        out = shard_topk(pdf, idf=idf, k=10, avgdl=avgdl)
        want = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        got = list(zip(out["doc_id"], out["score"]))
        assert [g[0] for g in got] == [w[0] for w in want]
        np.testing.assert_allclose([g[1] for g in got], [w[1] for w in want], rtol=1e-12)

    def test_empty_input(self):
        out = shard_topk(pd.DataFrame({"term_id": [], "max_tf": [], "min_dl": [],
                                       "first_doc_id": [], "last_doc_id": [],
                                       "n_docs": [], "data": []}),
                         idf={}, k=10, avgdl=10.0)
        assert len(out) == 0


class TestFilteredWand:
    """Filter-context queries on the index path: each shard is scored
    with its allowed doc ids from the doc_attrs table; must be
    bitwise-identical to the brute-force
    path with the same candidate filter (whole-index stats)."""

    @pytest.fixture(scope="class")
    def attr_index(self, spark, documents_correct, tmp_path_factory):
        cat = Catalog(spark, str(tmp_path_factory.mktemp("idx_attr")))
        ib.build_index(spark, documents_correct, cat, mode="simple",
                       docs_per_shard=50, attr_cols=["lang", "source"])
        return cat

    @pytest.mark.parametrize("lang", ["fr", "es", "en"])
    def test_filtered_bitwise_equals_oracle(
        self, spark, documents_correct, attr_index, lang
    ):
        s = Searcher(spark, attr_index)
        fast = [tuple(r) for r in s.topk(
            "spark query data", 10, attr_filter={"lang": lang}
        ).collect()]
        slow = [tuple(r) for r in bm25_brute_force(
            documents_correct, "spark query data", 10, mode="simple",
            deterministic_sum=True, driver_idf=True,
            candidate_filter=documents_correct.where(
                F.col("lang") == lang).select("doc_id"),
        ).collect()]
        assert fast == slow and len(fast) > 0

    def test_two_attr_filters_conjoin(self, spark, documents_correct, attr_index):
        s = Searcher(spark, attr_index)
        fast = [tuple(r) for r in s.topk(
            "data table", 10, attr_filter={"lang": "en", "source": "src3"}
        ).collect()]
        slow = [tuple(r) for r in bm25_brute_force(
            documents_correct, "data table", 10, mode="simple",
            deterministic_sum=True, driver_idf=True,
            candidate_filter=documents_correct.where(
                (F.col("lang") == "en") & (F.col("source") == "src3")
            ).select("doc_id"),
        ).collect()]
        assert fast == slow and len(fast) > 0

    def test_no_matching_attr_is_empty(self, spark, attr_index):
        s = Searcher(spark, attr_index)
        assert s.topk("data", 10, attr_filter={"lang": "xx"}).count() == 0
