"""Index-backed full matching-set scoring (VERDICT r04 item 1).

`Searcher.all_matching_scores` is the aggregation building block that
facets / stats aggs / top_hits / has_child / has_parent ride: a pruned
postings scan + per-shard bulk decode, replacing the per-query corpus
re-tokenize (bm25.bm25_all_scores stays as the brute-force oracle).
Plus regression tests for the two bugs its construction surfaced:
dense_ids id collisions under recomputed range boundaries, and
build_index silently dropping docs whose sparse ids exceed the shard
layout.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from search_ingest_spark.catalog import Catalog
from search_ingest_spark.index import build as ib
from search_ingest_spark.query import bm25
from search_ingest_spark.query.wand import Searcher, shard_all_scores


@pytest.fixture(scope="module")
def built(spark, documents_smoke, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("allsc")))
    ib.build_index(spark, documents_smoke, cat, mode="simple",
                   docs_per_shard=50, attr_cols=["n_chars"])
    return cat


class TestAllMatchingScores:
    def test_bitwise_matches_deterministic_brute(self, spark, built,
                                                 documents_smoke):
        got = {r["doc_id"]: r["score"] for r in Searcher(spark, built)
               .all_matching_scores("spark query data").collect()}
        # brute with driver-side np.log idf + sorted-term fold = the
        # same arithmetic the kernel uses, so equality is BITWISE
        want = {r["doc_id"]: r["score"] for r in bm25.bm25_brute_force(
            documents_smoke, "spark query data", k=10**9, mode="simple",
            deterministic_sum=True, driver_idf=True).collect()}
        assert set(got) == set(want)
        assert len(got) > 100
        assert all(got[d] == want[d] for d in got)  # no tolerance

    def test_min_match_and_match_all(self, spark, built, documents_smoke):
        s = Searcher(spark, built)
        for kw_idx, kw_brute in (
            (dict(min_match=2), dict(min_should_match=2)),
            (dict(match_all=True), dict(match_all=True)),
        ):
            got = {r["doc_id"] for r in s.all_matching_scores(
                "spark query data", **kw_idx).collect()}
            want = {r["doc_id"] for r in bm25.bm25_brute_force(
                documents_smoke, "spark query data", k=10**9, mode="simple",
                **kw_brute).collect()}
            assert got == want and len(got) > 0, kw_idx

    def test_unknown_terms_empty(self, spark, built):
        s = Searcher(spark, built)
        assert s.all_matching_scores("zzzqqqxxx").count() == 0
        assert s.all_matching_scores("zzzqqqxxx data",
                                     match_all=True).count() == 0

    def test_matching_doc_ids_is_hit_set(self, spark, built,
                                         documents_smoke):
        s = Searcher(spark, built)
        got = {r["doc_id"] for r in
               s.matching_doc_ids("spark query data").collect()}
        terms = sorted(set(bm25.analyze_query("spark query data",
                                              mode="simple")))
        want = {r["doc_id"] for r in bm25.doc_terms(
            documents_smoke, mode="simple")
            .where(F.col("term").isin(terms))
            .select("doc_id").distinct().collect()}
        assert got == want

    def test_kernel_empty_frame(self):
        import pandas as pd

        out = shard_all_scores(pd.DataFrame(), idf={1: 1.0}, avgdl=2.0)
        assert len(out) == 0 and list(out.columns) == ["doc_id", "score"]


class TestAllScoresPlan:
    """The scale contract: the plan must read pruned postings, never
    re-tokenize the corpus (no MapInPandas — that is the brute path's
    tokenizer node)."""

    def _plan(self, df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    def test_plan_reads_pruned_postings(self, spark, built):
        df = Searcher(spark, built).all_matching_scores("spark query data")
        plan = self._plan(df)
        assert "PushedFilters: [In(term_id" in plan, plan
        # shard-partitioned decode kernel (r07: one MapInPandas per task
        # over hash(shard)-complete partitions, not per-group)
        assert "hashpartitioning(shard" in plan, plan
        assert "MapInPandas" in plan, plan
        # …and NO corpus tokenize: the plan's one scan reads postings
        # columns only (its ReadSchema), never the documents' text
        scans = df._jdf.queryExecution().sparkPlan().collectLeaves()
        assert scans.length() == 1, plan
        cols = set(scans.apply(0).requiredSchema().fieldNames())
        postings = {f.name for f in built.get_mapping(ib.POSTINGS_TABLE)}
        assert cols and cols <= postings, (cols, plan)

    def test_brute_oracle_still_tokenizes(self, documents_smoke):
        # sanity for the assertion above: the brute path DOES carry the
        # tokenizer node, so the two plans are genuinely distinguishable
        df = bm25.bm25_all_scores(documents_smoke, "spark query data",
                                  mode="simple")
        assert "MapInPandas" in self._plan(df)


class TestDenseIdsRegression:
    """dense_ids must be collision-free: the r5 bug assigned bucket ids
    via repartitionByRange + spark_partition_id, whose sampled
    boundaries were recomputed per job — the counts job and the rank
    job could disagree, colliding ids (13,831 rows → 13,538 distinct).
    Boundaries are now driver literals."""

    def test_sparse_keys_dense_unique(self, spark):
        # orderkey-like sparse keys, size near the observed failure
        df = spark.range(0, 14000).select(
            (F.col("id") * 4 + (F.col("id") % 3)).alias("k"))
        out = ib.dense_ids(df, "k", "rid", n_buckets=16)
        n = out.count()
        stats = out.agg(F.countDistinct("rid").alias("d"),
                        F.min("rid").alias("lo"),
                        F.max("rid").alias("hi")).first()
        assert (n, stats["d"], stats["lo"], stats["hi"]) == (
            14000, 14000, 0, 13999)

    def test_bucket_count_invariance(self, spark):
        df = spark.range(0, 3000).select((F.col("id") * 7).alias("k"))
        a = {(r["k"], r["rid"]) for r in
             ib.dense_ids(df, "k", "rid", n_buckets=4).collect()}
        b = {(r["k"], r["rid"]) for r in
             ib.dense_ids(df, "k", "rid", n_buckets=64).collect()}
        assert a == b

    def test_ids_are_key_rank(self, spark):
        keys = [9, 2, 71, 40, 3]
        df = spark.createDataFrame([(k,) for k in keys], "k long")
        got = {r["k"]: r["rid"] for r in
               ib.dense_ids(df, "k", "rid").collect()}
        assert got == {k: i for i, k in enumerate(sorted(keys))}


class TestSparseIdGuard:
    def test_build_index_rejects_sparse_ids(self, spark, tmp_path):
        docs = spark.createDataFrame(
            [(10 * i + 3, f"alpha beta w{i}") for i in range(50)],
            "doc_id long, text string")
        cat = Catalog(spark, str(tmp_path / "sparse"))
        with pytest.raises(ValueError, match="dense doc ids"):
            ib.build_index(spark, docs, cat, mode="simple")

    def test_build_index_rejects_one_based_ids(self, spark, tmp_path):
        docs = spark.createDataFrame(
            [(i + 1, f"alpha w{i}") for i in range(50)],
            "doc_id long, text string")
        cat = Catalog(spark, str(tmp_path / "onebased"))
        with pytest.raises(ValueError, match="dense doc ids"):
            ib.build_index(spark, docs, cat, mode="simple")


class TestTermsSet:
    TERMS = ["spark", "query", "data", "table"]
    MSM = "n_chars % 3 + 1"

    def _oracle(self, sql):
        import duckdb

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            "read_parquet('/root/testdata/sf0.001/documents.parquet')"
        )
        return sorted(tuple(r) for r in con.execute(sql).fetchall())

    def test_matches_oracle(self, spark, built):
        got = sorted(
            tuple(r) for r in Searcher(spark, built).terms_set_topk(
                self.TERMS, self.MSM, ["n_chars"], 10, round_to=4)
            .select("doc_id", "score", "n_matched", "rank").collect())
        want = self._oracle(bm25.terms_set_oracle_sql(
            self.TERMS, self.MSM, k=10))
        assert got == want and len(got) == 10

    def test_threshold_one_is_plain_or(self, spark, built):
        s = Searcher(spark, built)
        ts = s.terms_set_topk(self.TERMS, "1", ["n_chars"], 10**6,
                              round_to=4)
        plain = s.all_matching_scores(" ".join(self.TERMS), round_to=4)
        assert ts.count() == plain.count() > 0

    def test_per_doc_threshold_excludes(self, spark, built):
        # with threshold = number of terms, only docs matching ALL
        # terms survive — equals match_all
        s = Searcher(spark, built)
        ts = {r["doc_id"] for r in s.terms_set_topk(
            self.TERMS, str(len(self.TERMS)), ["n_chars"], 10**6)
            .collect()}
        ma = {r["doc_id"] for r in s.all_matching_scores(
            " ".join(self.TERMS), match_all=True).collect()}
        assert ts == ma
        # and the per-doc expression actually filters somebody out
        loose = s.terms_set_topk(self.TERMS, "1", ["n_chars"], 10**6)
        strict = s.terms_set_topk(self.TERMS, self.MSM, ["n_chars"], 10**6)
        assert strict.count() < loose.count()

    def test_nmatch_bounds(self, spark, built):
        rows = Searcher(spark, built).terms_set_topk(
            self.TERMS, self.MSM, ["n_chars"], 50).collect()
        assert rows
        for r in rows:
            assert 1 <= r["n_matched"] <= len(self.TERMS)

    def test_multi_token_term_rejected(self, spark, built):
        with pytest.raises(ValueError, match="single tokens"):
            Searcher(spark, built).terms_set_topk(
                ["spark", "two words"], "1", ["n_chars"], 5)
