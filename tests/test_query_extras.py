"""minimum_should_match, fuzzy expansion, and multi_match best_fields —
ES query-DSL parity features over the same index/oracle machinery."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from search_ingest_spark.catalog import Catalog
from search_ingest_spark.index import build as ib
from search_ingest_spark.query import bm25
from search_ingest_spark.query.wand import Searcher

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def built(spark, documents_smoke, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("qx")))
    ib.build_index(spark, documents_smoke, cat, mode="simple",
                   docs_per_shard=50, attr_cols=["lang", "source"])
    return cat


@pytest.fixture(scope="module")
def built_attrs(spark, documents_smoke, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("qx_attrs")))
    ib.build_index(spark, documents_smoke, cat, mode="simple",
                   docs_per_shard=50,
                   attr_cols=["lang", "source", "n_chars"])
    return cat


def _oracle(sql: str):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    return [tuple(r) for r in con.execute(sql).fetchall()]


class TestMinShouldMatch:
    def test_wand_matches_oracle(self, spark, built):
        got = [tuple(r) for r in Searcher(spark, built).topk(
            "spark query data table", 10, round_to=4, min_match=2
        ).collect()]
        want = _oracle(bm25.bm25_oracle_sql(
            "spark query data table", k=10, min_should_match=2))
        assert got == want
        assert len(got) > 0

    def test_wand_matches_brute_force(self, spark, built, documents_smoke):
        for m in (2, 3):
            got = [tuple(r) for r in Searcher(spark, built).topk(
                "spark query data table", 10, round_to=4, min_match=m
            ).collect()]
            want = [tuple(r) for r in bm25.bm25_brute_force(
                documents_smoke, "spark query data table", 10, mode="simple",
                round_to=4, min_should_match=m,
            ).collect()]
            assert got == want, m

    def test_min_match_one_is_plain_or(self, spark, built):
        s = Searcher(spark, built)
        a = [tuple(r) for r in s.topk("spark data", 10, round_to=4).collect()]
        b = [tuple(r) for r in s.topk("spark data", 10, round_to=4,
                                      min_match=1).collect()]
        assert a == b

    def test_min_match_above_terms_empty(self, spark, built):
        assert Searcher(spark, built).topk(
            "spark data", 10, min_match=3
        ).count() == 0

    def test_equals_match_all_at_term_count(self, spark, built):
        s = Searcher(spark, built)
        a = [tuple(r) for r in s.topk("spark query data", 10, round_to=4,
                                      match_all=True).collect()]
        b = [tuple(r) for r in s.topk("spark query data", 10, round_to=4,
                                      min_match=3).collect()]
        assert a == b


class TestFuzzy:
    def test_matches_oracle(self, spark, built):
        got = [tuple(r) for r in Searcher(spark, built).topk_fuzzy(
            "spork data", 10, fuzziness=1, round_to=4
        ).collect()]
        want = _oracle(bm25.fuzzy_oracle_sql("spork data", k=10, fuzziness=1))
        assert got == want
        assert len(got) > 0

    def test_expansion_includes_exact_term(self, spark, built):
        idf = Searcher(spark, built).plan_fuzzy("spark", fuzziness=1)
        exact = Searcher(spark, built).plan("spark")
        assert set(exact) <= set(idf)

    def test_fuzziness_zero_is_exact(self, spark, built):
        s = Searcher(spark, built)
        a = [tuple(r) for r in s.topk("spark data", 10, round_to=4).collect()]
        b = [tuple(r) for r in s.topk_fuzzy("spark data", 10, fuzziness=0,
                                            round_to=4).collect()]
        assert a == b

    def test_garbage_term_no_expansion(self, spark, built):
        assert Searcher(spark, built).topk_fuzzy(
            "xqzvwy", 10, fuzziness=1
        ).count() == 0


class TestMultiMatch:
    FIELDS = [("substring(text, 1, 60)", 2.0), ("text", 1.0)]

    def test_matches_oracle(self, spark, documents_smoke):
        got = [tuple(r) for r in bm25.multi_match_best_fields(
            documents_smoke, "spark query data", self.FIELDS, 10,
            mode="simple", round_to=4,
        ).collect()]
        want = _oracle(bm25.multi_match_oracle_sql(
            "spark query data", self.FIELDS, k=10))
        assert got == want
        assert len(got) == 10

    def test_single_field_boost1_equals_plain(self, spark, documents_smoke):
        got = [tuple(r) for r in bm25.multi_match_best_fields(
            documents_smoke, "spark query data", [("text", 1.0)], 10,
            mode="simple", round_to=4,
        ).collect()]
        want = [tuple(r) for r in bm25.bm25_brute_force(
            documents_smoke, "spark query data", 10, mode="simple",
            round_to=4,
        ).collect()]
        assert got == want

    def test_score_is_max_of_fields(self, spark, documents_smoke):
        # with boost 2x on a strict substring field, every combined score
        # is >= the plain body score for the same doc
        combined = {r["doc_id"]: r["score"] for r in
                    bm25.multi_match_best_fields(
                        documents_smoke, "spark query data", self.FIELDS, 10,
                        mode="simple", round_to=4).collect()}
        body = {r["doc_id"]: r["score"] for r in bm25.bm25_brute_force(
            documents_smoke, "spark query data", 50, mode="simple",
            round_to=4).collect()}
        for d, s in combined.items():
            if d in body:
                assert s >= body[d] - 1e-9


class TestMustNot:
    """ES bool must_not: docs containing any excluded term are dropped
    from the candidates; corpus statistics stay untouched."""

    def test_wand_matches_oracle(self, spark, built):
        got = [tuple(r) for r in Searcher(spark, built).topk(
            "spark query data", 10, round_to=4,
            exclude_text="customer table",
        ).collect()]
        want = _oracle(bm25.bm25_oracle_sql(
            "spark query data", k=10, exclude_text="customer table"))
        assert got == want
        assert len(got) > 0

    def test_wand_matches_brute_force(self, spark, built, documents_smoke):
        got = [tuple(r) for r in Searcher(spark, built).topk(
            "spark query data", 10, round_to=4, exclude_text="customer",
        ).collect()]
        want = [tuple(r) for r in bm25.bm25_brute_force(
            documents_smoke, "spark query data", 10, mode="simple",
            round_to=4, exclude_text="customer",
        ).collect()]
        assert got == want

    def test_excluded_docs_absent(self, spark, built, documents_smoke):
        hits = Searcher(spark, built).topk(
            "spark query data", 50, round_to=4, exclude_text="customer",
        ).collect()
        with_term = {
            r["doc_id"]
            for r in documents_smoke.where(
                F.lower("text").rlike("(^|[^a-z0-9])customer([^a-z0-9]|$)")
            ).collect()
        }
        assert with_term, "test term must exist in the corpus"
        assert not ({r["doc_id"] for r in hits} & with_term)

    def test_unknown_excluded_term_is_noop(self, spark, built):
        s = Searcher(spark, built)
        a = [tuple(r) for r in s.topk("spark data", 10, round_to=4).collect()]
        b = [tuple(r) for r in s.topk(
            "spark data", 10, round_to=4, exclude_text="zzzznotaterm",
        ).collect()]
        assert a == b

    def test_exclude_own_term_under_and_is_empty(self, spark, built):
        out = Searcher(spark, built).topk(
            "spark data", 10, round_to=4, match_all=True,
            exclude_text="spark",
        ).collect()
        assert out == []

    def test_compose_with_attr_filter(self, spark, built):
        # must_not + filter context on the filtered fan-out
        got = [tuple(r) for r in Searcher(spark, built).topk(
            "table hash fast", 10, round_to=4,
            attr_filter={"lang": "es"}, exclude_text="customer",
        ).collect()]
        want = _oracle(bm25.bm25_oracle_sql(
            "table hash fast", k=10, filter_where="lang = 'es'",
            exclude_text="customer"))
        assert got == want

    def test_local_searcher_bitwise_parity(self, spark, built):
        from search_ingest_spark.query.reader import LocalSearcher

        s = Searcher(spark, built)
        ls = LocalSearcher(built)
        for q, ex in [("spark query data", "customer table"),
                      ("table hash fast", "customer"),
                      ("spark data", "zzzznotaterm")]:
            want = [tuple(r) for r in s.topk(
                q, 10, round_to=4, exclude_text=ex).collect()]
            got = ls.topk(q, 10, round_to=4, exclude_text=ex)
            assert got == want, (q, ex)


class TestSearchAfter:
    """ES search_after: stateless (score, doc_id) cursor; pages tile the
    full ranking exactly."""

    def test_two_pages_equal_top20(self, spark, built):
        s = Searcher(spark, built)
        q = "spark query data"
        top20 = [tuple(r) for r in s.topk(q, 20, round_to=4).collect()]
        page1 = [tuple(r) for r in s.topk(q, 10, round_to=4).collect()]
        last = page1[-1]
        page2 = [tuple(r) for r in s.topk(
            q, 10, round_to=4, search_after=(last[1], last[0])
        ).collect()]
        # page2 ranks restart at 1; compare (doc_id, score) tiling
        assert [(d, sc) for d, sc, _ in page1 + page2] \
            == [(d, sc) for d, sc, _ in top20]

    def test_matches_brute_force(self, spark, built, documents_smoke):
        q = "spark query data"
        s = Searcher(spark, built)
        page1 = s.topk(q, 10, round_to=4).collect()
        cur = (float(page1[-1]["score"]), int(page1[-1]["doc_id"]))
        got = [tuple(r) for r in s.topk(
            q, 10, round_to=4, search_after=cur).collect()]
        want = [tuple(r) for r in bm25.bm25_brute_force(
            documents_smoke, q, 10, mode="simple", round_to=4,
            search_after=cur).collect()]
        assert got == want

    def test_cursor_below_all_scores_is_empty(self, spark, built):
        out = Searcher(spark, built).topk(
            "spark query data", 10, round_to=4, search_after=(-1.0, 0)
        ).collect()
        assert out == []

    def test_walk_entire_ranking_no_dup_no_gap(self, spark, built):
        s = Searcher(spark, built)
        q = "customer window"
        everything = [tuple(r) for r in s.topk(q, 100000, round_to=4).collect()]
        walked, cur = [], None
        while True:
            page = s.topk(q, 37, round_to=4, search_after=cur).collect()
            if not page:
                break
            walked.extend((r["doc_id"], r["score"]) for r in page)
            cur = (float(page[-1]["score"]), int(page[-1]["doc_id"]))
        assert walked == [(d, sc) for d, sc, _ in everything]


class TestTermsFilter:
    def test_list_is_union_of_scalars(self, spark, built):
        s = Searcher(spark, built)
        q = "table hash fast"
        both = {r["doc_id"] for r in s.topk(
            q, 1000, round_to=4, attr_filter={"lang": ["es", "fr"]}
        ).collect()}
        es = {r["doc_id"] for r in s.topk(
            q, 1000, round_to=4, attr_filter={"lang": "es"}).collect()}
        fr = {r["doc_id"] for r in s.topk(
            q, 1000, round_to=4, attr_filter={"lang": "fr"}).collect()}
        assert both == es | fr
        assert es and fr

    def test_serving_path_terms_filter(self, spark, built):
        from search_ingest_spark.query.reader import LocalSearcher

        s = Searcher(spark, built)
        ls = LocalSearcher(built)
        want = [tuple(r) for r in s.topk(
            "table hash fast", 10, round_to=4,
            attr_filter={"lang": ["es", "fr"]}).collect()]
        got = ls.topk("table hash fast", 10, round_to=4,
                      attr_filter={"lang": ["es", "fr"]})
        assert got == want


class TestPrefix:
    def test_matches_oracle(self, spark, built):
        got = [tuple(r) for r in Searcher(spark, built).topk_prefix(
            "da", 10, max_expansions=5, round_to=4).collect()]
        want = _oracle(bm25.prefix_oracle_sql("da", k=10, max_expansions=5))
        assert got == want
        assert len(got) > 0

    def test_single_term_prefix_equals_plain_query(self, spark, built):
        s = Searcher(spark, built)
        # a prefix that expands to exactly one vocabulary term scores
        # identically to the plain match query for that term
        idf = s.plan_prefix("customer", max_expansions=50)
        assert len(idf) >= 1
        if len(idf) == 1:
            a = [tuple(r) for r in s.topk_prefix(
                "customer", 10, round_to=4).collect()]
            b = [tuple(r) for r in s.topk(
                "customer", 10, round_to=4).collect()]
            assert a == b

    def test_no_match_prefix_empty(self, spark, built):
        assert Searcher(spark, built).topk_prefix(
            "zzzzqx", 10).count() == 0

    def test_expansion_cap_deterministic(self, spark, built):
        s = Searcher(spark, built)
        a = s.plan_prefix("c", max_expansions=7)
        b = s.plan_prefix("c", max_expansions=7)
        assert a == b and len(a) <= 7

    def test_serving_path_prefix_parity(self, spark, built):
        from search_ingest_spark.query.reader import LocalSearcher

        want = [tuple(r) for r in Searcher(spark, built).topk_prefix(
            "da", 10, max_expansions=5, round_to=4).collect()]
        got = LocalSearcher(built).topk_prefix(
            "da", 10, max_expansions=5, round_to=4)
        assert got == want
        assert len(got) > 0


class TestRandomizedEquivalence:
    """Seeded random corpora (short docs, tiny vocab → heavy score ties)
    stress the must_not ban sets and search_after cursor against the
    brute-force oracle path."""

    @pytest.mark.parametrize("seed", [3, 11])
    def test_wand_equals_brute_on_random_corpus(self, spark, tmp_path, seed):
        import random

        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(30)]
        rows = [
            (i, " ".join(rng.choices(vocab, k=rng.randint(0, 40))))
            for i in range(300)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        cat = Catalog(spark, str(tmp_path / f"r{seed}"))
        ib.build_index(spark, docs, cat, mode="simple", docs_per_shard=37)
        s = Searcher(spark, cat)
        for trial in range(4):
            q = " ".join(rng.sample(vocab, rng.randint(1, 4)))
            ex = " ".join(rng.sample(vocab, rng.randint(1, 2)))
            got = [tuple(r) for r in s.topk(
                q, 15, round_to=4, exclude_text=ex).collect()]
            want = [tuple(r) for r in bm25.bm25_brute_force(
                docs, q, 15, mode="simple", round_to=4,
                exclude_text=ex).collect()]
            assert got == want, (seed, trial, q, ex)
            page1 = s.topk(q, 7, round_to=4).collect()
            if page1:
                cur = (float(page1[-1]["score"]), int(page1[-1]["doc_id"]))
                g2 = [tuple(r) for r in s.topk(
                    q, 7, round_to=4, search_after=cur).collect()]
                w2 = [tuple(r) for r in bm25.bm25_brute_force(
                    docs, q, 7, mode="simple", round_to=4,
                    search_after=cur).collect()]
                assert g2 == w2, (seed, trial, q)


class TestRandomizedBoolEquivalence:
    """Seeded random corpora stress the composed bool query: the Spark
    kernel path and the Spark-free serving path must agree bitwise for
    random must/should/must_not combinations (heavy ties, empty-clause
    edge cases)."""

    @pytest.mark.parametrize("seed", [5, 17])
    def test_bool_spark_serving_parity(self, spark, tmp_path, seed):
        import random

        from search_ingest_spark.query.reader import LocalSearcher

        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(24)]
        rows = [
            (i, " ".join(rng.choices(vocab, k=rng.randint(0, 30))))
            for i in range(250)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        cat = Catalog(spark, str(tmp_path / f"b{seed}"))
        ib.build_index(spark, docs, cat, mode="simple", docs_per_shard=31)
        s = Searcher(spark, cat)
        ls = LocalSearcher(cat)
        for trial in range(5):
            must = (" ".join(rng.sample(vocab, rng.randint(1, 2)))
                    if rng.random() < 0.7 else None)
            should = (" ".join(rng.sample(vocab, rng.randint(1, 3)))
                      if must is None or rng.random() < 0.8 else None)
            must_not = (" ".join(rng.sample(vocab, 1))
                        if rng.random() < 0.5 else None)
            msm = (rng.randint(1, 2)
                   if should and rng.random() < 0.5 else None)
            kw = dict(must=must, should=should, must_not=must_not,
                      minimum_should_match=msm, k=12, round_to=4)
            want = [tuple(r) for r in s.bool_topk(**kw).collect()]
            got = ls.bool_topk(**kw)
            assert got == want, (seed, trial, kw)


class TestRegexpPrunePrefix:
    """ADVICE r04 (high): the dictionary-range prune must not assume the
    literal-before-first-metachar prefix when alternation or a trailing
    quantifier can bypass it."""

    def test_prefix_rules(self):
        from search_ingest_spark.query.wand import regexp_prune_prefix as pp
        assert pp("abc") == "abc"          # pure literal: full prune
        assert pp("dat[ae]s?") == "dat"    # class after prefix: safe
        assert pp("abc|xyz") == ""         # alternation: no prune
        assert pp("a(b|c)d") == ""         # nested alternation: no prune
        assert pp("ab?c") == "a"           # optional prefix char: shrink
        assert pp("ab*") == "a"            # star on prefix char: shrink
        assert pp("ab+") == "a"            # conservative shrink on +
        assert pp("ab{0,2}c") == "a"       # brace quantifier: shrink
        assert pp("x?yz") == ""            # quantifier at char 0: none
        assert pp(".*data") == ""          # leading meta: none

    def test_alternation_matches_oracle(self, spark, built):
        # old prune scanned [data, datb) and silently dropped 'spark'
        got = [tuple(r) for r in Searcher(spark, built).topk_regexp(
            "data|spark", k=10, max_expansions=8, round_to=4).collect()]
        want = _oracle(bm25.regexp_oracle_sql(
            "data|spark", k=10, max_expansions=8))
        assert got == want
        assert len(got) > 0

    def test_quantified_prefix_matches_oracle(self, spark, built):
        # old prune scanned [sparke, sparkf) and missed 'spark' itself
        got = [tuple(r) for r in Searcher(spark, built).topk_regexp(
            "sparke?", k=10, max_expansions=8, round_to=4).collect()]
        want = _oracle(bm25.regexp_oracle_sql(
            "sparke?", k=10, max_expansions=8))
        assert got == want
        assert len(got) > 0

    def test_serving_path_parity(self, spark, built):
        from search_ingest_spark.query.reader import LocalSearcher
        s = Searcher(spark, built)
        ls = LocalSearcher(built)
        for pat in ("data|spark", "sparke?", "dat[ae]s?", "ab?c"):
            want = [tuple(r) for r in
                    s.topk_regexp(pat, k=10, round_to=4).collect()]
            got = ls.topk_regexp(pat, k=10, round_to=4)
            assert got == want, pat


class TestWildcardLiteralPercent:
    """ADVICE r04 (low): oracle must treat literal '%'/'_' in a wildcard
    pattern as literals (match nothing over [a-z0-9]+ terms), mirroring
    the engine's regex-escape, not silently delete them."""

    def test_engine_and_oracle_both_empty(self, spark, built):
        got = [tuple(r) for r in Searcher(spark, built).topk_wildcard(
            "da%ta*", k=10, round_to=4).collect()]
        want = _oracle(bm25.wildcard_oracle_sql("da%ta*", k=10))
        assert got == want == []

    def test_underscore_literal_empty(self, spark, built):
        got = [tuple(r) for r in Searcher(spark, built).topk_wildcard(
            "dat_*", k=10, round_to=4).collect()]
        want = _oracle(bm25.wildcard_oracle_sql("dat_*", k=10))
        assert got == want == []

    def test_plain_wildcard_still_matches(self, spark, built):
        got = [tuple(r) for r in Searcher(spark, built).topk_wildcard(
            "dat*", k=10, round_to=4).collect()]
        want = _oracle(bm25.wildcard_oracle_sql("dat*", k=10))
        assert got == want
        assert len(got) > 0


class TestSqlLiteral:
    """ADVICE r04 (low): sql_cond literals must be real SQL, not repr()."""

    def test_quote_doubling(self):
        from search_ingest_spark.query.filters import sql_cond, sql_literal
        assert sql_literal("o'brien") == "'o''brien'"
        assert sql_cond({"source": "o'brien"}) == "source = 'o''brien'"

    def test_bool_and_null(self):
        from search_ingest_spark.query.filters import sql_literal
        assert sql_literal(True) == "TRUE"
        assert sql_literal(False) == "FALSE"
        assert sql_literal(None) == "NULL"
        assert sql_literal(3) == "3"
        assert sql_literal(2.5) == "2.5"

    def test_unsupported_type_rejected(self):
        from search_ingest_spark.query.filters import sql_literal
        with pytest.raises(ValueError):
            sql_literal(object())

    def test_quoted_string_roundtrips_in_duckdb(self):
        from search_ingest_spark.query.filters import sql_cond
        con = duckdb.connect()
        n = con.execute(
            "SELECT count(*) FROM (SELECT 'o''brien' AS source) t WHERE "
            + sql_cond({"source": "o'brien"})
        ).fetchone()[0]
        assert n == 1


class TestMultiMatchVariants:
    """most_fields + generalized dis_max tie_breaker (VERDICT r04
    item 5) — all against the DuckDB oracle, plus the algebraic
    relations between the combine modes."""

    FIELDS = [("substring(text, 1, 60)", 2.0), ("text", 1.0)]

    def test_most_fields_matches_oracle(self, spark, documents_smoke):
        got = [tuple(r) for r in bm25.multi_match(
            documents_smoke, "spark query data", self.FIELDS, 10,
            mode="simple", round_to=4, mm_type="most_fields",
        ).collect()]
        want = _oracle(bm25.multi_match_oracle_sql(
            "spark query data", self.FIELDS, k=10, mm_type="most_fields"))
        assert got == want and len(got) == 10

    def test_dis_max_matches_oracle(self, spark, documents_smoke):
        got = [tuple(r) for r in bm25.multi_match(
            documents_smoke, "spark query data", self.FIELDS, 10,
            mode="simple", round_to=4, tie_breaker=0.3,
        ).collect()]
        want = _oracle(bm25.multi_match_oracle_sql(
            "spark query data", self.FIELDS, k=10, tie_breaker=0.3))
        assert got == want and len(got) == 10

    def test_tie_breaker_zero_is_best_fields(self, spark, documents_smoke):
        a = [tuple(r) for r in bm25.multi_match(
            documents_smoke, "spark query data", self.FIELDS, 10,
            mode="simple", round_to=4, tie_breaker=0.0).collect()]
        b = [tuple(r) for r in bm25.multi_match_best_fields(
            documents_smoke, "spark query data", self.FIELDS, 10,
            mode="simple", round_to=4).collect()]
        assert a == b

    def test_tie_breaker_one_is_most_fields(self, spark, documents_smoke):
        a = [tuple(r) for r in bm25.multi_match(
            documents_smoke, "spark query data", self.FIELDS, 10,
            mode="simple", round_to=4, tie_breaker=1.0).collect()]
        b = [tuple(r) for r in bm25.multi_match(
            documents_smoke, "spark query data", self.FIELDS, 10,
            mode="simple", round_to=4, mm_type="most_fields").collect()]
        assert a == b

    def test_validation(self, spark, documents_smoke):
        import pytest as _pytest
        with _pytest.raises(ValueError, match="mm_type"):
            bm25.multi_match(documents_smoke, "x", self.FIELDS,
                             mm_type="cross_fields")
        with _pytest.raises(ValueError, match="tie_breaker"):
            bm25.multi_match(documents_smoke, "x", self.FIELDS,
                             tie_breaker=1.5)


class TestFunctionScore:
    """field_value_factor over the index path (all_matching_scores +
    doc_attrs join) vs the brute-force oracle."""

    def test_matches_oracle(self, spark, built_attrs):
        s = Searcher(spark, built_attrs)
        got = [tuple(r) for r in s.function_score_topk(
            "spark query data", "n_chars", 10, round_to=4).collect()]
        want = _oracle(bm25.function_score_oracle_sql(
            "spark query data", "n_chars", k=10))
        assert got == want and len(got) == 10

    def test_modifier_none_factor_one_requires_field(self, spark,
                                                     built_attrs):
        # score * (1.0 * n_chars): still oracle-replayable
        s = Searcher(spark, built_attrs)
        got = [tuple(r) for r in s.function_score_topk(
            "spark query data", "n_chars", 10, modifier="none",
            round_to=4).collect()]
        want = _oracle(bm25.function_score_oracle_sql(
            "spark query data", "n_chars", k=10, modifier="none"))
        assert got == want

    def test_sum_mode_matches_oracle(self, spark, built_attrs):
        s = Searcher(spark, built_attrs)
        got = [tuple(r) for r in s.function_score_topk(
            "spark query data", "n_chars", 10, boost_mode="sum",
            modifier="sqrt", factor=0.25, round_to=4).collect()]
        want = _oracle(bm25.function_score_oracle_sql(
            "spark query data", "n_chars", k=10, boost_mode="sum",
            modifier="sqrt", factor=0.25))
        assert got == want

    def test_validation(self, spark, built_attrs):
        import pytest as _pytest
        s = Searcher(spark, built_attrs)
        with _pytest.raises(ValueError, match="modifier"):
            s.function_score_topk("x", "n_chars", modifier="square")
        with _pytest.raises(ValueError, match="boost_mode"):
            s.function_score_topk("x", "n_chars", boost_mode="avg")


class TestCardinalityAgg:
    """ES cardinality agg twin: exact (oracle default) vs HLL++
    approx (the 10^12-scale path) — same query shape, sketch error
    bounded by rsd."""

    def test_approx_within_rsd_envelope(self, spark):
        from search_ingest_spark import entrypoints as ep

        sf = "/root/testdata/sf0.001"
        exact = {r["day"]: r["users"] for r in
                 ep._q_date_histogram(spark, sf).collect()}
        approx = {r["day"]: r["users"] for r in
                  ep._q_date_histogram(
                      spark, sf, approx_cardinality=True).collect()}
        assert set(exact) == set(approx)
        for day, n in exact.items():
            # 5% rsd → ±5σ safety envelope (deterministic sketch, this
            # is a regression pin not a statistics test)
            assert abs(approx[day] - n) <= max(3, 0.25 * n), (day, n,
                                                              approx[day])

    def test_flag_switches_plan_to_hll(self, spark):
        from search_ingest_spark import entrypoints as ep

        sf = "/root/testdata/sf0.001"
        plan_exact = ep._q_date_histogram(spark, sf)._jdf.queryExecution(
        ).executedPlan().toString()
        plan_approx = ep._q_date_histogram(
            spark, sf, approx_cardinality=True)._jdf.queryExecution(
        ).executedPlan().toString()
        # exact distinct plans a two-phase expand/distinct aggregate;
        # the HLL path aggregates sketches directly
        assert "approx_count_distinct" in plan_approx
        assert "approx_count_distinct" not in plan_exact


class TestPercentilesAgg:
    """ES percentiles agg twin: exact interpolated percentile (oracle
    default, ≡ DuckDB quantile_cont) vs the mergeable-sketch
    percentile_approx path for scale."""

    def test_exact_vs_approx_schema_and_envelope(self, spark):
        from search_ingest_spark import entrypoints as ep

        sf = "/root/testdata/sf0.001"
        exact = ep._q_percentiles_aggs(spark, sf)
        approx = ep._q_percentiles_aggs(spark, sf, approx=True)
        assert exact.dtypes == approx.dtypes  # flag never changes schema
        er, ar = exact.collect()[0], approx.collect()[0]
        assert er["n_hits"] == ar["n_hits"] > 0
        for c in ("p25_chars", "p50_chars", "p75_chars", "p95_chars"):
            # approx picks a real element within rank error; exact
            # interpolates — they stay within a couple of chars here
            assert abs(er[c] - ar[c]) <= max(2.0, 0.02 * er[c]), (c, er[c],
                                                                  ar[c])

    def test_flag_switches_plan_to_sketch(self, spark):
        from search_ingest_spark import entrypoints as ep

        sf = "/root/testdata/sf0.001"
        pe = ep._q_percentiles_aggs(spark, sf)._jdf.queryExecution(
        ).executedPlan().toString()
        pa = ep._q_percentiles_aggs(spark, sf, approx=True)._jdf\
            .queryExecution().executedPlan().toString()
        assert "percentile_approx" in pa
        assert "percentile_approx" not in pe


class TestBoosting:
    """ES boosting query: negative matches demoted ×negative_boost,
    never excluded — vs the DuckDB brute-force replay, plus the
    algebraic endpoints (nb=1 ≡ plain ranking; nb=0 zeroes them)."""

    def test_matches_oracle(self, spark, built):
        s = Searcher(spark, built)
        got = [tuple(r) for r in s.boosting_topk(
            "spark query data", "slow merge", 10, negative_boost=0.5,
            round_to=4).collect()]
        want = _oracle(bm25.boosting_oracle_sql(
            "spark query data", "slow merge", k=10, negative_boost=0.5))
        assert got == want and len(got) == 10

    def test_nb_one_is_plain_topk(self, spark, built):
        s = Searcher(spark, built)
        a = [tuple(r) for r in s.boosting_topk(
            "spark query data", "slow merge", 10, negative_boost=1.0,
            round_to=4).collect()]
        b = [tuple(r) for r in s.topk(
            "spark query data", 10, round_to=4).collect()]
        assert a == b

    def test_nb_zero_demotes_to_zero(self, spark, built):
        s = Searcher(spark, built)
        got = {r["doc_id"]: r["score"] for r in s.boosting_topk(
            "spark query data", "slow merge", 1000, negative_boost=0.0,
            round_to=4).collect()}
        neg = {r["doc_id"] for r in
               s.matching_doc_ids("slow merge").collect()}
        demoted = set(got) & neg
        assert demoted and all(got[d] == 0.0 for d in demoted)

    def test_validation(self, spark, built):
        with pytest.raises(ValueError, match="negative_boost"):
            Searcher(spark, built).boosting_topk("x", "y",
                                                 negative_boost=1.5)


class TestRankEval:
    """_rank_eval: engine top-k + metric fold vs the full SQL replay,
    all four metrics; judgments rate real and absent docs."""

    REQS = [
        {"id": "a", "query": "spark query data",
         "ratings": {3: 2, 17: 1, 999999: 3}},
        {"id": "b", "query": "customer", "ratings": {5: 1, 10: 2}},
    ]

    @pytest.mark.parametrize("metric", ["precision", "recall",
                                        "mean_reciprocal_rank", "dcg",
                                        "expected_reciprocal_rank"])
    def test_matches_oracle(self, spark, built, metric):
        from search_ingest_spark.query import rank_eval as re_mod

        s = Searcher(spark, built)
        got = [tuple(r) for r in re_mod.rank_eval(
            s, self.REQS, metric=metric, k=10).collect()]
        want = _oracle(re_mod.rank_eval_oracle_sql(
            self.REQS, metric=metric, k=10))
        assert got == want and len(got) == 3
        assert got[-1][0] == "_mean"

    def test_precision_hand_check(self, spark, built):
        from search_ingest_spark.query import rank_eval as re_mod

        s = Searcher(spark, built)
        top = [r["doc_id"] for r in s.topk("customer", 10,
                                           round_to=4).collect()]
        # rate exactly the first two retrieved docs relevant
        reqs = [{"id": "x", "query": "customer",
                 "ratings": {top[0]: 1, top[1]: 2}}]
        rows = re_mod.rank_eval(s, reqs, metric="precision",
                                k=10).collect()
        assert rows[0]["metric_score"] == round(2 / len(top), 6)

    def test_mrr_threshold(self, spark, built):
        from search_ingest_spark.query import rank_eval as re_mod

        s = Searcher(spark, built)
        top = [r["doc_id"] for r in s.topk("customer", 10,
                                           round_to=4).collect()]
        # only the 3rd hit clears threshold 2 → MRR = 1/3
        reqs = [{"id": "x", "query": "customer",
                 "ratings": {top[0]: 1, top[2]: 2}}]
        rows = re_mod.rank_eval(
            s, reqs, metric="mean_reciprocal_rank", k=10,
            relevant_rating_threshold=2).collect()
        assert rows[0]["metric_score"] == round(1 / 3, 6)

    def test_err_cascade_hand_check(self, spark, built):
        # rate only the 1st and 3rd retrieved docs: ERR must discount
        # rank 3 by (1 - R_1)
        from search_ingest_spark.query import rank_eval as re_mod

        s = Searcher(spark, built)
        top = [r["doc_id"] for r in s.topk("customer", 10,
                                           round_to=4).collect()]
        reqs = [{"id": "x", "query": "customer",
                 "ratings": {top[0]: 2, top[2]: 3}}]
        rows = re_mod.rank_eval(
            s, reqs, metric="expected_reciprocal_rank", k=10,
            maximum_relevance=3).collect()
        r1, r3 = (2 ** 2 - 1) / 8, (2 ** 3 - 1) / 8
        want = r1 / 1 + (1 - r1) * r3 / 3
        from search_ingest_spark.query.wand import _round_half_up
        assert rows[0]["metric_score"] == _round_half_up(want, 6)

    def test_strictness(self, spark, built):
        from search_ingest_spark.query import rank_eval as re_mod

        s = Searcher(spark, built)
        with pytest.raises(ValueError, match="unsupported metric"):
            re_mod.rank_eval(s, self.REQS, metric="ndcg")
        with pytest.raises(ValueError, match="≥1 request"):
            re_mod.rank_eval(s, [], metric="precision")


class TestSignificantText:
    """significant_text: sampled re-analysis of stored text vs the
    brute-force DuckDB replay, with and without the exact-dup guard."""

    @pytest.fixture(scope="class")
    def built_store(self, spark, documents_smoke, tmp_path_factory):
        cat = Catalog(spark, str(tmp_path_factory.mktemp("qx_sigtext")))
        ib.build_index(spark, documents_smoke, cat, mode="simple",
                       docs_per_shard=50, store_fields=["text"])
        return cat

    @pytest.mark.parametrize("dup_filter", [False, True])
    def test_matches_oracle(self, spark, built_store, dup_filter):
        from search_ingest_spark.query.significant import (
            significant_text, significant_text_oracle_sql)

        s = Searcher(spark, built_store)
        got = [tuple(r) for r in significant_text(
            s, "spark query data", 10, sample_size=40,
            filter_duplicate_text=dup_filter).collect()]
        want = _oracle(significant_text_oracle_sql(
            "spark query data", k=10, sample_size=40,
            filter_duplicate_text=dup_filter))
        assert got == want and len(got) == 10

    def test_sample_bounds_fg(self, spark, built_store):
        # fg_df can never exceed the sample size
        from search_ingest_spark.query.significant import significant_text

        s = Searcher(spark, built_store)
        rows = significant_text(s, "spark query data", 10,
                                sample_size=15).collect()
        assert rows and all(r["fg_df"] <= 15 for r in rows)


class TestSignificantTerms:
    """JLH significant_terms over the cogrouped postings kernel vs the
    brute-force DuckDB replay; query terms themselves must rank at the
    top (fg_rate = 1 for a single-term query's own term)."""

    def test_matches_oracle(self, spark, built):
        from search_ingest_spark.query.significant import (
            significant_terms, significant_terms_oracle_sql)

        s = Searcher(spark, built)
        got = [tuple(r) for r in significant_terms(
            s, "spark query data", 10).collect()]
        want = _oracle(significant_terms_oracle_sql(
            "spark query data", k=10))
        assert got == want and len(got) == 10

    def test_single_term_query_tops_itself(self, spark, built):
        from search_ingest_spark.query.significant import (
            significant_terms)

        s = Searcher(spark, built)
        rows = significant_terms(s, "customer", 5).collect()
        assert rows[0]["term"] == "customer"
        assert rows[0]["fg_df"] == rows[0]["df"]  # fg set = its own docs

    def test_kernel_pure_function(self):
        import numpy as np
        import pandas as pd

        from search_ingest_spark.index import codec
        from search_ingest_spark.query.significant import (
            shard_fg_term_counts)

        # two terms, hand-built blocks: term 1 → docs {3,5,9},
        # term 2 → docs {5}
        rows = []
        for tid, docs in ((1, [3, 5, 9]), (2, [5])):
            d = np.array(docs, dtype=np.int64)
            ones = np.ones(len(d), dtype=np.int64)
            rows.append({
                "term_id": tid, "first_doc_id": int(d[0]),
                "n_docs": len(d),
                "data": codec.encode_block(d, ones, ones, int(d[0])),
            })
        post = pd.DataFrame(rows)
        fg = pd.DataFrame({"doc_id": [5, 9, 100]})
        out = shard_fg_term_counts(post, fg).set_index("term_id")
        assert out.loc[1, "fg_df"] == 2  # docs 5, 9
        assert out.loc[2, "fg_df"] == 1  # doc 5
        # empty sides
        assert len(shard_fg_term_counts(post.iloc[:0], fg)) == 0
        assert len(shard_fg_term_counts(post, fg.iloc[:0])) == 0


class TestRescore:
    """ES rescore (score_mode=total) over index window + phrase
    second pass, vs the composed DuckDB oracle."""

    @pytest.fixture(scope="class")
    def built_pos(self, spark, documents_smoke, tmp_path_factory):
        cat = Catalog(spark, str(tmp_path_factory.mktemp("qx_pos")))
        ib.build_index(spark, documents_smoke, cat, mode="simple",
                       docs_per_shard=50, with_positions=True)
        return cat

    def test_matches_oracle(self, spark, built_pos):
        from search_ingest_spark.query.phrase import PhraseSearcher
        from search_ingest_spark.query.rescore import (
            rescore_oracle_sql, rescore_topk)

        got = [tuple(r) for r in rescore_topk(
            Searcher(spark, built_pos), PhraseSearcher(spark, built_pos),
            "spark query data", "table hash", 10, window_size=30,
            rescore_query_weight=2.0, round_to=4).collect()]
        want = _oracle(rescore_oracle_sql(
            "spark query data", "table hash", k=10, window_size=30,
            rescore_query_weight=2.0))
        assert got == want and len(got) == 10

    def test_zero_rescore_weight_is_plain_topk(self, spark, built_pos):
        from search_ingest_spark.query.phrase import PhraseSearcher
        from search_ingest_spark.query.rescore import rescore_topk

        a = [tuple(r) for r in rescore_topk(
            Searcher(spark, built_pos), PhraseSearcher(spark, built_pos),
            "spark query data", "table hash", 10, window_size=30,
            rescore_query_weight=0.0, round_to=4).collect()]
        b = [tuple(r) for r in Searcher(spark, built_pos).topk(
            "spark query data", 10, round_to=4).collect()]
        assert a == b

    def test_validation(self, spark, built_pos):
        from search_ingest_spark.query.phrase import PhraseSearcher
        from search_ingest_spark.query.rescore import rescore_topk

        with pytest.raises(ValueError, match="window_size"):
            rescore_topk(Searcher(spark, built_pos),
                         PhraseSearcher(spark, built_pos),
                         "x", "y", 10, window_size=5)


class TestMatchBoolPrefix:
    def test_matches_oracle(self, spark, built):
        from search_ingest_spark.query.wand import Searcher

        got = [tuple(r) for r in Searcher(spark, built)
               .match_bool_prefix_topk("spark qu", 10, max_expansions=8,
                                       round_to=4).collect()]
        want = _oracle(bm25.match_bool_prefix_oracle_sql(
            "spark qu", k=10, max_expansions=8))
        assert got == want and len(got) == 10

    def test_local_matches_spark_path_bitwise(self, spark, built):
        from search_ingest_spark.query.reader import LocalSearcher
        from search_ingest_spark.query.wand import Searcher

        s = Searcher(spark, built)
        ls = LocalSearcher(built)
        for text in ("spark qu", "da", "customer ord", "zz qq"):
            spark_side = [tuple(r) for r in s.match_bool_prefix_topk(
                text, 10, max_expansions=8, round_to=4).collect()]
            local_side = ls.match_bool_prefix_topk(
                text, 10, max_expansions=8, round_to=4)
            assert local_side == spark_side, text

    def test_single_token_equals_prefix_query(self, spark, built):
        # with one token there are no exact terms: pure prefix query
        from search_ingest_spark.query.wand import Searcher

        s = Searcher(spark, built)
        a = [tuple(r) for r in s.match_bool_prefix_topk(
            "qu", 10, max_expansions=8, round_to=4).collect()]
        b = [tuple(r) for r in s.topk_prefix(
            "qu", 10, max_expansions=8, round_to=4).collect()]
        assert a == b and len(a) > 0

    def test_exact_term_in_expansion_not_double_counted(self, spark, built):
        # 'data' is both an exact term AND its own prefix expansion:
        # "data data" (exact 'data' + prefix 'data') must score like
        # the plain query 'data' — the idf union dedupes by term
        from search_ingest_spark.query.wand import Searcher

        s = Searcher(spark, built)
        a = [tuple(r) for r in s.match_bool_prefix_topk(
            "data datazz", 10, round_to=4).collect()]
        b = [tuple(r) for r in s.topk("data", 10, round_to=4).collect()]
        assert a == b  # 'datazz' expands to nothing at sf0.001


class TestRankFeature:
    FEATURES = [
        {"function": "saturation", "field": "n_chars", "pivot": 250.0,
         "boost": 2.0},
        {"function": "log", "field": "n_chars", "scaling_factor": 0.01,
         "boost": 0.5},
    ]

    def test_matches_oracle(self, spark, built_attrs):
        from search_ingest_spark.query.wand import Searcher

        got = [tuple(r) for r in Searcher(spark, built_attrs)
               .rank_feature_topk("spark query data", self.FEATURES, 10,
                                  round_to=4).collect()]
        want = _oracle(bm25.rank_feature_oracle_sql(
            "spark query data", self.FEATURES, k=10))
        assert got == want and len(got) == 10

    def test_contributions_are_bounded(self, spark, built_attrs):
        # saturation and sigmoid are ≤ boost; distance ≤ boost — the
        # boosted score can exceed plain BM25 by at most Σ boosts
        from search_ingest_spark.query.wand import Searcher

        s = Searcher(spark, built_attrs)
        plain = {r["doc_id"]: r["score"] for r in
                 s.all_matching_scores("spark query data",
                                       round_to=4).collect()}
        feats = [{"function": "saturation", "field": "n_chars",
                  "pivot": 100.0, "boost": 3.0},
                 {"function": "distance", "field": "n_chars",
                  "origin": 200.0, "pivot": 50.0, "boost": 2.0}]
        boosted = s.rank_feature_topk("spark query data", feats, 10**6)
        for r in boosted.collect():
            assert plain[r["doc_id"]] - 1e-6 <= r["score"] \
                <= plain[r["doc_id"]] + 5.0 + 1e-6

    def test_sigmoid_and_distance_match_oracle(self, spark, built_attrs):
        from search_ingest_spark.query.wand import Searcher

        feats = [{"function": "sigmoid", "field": "n_chars",
                  "pivot": 200.0, "exponent": 2.0, "boost": 1.0},
                 {"function": "distance", "field": "n_chars",
                  "origin": 300.0, "pivot": 100.0, "boost": 2.0}]
        got = [tuple(r) for r in Searcher(spark, built_attrs)
               .rank_feature_topk("data", feats, 10, round_to=4).collect()]
        want = _oracle(bm25.rank_feature_oracle_sql("data", feats, k=10))
        assert got == want

    def test_bad_specs_rejected(self, spark, built_attrs):
        from search_ingest_spark.query.wand import Searcher

        s = Searcher(spark, built_attrs)
        with pytest.raises(ValueError, match="feature function"):
            s.rank_feature_topk("data", [{"function": "huh",
                                          "field": "n_chars"}], 5)
        with pytest.raises(ValueError, match="needs 'pivot'"):
            s.rank_feature_topk("data", [{"function": "saturation",
                                          "field": "n_chars"}], 5)
        with pytest.raises(ValueError, match="≥1 feature"):
            s.rank_feature_topk("data", [], 5)


@pytest.fixture(scope="module")
def msearch_indexes(spark, documents_smoke, tmp_path_factory):
    """Two subset indexes (doc_id < 250 / ≥ 250), each with its own
    corpus statistics; the high half is densified by shifting ids and
    remapped back on the way out."""
    from search_ingest_spark.query.wand import Searcher

    def _build(docs, name):
        cat = Catalog(spark, str(tmp_path_factory.mktemp(name)))
        ib.build_index(spark, docs, cat, mode="simple", docs_per_shard=50)
        return Searcher(spark, cat)

    lo = documents_smoke.select("doc_id", "text").where(
        F.col("doc_id") < 250)
    hi = (documents_smoke.select("doc_id", "text")
          .where(F.col("doc_id") >= 250)
          .withColumn("doc_id", F.col("doc_id") - 250))

    def remap_hi(scored):
        return scored.withColumn("doc_id", F.col("doc_id") + 250)

    return [("lo", _build(lo, "ms_lo"), None, 2.0),
            ("hi", _build(hi, "ms_hi"), remap_hi, 1.0)]


class TestMsearch:
    PARTS = [("lo", "doc_id < 250", 2.0), ("hi", "doc_id >= 250", 1.0)]

    def test_matches_oracle(self, spark, msearch_indexes):
        from search_ingest_spark.query import msearch as ms

        got = [tuple(r) for r in ms.msearch_topk(
            msearch_indexes, "spark query data", 12).collect()]
        want = _oracle(ms.msearch_oracle_sql(
            "spark query data", self.PARTS, k=12))
        assert got == want and len(got) == 12

    def test_local_twin_bitwise_parity(self, spark, msearch_indexes):
        # the Spark-free coordinating-node merge must reproduce the
        # Spark federation row-for-row (same stats, boost-then-round,
        # same tie-break)
        from search_ingest_spark.query import msearch as ms
        from search_ingest_spark.query.reader import LocalSearcher

        local = []
        for name, searcher, remap, boost in msearch_indexes:
            id_map = ({i: i + 250 for i in range(1000)}
                      if name == "hi" else None)
            local.append((name, LocalSearcher(searcher.cat), id_map, boost))
        got = ms.local_msearch(local, "spark query data", 12)
        want = [tuple(r) for r in ms.msearch_topk(
            msearch_indexes, "spark query data", 12).collect()]
        assert got == want and len(got) == 12

    def test_local_needs_indexes(self):
        from search_ingest_spark.query import msearch as ms

        with pytest.raises(ValueError, match="≥1 index"):
            ms.local_msearch([], "x", 5)

    def test_both_indexes_contribute(self, msearch_indexes):
        from search_ingest_spark.query import msearch as ms

        # equal boosts so neither index crowds the other out of the top
        even = [(n, s, r, 1.0) for n, s, r, _ in msearch_indexes]
        rows = ms.msearch_topk(even, "data", 50).collect()
        names = {r["index_name"] for r in rows}
        assert names == {"lo", "hi"}
        # remap carried hi-half ids back to natural keys
        assert any(r["doc_id"] >= 250 for r in rows
                   if r["index_name"] == "hi")
        assert all(r["doc_id"] < 250 for r in rows
                   if r["index_name"] == "lo")

    def test_boost_dominates(self, spark, msearch_indexes):
        from search_ingest_spark.query import msearch as ms

        boosted = [(n, s, r, 10**6 if n == "hi" else 1.0)
                   for n, s, r, _ in msearch_indexes]
        rows = ms.msearch_topk(boosted, "data", 5).collect()
        assert all(r["index_name"] == "hi" for r in rows)

    def test_per_index_statistics(self, spark, msearch_indexes):
        # the SAME doc text scores differently in the two indexes when
        # their corpus stats differ — certify scores come from each
        # index's own all_matching_scores × boost
        from search_ingest_spark.query import msearch as ms

        name, searcher, remap, boost = msearch_indexes[0]
        own = {r["doc_id"]: r["score"] for r in
               searcher.all_matching_scores("data").collect()}
        rows = ms.msearch_topk(msearch_indexes, "data", 10**6,
                               round_to=4).collect()
        for r in rows:
            if r["index_name"] == name:
                assert r["score"] == round(own[r["doc_id"]] * boost, 4)

    def test_empty_index_list_rejected(self):
        from search_ingest_spark.query import msearch as ms

        with pytest.raises(ValueError):
            ms.msearch_topk([], "data", 5)


class TestMultiTermsAgg:
    def test_matches_oracle(self, spark, built_attrs):
        from search_ingest_spark.query import aggs
        from search_ingest_spark.query.wand import Searcher

        s = Searcher(spark, built_attrs)
        got = sorted(tuple(r) for r in aggs.multi_terms_agg(
            s, "spark query data", ["lang", "source"], 12).collect())
        want = sorted(_oracle(aggs.multi_terms_oracle_sql(
            "spark query data", ["lang", "source"], 12)))
        assert got == want and len(got) == 12

    def test_counts_bounded_by_single_field(self, spark, built_attrs):
        from search_ingest_spark.query import aggs
        from search_ingest_spark.query.wand import Searcher

        s = Searcher(spark, built_attrs)
        pair = aggs.multi_terms_agg(s, "data", ["lang", "source"],
                                    10**6).collect()
        single = dict(
            (r["value"], r["n_docs"]) for r in
            aggs.rare_terms(s, "data", "lang", 10**9).collect())
        for r in pair:
            assert r["n_docs"] <= single[r["lang"]]

    def test_empty_fields_rejected(self, spark, built_attrs):
        from search_ingest_spark.query import aggs
        from search_ingest_spark.query.wand import Searcher

        with pytest.raises(ValueError):
            aggs.multi_terms_agg(Searcher(spark, built_attrs), "data",
                                 [], 5)


class TestMultiMatchCrossFields:
    FIELDS = [("substring(text, 1, 60)", 2.0), ("text", 1.0)]

    def test_matches_oracle(self, spark, documents_smoke):
        got = [tuple(r) for r in bm25.multi_match_cross_fields(
            documents_smoke, "spark query data", self.FIELDS, 10,
            mode="simple", round_to=4).collect()]
        want = _oracle(bm25.multi_match_cross_fields_oracle_sql(
            "spark query data", self.FIELDS, k=10))
        assert got == want and len(got) == 10

    def test_term_centric_beats_field_centric(self, spark):
        # the defining case: the query spreads ACROSS fields — 'alpha'
        # only in f1, 'beta' only in f2.  cross_fields credits doc 1
        # with BOTH terms; best_fields (tie_breaker=0) only ever takes
        # one field's whole score.
        d = spark.createDataFrame(
            [(1, "alpha", "beta"), (2, "alpha", "alpha"),
             (3, "gamma", "delta"), (4, "beta", "gamma")],
            "doc_id long, f1 string, f2 string")
        fields = [("f1", 1.0), ("f2", 1.0)]
        cross = {r["doc_id"]: r["score"] for r in
                 bm25.multi_match_cross_fields(
                     d, "alpha beta", fields, 10).collect()}
        best = {r["doc_id"]: r["score"] for r in bm25.multi_match(
            d, "alpha beta", fields, 10, mm_type="best_fields").collect()}
        # doc 1 matches both terms under cross_fields
        assert cross[1] > best[1]

    def test_single_field_equals_plain_bm25(self, spark, documents_smoke):
        # one field, boost 1: blending is a no-op — must equal the
        # plain brute-force ranking exactly
        got = [tuple(r) for r in bm25.multi_match_cross_fields(
            documents_smoke, "spark query data", [("text", 1.0)], 10,
            mode="simple", round_to=4).collect()]
        want = [tuple(r) for r in bm25.bm25_brute_force(
            documents_smoke, "spark query data", k=10, mode="simple",
            round_to=4).collect()]
        assert [g[0] for g in got] == [w[0] for w in want]

    def test_empty_query_rejected(self, spark, documents_smoke):
        with pytest.raises(ValueError, match="empty query"):
            bm25.multi_match_cross_fields(documents_smoke, "!!!",
                                          self.FIELDS, 5)
