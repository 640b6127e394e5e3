"""Randomized (seeded) incremental consistency: apply a random sequence
of upsert/delete batches; after EVERY batch the spliced index must be
bitwise rank-identical to a brute-force BM25 over the doc store's
current state, and the final state must equal a from-scratch reindex.

This is the property the reference can only approximate with its
`until_expected` retry-polling against eventually-consistent ES
(spec/helper.cr:86-116) — batch determinism lets us assert exact
equality instead (SURVEY §5)."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from search_ingest_spark.catalog import Catalog
from search_ingest_spark.query.bm25 import bm25_brute_force
from search_ingest_spark.query.wand import Searcher
from search_ingest_spark.streaming.incremental import (
    DOCS_TABLE,
    OP_DELETE,
    OP_UPSERT,
    PageIndexer,
)

TS0 = dt.datetime(2026, 1, 1)
VOCAB = ["common", "shared", "alpha", "beta", "gamma", "delta", "epsilon",
         "zeta", "eta", "theta"]
QUERIES = ["common shared", "alpha beta", "gamma", "delta epsilon zeta"]


def _text(rng: random.Random) -> str:
    return " ".join(rng.choices(VOCAB, k=rng.randint(5, 25)))


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, TS0 + dt.timedelta(seconds=o), None, t, "en") for u, o, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


@pytest.mark.slow
def test_random_batch_sequence_stays_consistent(spark, tmp_path):
    rng = random.Random(1234)
    cat = Catalog(spark, str(tmp_path / "rnd"))
    ix = PageIndexer(spark, cat, mode="simple", docs_per_shard=8)

    live: dict[str, str] = {f"u{i}": _text(rng) for i in range(30)}
    ix.backfill(_pages(spark, [(u, 0, t) for u, t in live.items()]))
    clock = 1

    def assert_consistent():
        docs = cat.read(DOCS_TABLE)
        s = Searcher(spark, cat)
        for q in QUERIES:
            fast = [tuple(r) for r in s.topk(q, 10).collect()]
            slow = [tuple(r) for r in bm25_brute_force(
                docs, q, 10, mode="simple",
                deterministic_sum=True, driver_idf=True).collect()]
            assert fast == slow, q

    for _ in range(4):
        events = []
        for _ in range(rng.randint(3, 8)):
            if live and rng.random() < 0.25:
                url = rng.choice(sorted(live))
                events.append((url, clock, None, OP_DELETE))
                del live[url]
            elif live and rng.random() < 0.5:
                url = rng.choice(sorted(live))  # update
                live[url] = _text(rng)
                events.append((url, clock, live[url], OP_UPSERT))
            else:
                url = f"u{rng.randint(100, 999)}"  # create (maybe repeat)
                live[url] = _text(rng)
                events.append((url, clock, live[url], OP_UPSERT))
            clock += 1
        batch = spark.createDataFrame(
            [(u, TS0 + dt.timedelta(seconds=o), None, t, "en", op)
             for u, o, t, op in events],
            "url string, warc_ts timestamp, html binary, text string,"
            " lang string, _op string",
        )
        ix.apply_changes(batch)
        docs_now = cat.read(DOCS_TABLE)
        assert docs_now.count() == len(live)
        got = {r["url"]: r["text"] for r in docs_now.collect()}
        assert got == live
        assert_consistent()

    # final: incremental state must equal a from-scratch rebuild
    cat2 = Catalog(spark, str(tmp_path / "fresh"))
    ix2 = PageIndexer(spark, cat2, mode="simple", docs_per_shard=8)
    ix2.backfill(_pages(spark, [(u, 0, t) for u, t in sorted(live.items())]))
    s_inc, s_fresh = Searcher(spark, cat), Searcher(spark, cat2)
    assert s_inc.n_docs == s_fresh.n_docs
    assert s_inc.avgdl == s_fresh.avgdl
    for q in QUERIES:
        inc = [(r["score"], ) for r in s_inc.topk(q, 10).collect()]
        fresh = [(r["score"], ) for r in s_fresh.topk(q, 10).collect()]
        # doc ids differ (incremental appends ids; fresh assigns by url
        # order) but the score multiset must match exactly
        assert sorted(inc) == sorted(fresh), q


# -- every registered table ≡ a fresh build ---------------------------------

ATTRS = {"n_chars": "length(text)"}


def _full_index(spark, cat, pages):
    """A PageIndexer over every optional table: positions, doc_attrs and
    the index-sorted copy through backfill, then postings_q, doc_store,
    bigram_stats through a second build_index on the same catalog."""
    from search_ingest_spark.index.build import build_index

    ix = PageIndexer(spark, cat, mode="simple", docs_per_shard=8,
                     with_positions=True, attr_exprs=ATTRS, sort_field="n_chars")
    ix.backfill(pages)
    build_index(spark, ix._attr_cols(cat.read(DOCS_TABLE)), cat, mode="simple",
                docs_per_shard=8, with_positions=True, attr_cols=list(ATTRS),
                sort_field="n_chars", quantize=True,
                store_fields=["url", "text"], with_bigrams=True)
    return ix


@pytest.mark.slow
@pytest.mark.parametrize("placement", ["driver", "spark", "spark_splice"])
def test_every_table_equals_fresh_build(spark, tmp_path, monkeypatch, placement):
    """After a random upsert/delete sequence, every table in the
    maintenance registry holds what a fresh build of the final corpus
    holds (ids mapped through urls and terms), run once per placement:
    all on the driver, all on Spark (a backlog), and a batch resolved
    on the driver whose dirty shards are too large for the driver
    splice.  postings_q keeps the avgdl it was built with: its impacts
    must be quantize_impacts of the fresh postings at that avgdl."""
    from search_ingest_spark.index import build as ib
    from search_ingest_spark.streaming import incremental as inc
    from catalog_content import assert_matches_fresh_build

    if placement == "spark":
        monkeypatch.setattr(inc, "MICRO_BATCH_CAP", 0)
    elif placement == "spark_splice":
        monkeypatch.setattr(inc, "DRIVER_SPLICE_MAX_DOCS", 0)
    rng = random.Random(99)
    live = {f"u{i:02d}": _text(rng) for i in range(24)}
    cat = Catalog(spark, str(tmp_path / "inc"))
    ix = _full_index(spark, cat, _pages(spark, [(u, 0, t) for u, t in live.items()]))
    built_avgdl = cat.read_small(ib.STATS_TABLE)[0]["avgdl"]
    clock = 1
    for _ in range(3):
        events = []
        for _ in range(rng.randint(4, 9)):
            if live and rng.random() < 0.3:
                url = rng.choice(sorted(live))
                events.append((url, clock, None, OP_DELETE))
                del live[url]
            else:
                url = (rng.choice(sorted(live)) if live and rng.random() < 0.5
                       else f"u{rng.randint(30, 60)}")
                live[url] = _text(rng)
                events.append((url, clock, live[url], OP_UPSERT))
            clock += 1
        st = ix.apply_changes(spark.createDataFrame(
            [(u, TS0 + dt.timedelta(seconds=o), None, t, "en", op)
             for u, o, t, op in events],
            "url string, warc_ts timestamp, html binary, text string,"
            " lang string, _op string"))
        assert st.placement == placement.split("_")[0]
    monkeypatch.undo()

    fresh = Catalog(spark, str(tmp_path / "fresh"))
    _full_index(spark, fresh, _pages(spark, [(u, 0, t) for u, t in sorted(live.items())]))
    assert_matches_fresh_build(cat, fresh, built_avgdl)
