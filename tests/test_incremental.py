"""Incremental layer tests — the analog of the reference's
spec/table_spec.cr (changefeed event → index state; reindex zeroes then
backfill restores; SURVEY §5 item 3).  Every assertion is exact
equality against a fresh brute-force BM25 over the CURRENT corpus state
— no retry-polling needed (batch determinism; an architectural win over
the reference's eventually-consistent `until_expected` helper)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from search_ingest_spark.catalog import Catalog
from search_ingest_spark.index import build as ib
from search_ingest_spark.query.bm25 import bm25_brute_force
from search_ingest_spark.query.wand import Searcher
from search_ingest_spark.streaming.incremental import (
    N_ID_BUCKETS,
    OP_DELETE,
    OP_UPSERT,
    DOC_IDS_TABLE,
    DOCS_TABLE,
    PageIndexer,
    latest_per_key,
    latest_per_key_arrow,
)

from catalog_content import assert_matches_fresh_build, catalog_content

TS0 = dt.datetime(2026, 1, 1)


def _pages_df(spark, rows):
    """rows: (url, ts_offset_s, text)"""
    return spark.createDataFrame(
        [(u, TS0 + dt.timedelta(seconds=o), None, t, "en") for u, o, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def _changes_df(spark, rows):
    """rows: (url, ts_offset_s, text_or_None, op)"""
    return spark.createDataFrame(
        [(u, TS0 + dt.timedelta(seconds=o), None, t, "en", op) for u, o, t, op in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string,"
        " _op string",
    )


CORPUS = [
    (f"https://t/{i}", i, f"word{i % 7} common shared tok{i} filler text here")
    for i in range(40)
]


@pytest.fixture()
def indexer(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "inc"))
    ix = PageIndexer(spark, cat, mode="simple", docs_per_shard=8)
    ix.backfill(_pages_df(spark, CORPUS))
    return ix


def _add_quantized_and_store(spark, ix):
    """The tables PageIndexer.backfill does not build: postings_q and
    doc_store, through a second build_index over the same docs."""
    ib.build_index(spark, ix.cat.read(DOCS_TABLE), ix.cat, mode=ix.mode,
                   docs_per_shard=ix.docs_per_shard, quantize=True,
                   store_fields=["text"])


def _full_index(spark, cat, rows):
    """An indexer over every optional index table, backfilled with
    `rows` (url, ts_offset_s, text)."""
    ix = PageIndexer(spark, cat, mode="simple", docs_per_shard=8,
                     with_positions=True, attr_exprs={"n_chars": "length(text)"},
                     sort_field="n_chars")
    ix.backfill(_pages_df(spark, rows))
    ib.build_index(spark, ix._attr_cols(cat.read(DOCS_TABLE)), cat, mode="simple",
                   docs_per_shard=8, with_positions=True, attr_cols=["n_chars"],
                   sort_field="n_chars", quantize=True, store_fields=["text"],
                   with_bigrams=True)
    return ix


@pytest.fixture()
def full_indexer(spark, tmp_path):
    return _full_index(spark, Catalog(spark, str(tmp_path / "full")), CORPUS)


def _assert_index_matches_corpus(spark, ix, query="common shared"):
    """Fast path over the incremental index == brute force over the doc
    store's current state, bitwise."""
    docs = ix.cat.read(DOCS_TABLE)
    fast = [tuple(r) for r in Searcher(spark, ix.cat).topk(query, 10).collect()]
    slow = [
        tuple(r)
        for r in bm25_brute_force(
            docs, query, 10, mode="simple",
            deterministic_sum=True, driver_idf=True,
        ).collect()
    ]
    assert fast == slow


class TestBackfill:
    def test_initial_state(self, spark, indexer):
        assert indexer.cat.read(DOCS_TABLE).count() == 40
        _assert_index_matches_corpus(spark, indexer)

    def test_latest_per_url_wins_in_backfill(self, spark, tmp_path):
        cat = Catalog(spark, str(tmp_path / "d"))
        ix = PageIndexer(spark, cat, mode="simple", docs_per_shard=8)
        dup = CORPUS + [("https://t/3", 999, "recrawled fresh content")]
        ix.backfill(_pages_df(spark, dup))
        row = cat.read(DOCS_TABLE).where(F.col("url") == "https://t/3").first()
        assert row["text"] == "recrawled fresh content"


class TestApplyChanges:
    def test_update_changes_results(self, spark, indexer):
        # reference: Updated event → doc replaced (table.cr:36-38)
        st = indexer.apply_changes(_changes_df(spark, [
            ("https://t/5", 1000, "common shared common shared common", OP_UPSERT),
        ]))
        assert st.upserts == 1 and st.new_docs == 0
        row = indexer.cat.read(DOCS_TABLE).where(F.col("url") == "https://t/5").first()
        assert "common shared common" in row["text"]
        _assert_index_matches_corpus(spark, indexer)

    def test_create_new_doc(self, spark, indexer):
        st = indexer.apply_changes(_changes_df(spark, [
            ("https://t/new", 1000, "brand new page common shared", OP_UPSERT),
        ]))
        assert st.new_docs == 1
        assert indexer.cat.read(DOCS_TABLE).count() == 41
        _assert_index_matches_corpus(spark, indexer)

    def test_delete_removes_doc(self, spark, indexer):
        st = indexer.apply_changes(_changes_df(spark, [
            ("https://t/7", 1000, None, OP_DELETE),
        ]))
        assert st.deletes == 1
        assert indexer.cat.read(DOCS_TABLE).count() == 39
        s = Searcher(spark, indexer.cat)
        assert s.topk("tok7", 10).count() == 0  # its unique term is gone
        _assert_index_matches_corpus(spark, indexer)

    def test_mixed_batch_last_writer_wins(self, spark, indexer):
        # two updates to the same url in one batch: later warc_ts wins
        # (reference ordering: last event per doc id wins)
        indexer.apply_changes(_changes_df(spark, [
            ("https://t/9", 500, "stale version", OP_UPSERT),
            ("https://t/9", 900, "fresh version common shared", OP_UPSERT),
            ("https://t/10", 700, None, OP_DELETE),
            ("https://t/brandnew", 100, "appended doc common", OP_UPSERT),
        ]))
        docs = indexer.cat.read(DOCS_TABLE)
        assert docs.where(F.col("url") == "https://t/9").first()["text"].startswith("fresh")
        assert docs.where(F.col("url") == "https://t/10").count() == 0
        assert docs.count() == 40  # 40 - 1 delete + 1 new
        _assert_index_matches_corpus(spark, indexer)

    def test_only_dirty_shards_touched(self, spark, indexer):
        # clean shards' postings files must not be rewritten: the staged
        # snapshot swap HARDLINKS them, so the new snapshot's files keep
        # the same inode (zero data copy); only shard=0 gets new files
        import os

        def shard_inodes():
            pdir = indexer.cat.data_path(ib.POSTINGS_TABLE)
            out = {}
            for d in os.listdir(pdir):
                if not d.startswith("shard="):
                    continue
                sub = os.path.join(pdir, d)
                out[d] = {
                    f: os.stat(os.path.join(sub, f)).st_ino
                    for f in os.listdir(sub) if f.endswith(".parquet")
                }
            return out

        before = shard_inodes()
        st = indexer.apply_changes(_changes_df(spark, [
            ("https://t/1", 1000, "edited once common", OP_UPSERT),
        ]))
        assert st.dirty_shards == [0]
        after = shard_inodes()
        unchanged = [d for d in before if d != "shard=0"]
        assert unchanged and all(before[d] == after[d] for d in unchanged)
        assert after["shard=0"] != before["shard=0"]

    def test_clean_shards_never_read(self, spark, indexer):
        # the O(dirty) contract at the IO level: clobber every CLEAN
        # partition's parquet files with garbage bytes — if the batch
        # (or its delta-maintained stats/term_dict updates) scanned ANY
        # clean shard, the job would fail on a corrupt footer.  Only the
        # dirty shard (0), the touched id-bucket, and the vocabulary-
        # class term_dict may be read.  postings_q and doc_store are
        # spliced too, so their clean partitions are clobbered as well.
        import os

        cat = indexer.cat

        def clobber(table, keep):
            d = cat.data_path(table)
            for part in os.listdir(d):
                full = os.path.join(d, part)
                if not os.path.isdir(full) or part == keep:
                    continue
                for f in os.listdir(full):
                    if f.endswith(".parquet"):
                        with open(os.path.join(full, f), "wb") as fh:
                            fh.write(b"garbage, not parquet")

        bucket = spark.createDataFrame([("https://t/1",)], "url string").select(
            F.pmod(F.xxhash64("url"), F.lit(N_ID_BUCKETS)).cast("int").alias("b")
        ).first()["b"]
        _add_quantized_and_store(spark, indexer)
        for t in (ib.DOC_LENS_TABLE, ib.POSTINGS_TABLE, DOCS_TABLE,
                  ib.POSTINGS_Q_TABLE, ib.DOC_STORE_TABLE):
            clobber(t, "shard=0")
        clobber(DOC_IDS_TABLE, f"id_bucket={bucket}")
        st = indexer.apply_changes(_changes_df(spark, [
            ("https://t/1", 1000, "edited once common", OP_UPSERT),
        ]))
        assert st.dirty_shards == [0]
        assert st.upserts == 1 and st.new_docs == 0

    def test_new_terms_get_fresh_ids_old_ids_stable(self, spark, indexer):
        old = {
            r["term"]: r["term_id"]
            for r in indexer.cat.read(ib.TERM_DICT_TABLE).collect()
        }
        indexer.apply_changes(_changes_df(spark, [
            ("https://t/2", 1000, "zzznovel common", OP_UPSERT),
        ]))
        new = {
            r["term"]: r["term_id"]
            for r in indexer.cat.read(ib.TERM_DICT_TABLE).collect()
        }
        assert "zzznovel" in new
        for t, i in old.items():
            if t in new:
                assert new[t] == i  # stable ids → clean shards stay valid

    def test_avgdl_drift_keeps_exactness(self, spark, indexer):
        # add many very long docs → avgdl shifts → clean shards' blocks
        # (built under old avgdl) must still score exactly
        longtext = " ".join(["common"] * 50 + ["shared"] * 50)
        indexer.apply_changes(_changes_df(spark, [
            (f"https://t/long{i}", 1000 + i, longtext, OP_UPSERT) for i in range(6)
        ]))
        _assert_index_matches_corpus(spark, indexer)


class TestReindex:
    def test_reindex_rebuilds_from_scratch(self, spark, indexer):
        # reference: reindex drops + recreates, then backfill restores
        # (spec/table_spec.cr:47-79)
        indexer.apply_changes(_changes_df(spark, [
            ("https://t/5", 1000, "mutated common shared", OP_UPSERT),
        ]))
        info = indexer.reindex(_pages_df(spark, CORPUS))
        assert info.n_docs == 40
        row = indexer.cat.read(DOCS_TABLE).where(F.col("url") == "https://t/5").first()
        assert row["text"] == CORPUS[5][2]  # mutation gone
        _assert_index_matches_corpus(spark, indexer)


class TestWatchStream:
    def test_foreachbatch_stream_applies_changes(self, spark, indexer, tmp_path):
        # Structured Streaming file source → foreachBatch → apply_changes
        # (reference watch path, table.cr:25-46 / SURVEY §3.2)
        src = tmp_path / "stream_src"
        src.mkdir()
        schema = ("url string, warc_ts timestamp, html binary, text string,"
                  " lang string, _op string")
        _changes_df(spark, [
            ("https://t/11", 1000, "streamed update common shared", OP_UPSERT),
            ("https://t/12", 1000, None, OP_DELETE),
        ]).write.mode("overwrite").parquet(str(src / "batch1"))
        stream = (
            spark.readStream.schema(schema).option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        q = indexer.watch(stream, str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        docs = indexer.cat.read(DOCS_TABLE)
        assert docs.where(F.col("url") == "https://t/11").first()["text"].startswith("streamed")
        assert docs.where(F.col("url") == "https://t/12").count() == 0
        _assert_index_matches_corpus(spark, indexer)


# (events of one url, the text that must win; None: the url is deleted)
TIE_CASES = [
    ([(0, "a", OP_UPSERT), (0, "b", OP_UPSERT)], "b"),      # payload tie-break
    ([(0, "", OP_DELETE), (0, "x", OP_UPSERT)], "x"),       # upsert > delete
    ([(0, "zz", OP_UPSERT), (0, "", OP_DELETE)], "zz"),
    ([(5, "", OP_DELETE), (4, "x", OP_UPSERT)], None),      # later ts wins
    ([(4, "zz", OP_UPSERT), (5, "a", OP_UPSERT)], "a"),
    ([(0, "é", OP_UPSERT), (0, "z", OP_UPSERT)], "é"),      # UTF-8 byte order
]


def test_latest_per_key_tiebreak(spark):
    rows = [(f"u{i}", TS0 + dt.timedelta(seconds=o), t, op)
            for i, (evs, _) in enumerate(TIE_CASES) for o, t, op in evs]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string,"
                                     " _op string")
    want = {f"u{i}": w for i, (_, w) in enumerate(TIE_CASES)}
    for got in (latest_per_key(df, "url", "warc_ts", ["_op", "text"]).collect(),
                latest_per_key_arrow(df.toArrow(), "url", "warc_ts",
                                     ["_op", "text"]).to_pylist()):
        # exactly one row per url: a duplicate would collapse in the dict
        assert sorted(r["url"] for r in got) == sorted(want)
        assert {r["url"]: r["text"] if r["_op"] == OP_UPSERT else None
                for r in got} == want


@pytest.mark.parametrize("placement", ["driver", "spark"])
def test_latest_per_key_ties_through_apply_changes(spark, indexer, monkeypatch,
                                                   placement):
    """The tie cases as one changefeed batch over existing urls, through
    each placement's last-writer-wins."""
    import search_ingest_spark.streaming.incremental as inc

    if placement == "spark":
        monkeypatch.setattr(inc, "MICRO_BATCH_CAP", 0)
    st = indexer.apply_changes(_changes_df(spark, [
        (f"https://t/{i}", 1000 + o, t if op == OP_UPSERT else None, op)
        for i, (evs, _) in enumerate(TIE_CASES) for o, t, op in evs]))
    assert st.placement == placement
    docs = {r["url"]: r["text"] for r in indexer.cat.read(DOCS_TABLE).collect()}
    for i, (_, want) in enumerate(TIE_CASES):
        assert docs.get(f"https://t/{i}") == want, i
    _assert_index_matches_corpus(spark, indexer)


def test_micro_batch_starts_at_most_one_job(spark, full_indexer):
    """A micro-batch over every optional table is one Spark job (the
    probe collect); its ChangeStats record says so."""
    sc = spark.sparkContext
    j0 = sc._jsc.sc().dagScheduler().nextJobId()
    st = full_indexer.apply_changes(_changes_df(spark, [
        ("https://t/1", 1000, "edited once common", OP_UPSERT),
        ("https://t/20", 1001, None, OP_DELETE),
        ("https://t/new", 1002, "a new page common shared", OP_UPSERT),
    ]))
    assert sc._jsc.sc().dagScheduler().nextJobId() - j0 <= 1
    assert st.spark_jobs <= 1 and st.placement == "driver"
    assert (st.upserts, st.deletes, st.new_docs) == (2, 1, 1)
    assert len(st.dirty_shards) == 3
    assert set(st.phase_s) == {"probe", "resolve", "splice", "commit"}


@pytest.mark.parametrize("placement", ["driver", "spark"])
def test_batch_touching_every_shard(spark, tmp_path, monkeypatch, placement):
    """A micro-batch that dirties every shard, spliced on the driver
    and, with the dirty-doc bound forced to 0, by the mapInArrow splice
    over the driver-resolved batch: the catalog then holds what a fresh
    build of the final corpus holds."""
    import search_ingest_spark.streaming.incremental as inc

    if placement == "spark":
        monkeypatch.setattr(inc, "DRIVER_SPLICE_MAX_DOCS", 0)
    cat = Catalog(spark, str(tmp_path / "inc"))
    ix = _full_index(spark, cat, CORPUS)
    built_avgdl = cat.read_small(ib.STATS_TABLE)[0]["avgdl"]
    events = [(f"https://t/{i}", 1000 + i, f"edited {i} common tok{i}", OP_UPSERT)
              for i in range(0, len(CORPUS), 8)]
    events += [("https://t/3", 1100, None, OP_DELETE),
               ("https://t/zz", 1101, "brand new page common", OP_UPSERT)]
    st = ix.apply_changes(_changes_df(spark, events))
    assert st.placement == placement
    assert st.dirty_shards == list(range(len(CORPUS) // 8 + 1))
    live = {u: t for u, _, t in CORPUS}
    for u, _, t, op in events:
        if op == OP_DELETE:
            del live[u]
        else:
            live[u] = t
    fresh = Catalog(spark, str(tmp_path / "fresh"))
    _full_index(spark, fresh, [(u, 0, t) for u, t in sorted(live.items())])
    assert_matches_fresh_build(cat, fresh, built_avgdl)


def test_registry_covers_every_built_table(spark, full_indexer):
    """Every table a full build writes has a maintenance rule, and a
    batch drops exactly the tables whose rule is "drop"."""
    cat = full_indexer.cat
    index_tables = [t for t in cat.list_tables()
                    if t not in (DOCS_TABLE, DOC_IDS_TABLE, "counters")]
    assert all(ib.table_rule(t) is not None for t in index_tables), index_tables
    full_indexer.apply_changes(_changes_df(spark, [
        ("https://t/3", 1000, "edited common", OP_UPSERT)]))
    dropped = {t for t in index_tables if not cat.exists(t)}
    assert dropped == {ib.BIGRAM_TABLE, ib.MANIFEST_TABLE}


class TestControlPlanePaths:
    """The driver and Spark placements of a batch, and the driver-side
    vs Spark dictionary deltas, must produce IDENTICAL committed state —
    same counts, same ids, same query results, and the same content in
    every registered table (decoded postings and postings_q, doc_store,
    doc_lens, stats, term_dict).  Forced via the module caps."""

    SEQ = [
        # batch 1: updates + novel urls + a delete
        [("https://t/5", 2000, "updated five common shared", OP_UPSERT),
         ("https://t/nova", 2001, "fresh nova document common", OP_UPSERT),
         ("https://t/7", 2002, None, OP_DELETE)],
        # batch 2: re-delete, resurrect, more novel
        [("https://t/nova", 3000, None, OP_DELETE),
         ("https://t/7", 3001, "seven returns common shared", OP_UPSERT),
         ("https://t/novb", 3002, "second nova common tok99", OP_UPSERT)],
    ]

    def _run(self, spark, tmp_path, tag):
        cat = Catalog(spark, str(tmp_path / f"cp_{tag}"))
        ix = PageIndexer(spark, cat, mode="simple", docs_per_shard=8)
        ix.backfill(_pages_df(spark, CORPUS))
        _add_quantized_and_store(spark, ix)
        stats = []
        for batch in self.SEQ:
            st = ix.apply_changes(_changes_df(spark, batch))
            stats.append((st.upserts, st.deletes, st.new_docs,
                          tuple(st.dirty_shards)))
        _assert_index_matches_corpus(spark, ix)
        docs = sorted(
            (r["url"], r["doc_id"], r["text"])
            for r in ix.cat.read(DOCS_TABLE).collect()
        )
        counters = ix.cat.read_small("counters")[0]
        dictionary = sorted(
            tuple(r) for r in ix.cat.read(ib.TERM_DICT_TABLE).collect()
        )
        return stats, docs, (counters["max_doc_id"],
                             counters["max_term_id"]), dictionary, \
            catalog_content(ix.cat)

    def test_all_paths_identical(self, spark, tmp_path, monkeypatch):
        import search_ingest_spark.streaming.incremental as inc

        base = self._run(spark, tmp_path, "micro")

        # force the distributed join control plane (replay path)
        monkeypatch.setattr(inc, "MICRO_BATCH_CAP", 0)
        dist = self._run(spark, tmp_path, "dist")
        monkeypatch.undo()

        # force the distributed dictionary delta (huge-vocab path)
        monkeypatch.setattr(inc, "DRIVER_DICT_MAX_ROWS", 0)
        bigdict = self._run(spark, tmp_path, "bigdict")
        monkeypatch.undo()

        assert dist == base
        assert bigdict == base
