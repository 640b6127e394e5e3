"""Incremental ingest — the reference's changefeed half.

Reference behavior being reproduced (SURVEY §2 A2/A3/A13-A15, §3.2):
- `process_resource(action, model)` dispatches Created/Updated/Deleted
  events one at a time (`/root/reference/src/search-ingest/table.cr:25-46`),
  each one Elasticsearch bulk operation — no cluster job per event;
- updates are upserts keyed by doc id (`doc_as_upsert`,
  `elastic.cr:431-449`), deletes remove by id (`elastic.cr:452-464`);
- ordering is last-writer-wins per document;
- a dropped changefeed triggers full re-backfill (`table.cr:48-51`) —
  our analog is checkpointed streaming + idempotent batch application,
  so replays are safe and nothing restarts from zero.

`PageIndexer.apply_changes(changes)` (callable from `foreachBatch`)
applies one batch of (url, warc_ts, html/text, _op) events:
1. last-writer-wins per url across both op kinds (`latest_per_key`);
2. dense doc ids: existing urls keep their id, new urls extend the id
   space in url order, so shard ranges stay dense;
3. every dirty shard — a shard holding a touched id — is SPLICED:
   `index.build.splice_shards`, one pure pyarrow/numpy function that
   runs the build's own tokenize/encode kernels, turns the shard's
   post-batch doc rows into its new partition of every spliced table
   (docs, doc_lens, postings, postings_q, positions, doc_store,
   doc_attrs).  Clean shards' files are hardlinked, never read;
4. the global aggregates are DELTA-maintained with exact integer
   arithmetic: (n_docs, Σdl) and the term_dict df/cf lose the dirty
   shards' old counts and gain the new ones.  Existing term ids stay,
   new terms are appended, so clean shards' postings stay valid and
   BM25 stays exactly what a rebuild computes.

Which index tables are spliced, delta-maintained, kept or dropped is
the registry `index.build.TABLE_RULES`; the batch walks it over the
catalog.  A registered table whose rule this indexer cannot honour
(postings_q without its recorded build avgdl, doc_attrs without
attr_exprs, a doc_store field that is no doc column, the sorted attr
tables without sort_field) is dropped in the batch's transaction, as
are bigram_stats and build_manifest.  A table with no rule is kept as
it is: docs, doc_ids and counters, which the batch rewrites itself, or
a table of another subsystem.

Placement.  One `limit(MICRO_BATCH_CAP + 1).toArrow()` is both the
size probe and, for a batch of at most MICRO_BATCH_CAP events, the
batch itself (no Python UDF in its plan: html is turned into text on
the driver).  Such a batch resolves on the driver: last-writer-wins in
pyarrow, ids from a partition-filtered pyarrow read of the touched
url→id buckets, the url hash over a LocalRelation (no job).  A larger
batch (a backlog replay) resolves with Spark joins instead.  The splice
then runs on the driver when the batch resolved there and its dirty
shards hold at most DRIVER_SPLICE_MAX_DOCS docs (parquet footer
counts): the kernel runs in-process over pyarrow reads of the dirty
shards, attr_exprs evaluate over a LocalRelation, and every write is a
driver-side parquet write, so the probe is the batch's only Spark job.
Otherwise the same kernel runs in one mapInArrow job, one task per
group of dirty shards writing its partitions straight into the
catalog's stage dirs, and a second job attaches the new term ids to
the staged postings.  Every placement commits identical tables
(asserted in tests/test_incremental.py).  Both caps bound driver
memory; their measured basis is in their comments.

Cost per batch (the O(dirty) contract, asserted by
tests/test_incremental.py::test_clean_shards_never_read): reads are the
dirty shards' docs/doc_lens/postings partitions (the old per-term
df/cf comes from the postings' columnar block aggregates), the touched
id-buckets, the vocabulary-sized term_dict and one-row tables; writes
are the same dirty partitions of every spliced table, a full term_dict
rewrite, and one-row stats/counters.  Nothing scans a full table.

Atomicity: every table mutation of a batch is staged inside ONE catalog
transaction (catalog.begin/commit — the Iceberg multi-table commit
analog).  A crash leaves either the full pre-batch or full post-batch
state, so a foreachBatch replay re-derives deltas from a CONSISTENT
snapshot: replaying an already-committed batch computes old == new →
delta 0 → no-op (idempotent), and replaying an uncommitted one starts
from untouched state.

Each batch returns a `ChangeStats` record: counts, dirty shards,
placement, Spark jobs started and wall seconds per phase.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_ingest_spark.analysis import extract_text, extract_text_udf
from search_ingest_spark.catalog import Catalog
from search_ingest_spark.index import build as ib
from search_ingest_spark.index.build import dense_ids
from search_ingest_spark.session import trimmed

DOCS_TABLE = "docs"
DOC_IDS_TABLE = "doc_ids"
COUNTERS_TABLE = "counters"
DOC_COLS = ["doc_id", "url", "warc_ts", "text"]

# url→id mapping hash-bucket count: a batch touching U urls reads and
# rewrites ≤ U buckets ≈ U/N_ID_BUCKETS of the mapping, never all of it
N_ID_BUCKETS = 256

# change-batch schema: (url, warc_ts, html?, text?, lang?, _op)
OP_UPSERT = "upsert"
OP_DELETE = "delete"
_OPS = pa.array([OP_UPSERT, OP_DELETE])

# a batch of at most this many events resolves on the driver, so the
# probe holds at most this many events' payload: ~4 MB of text at the
# benchmark's ~1 KB pages, ~400 MB if each event carries a 100 KB html
# page.  The cap bounds driver memory, not time: on the perfbench corpus
# the driver resolve took 0.1-0.6 s at 12 to 16384 events, the Spark
# one 2.0-5.2 s
MICRO_BATCH_CAP = 4096

# the driver splices a batch whose dirty shards hold at most this many
# docs (counted from parquet footers); past it the mapInArrow splice
# runs.  It bounds the text the driver loads, converts for attr_exprs
# and tokenizes in one thread.  Measured on the perfbench corpus with 3
# Spark cores, the two splices tie at ~10k dirty docs (driver 4.9-5.5 s,
# Spark 5.3-5.9 s) and Spark wins at 32k (8.6-9.1 s against 12.4-12.7 s)
DRIVER_SPLICE_MAX_DOCS = 8192

# dictionaries of at most this many terms take the driver-side delta
# (a few hundred MB of driver memory at the cap); larger vocabularies
# keep the distributed dictionary rewrite
DRIVER_DICT_MAX_ROWS = 5_000_000

_COUNTERS_DDL = "max_doc_id long, max_term_id long"
# the spliced tables keyed by term id: the kernel emits their blocks
# keyed by term string until the batch's dictionary delta is known
_TERM_KEYED = {ib.POSTINGS_TABLE: ib.POSTINGS_COLS,
               ib.POSTINGS_Q_TABLE: ib.POSTINGS_Q_COLS}
_TERMS_SCHEMA = pa.schema([("term", pa.string()), ("ndf", pa.int64()),
                           ("ncf", pa.int64())])


def latest_per_key(df: DataFrame, key: str, ts: str, payload_cols: list[str]) -> DataFrame:
    """Last-writer-wins per key (reference: per-doc event ordering).
    Tie-break on the full payload struct for determinism."""
    s = F.struct(ts, *payload_cols)
    return df.groupBy(key).agg(F.max_by(s, s).alias("_s")).select(
        key, *[F.col(f"_s.{c}").alias(c) for c in [ts, *payload_cols]]
    )


def latest_per_key_arrow(tbl: pa.Table, key: str, ts: str,
                         payload_cols: list[str]) -> pa.Table:
    """latest_per_key over a pyarrow Table, with the same winner: the
    row with the greatest (ts, *payload) — compared field by field,
    null lowest, strings by UTF-8 bytes as Spark's struct order does."""
    cols = [ts, *payload_cols]
    t = tbl.select([key, *cols]).take(pc.sort_indices(
        tbl, sort_keys=[(key, "ascending")] + [(c, "descending") for c in cols],
        null_placement="at_end"))
    if t.num_rows < 2:
        return t
    k = t[key].combine_chunks()
    first = pa.concat_arrays([pa.array([True]),
                              pc.not_equal(k[1:], k[:-1]).fill_null(True)])
    return t.filter(first)


def normalize_pages(pages: DataFrame) -> DataFrame:
    """input_hint shape → doc rows: fill text from html when absent
    (deterministic extractor; byte-identical per url)."""
    text = F.coalesce(F.col("text"), extract_text_udf(F.col("html")))
    return pages.select(
        "url", "warc_ts", text.alias("text"),
        *(["lang"] if "lang" in pages.columns else []),
    )


def _bucket_col(url_col: str = "url"):
    return F.pmod(F.xxhash64(url_col), F.lit(N_ID_BUCKETS)).cast("int")


def _local_select(spark: SparkSession, tbl: pa.Table, *cols) -> pa.Table:
    """Evaluate Spark column expressions over a driver-side Arrow table
    with no Spark job: a projection of a LocalRelation is folded into a
    LocalRelation at planning time, and collect() of one runs none."""
    df = spark.createDataFrame(tbl).select(*cols)
    return pa.Table.from_pylist([r.asDict() for r in df.collect()],
                                schema=Catalog._arrow_schema(df.schema))


def _with_shard(tbl: pa.Table, dps: int) -> pa.Table:
    return tbl.append_column(
        "shard", pc.divide(tbl["doc_id"], dps).cast(pa.int32()))


def _next_job_id(spark: SparkSession) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@dataclass
class ChangeStats:
    """The structured record of one apply_changes batch."""
    upserts: int
    deletes: int
    new_docs: int
    dirty_shards: list[int]
    placement: str = "driver"      # where the splice ran: "driver"/"spark"
    spark_jobs: int = 0            # jobs the session started meanwhile
    phase_s: dict = field(default_factory=dict)  # probe/resolve/splice/commit


@dataclass
class _Batch:
    """A resolved batch: counts, dirty sets, and the upserted rows
    (doc_id, url, warc_ts, text) and deleted ids, as pyarrow when it
    was resolved on the driver, as Spark frames for a backlog."""
    n_up: int
    n_new: int
    n_del: int
    dirty: list[int]
    dirty_buckets: list[int]
    ups: object
    del_ids: object
    touched_urls: object
    id_rows: object             # the touched url→id buckets, rewritten
    cached: list = field(default_factory=list)


@dataclass
class _Plan:
    """What the batch does with each existing index table (registry
    rules resolved against this catalog and indexer)."""
    splice: set
    drop: list
    store_fields: list
    quant_avgdl: float | None
    sorted_meta: dict | None


class PageIndexer:
    """Full lifecycle over a url-keyed corpus: backfill → watch.

    Mirrors the reference `TableManager` surface (SURVEY §2 A27):
    `backfill()` (full build), `apply_changes()` (changefeed batch),
    `reindex()` (drop + rebuild, `table.cr:61-76`)."""

    # delta-segment count above which apply_changes folds the sorted
    # segments back into one base (the Lucene merge-policy analog: read
    # amplification grows with live segments, so bound it)
    SORTED_COMPACT_SEGS = 16

    def __init__(
        self, spark: SparkSession, cat: Catalog, *, mode: str = "standard",
        docs_per_shard: int = 100_000, with_positions: bool = False,
        attr_exprs: dict[str, str] | None = None,
        sort_field: str | None = None,
    ) -> None:
        """`attr_exprs` derives the filterable attr columns from the
        page row itself ({name: SQL expr over url/warc_ts/text}, e.g.
        {"n_chars": "length(text)"}) — which is what lets the
        changefeed path MAINTAIN doc_attrs and the index-sorted table
        instead of dropping them: updated docs' attr values are
        recomputable from the batch.  `sort_field` (one of attr_exprs)
        additionally keeps the index-sorted copy alive across batches
        via Lucene-style sorted delta segments (see _sorted_segment_writes)."""
        self.spark = spark
        self.cat = cat
        self.mode = mode
        self.docs_per_shard = docs_per_shard
        self.with_positions = with_positions
        self.attr_exprs = dict(attr_exprs or {})
        self.sort_field = sort_field
        if sort_field and sort_field not in self.attr_exprs:
            raise ValueError(
                f"sort_field {sort_field!r} must be one of attr_exprs")

    def _attr_cols(self, df: DataFrame) -> DataFrame:
        """Append the derived attr columns to a doc frame."""
        for name, expr in self.attr_exprs.items():
            df = df.withColumn(name, F.expr(expr))
        return df

    def _seg_table(self, seq: int) -> str:
        from search_ingest_spark.index import build as ib

        return f"{ib.SORTED_ATTRS_SEG_PREFIX}{int(seq)}"


    def compact_sorted(self) -> None:
        """Fold every sorted delta segment back into ONE globally
        sorted base (the Lucene segment-merge analog): live rows =
        base minus owned docs, plus each segment's rows the owners
        table assigns to it; one repartitionByRange re-sort; segments
        + owners dropped and n_segs reset, all in one atomic catalog
        transaction.  O(live rows) — run when read amplification
        (segment count) crosses the merge policy, not per batch."""
        from search_ingest_spark.index import build as ib

        cat = self.cat
        meta = cat.read_small(ib.SORTED_ATTRS_META)[0]
        n_segs = int(meta.get("n_segs") or 0)
        sort_field = meta["sort_field"]
        has_owners = cat.exists(ib.SORTED_ATTRS_OWNERS)
        if n_segs == 0 and not has_owners:
            return
        owners = cat.read(ib.SORTED_ATTRS_OWNERS) if has_owners else None
        base = cat.read(ib.SORTED_ATTRS_TABLE)
        live = (base.join(owners.select("doc_id"), "doc_id", "left_anti")
                if owners is not None else base)
        for i in range(1, n_segs + 1):
            seg = cat.read(self._seg_table(i))
            if owners is not None:
                seg = seg.join(
                    owners.where(F.col("seq") == i).select("doc_id"),
                    "doc_id", "left_semi")
            live = live.unionByName(seg)
        n_part = max(1, self.spark.sparkContext.defaultParallelism)
        s_sorted = (
            live.repartitionByRange(n_part, F.desc_nulls_last(sort_field),
                                    F.asc("doc_id"))
            .sortWithinPartitions(F.desc_nulls_last(sort_field),
                                  F.asc("doc_id")))
        cat.begin()
        try:
            cat.write(ib.SORTED_ATTRS_TABLE, s_sorted)
            for i in range(1, n_segs + 1):
                if cat.exists(self._seg_table(i)):
                    cat.drop(self._seg_table(i))
            if has_owners:
                cat.drop(ib.SORTED_ATTRS_OWNERS)
            cat.write_small(
                ib.SORTED_ATTRS_META, [(sort_field, 1, 0)],
                "sort_field string, descending int, n_segs long")
            cat.commit()
        except BaseException:
            cat.rollback()
            raise

    def _shard_col(self, id_col: str = "doc_id"):
        return (F.col(id_col) / F.lit(self.docs_per_shard)).cast("int")

    # -- batch backfill (A1) -------------------------------------------------
    def backfill(self, pages: DataFrame) -> ib.BuildInfo:
        docs = latest_per_key(normalize_pages(pages), "url", "warc_ts", ["text"])
        docs = dense_ids(docs, "url", "doc_id")
        docs = docs.withColumn("shard", self._shard_col())
        n_part = max(1, self.spark.sparkContext.defaultParallelism)
        self.cat.write(
            DOC_IDS_TABLE,
            docs.select("url", "doc_id").withColumn("id_bucket", _bucket_col())
            .repartition(max(1, min(N_ID_BUCKETS, n_part)), "id_bucket"),
            partition_by=["id_bucket"],
        )
        self.cat.write(
            DOCS_TABLE,
            docs.select("doc_id", "url", "warc_ts", "text", "shard")
            .repartition(n_part, "shard"),
            partition_by=["shard"],
        )
        info = ib.build_index(
            self.spark, self._attr_cols(self.cat.read(DOCS_TABLE)),
            self.cat,
            mode=self.mode, docs_per_shard=self.docs_per_shard,
            with_positions=self.with_positions,
            attr_cols=list(self.attr_exprs) or None,
            sort_field=self.sort_field,
        )
        # dense-append high-water marks (doc ids cover ALL docs, even
        # token-less ones, so count the mapping — not stats.n_docs).
        # parquet-footer row count + driver-side 1-row write: the old
        # Spark count + createDataFrame write were two whole jobs of
        # scheduling for dictionary-class work (guide §5)
        n_ids = self.cat.arrow_dataset(DOC_IDS_TABLE).count_rows()
        self.cat.write_small(
            COUNTERS_TABLE,
            [(n_ids - 1, info.n_terms - 1)],
            "max_doc_id long, max_term_id long",
        )
        return info

    def reindex(self, pages: DataFrame) -> ib.BuildInfo:
        """Drop-and-recreate (reference reindex, table.cr:61-76)."""
        self.cat.drop_all()
        import os

        state = os.path.join(self.cat.root, "build_state.json")
        if os.path.exists(state):
            os.remove(state)
        return self.backfill(pages)

    # -- changefeed batch (A2/A13-A15) ---------------------------------------
    def apply_changes(self, changes: DataFrame) -> ChangeStats:
        """Apply one batch of (url, warc_ts, html/text, _op) events: on
        the driver, or with Spark past MICRO_BATCH_CAP events or
        DRIVER_SPLICE_MAX_DOCS dirty docs (module doc).  Returns the
        batch's ChangeStats record."""
        spark, cat = self.spark, self.cat
        job0, t0 = _next_job_id(spark), time.perf_counter()
        phases = dict.fromkeys(("probe", "resolve", "splice", "commit"), 0.0)

        def lap(name: str) -> None:
            nonlocal t0
            t1 = time.perf_counter()
            phases[name], t0 = t1 - t0, t1

        ev = changes.select("url", "warc_ts", "html", "text", "_op").limit(
            MICRO_BATCH_CAP + 1).toArrow()
        lap("probe")
        counters = cat.read_small(COUNTERS_TABLE)[0]
        base = int(counters["max_doc_id"]) + 1
        driver = ev.num_rows <= MICRO_BATCH_CAP
        b = (self._resolve_driver(ev, base) if driver
             else self._resolve_spark(changes, base))
        driver = driver and cat.arrow_dataset(DOCS_TABLE).count_rows(
            filter=pc.field("shard").isin(b.dirty)) <= DRIVER_SPLICE_MAX_DOCS
        lap("resolve")
        n_segs = -1
        try:
            if b.dirty:
                plan = self._plan()
                old = self._old_aggregates(b.dirty)
                cat.begin()
                try:
                    splice = self._splice_driver if driver else self._splice_spark
                    terms, n_docs, sum_dl, finish, n_segs = splice(b, plan)
                    n_new_terms, dict_terms, dict_ids = self._term_dict_delta(
                        old[0], terms, int(counters["max_term_id"]) + 1)
                    finish(dict_terms, dict_ids)
                    self._stats_delta(b.dirty, old[1:], (n_docs, sum_dl))
                    lap("splice")
                    cat.write_small(COUNTERS_TABLE, [(
                        int(counters["max_doc_id"]) + b.n_new,
                        int(counters["max_term_id"]) + n_new_terms,
                    )], _COUNTERS_DDL)
                    for t in plan.drop:
                        cat.drop(t)
                    cat.commit()
                except BaseException:
                    cat.rollback()
                    raise
                lap("commit")
        finally:
            for df in b.cached:
                df.unpersist()
        if n_segs > self.SORTED_COMPACT_SEGS:
            self.compact_sorted()
        return ChangeStats(b.n_up, b.n_del, b.n_new, b.dirty,
                           "driver" if driver else "spark",
                           _next_job_id(spark) - job0, phases)

    def _resolve_driver(self, ev: pa.Table, base: int) -> _Batch:
        """The micro-batch control plane, all on the driver: html → text,
        last-writer-wins, ids from a point-read of the touched url→id
        buckets (the ES-bulk analog: ids by lookup, not by join), and
        the rewritten rows of those buckets."""
        spark, cat = self.spark, self.cat
        text = [t if t is not None else extract_text(h) for t, h in
                zip(ev["text"].to_pylist(), ev["html"].to_pylist())]
        ev = ev.set_column(ev.schema.get_field_index("text"), "text",
                           pa.array(text, pa.string()))
        latest = latest_per_key_arrow(ev, "url", "warc_ts", ["_op", "text"])
        latest = latest.filter(pc.is_in(latest["_op"], value_set=_OPS))
        if latest.num_rows == 0:
            return _Batch(0, 0, 0, [], [], None, [], None, None)
        urls = latest["url"].to_pylist()
        buckets = _local_select(spark, latest.select(["url"]),
                                _bucket_col().alias("b"))["b"].to_pylist()
        dirty_buckets = sorted(set(buckets))
        id_rows = cat.arrow_dataset(DOC_IDS_TABLE).to_table(
            filter=pc.field("id_bucket").isin(dirty_buckets))
        touched = pc.is_in(id_rows["url"], value_set=pa.array(urls))
        known = id_rows.filter(touched)
        idmap = dict(zip(known["url"].to_pylist(), known["doc_id"].to_pylist()))
        ups = latest.filter(pc.equal(latest["_op"], OP_UPSERT))
        up_urls = ups["url"].to_pylist()
        # dense append in url (code point) order, as dense_ids assigns
        novel = sorted(u for u in up_urls if u not in idmap)
        idmap.update((u, base + i) for i, u in enumerate(novel))
        up_ids = [idmap[u] for u in up_urls]
        del_ids = [idmap[u] for u, op in zip(urls, latest["_op"].to_pylist())
                   if op == OP_DELETE and u in idmap]
        bucket_of = dict(zip(urls, buckets))
        id_rows = pa.concat_tables([
            id_rows.filter(pc.invert(touched)),
            pa.table({"url": pa.array(up_urls, pa.string()),
                      "doc_id": pa.array(up_ids, pa.int64()),
                      "id_bucket": pa.array([bucket_of[u] for u in up_urls],
                                            pa.int32())}),
        ])
        ups = pa.table({"doc_id": pa.array(up_ids, pa.int64()),
                        "url": ups["url"], "warc_ts": ups["warc_ts"],
                        "text": ups["text"]})
        dirty = sorted({d // self.docs_per_shard for d in up_ids + del_ids})
        return _Batch(len(up_ids), len(novel), len(del_ids), dirty,
                      dirty_buckets, ups, del_ids, pa.array(urls), id_rows)

    def _resolve_spark(self, changes: DataFrame, base: int) -> _Batch:
        """The backlog control plane: the same resolution as Spark joins
        over the touched url→id buckets (partition-pruned)."""
        cat = self.cat
        ev = changes.select(
            "url", "warc_ts",
            F.coalesce(F.col("text"), extract_text_udf(F.col("html"))).alias("text"),
            "_op",
        )
        latest = latest_per_key(ev, "url", "warc_ts", ["_op", "text"]).where(
            F.col("_op").isin(OP_UPSERT, OP_DELETE)).persist()
        dirty_buckets = sorted(r[0] for r in latest.select(
            _bucket_col().alias("b")).distinct().collect())
        doc_ids_sub = cat.read(DOC_IDS_TABLE).where(
            F.col("id_bucket").isin(dirty_buckets))
        # ONE left join resolves every event (the mapping is unique per
        # url, so left join + null test is exactly the inner/anti pair)
        resolved = latest.join(doc_ids_sub.select("url", "doc_id"), "url", "left")
        is_up = F.col("_op") == OP_UPSERT
        known = resolved.where(is_up & F.col("doc_id").isNotNull()).select(
            "url", "warc_ts", "text", "doc_id")
        novel = dense_ids(
            resolved.where(is_up & F.col("doc_id").isNull())
            .select("url", "warc_ts", "text"), "url", "_rk0",
        ).withColumn("doc_id", F.col("_rk0") + F.lit(base)).drop("_rk0")
        ups = (known.withColumn("_new", F.lit(0))
               .unionByName(novel.withColumn("_new", F.lit(1)))).persist()
        del_ids = resolved.where(
            (F.col("_op") == OP_DELETE) & F.col("doc_id").isNotNull()
        ).select("doc_id").persist()
        # ONE fused probe: counts + dirty shard ids
        row = (
            ups.select("doc_id", "_new", F.lit(0).alias("_d"))
            .unionByName(del_ids.select(
                "doc_id", F.lit(0).alias("_new"), F.lit(1).alias("_d")))
            .select("_new", "_d", self._shard_col().alias("s"))
            .agg(F.sum(1 - F.col("_d")).alias("n_up"),
                 F.sum("_new").alias("n_new"), F.sum("_d").alias("n_del"),
                 F.collect_set("s").alias("shards"))
            .first()
        )
        id_rows = (
            doc_ids_sub.join(latest.select("url"), "url", "left_anti")
            .select("url", "doc_id", "id_bucket")
            .unionByName(ups.select("url", "doc_id")
                         .withColumn("id_bucket", _bucket_col()))
        )
        return _Batch(
            int(row["n_up"] or 0), int(row["n_new"] or 0),
            int(row["n_del"] or 0), sorted(int(s) for s in row["shards"] or []),
            dirty_buckets, ups.drop("_new"), del_ids, latest.select("url"),
            id_rows, [latest, ups, del_ids])

    def _plan(self) -> _Plan:
        """Resolve the registry (ib.TABLE_RULES) against this catalog:
        the tables to splice, the tables to drop, and the kernel's
        inputs for them."""
        cat = self.cat
        splice: set = set()
        drop: list = []
        store_fields: list = []
        quant_avgdl = sorted_meta = None
        attrs = set(self.attr_exprs)
        for name in cat.list_tables():
            rule = ib.table_rule(name)
            cols = ({f.name for f in cat.get_mapping(name).fields}
                    - {"doc_id", "shard"})
            if name == ib.POSTINGS_Q_TABLE:
                ok = cat.exists(ib.POSTINGS_Q_META)
                if ok:
                    quant_avgdl = float(cat.read_small(ib.POSTINGS_Q_META)[0]["avgdl"])
            elif name == ib.DOC_STORE_TABLE:
                store_fields = [f.name for f in cat.get_mapping(name).fields
                                if f.name in cols]
                ok = cols <= set(DOC_COLS) | attrs
            elif name == ib.DOC_ATTRS_TABLE:
                ok = bool(attrs) and cols == attrs
            elif name in (ib.SORTED_ATTRS_TABLE, ib.SORTED_ATTRS_META,
                          ib.SORTED_ATTRS_OWNERS) or name.startswith(
                              ib.SORTED_ATTRS_SEG_PREFIX):
                ok = bool(self.sort_field)
            else:
                ok = True
            if rule == ib.DROP or (rule in (ib.SPLICE, ib.DELTA) and not ok):
                drop.append(name)
            elif rule == ib.SPLICE:
                splice.add(name)
        if self.sort_field and cat.exists(ib.SORTED_ATTRS_META):
            sorted_meta = cat.read_small(ib.SORTED_ATTRS_META)[0]
            if sorted_meta["sort_field"] != self.sort_field:
                raise ValueError(
                    f"index is sorted by {sorted_meta['sort_field']!r} but "
                    f"this indexer maintains {self.sort_field!r}")
        return _Plan(splice, drop, store_fields, quant_avgdl, sorted_meta)

    def _kernel_args(self, plan: _Plan) -> dict:
        return dict(
            dps=self.docs_per_shard, mode=self.mode,
            positions=ib.POSITIONS_TABLE in plan.splice,
            quant_avgdl=(plan.quant_avgdl
                         if ib.POSTINGS_Q_TABLE in plan.splice else None),
            store_fields=(plan.store_fields
                          if ib.DOC_STORE_TABLE in plan.splice else ()),
            attr_names=(list(self.attr_exprs)
                        if ib.DOC_ATTRS_TABLE in plan.splice else ()),
        )

    def _old_aggregates(self, dirty: list[int]):
        """The dirty shards' pre-batch aggregates, read before any write
        of the batch: per-term (term_id, odf, ocf) from the postings'
        columnar block counts (no decoding), and (n_docs, Σdl)."""
        in_dirty = pc.field("shard").isin(dirty)
        ot = self.cat.arrow_dataset(ib.POSTINGS_TABLE).to_table(
            columns=["term_id", "n_docs", "sum_tf"], filter=in_dirty
        ).group_by("term_id").aggregate([("n_docs", "sum"), ("sum_tf", "sum")])
        dl = self.cat.arrow_dataset(ib.DOC_LENS_TABLE).to_table(
            columns=["dl"], filter=in_dirty)
        return ot, dl.num_rows, int(pc.sum(dl["dl"]).as_py() or 0)

    def _splice_driver(self, b: _Batch, plan: _Plan):
        """Micro-batch splice: the kernel runs in-process over the dirty
        shards' post-batch rows; every write is a driver parquet write."""
        cat, dirty = self.cat, b.dirty
        old = cat.arrow_dataset(DOCS_TABLE).to_table(
            columns=DOC_COLS, filter=pc.field("shard").isin(dirty))
        rows = pa.concat_tables([
            old.filter(pc.invert(pc.is_in(old["url"], value_set=b.touched_urls))),
            b.ups.cast(old.schema),
        ]).sort_by("doc_id")
        if self.attr_exprs:
            attrs = _local_select(self.spark, rows, *[
                F.expr(e).alias(n) for n, e in self.attr_exprs.items()])
            for n in attrs.column_names:
                rows = rows.append_column(n, attrs[n])
        sp = ib.splice_shards(rows, **self._kernel_args(plan))
        cat.replace_partitions(DOCS_TABLE, _with_shard(
            rows.select(DOC_COLS), self.docs_per_shard), "shard", dirty)
        cat.replace_partitions(DOC_IDS_TABLE, b.id_rows, "id_bucket",
                               b.dirty_buckets)
        for name, tbl in sp.tables.items():
            if name not in _TERM_KEYED:
                cat.replace_partitions(name, tbl, "shard", dirty)

        def finish(terms, ids):
            for name, cols in _TERM_KEYED.items():
                if name in sp.tables:
                    cat.replace_partitions(name, ib.attach_term_ids(
                        sp.tables[name], terms, ids, cols), "shard", dirty)

        n_segs = -1
        if plan.sorted_meta is not None:
            ups_attrs = rows.filter(pc.is_in(
                rows["doc_id"], value_set=b.ups["doc_id"]))
            n_segs = self._sorted_segment_writes(
                plan.sorted_meta, ups_attrs.select(
                    ["doc_id", *self.attr_exprs]), b.del_ids)
        return sp.terms, sp.n_docs, sp.sum_dl, finish, n_segs

    def _splice_spark(self, b: _Batch, plan: _Plan):
        """Backlog splice: the same kernel in ONE mapInArrow job, one
        task per group of dirty shards, each writing its partitions
        into the tables' stage dirs (postings keyed by term string into
        side stages) and returning the shards' per-term counts plus one
        null-term row of (n_docs, Σdl).  `finish` attaches the new term
        ids to the staged postings in a second job.  The batch may have
        been resolved on either placement."""
        spark, cat, dirty = self.spark, self.cat, b.dirty
        ups, touched, id_rows = b.ups, b.touched_urls, b.id_rows
        if isinstance(ups, pa.Table):
            ups = spark.createDataFrame(ups)
            touched = spark.createDataFrame(pa.table({"url": touched}))
        else:
            id_rows = id_rows.repartition(
                max(1, min(len(b.dirty_buckets),
                           spark.sparkContext.defaultParallelism)), "id_bucket")
        rows = (cat.read(DOCS_TABLE).where(F.col("shard").isin(dirty))
                .select(*DOC_COLS).join(touched, "url", "left_anti")
                .unionByName(ups.select(*DOC_COLS)))
        rows = self._attr_cols(rows).withColumn("shard", self._shard_col())
        stage = {n: cat.stage_path(n) for n in [DOCS_TABLE, *plan.splice]}
        schemas = {n: cat.arrow_schema(n, drop=("shard",)) for n in stage}
        raw = {n: stage[n] + "-terms" for n in _TERM_KEYED if n in stage}
        kw = self._kernel_args(plan)

        def task(batches):
            batches = list(batches)
            if not batches:
                return
            tbl = pa.Table.from_batches(batches)
            sp = ib.splice_shards(tbl, **kw)
            Catalog.write_arrow_partitions(
                stage[DOCS_TABLE], tbl, "shard", schemas[DOCS_TABLE])
            for name, t in sp.tables.items():
                Catalog.write_arrow_partitions(
                    raw.get(name, stage[name]), t, "shard",
                    None if name in raw else schemas[name])
            yield pa.RecordBatch.from_pydict({
                "term": sp.terms["term"].to_pylist() + [None],
                "ndf": sp.terms["ndf"].to_pylist() + [sp.n_docs],
                "ncf": sp.terms["ncf"].to_pylist() + [sp.sum_dl],
            }, schema=_TERMS_SCHEMA)

        n_part = max(1, min(len(dirty), spark.sparkContext.defaultParallelism))
        got = (rows.repartition(n_part, "shard")
               .mapInArrow(trimmed(task), "term string, ndf long, ncf long")
               .toArrow())
        total = got.filter(pc.is_null(got["term"]))
        agg = got.filter(pc.is_valid(got["term"])).group_by("term").aggregate(
            [("ndf", "sum"), ("ncf", "sum")])
        terms = pa.table({"term": agg["term"], "ndf": agg["ndf_sum"],
                          "ncf": agg["ncf_sum"]})
        for name in stage:
            if name not in raw:
                cat.replace_partitions(name, stage[name], "shard", dirty)
        cat.replace_partitions(DOC_IDS_TABLE, id_rows, "id_bucket",
                               b.dirty_buckets)

        def finish(term_strs, term_ids):
            def attach(batches):
                import os

                for bt in batches:
                    for s in bt.column(0).to_pylist():
                        for name, src in raw.items():
                            part = os.path.join(src, f"shard={s}")
                            if not os.path.isdir(part):
                                continue
                            t = pads.dataset(part).to_table()
                            t = t.append_column("shard", pa.array(
                                [s] * t.num_rows, pa.int32()))
                            Catalog.write_arrow_partitions(
                                stage[name], ib.attach_term_ids(
                                    t, term_strs, term_ids, _TERM_KEYED[name]),
                                "shard", schemas[name])
                yield from ()

            (spark.createDataFrame([(s,) for s in dirty], "s int")
             .repartition(n_part).mapInArrow(trimmed(attach), "s int").collect())
            for name, src in raw.items():
                cat.replace_partitions(name, stage[name], "shard", dirty)
                shutil.rmtree(src, ignore_errors=True)

        n_segs = -1
        if plan.sorted_meta is not None:
            ups_attrs = rows.join(ups.select("doc_id"), "doc_id", "left_semi")
            n_segs = self._sorted_segment_writes(
                plan.sorted_meta,
                ups_attrs.select("doc_id", *self.attr_exprs).toArrow(),
                b.del_ids if isinstance(b.del_ids, list)
                else [r[0] for r in b.del_ids.collect()])
        return (terms, int(pc.sum(total["ndf"]).as_py() or 0),
                int(pc.sum(total["ncf"]).as_py() or 0), finish, n_segs)

    def _term_dict_delta(self, ot: pa.Table, nt: pa.Table, tbase: int):
        """Delta-maintain term_dict: subtract the dirty shards' old
        per-term (df, cf) `ot`, add their new ones `nt`; keep existing
        term ids, append new terms from `tbase` in term order (as
        dense_ids assigns).  Returns (appended-term count, terms, ids)
        with terms/ids covering `nt`'s vocabulary."""
        cat = self.cat
        ot = pa.table({"term_id": ot["term_id"], "odf": ot["n_docs_sum"],
                       "ocf": ot["sum_tf_sum"]})
        if cat.arrow_dataset(ib.TERM_DICT_TABLE).count_rows() > DRIVER_DICT_MAX_ROWS:
            return self._term_dict_delta_spark(ot, nt, tbase)
        od = cat.arrow_dataset(ib.TERM_DICT_TABLE).to_table()
        df, cf = od["df"].to_numpy().copy(), od["cf"].to_numpy().copy()
        at = pc.index_in(ot["term_id"], value_set=od["term_id"]).to_numpy(
            zero_copy_only=False)
        np.subtract.at(df, at, ot["odf"].to_numpy())
        np.subtract.at(cf, at, ot["ocf"].to_numpy())
        pos = pc.index_in(nt["term"], value_set=od["term"])
        known = pc.is_valid(pos)
        at = pos.filter(known).to_numpy(zero_copy_only=False)
        np.add.at(df, at, nt["ndf"].filter(known).to_numpy())
        np.add.at(cf, at, nt["ncf"].filter(known).to_numpy())
        new = nt.filter(pc.invert(known)).sort_by("term")
        d = pa.concat_tables([
            pa.table({"term": od["term"], "term_id": od["term_id"],
                      "df": df, "cf": cf}).filter(pa.array(df > 0)),
            pa.table({"term": new["term"],
                      "term_id": np.arange(tbase, tbase + new.num_rows,
                                           dtype=np.int64),
                      "df": new["ndf"], "cf": new["ncf"]}),
        ]).sort_by("term")
        cat.write_small_arrow(ib.TERM_DICT_TABLE, d)
        sub = d.filter(pc.is_in(d["term"], value_set=nt["term"]))
        return new.num_rows, sub["term"].combine_chunks(), sub["term_id"].combine_chunks()

    def _term_dict_delta_spark(self, ot: pa.Table, nt: pa.Table, tbase: int):
        """_term_dict_delta as Spark joins, for vocabularies past
        DRIVER_DICT_MAX_ROWS."""
        spark, cat = self.spark, self.cat
        nt_df = spark.createDataFrame(nt)
        base = cat.read(ib.TERM_DICT_TABLE).join(
            spark.createDataFrame(ot), "term_id", "left").select(
            "term", "term_id",
            (F.col("df") - F.coalesce("odf", F.lit(0))).alias("dfb"),
            (F.col("cf") - F.coalesce("ocf", F.lit(0))).alias("cfb"))
        m = base.join(nt_df, "term", "full_outer").select(
            "term", "term_id",
            (F.coalesce("dfb", F.lit(0)) + F.coalesce("ndf", F.lit(0))).alias("df"),
            (F.coalesce("cfb", F.lit(0)) + F.coalesce("ncf", F.lit(0))).alias("cf"),
        ).where(F.col("df") > 0)
        new = dense_ids(m.where(F.col("term_id").isNull()).drop("term_id"),
                        "term", "_rk0").withColumn(
            "term_id", F.col("_rk0") + F.lit(tbase)).drop("_rk0")
        d = (m.where(F.col("term_id").isNotNull())
             .unionByName(new.select("term", "term_id", "df", "cf"))
             .persist())
        try:
            cat.write(ib.TERM_DICT_TABLE, d, sort_within_partitions=["term"])
            sub = d.join(nt_df.select("term"), "term").select(
                "term", "term_id").toArrow()
        finally:
            d.unpersist()
        n_new = int(pc.sum(pc.greater_equal(sub["term_id"], tbase)).as_py() or 0)
        return n_new, sub["term"].combine_chunks(), sub["term_id"].combine_chunks()

    def _stats_delta(self, dirty: list[int], old: tuple, new: tuple) -> None:
        """(n_docs, Σdl) lose the dirty shards' old counts and gain the
        new ones; avgdl = float(Σdl)/float(n), the same IEEE division
        as a full build — bitwise identical to a rebuild's avgdl."""
        st = self.cat.read_small(ib.STATS_TABLE)[0]
        n = int(st["n_docs"]) - old[0] + new[0]
        sum_dl = int(st["sum_dl"] or 0) - old[1] + new[1]
        self.cat.write_small(
            ib.STATS_TABLE,
            [(n, sum_dl, (float(sum_dl) / float(n)) if n else 0.0,
              max(int(st["n_shards"]), max(dirty) + 1), self.mode)],
            "n_docs long, sum_dl long, avgdl double, n_shards int, analyzer string",
        )

    def _sorted_segment_writes(self, meta: dict, ups_attrs: pa.Table,
                               del_ids: list[int]) -> int:
        """Keep the index-sorted table alive with Lucene's answer —
        sorted DELTA SEGMENTS: the batch's upserted docs' attr rows
        become one new sorted segment table (attrs_sorted_seg_<n>), and
        the owners table (doc_id → owning segment seq, -1 deleted)
        records which segment holds each touched doc's live row; the
        base build is segment 0.  The reader merges fragments across
        segments in max-stat order (reader.py::sorted_topk).  Costs one
        O(batch) sorted write and one O(touched-since-build) owners
        rewrite per batch, never an O(corpus) re-sort; compact_sorted
        folds the segments back past SORTED_COMPACT_SEGS.  Returns the
        segment count after the batch."""
        cat = self.cat
        n_up = ups_attrs.num_rows
        seq = int(meta.get("n_segs") or 0) + (1 if n_up else 0)
        touched = ups_attrs["doc_id"].to_pylist() + list(del_ids)
        if touched:
            own = pa.table({"doc_id": pa.array(touched, pa.int64()),
                            "seq": pa.array([seq] * n_up + [-1] * len(del_ids),
                                            pa.int64())})
            if cat.exists(ib.SORTED_ATTRS_OWNERS):
                prev = cat.arrow_dataset(ib.SORTED_ATTRS_OWNERS).to_table()
                own = pa.concat_tables([prev.filter(pc.invert(pc.is_in(
                    prev["doc_id"], value_set=own["doc_id"]))), own])
            cat.write_small_arrow(ib.SORTED_ATTRS_OWNERS, own,
                                  ddl="doc_id long, seq long")
        if n_up:
            f = self.sort_field
            cat.write_small_arrow(
                self._seg_table(seq),
                ups_attrs.sort_by([(f, "descending"), ("doc_id", "ascending")],
                                  null_placement="at_end"),
                ddl=", ".join(f"`{c.name}` {c.dataType.simpleString()}" for c in
                              cat.get_mapping(ib.SORTED_ATTRS_TABLE).fields))
            cat.write_small(ib.SORTED_ATTRS_META, [(f, 1, seq)],
                            "sort_field string, descending int, n_segs long")
        return seq

    # -- streaming (A2): foreachBatch wrapper --------------------------------
    def watch(self, stream_df: DataFrame, checkpoint_dir: str, **trigger_kw):
        """Attach to a change stream: Structured Streaming foreachBatch →
        apply_changes.  The checkpoint dir gives at-least-once replay with
        idempotent batches — the analog of the reference's
        on_reconnect → re-backfill (table.cr:48-51), but incremental."""

        def process(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            self.apply_changes(batch_df)

        return (
            stream_df.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**(trigger_kw or {"availableNow": True}))
            .start()
        )
