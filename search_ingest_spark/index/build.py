"""Inverted-index build — the half the reference delegates to Elasticsearch.

Reference analog: `Table#backfill` scans every row and bulk-ships it to
ES, which builds the actual index internally
(`/root/reference/src/search-ingest/table.cr:80-127`).  Here the build
is a native Spark pipeline (north rule):

  docs ──mapInArrow──► PACKED rows (doc_id, dl, terms[], tfs[][, poss])
        (doc-local tf/dl: the tokenize kernel needs NO shuffle)
       ──repartition(shard)──persist (CACHE, never a committed table)
  packed rows ──projection──► doc_lens, stats(N, Σdl, avgdl)     [stage doc_lens]
  packed rows ──mapInArrow encoder (flatten+sort per shard)──►
        blocks                                                   [stage blocks]
  blocks ──agg(Σn_docs, Σsum_tf per term)──► term_dict           [stage term_dict]
  blocks ⋈ term_dict(term→id) ──► postings                       [stage postings]
  postings ──per-shard agg──► build_manifest (lineage + metrics) [stage manifest]

Scale design notes
- **ONE shuffle, of PACKED rows.**  The exchange moves one row per doc
  (term/tf arrays inside), not one row per posting: N docs instead of
  ~35N (doc, term) rows cross the wire, and — the bigger win measured
  on this box — ~35x fewer rows cross the JVM↔Python Arrow boundary on
  BOTH sides of the exchange (guide §2.3/§8: shuffle packed payloads,
  explode next to the consumer).  The per-(shard, term, doc) sort that
  the block encoder needs moved INTO the encoder kernel: a NumPy
  lexsort over dictionary-encoded term codes, one shard at a time —
  r07 A/B: packed fill+encode 10-12 s vs 29-31 s exploded at 1.2M docs
  on local[32], block output bit-identical.
- The cache is ephemeral executor storage (memory-and-disk, like
  shuffle files); committing the token stream as a table would double
  every build's write volume at corpus scale — Lucene persists
  postings, not token streams.  Everything a later incremental splice
  needs is recoverable from COLUMNS of the postings table: per-block
  (n_docs, sum_tf) aggregates give each dirty shard's exact per-term
  (df, cf) without decoding a single block.  The encoder emits blocks
  keyed by term STRING, and the dense term ids are joined onto the
  blocks output — which is 10-100x smaller than raw postings — instead
  of re-shuffling the token stream through a term_id join.
- **term_dict is an aggregate of the blocks output** (per term:
  df = Σ n_docs, cf = Σ sum_tf — exact by construction, the same
  columnar identity the incremental splice uses), so the Zipf-skewed
  39M-row (term, salt) aggregation the exploded pipeline needed is now
  a sub-second scan of ~1M block rows.  Skew defense is structural:
  doc-range sharding splits every hot term's postings across shards
  (the doc range IS the salt), and the blocks agg key space is
  (term) over block rows already bounded per (shard, term).
- **Sharding = doc-id ranges** (`shard = doc_id // docs_per_shard`), the
  Spark analog of ES's routing shards (`elastic.cr:396-405`): every
  term's posting run within a shard is bounded by the shard's doc
  count, so the hot-term (stopword) skew that would straggle a naive
  `groupBy(term)` is structurally split across all shards (SURVEY
  §4.1).  The encoder holds ONE SHARD's flattened postings in memory
  at a time (not the whole task partition) — size docs_per_shard so a
  shard's postings fit executor memory, the same contract the shard
  design always had.
- Partitioned writes always repartition by the partition column first
  (or consume an already-shard-partitioned frame): without it every
  task opens a writer per partition dir (tasks x shards tiny files —
  measured 8x slower at 32 cores).
- **Resumable**: each stage records an input fingerprint in
  build_state.json (catalog-atomic); a restarted build skips completed
  stages, and the postings stage additionally checkpoints per shard
  batch — the incremental analog of the reference's blunt
  re-backfill-everything recovery (`table.cr:48-51`).
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
import uuid
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from search_ingest_spark.catalog import Catalog
from search_ingest_spark.index.codec import BLOCK_SIZE, encode_blocks_bulk
from search_ingest_spark.session import trimmed

TERM_DICT_TABLE = "term_dict"
DOC_LENS_TABLE = "doc_lens"
STATS_TABLE = "stats"
POSTINGS_TABLE = "postings"
POSTINGS_Q_TABLE = "postings_q"
DOC_STORE_TABLE = "doc_store"
POSITIONS_TABLE = "positions"
DOC_ATTRS_TABLE = "doc_attrs"
SORTED_ATTRS_TABLE = "attrs_sorted"
SORTED_ATTRS_META = "attrs_sorted_meta"
# incremental delta segments of the index-sorted table (Lucene-style:
# each changefeed batch appends ONE sorted segment; the owners table
# maps doc_id → owning segment seq, -1 = deleted; base segment = seq 0)
SORTED_ATTRS_SEG_PREFIX = "attrs_sorted_seg_"
SORTED_ATTRS_OWNERS = "attrs_sorted_owners"
BIGRAM_TABLE = "bigram_stats"
MANIFEST_TABLE = "build_manifest"
# one row: the avgdl postings_q's impacts were quantized with, so a
# changefeed batch quantizes its spliced shards the same way
POSTINGS_Q_META = "postings_q_meta"

# How a changefeed batch (streaming/incremental.py) maintains each index
# table.  apply_changes walks this registry: a registered table whose
# rule the batch cannot honour is dropped rather than left stale.  A
# table with no rule is not an index table and is kept as it is: the
# changefeed's own docs / doc_ids / counters, which apply_changes
# rewrites itself, or another subsystem's table in the same catalog.
# A new index table therefore needs a rule here
# (tests/test_incremental.py::test_registry_covers_every_built_table).
SPLICE = "splice"  # rewritten per dirty shard from the post-batch docs
DELTA = "delta"    # updated from the batch's exact aggregates / segments
KEEP = "keep"      # build-time metadata the batch leaves as it is
DROP = "drop"      # not recomputable per batch: dropped until a rebuild
TABLE_RULES = {
    DOC_LENS_TABLE: SPLICE,
    POSTINGS_TABLE: SPLICE,
    POSTINGS_Q_TABLE: SPLICE,   # dropped with its meta if that is absent
    DOC_STORE_TABLE: SPLICE,    # dropped if a field is not a doc column
    POSITIONS_TABLE: SPLICE,
    DOC_ATTRS_TABLE: SPLICE,    # needs the indexer's attr_exprs
    TERM_DICT_TABLE: DELTA,
    STATS_TABLE: DELTA,
    SORTED_ATTRS_TABLE: DELTA,  # sorted delta segments, needs sort_field
    SORTED_ATTRS_META: DELTA,
    SORTED_ATTRS_OWNERS: DELTA,
    POSTINGS_Q_META: KEEP,
    BIGRAM_TABLE: DROP,
    MANIFEST_TABLE: DROP,
}


def table_rule(name: str) -> str | None:
    """The registry rule of an index table (None: not an index table)."""
    if name.startswith(SORTED_ATTRS_SEG_PREFIX):
        return DELTA
    return TABLE_RULES.get(name)

_STATE_FILE = "build_state.json"

# floor for the docs_per_shard DEFAULT: shards carry per-shard fixed
# cost through every stage (files, tasks, writer dirs, kernel calls),
# so tiny corpora must not be sliced into core-count many shards.  An
# explicit docs_per_shard always wins; this only shapes the default.
_MIN_DOCS_PER_SHARD = 4096

# term_dict driver-side fast path cap: blocks-output row count (an
# upper bound on the vocabulary, known from parquet footers alone)
# at or under this takes a pyarrow group_by on the driver instead of
# ~3 Spark jobs; mirrors incremental.DRIVER_DICT_MAX_ROWS
_TERM_DICT_DRIVER_MAX_BLOCK_ROWS = 5_000_000

# dense_ids driver fast path cap: key spaces at or under this are
# collected (keys only), ranked in Python and broadcast back — one job
# instead of the sample + rank-window + offset-join chain.  Sized so
# the collect stays a few MB of driver traffic.
_DENSE_IDS_DRIVER_MAX = 65_536


@dataclass
class BuildInfo:
    n_docs: int
    avgdl: float
    n_shards: int
    n_terms: int
    stages_run: list[str]
    stages_skipped: list[str]


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def dense_ids(df: DataFrame, key_col: str, out_col: str, n_buckets: int = 256) -> DataFrame:
    """Assign dense 0..N-1 ids = global rank of `key_col`, scalably.

    No global single-partition window: keys are range-bucketed, ranks
    come from a window partitioned by bucket (bounded size), and
    driver-side cumulative offsets over the (tiny) bucket-count table
    stitch buckets together.  ids are dense AND globally key-ordered,
    invariant to n_buckets.

    r5 fix: the bucket must be a PURE FUNCTION of the key value.  The
    previous scheme bucketed via repartitionByRange +
    spark_partition_id, whose sampled range boundaries are recomputed
    independently by every job over the lineage (the counts job and the
    rank/join job at minimum; more under AQE) — when two samplings
    disagreed, offsets mismatched ranks and ids COLLIDED (observed:
    13,831 rows → 13,538 distinct ids on a child-subset index build).
    Boundaries are now collected ONCE to the driver (seeded sample →
    evenly spaced cut points) and embedded as literals, so every
    downstream execution buckets identically; boundary quality only
    affects balance, never correctness."""
    n = df.count()
    if n == 0:
        return df.withColumn(out_col, F.lit(0).cast("long"))
    key_type = df.select(key_col).schema[0].dataType
    if n <= _DENSE_IDS_DRIVER_MAX and isinstance(
            key_type, (T.StringType, T.IntegralType)):
        # driver fast path: one narrow collect of the KEYS (never the
        # payload columns), rank them in Python (same code-point order
        # as Spark's string sort), broadcast the (key, id) map back —
        # replaces the sample job + the bucketed rank window/offset
        # join with one broadcast hash join (guide §5: per-job fixed
        # cost dominates small key spaces).  Only taken when keys are
        # unique and non-null — with duplicates the window path's
        # row_number over equal keys is the documented (and
        # nondeterministically ordered) semantics, so it is kept.
        # String and integral keys only: a float NaN passes the
        # uniqueness check (NaN != NaN) but has no place in Python's
        # sorted(), while Spark orders it above every number.
        keys = [r[0] for r in df.select(key_col).collect()]
        if None not in keys and len(set(keys)) == n:
            id_map = df.sparkSession.createDataFrame(
                [(k, i) for i, k in enumerate(sorted(keys))],
                f"`{key_col}` {key_type.simpleString()}, __did long",
            )
            return df.join(F.broadcast(id_map), key_col).select(
                *[F.col(c) for c in df.columns],
                F.col("__did").cast("long").alias(out_col))
    bounds: list = []
    if n_buckets > 1 and n > 1:
        frac = min(1.0, (n_buckets * 32.0) / n)
        sample = sorted(
            r[0] for r in
            df.select(key_col).where(F.col(key_col).isNotNull())
            .sample(False, frac, seed=7).collect()
        )
        if sample:
            cuts = {
                sample[(i * len(sample)) // n_buckets]
                for i in range(1, n_buckets)
            }
            bounds = sorted(cuts)
    if bounds:
        # bucket = #(boundaries <= key): deterministic given the literal
        # boundary array, order-preserving across buckets
        barr = F.array(*[F.lit(b) for b in bounds])
        bucket = F.aggregate(
            barr, F.lit(0),
            lambda acc, b: acc + F.when(b <= F.col(key_col), 1).otherwise(0),
        )
    else:
        bucket = F.lit(0)
    with_bucket = df.withColumn("_bucket", bucket)
    counts = with_bucket.groupBy("_bucket").agg(F.count("*").alias("_cnt"))
    # the counts table is ≤ n_buckets rows BY CONSTRUCTION, so a
    # single-partition window is the intended physical plan; partition on
    # a non-foldable constant (pmod(_bucket, 1) == 0) so WindowExec does
    # not log its moving-all-data warning on every build
    w = (
        Window.partitionBy(F.pmod(F.col("_bucket"), F.lit(1)))
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn("_off", F.coalesce(F.sum("_cnt").over(w), F.lit(0)))
    rank_w = Window.partitionBy("_bucket").orderBy(key_col)
    return (
        with_bucket.withColumn("_rk", F.row_number().over(rank_w) - 1)
        .join(F.broadcast(offsets.select("_bucket", "_off")), "_bucket")
        .withColumn(out_col, (F.col("_off") + F.col("_rk")).cast("long"))
        .drop("_bucket", "_rk", "_off")
    )


def _input_fingerprint(docs: DataFrame, id_col: str, text_col: str) -> tuple[str, int]:
    """Cheap deterministic input fingerprint + row count in ONE columnar
    scan (lineage for resume idempotence; the count feeds shard sizing)."""
    # content-sensitive: xxhash64(id, text) — a same-length text edit must
    # change the fingerprint or resume=True would silently serve stale data
    row = docs.select(
        F.count("*").alias("n"),
        F.expr(f"bit_xor(xxhash64({id_col}))").alias("h1"),
        F.expr(f"bit_xor(xxhash64({id_col}, {text_col}))").alias("h2"),
        F.max(id_col).alias("max_id"),
        F.min(id_col).alias("min_id"),
    ).first()
    return (f"{row['n']}:{row['h1']}:{row['h2']}", int(row["n"]),
            int(row["max_id"]) if row["max_id"] is not None else -1,
            int(row["min_id"]) if row["min_id"] is not None else 0)


class _BuildState:
    """Stage checkpoint registry (build_state.json in the catalog root)."""

    def __init__(self, cat: Catalog, input_fp: str) -> None:
        self.path = os.path.join(cat.root, _STATE_FILE)
        self.input_fp = input_fp
        self.reset = False  # True when prior state was for DIFFERENT input
        try:
            with open(self.path) as fh:
                data = json.load(fh)
            if data.get("input_fp") != input_fp:
                data = {"input_fp": input_fp, "stages": {}}
                self.reset = True
        except (FileNotFoundError, json.JSONDecodeError):
            data = {"input_fp": input_fp, "stages": {}}
        self.data = data
        # concurrent stages (doc_lens/term_dict/blocks run in a thread pool)
        # finish together: serialize the read-modify-write and give each
        # call its own tmp file so two os.replace never race
        self._lock = threading.Lock()

    def done(self, stage: str) -> bool:
        return stage in self.data["stages"]

    def mark(self, stage: str, **meta) -> None:
        with self._lock:
            self.data["stages"][stage] = {"ts": time.time(), **meta}
            tmp = f"{self.path}.{uuid.uuid4().hex[:8]}.tmp"
            with open(tmp, "w") as fh:
                json.dump(self.data, fh)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, self.path)


# ---------------------------------------------------------------------------
# postings block layout
# ---------------------------------------------------------------------------

# Block metadata includes per-block aggregates (n_docs = block df
# contribution, sum_tf = block cf contribution): the incremental splice
# recovers a dirty shard's exact per-term (df, cf) from a COLUMNAR scan
# of these — no raw token stream is ever persisted (see build_index).
# Block-max metadata is (max_tf, min_dl) rather than a baked-in max
# BM25 factor: the tf-norm is increasing in tf and decreasing in dl, so
# max_tf/(max_tf + k1*(1-b+b*min_dl/avgdl)) is a valid upper bound
# under the avgdl CURRENT at query time — incremental batches shift
# avgdl without invalidating previously-built shards (Lucene bakes
# norms in and lives with approximate stats; we keep exactness).
#
# encoder emits the term STRING; term ids are joined onto the (10-100x
# smaller) blocks output afterwards, so raw postings never shuffle twice
POSTINGS_ENC_SCHEMA = (
    "term string, shard int, block_id int, first_doc_id long, last_doc_id long,"
    " n_docs int, max_tf int, sum_tf long, min_dl int, data binary"
)

POSTINGS_COLS = [
    "term_id", "shard", "block_id", "first_doc_id", "last_doc_id",
    "n_docs", "max_tf", "sum_tf", "min_dl", "data",
]

# impact-quantized postings (build_index(quantize=True), codec module
# doc): one byte per posting, max_impact = exact per-block upper bound
POSTINGS_Q_ENC_SCHEMA = (
    "term string, shard int, block_id int, first_doc_id long, last_doc_id long,"
    " n_docs int, max_impact int, data binary"
)
POSTINGS_Q_COLS = [
    "term_id", "shard", "block_id", "first_doc_id", "last_doc_id",
    "n_docs", "max_impact", "data",
]


def quantize_impacts(
    tf: np.ndarray, dl: np.ndarray, avgdl: float
) -> np.ndarray:
    """q = floor(tf_norm * IMPACT_SCALE) per posting — the build-time
    quantization the quantized oracle SQL replays term by term.  The
    expression mirrors bm25.tf_norm_expr's parenthesization exactly so
    numpy and DuckDB produce the same float64 before the floor."""
    from search_ingest_spark.index.codec import IMPACT_SCALE
    from search_ingest_spark.query.bm25 import B, K1

    t = tf.astype(np.float64)
    d = dl.astype(np.float64)
    tfn = (t * (K1 + 1.0)) / (t + K1 * (1.0 - B + B * d / avgdl))
    return np.floor(tfn * IMPACT_SCALE).astype(np.int64)


# ---------------------------------------------------------------------------
# packed-row kernels (mapInArrow): ONE row per doc crosses the exchange
# and the Python boundary; the per-(shard, term, doc) sort the block
# encoder needs runs in NumPy inside the kernel, one shard at a time.
# Measured r07 (1.2M docs, local[32], interleaved A/B): fill+encode
# 10-12 s packed vs 29-31 s exploded — the exploded pipeline's cost was
# ~80% Arrow-boundary serialization of 39.7M (doc, term) rows, which
# no kernel-side change could touch (guide §4.1: you control how many
# columns/rows cross, not the per-row cost).  Block output is
# bit-identical (same segmentation, same bytes).
# ---------------------------------------------------------------------------

PACKED_SCHEMA = "doc_id long, dl int, terms array<string>, tfs array<int>"
PACKED_POS_SCHEMA = PACKED_SCHEMA + ", poss array<array<int>>"


def make_packed_tokenizer(id_col: str, text_col: str, mode: str,
                          with_positions: bool):
    """mapInArrow kernel: rows(id, text) → ONE packed row per doc
    (doc_id, dl, terms[], tfs[][, poss[][]]).  Token-less docs emit no
    row (identical to the exploded kernel, which emitted no (doc, term)
    rows for them — doc_lens/stats count docs with ≥1 term only)."""
    import re
    from collections import Counter

    simple_re = re.compile(r"[a-z0-9]+")

    def kernel(it):
        import pyarrow as pa

        from search_ingest_spark.analysis import analyze, analyze_pos

        for batch in it:
            ids = batch.column(batch.schema.get_field_index(id_col))
            texts = batch.column(
                batch.schema.get_field_index(text_col)).to_pylist()
            ids_np = ids.to_numpy(zero_copy_only=False)
            out_ids: list[int] = []
            out_dls: list[int] = []
            all_terms: list[str] = []
            all_tfs: list[int] = []
            offsets = [0]
            all_pos: list[int] = []
            pos_offsets = [0]
            for i, text in enumerate(texts):
                if text is None:
                    continue
                if with_positions:
                    if mode == "simple":
                        pairs = [(t, p) for p, t in
                                 enumerate(simple_re.findall(text.lower()))]
                        dl = len(pairs)
                    else:
                        pairs = analyze_pos(text)
                        dl = 1 + pairs[-1][1] if pairs else 0
                    if not pairs:
                        continue
                    agg: dict[str, list[int]] = {}
                    for t, p in pairs:
                        agg.setdefault(t, []).append(p)
                    all_terms.extend(agg.keys())
                    for v in agg.values():
                        all_tfs.append(len(v))
                        all_pos.extend(v)
                        pos_offsets.append(len(all_pos))
                    offsets.append(len(all_terms))
                else:
                    if mode == "simple":
                        toks = simple_re.findall(text.lower())
                        dl = len(toks)
                    else:
                        toks, dl = analyze(text)
                    if not toks:
                        continue
                    # collections.Counter counts in C (_count_elements)
                    # with first-encounter key order — identical output
                    # to the manual dict loop, measured 1.8x faster
                    counts = Counter(toks)
                    all_terms.extend(counts.keys())
                    all_tfs.extend(counts.values())
                    offsets.append(len(all_terms))
                out_ids.append(int(ids_np[i]))
                out_dls.append(dl)
            if not out_ids:
                continue
            arrays = [
                pa.array(out_ids, type=pa.int64()),
                pa.array(out_dls, type=pa.int32()),
                pa.ListArray.from_arrays(
                    pa.array(offsets, type=pa.int32()),
                    pa.array(all_terms, type=pa.string())),
                pa.ListArray.from_arrays(
                    pa.array(offsets, type=pa.int32()),
                    pa.array(all_tfs, type=pa.int32())),
            ]
            names = ["doc_id", "dl", "terms", "tfs"]
            if with_positions:
                inner = pa.ListArray.from_arrays(
                    pa.array(pos_offsets, type=pa.int32()),
                    pa.array(all_pos, type=pa.int32()))
                arrays.append(pa.ListArray.from_arrays(
                    pa.array(offsets, type=pa.int32()), inner))
                names.append("poss")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return trimmed(kernel)


def _iter_shard_groups(it, dps: int, columns: list[str]):
    """Gather a task's packed rows, then yield per-SHARD flattened
    numpy/arrow views (doc ids repeated per term, dictionary-encoded
    term codes, …) — one shard in memory at a time, so peak memory is a
    shard's postings, not the task partition's (the docs_per_shard
    sizing contract).  Yields (shard, doc_rep, dl_rep, codes, dict_arr,
    tf_flat, extra_flat) with rows in ARRIVAL order (caller sorts)."""
    import pyarrow as pa

    batches = list(it)
    if not batches:
        return
    tbl = pa.Table.from_batches(batches)
    if len(tbl) == 0:
        return
    doc = tbl["doc_id"].to_numpy()
    shard_doc = (doc // dps).astype(np.int32)
    order_docs = np.argsort(shard_doc, kind="stable")
    shard_sorted = shard_doc[order_docs]
    bounds = np.flatnonzero(np.diff(shard_sorted)) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [len(shard_sorted)]))
    dl = tbl["dl"].to_numpy()
    terms_col = tbl["terms"].combine_chunks()
    tfs_col = tbl["tfs"].combine_chunks()
    extra_col = None
    if "poss" in columns:
        extra_col = tbl["poss"].combine_chunks()
    import pyarrow.compute as pc

    for s, e in zip(starts, ends):
        idx = pa.array(order_docs[s:e])
        sub_terms = terms_col.take(idx)
        if isinstance(sub_terms, pa.ChunkedArray):
            sub_terms = sub_terms.combine_chunks()
        counts = sub_terms.value_lengths().to_numpy().astype(np.int64)
        flat_terms = sub_terms.flatten()
        denc = pc.dictionary_encode(flat_terms)
        if isinstance(denc, pa.ChunkedArray):
            denc = denc.combine_chunks()
        codes = denc.indices.to_numpy()
        dict_arr = denc.dictionary
        doc_sub = doc[order_docs[s:e]]
        dl_sub = dl[order_docs[s:e]]
        doc_rep = np.repeat(doc_sub, counts)
        dl_rep = np.repeat(dl_sub, counts).astype(np.int64)
        sub_tfs = tfs_col.take(idx)
        if isinstance(sub_tfs, pa.ChunkedArray):
            sub_tfs = sub_tfs.combine_chunks()
        tf_flat = sub_tfs.flatten().to_numpy().astype(np.int64)
        extra_flat = None
        if extra_col is not None:
            sub_extra = extra_col.take(idx)
            if isinstance(sub_extra, pa.ChunkedArray):
                sub_extra = sub_extra.combine_chunks()
            extra_flat = sub_extra.flatten()
        yield (int(shard_sorted[s]), doc_rep, dl_rep, codes, dict_arr,
               tf_flat, extra_flat)


def _segment_runs(shard_rows: int, codes_s: np.ndarray):
    """Run/block segmentation over a SORTED (codes, doc) shard slice —
    identical boundaries to the streaming encoder's (runs = code
    changes, blocks = 128-posting chunks from each run start)."""
    n = shard_rows
    run_start_mask = np.empty(n, dtype=bool)
    run_start_mask[0] = True
    run_start_mask[1:] = codes_s[1:] != codes_s[:-1]
    run_idx = np.cumsum(run_start_mask) - 1
    run_starts = np.flatnonzero(run_start_mask)
    offset_in_run = np.arange(n) - run_starts[run_idx]
    block_start_mask = run_start_mask | (offset_in_run % BLOCK_SIZE == 0)
    block_starts = np.flatnonzero(block_start_mask)
    block_ends = np.append(block_starts[1:], n)
    return offset_in_run, block_starts, block_ends


def make_arrow_encoder(dps: int):
    """mapInArrow kernel over packed rows → postings blocks (exact
    path).  Bit-identical output to the streaming pandas encoder: same
    run grouping, same block boundaries, same varint bytes — proven by
    the r07 block-set A/B; only the emission ORDER within a shard
    differs (first-appearance term order instead of lexicographic),
    which the postings write's (shard, term_id, block_id) sort erases."""

    def encode(it):
        import pyarrow as pa

        for (shard, doc_rep, dl_rep, codes, dict_arr, tf_flat,
             _extra) in _iter_shard_groups(it, dps, ["terms", "tfs"]):
            order = np.lexsort((doc_rep, codes))
            codes_s = codes[order]
            doc_s = doc_rep[order]
            tf_s = tf_flat[order]
            dl_s = dl_rep[order]
            offset_in_run, block_starts, block_ends = _segment_runs(
                len(doc_s), codes_s)
            blobs = encode_blocks_bulk(doc_s, tf_s, dl_s,
                                       block_starts, block_ends)
            yield pa.RecordBatch.from_arrays([
                dict_arr.take(pa.array(codes_s[block_starts])),
                pa.array(np.full(len(block_starts), shard, dtype=np.int32)),
                pa.array((offset_in_run[block_starts] // BLOCK_SIZE)
                         .astype(np.int32)),
                pa.array(doc_s[block_starts], type=pa.int64()),
                pa.array(doc_s[block_ends - 1], type=pa.int64()),
                pa.array((block_ends - block_starts).astype(np.int32)),
                pa.array(np.maximum.reduceat(tf_s, block_starts)
                         .astype(np.int32)),
                pa.array(np.add.reduceat(tf_s, block_starts)
                         .astype(np.int64)),
                pa.array(np.minimum.reduceat(dl_s, block_starts)
                         .astype(np.int32)),
                pa.array(blobs, type=pa.binary()),
            ], names=["term", "shard", "block_id", "first_doc_id",
                      "last_doc_id", "n_docs", "max_tf", "sum_tf",
                      "min_dl", "data"])

    return trimmed(encode)


def make_arrow_impact_encoder(dps: int, avgdl: float):
    """Quantized-postings variant of make_arrow_encoder (same
    segmentation; blob = varint deltas + one impact byte per posting,
    exact per-block max_impact — codec module doc)."""

    def encode(it):
        import pyarrow as pa

        from search_ingest_spark.index.codec import encode_impact_blocks_bulk

        for (shard, doc_rep, dl_rep, codes, dict_arr, tf_flat,
             _extra) in _iter_shard_groups(it, dps, ["terms", "tfs"]):
            order = np.lexsort((doc_rep, codes))
            codes_s = codes[order]
            doc_s = doc_rep[order]
            q = quantize_impacts(tf_flat[order], dl_rep[order], avgdl)
            offset_in_run, block_starts, block_ends = _segment_runs(
                len(doc_s), codes_s)
            blobs = encode_impact_blocks_bulk(doc_s, q, block_starts,
                                              block_ends)
            yield pa.RecordBatch.from_arrays([
                dict_arr.take(pa.array(codes_s[block_starts])),
                pa.array(np.full(len(block_starts), shard, dtype=np.int32)),
                pa.array((offset_in_run[block_starts] // BLOCK_SIZE)
                         .astype(np.int32)),
                pa.array(doc_s[block_starts], type=pa.int64()),
                pa.array(doc_s[block_ends - 1], type=pa.int64()),
                pa.array((block_ends - block_starts).astype(np.int32)),
                pa.array(np.maximum.reduceat(q, block_starts)
                         .astype(np.int32)),
                pa.array(blobs, type=pa.binary()),
            ], names=["term", "shard", "block_id", "first_doc_id",
                      "last_doc_id", "n_docs", "max_impact", "data"])

    return trimmed(encode)


def make_arrow_positions_writer(dps: int):
    """mapInArrow kernel over packed rows (incl. poss) → positions rows
    (doc_id, term, positions, shard), emitted per shard in (term asc,
    doc_id asc) order — the same term-sorted file layout the exploded
    pipeline's shard sort produced, so the phrase scan's parquet
    row-group pruning on term min/max keeps working."""

    def kernel(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        for (shard, doc_rep, _dl_rep, codes, dict_arr, _tf_flat,
             pos_flat) in _iter_shard_groups(it, dps,
                                             ["terms", "tfs", "poss"]):
            # true lexicographic term order (codes are first-appearance)
            sort_idx = pc.sort_indices(dict_arr).to_numpy()
            rank = np.empty(len(sort_idx), dtype=np.int64)
            rank[sort_idx] = np.arange(len(sort_idx))
            order = np.lexsort((doc_rep, rank[codes]))
            codes_s = codes[order]
            yield pa.RecordBatch.from_arrays([
                pa.array(doc_rep[order], type=pa.int64()),
                dict_arr.take(pa.array(codes_s)),
                pos_flat.take(pa.array(order)),
                pa.array(np.full(len(order), shard, dtype=np.int32)),
            ], names=["doc_id", "term", "positions", "shard"])

    return trimmed(kernel)


# ---------------------------------------------------------------------------
# the changefeed splice kernel: the packed-row kernels above as plain
# functions over Arrow tables, one call per group of dirty shards
# ---------------------------------------------------------------------------


def _splice_schemas():
    """Arrow schemas of the kernel outputs (explicit, so that a shard
    with no tokens still yields typed empty tables, and no Spark type
    parser is needed inside a task)."""
    import pyarrow as pa

    i32, i64, st = pa.int32(), pa.int64(), pa.string()
    head = [("term", st), ("shard", i32), ("block_id", i32),
            ("first_doc_id", i64), ("last_doc_id", i64), ("n_docs", i32)]
    packed = [("doc_id", i64), ("dl", i32), ("terms", pa.list_(st)),
              ("tfs", pa.list_(i32))]
    return {
        "packed": pa.schema(packed),
        "packed_pos": pa.schema(packed + [("poss",
                                           pa.list_(pa.list_(i32)))]),
        POSTINGS_TABLE: pa.schema(head + [
            ("max_tf", i32), ("sum_tf", i64), ("min_dl", i32),
            ("data", pa.binary())]),
        POSTINGS_Q_TABLE: pa.schema(head + [("max_impact", i32),
                                            ("data", pa.binary())]),
        POSITIONS_TABLE: pa.schema([("doc_id", i64), ("term", st),
                                    ("positions", pa.list_(i32)),
                                    ("shard", i32)]),
    }


@dataclass
class Splice:
    """splice_shards' result: each spliced table's new partitions of
    the input's shards (pyarrow Tables with a `shard` column; postings
    and postings_q keyed by term STRING), the shards' per-term
    (term, ndf, ncf), and their (n_docs, sum_dl)."""
    tables: dict
    terms: object
    n_docs: int
    sum_dl: int


def splice_shards(rows, *, dps: int, mode: str, positions: bool = False,
                  quant_avgdl: float | None = None,
                  store_fields: list[str] = (),
                  attr_names: list[str] = ()) -> Splice:
    """The changefeed's splice kernel (streaming/incremental.py): from
    the complete post-batch doc rows of one or more dirty shards
    (a pyarrow Table: doc_id, text, plus any stored-field and attr
    columns), the new partitions of those shards of every spliced
    table — doc_lens, postings, postings_q (quantized at `quant_avgdl`,
    the avgdl the table was built with), positions, doc_store and
    doc_attrs.  It runs the build's own kernels, so a spliced shard is
    what a fresh build writes for it; term ids are attached by the
    caller (attach_term_ids) once the batch's dictionary delta is
    known.  Pure and picklable: the driver calls it for a micro-batch,
    one mapInArrow task per shard group calls it for a backlog."""
    import pyarrow as pa
    import pyarrow.compute as pc

    sch = _splice_schemas()

    def table(batches, schema):
        return pa.Table.from_batches(list(batches), schema=schema)

    def by_doc(t, cols):
        t = t.select(["doc_id", *cols]).sort_by("doc_id")
        return t.append_column(
            "shard", pc.divide(t["doc_id"], dps).cast(pa.int32()))

    packed_tbl = table(
        make_packed_tokenizer("doc_id", "text", mode, positions)(
            rows.select(["doc_id", "text"]).to_batches()),
        sch["packed_pos" if positions else "packed"])
    packed = packed_tbl.to_batches()
    doc_lens = by_doc(packed_tbl, ["dl"])
    blocks = table(make_arrow_encoder(dps)(iter(packed)),
                   sch[POSTINGS_TABLE])
    out = {DOC_LENS_TABLE: doc_lens, POSTINGS_TABLE: blocks}
    if quant_avgdl is not None:
        out[POSTINGS_Q_TABLE] = table(
            make_arrow_impact_encoder(dps, quant_avgdl)(iter(packed)),
            sch[POSTINGS_Q_TABLE])
    if positions:
        out[POSITIONS_TABLE] = table(
            make_arrow_positions_writer(dps)(iter(packed)),
            sch[POSITIONS_TABLE])
    if store_fields:
        out[DOC_STORE_TABLE] = by_doc(rows, store_fields)
    if attr_names:
        out[DOC_ATTRS_TABLE] = by_doc(rows, attr_names)
    # df = Σ n_docs, cf = Σ sum_tf over the blocks: exact, since every
    # posting lands in exactly one block (the build's term_dict identity)
    agg = blocks.group_by("term").aggregate(
        [("n_docs", "sum"), ("sum_tf", "sum")])
    terms = pa.table({"term": agg["term"],
                      "ndf": agg["n_docs_sum"].cast(pa.int64()),
                      "ncf": agg["sum_tf_sum"].cast(pa.int64())})
    return Splice(out, terms, doc_lens.num_rows,
                  int(pc.sum(doc_lens["dl"]).as_py() or 0))


def attach_term_ids(blocks, terms, term_ids, cols: list[str]):
    """Key term-string blocks by term id (terms[i] ↔ term_ids[i]) in
    the postings layout: `cols`, sorted by (shard, term_id, block_id)."""
    import pyarrow.compute as pc

    ids = pc.take(term_ids, pc.index_in(blocks["term"], value_set=terms))
    return blocks.append_column("term_id", ids).sort_by(
        [("shard", "ascending"), ("term_id", "ascending"),
         ("block_id", "ascending")]).select(cols)


# ---------------------------------------------------------------------------
# build orchestration (stage-checkpointed, resumable)
# ---------------------------------------------------------------------------


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    cat: Catalog,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "standard",
    docs_per_shard: int | None = None,
    shard_batches: int = 1,
    resume: bool = True,
    with_positions: bool = False,
    attr_cols: list[str] | None = None,
    quantize: bool = False,
    store_fields: list[str] | None = None,
    with_bigrams: bool = False,
    sort_field: str | None = None,
) -> BuildInfo:
    """Build the full index table set into `cat`.

    `docs` must carry dense doc ids in `id_col` (use
    incremental.prepare_pages / dense_ids for url-keyed corpora).
    `shard_batches` > 1 splits the postings stage into independently
    checkpointed shard batches (per-partition resume, north rule).

    `sort_field` (requires attr_cols containing it) additionally
    writes an INDEX-SORTED doc-values table — the ES/Lucene index
    sorting analog (index.sort.field, descending): attrs globally
    range-partitioned + sorted by (sort_field desc, doc_id asc), so a
    field-sorted top-k early-terminates after k qualifying rows
    instead of scanning the corpus (LocalSearcher.sorted_topk).
    """
    if sort_field and sort_field not in (attr_cols or []):
        raise ValueError(
            f"sort_field {sort_field!r} must be one of attr_cols")
    run: list[str] = []
    skipped: list[str] = []
    fp, n_total, max_id, min_id = _input_fingerprint(docs, id_col, text_col)
    if n_total and (min_id < 0 or max_id >= n_total):
        # sharding is doc-id-range (shard = id // docs_per_shard) with
        # exactly ceil(N / dps) shards — an id outside [0, N) lands in a
        # shard the encode loop never visits and would VANISH silently
        # (r5 bug: a sparse-id subset index dropped 440 docs).  The
        # documented contract is dense 0..N-1 ids; enforce it loudly.
        raise ValueError(
            f"build_index requires dense doc ids 0..N-1: got "
            f"min={min_id}, max={max_id} for N={n_total} rows — assign "
            f"dense ids first (index.build.dense_ids or "
            f"incremental.prepare_pages)")
    state = _BuildState(cat, fp) if resume else _BuildState(cat, f"nores-{time.time()}")

    # input changed but an OPTIONAL component isn't requested this time:
    # its table from the previous build is stale — drop it, or filtered/
    # phrase queries would silently serve the old corpus
    if state.reset or not resume:
        for flag, table in ((with_positions, POSITIONS_TABLE),
                            (bool(attr_cols), DOC_ATTRS_TABLE),
                            (quantize, POSTINGS_Q_TABLE),
                            (quantize, POSTINGS_Q_META),
                            (bool(store_fields), DOC_STORE_TABLE),
                            (with_bigrams, BIGRAM_TABLE),
                            (bool(sort_field), SORTED_ATTRS_TABLE),
                            (bool(sort_field), SORTED_ATTRS_META)):
            if not flag and cat.exists(table):
                cat.drop(table)

    def stage(name: str, tables: list[str] | None = None,
              alt_tables: list[list[str]] | None = None):
        """Run-or-skip a checkpointed stage: skip iff marked done AND its
        output tables (or any alternative table-set that supersedes
        them) exist."""

        def deco(fn):
            t0 = time.time()
            outputs_ok = all(cat.exists(t) for t in (tables or [])) or any(
                all(cat.exists(t) for t in alt) for alt in (alt_tables or [])
            )
            if state.done(name) and outputs_ok:
                skipped.append(name)
                return False
            fn()
            state.mark(name, wall_ms=int((time.time() - t0) * 1000))
            run.append(name)
            return True

        return deco

    # Shard layout is part of the index's identity: a resumed build MUST
    # reuse the layout the checkpointed tokens were written with, even if
    # the cluster size (and hence the default) changed between runs.
    prior_dps = state.data.get("docs_per_shard")
    if prior_dps:
        docs_per_shard = int(prior_dps)
    elif docs_per_shard is None:
        # scale-adaptive: ~2 shards per core of parallelism, but never
        # shards smaller than _MIN_DOCS_PER_SHARD — a shard carries
        # per-shard fixed cost through every stage (files, tasks,
        # writer dirs, kernel invocations), so tiny corpora under a
        # core-count-derived default drown in it (r07 A/B at 5k docs:
        # 64 shards → 10.7 s build / 0.70 s query; right-sized → 3.0 s
        # / 0.39 s).  On a cluster pick ~0.5-4M docs/shard explicitly
        # so a shard's flattened postings stay in executor memory.
        par = spark.sparkContext.defaultParallelism
        docs_per_shard = max(_MIN_DOCS_PER_SHARD,
                             math.ceil(n_total / max(par * 2, 1)))
    if not prior_dps:
        state.data["docs_per_shard"] = docs_per_shard
        state.mark("_layout")
    n_shards = max(1, math.ceil(n_total / docs_per_shard))

    # -- the packed token exchange (ONE shuffle, NEVER persisted as a
    # table) ------------------------------------------------------------------
    # ONE ROW PER DOC (terms/tfs arrays packed inside) crosses the
    # exchange and the Python boundary — see the module doc for the
    # measured rationale.  Committing the stream to storage would
    # double every build's write volume (Lucene persists postings, not
    # token streams); instead the exchange lives as a cached DataFrame:
    # computed lazily the first time any stage needs it (a fully-
    # resumed build never tokenizes at all), shared by ALL consumers —
    # doc_lens, the block encoders, and the positions writer.  Per-term
    # (df, cf) comes from the blocks output's columnar (n_docs, sum_tf)
    # aggregates — the same identity the incremental splice uses.
    # Spark's block manager serializes per-partition cache fills, so
    # concurrent stage threads never duplicate the tokenize work.
    n_part = max(1, min(n_shards, spark.sparkContext.defaultParallelism * 2))
    _srt_lock = threading.Lock()
    _srt: dict[str, DataFrame] = {}

    def packed_tokens() -> DataFrame:
        with _srt_lock:
            got = _srt.get("df")
            if got is None:
                schema = PACKED_POS_SCHEMA if with_positions else PACKED_SCHEMA
                toks = docs.select(id_col, text_col).mapInArrow(
                    make_packed_tokenizer(id_col, text_col, mode,
                                          with_positions),
                    schema=schema,
                ).withColumn(
                    "shard", (F.col("doc_id") / F.lit(docs_per_shard)).cast("int")
                )
                # THE build shuffle: repartition by shard only — the
                # (term, doc) sort happens in NumPy inside the encoder
                # kernels, per shard, on dictionary-encoded int codes
                got = _srt["df"] = toks.repartition(n_part, "shard").persist()
            return got

    # doc_lens+stats, the block ENCODE, and the optional positions/attr
    # writers are all independent consumers of the one packed exchange —
    # run them concurrently (the reference's per-table Promise.map
    # fan-out, table_manager.cr:75-93).  The encoder is term-STRING-
    # keyed, so only the tiny blocks→term_id join afterwards needs
    # term_dict — which is itself derived from the blocks output.

    def _doc_lens_fn():
        # packed rows ARE one row per doc: a pure projection, no agg.
        # The frame is already hash(shard)-partitioned into n_part, so
        # the partitioned write opens one dir per shard per task.
        # stats (n_docs, Σdl) piggyback on the WRITE job as Observation
        # metrics — the old read-back aggregate + 1-row Spark write were
        # two whole jobs of pure scheduling per build (guide §5: the
        # driver/job fixed cost dominates dictionary-class actions).
        # avgdl = float(long)/float(long) is the identical IEEE double
        # division the old cast(sum)/cast(count) column computed
        # (integer sums < 2^53 convert exactly) — and the same
        # arithmetic the incremental splice's delta maintenance uses.
        from pyspark.sql import Observation

        dl_obs = Observation()
        dl = packed_tokens().select("doc_id", "dl", "shard").observe(
            dl_obs, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
        cat.write(DOC_LENS_TABLE, dl, partition_by=["shard"])
        n_docs = int(dl_obs.get["n"] or 0)
        sum_dl = dl_obs.get["s"]
        sum_dl = int(sum_dl) if sum_dl is not None else None
        avgdl = (float(sum_dl) / float(n_docs)) if n_docs else None
        cat.write_small(
            STATS_TABLE, [(n_docs, sum_dl, avgdl, n_shards, mode)],
            "n_docs long, sum_dl long, avgdl double, n_shards int,"
            " analyzer string",
        )

    n_batches = max(1, min(shard_batches, n_shards))
    bounds = [
        (i, i * n_shards // n_batches, (i + 1) * n_shards // n_batches)
        for i in range(n_batches)
    ]

    def _term_dict_fn():
        # per-term (df, cf) from the blocks output's columnar per-block
        # aggregates: df = Σ n_docs, cf = Σ sum_tf — exact by
        # construction (every posting lands in exactly one block), and
        # a ~40x smaller scan than re-aggregating the token stream.
        # Runs AFTER the blocks stages (the one new dependency edge).
        names = [_blocks_table(b) for b, _, _ in bounds
                 if cat.exists(_blocks_table(b))]
        if not names:
            raise RuntimeError(
                "term_dict stage needs the blocks tables; resume state "
                "is inconsistent (blocks dropped before term_dict ran)")
        # Driver-side fast path (guide §5: dictionary-class work should
        # not pay per-job scheduling): when the blocks output is
        # driver-sized — row count from parquet FOOTERS only, an upper
        # bound on the vocabulary — the aggregate + dense-id assignment
        # run as one pyarrow group_by/sort on the driver and the
        # dictionary is written without any Spark job.  Replaces ~3
        # jobs (agg-fill + dense_ids count/sample + rank-join write).
        # Identity: arrow sorts strings by UTF-8 bytes == code points ==
        # Spark's string order, so term_id assignment, df and cf are
        # exactly dense_ids' output; only file layout differs (one
        # term-sorted file, which the pruned dictionary probes prefer).
        # The cap mirrors incremental.DRIVER_DICT_MAX_ROWS; above it
        # (vocabularies a driver shouldn't hold) the distributed
        # aggregate below is unchanged.
        n_block_rows = sum(
            cat.arrow_dataset(t).count_rows() for t in names)
        if n_block_rows <= _TERM_DICT_DRIVER_MAX_BLOCK_ROWS:
            import pyarrow as pa

            tbls = [
                cat.arrow_dataset(t).to_table(
                    columns=["term", "n_docs", "sum_tf"])
                for t in names
            ]
            agg = (pa.concat_tables(tbls)
                   .group_by("term")
                   .aggregate([("n_docs", "sum"), ("sum_tf", "sum")])
                   .sort_by([("term", "ascending")]))
            out = pa.table({
                "term": agg["term"],
                "term_id": pa.array(
                    np.arange(agg.num_rows, dtype=np.int64)),
                "df": agg["n_docs_sum"].cast(pa.int64()),
                "cf": agg["sum_tf_sum"].cast(pa.int64()),
            })
            cat.write_small_arrow(
                TERM_DICT_TABLE, out,
                ddl="term string, term_id long, df long, cf long")
            return
        src = cat.read(names[0])
        for t in names[1:]:
            src = src.unionByName(cat.read(t))
        td_agg = src.groupBy("term").agg(
            F.sum("n_docs").alias("df"), F.sum("sum_tf").alias("cf")
        ).persist()  # dense_ids runs count/sample/write actions over it
        try:
            td = dense_ids(td_agg, "term", "term_id", n_buckets=64)
            # sorted by term within files → parquet min/max stats prune
            # per-query dictionary lookups (Searcher.plan / LocalSearcher)
            cat.write(TERM_DICT_TABLE,
                      td.select("term", "term_id", "df", "cf"),
                      sort_within_partitions=["term"])
        finally:
            td_agg.unpersist()

    def _encode_batch(batch_id: int, shard_lo: int, shard_hi: int) -> None:
        src = packed_tokens().where(
            (F.col("shard") >= shard_lo) & (F.col("shard") < shard_hi)
        )
        blocks = src.select("doc_id", "dl", "terms", "tfs").mapInArrow(
            make_arrow_encoder(docs_per_shard), schema=POSTINGS_ENC_SCHEMA,
        )
        # input is shard-grouped, so each task writes few partition dirs
        cat.write(_blocks_table(batch_id), blocks, partition_by=["shard"])

    # ---- concurrent phase: aggs + encodes ---------------------------------
    from concurrent.futures import ThreadPoolExecutor

    def _stage_job(name, tables, alt, fn):
        def run_it():
            stage(name, tables=tables, alt_tables=alt)(fn)
        return run_it

    def _positions_fn():
        # phrase/proximity support (ES `standard` analyzer records
        # positions; preserve_original stacks tokens at one position,
        # schemas.cr:62-77): per-(term, doc) position lists, shard-
        # partitioned and term-sorted within files so a phrase query's
        # scan prunes to its terms' row groups — the same layout
        # contract as the postings table.  Flattened from the one
        # packed exchange: no extra tokenize pass, no extra shuffle;
        # the kernel emits each shard in (term asc, doc asc) order.
        pos = packed_tokens().select("doc_id", "dl", "terms", "tfs", "poss") \
            .mapInArrow(
                make_arrow_positions_writer(docs_per_shard),
                schema="doc_id long, term string, positions array<int>,"
                       " shard int")
        cat.write(POSITIONS_TABLE, pos, partition_by=["shard"])

    def _doc_attrs_fn():
        # filterable per-doc attributes, shard-partitioned and
        # doc-sorted: the query-side filter mask (the Lucene
        # filter-bitset analog) — a filtered top-k plans each shard
        # with its qualifying doc ids read from here
        # (reader.LocalSearcher.plan_topk).  Column-pruned scan: only
        # id + attr columns leave the parquet reader.
        a = docs.select(
            F.col(id_col).alias("doc_id"), *[F.col(c) for c in attr_cols]
        ).withColumn("shard", (F.col("doc_id") / F.lit(docs_per_shard)).cast("int"))
        cat.write(
            DOC_ATTRS_TABLE, a.repartition(n_part, "shard"),
            partition_by=["shard"], sort_within_partitions=["doc_id"],
        )

    def _attrs_sorted_fn():
        # ES/Lucene index sorting (index.sort.field): the doc-values
        # rows laid out in GLOBAL (sort_field desc, doc_id asc) order —
        # repartitionByRange makes partition i strictly dominate
        # partition i+1 and the within-partition sort finishes the
        # total order, so file order IS sort order and a field-sorted
        # top-k reader stops after k qualifying rows (plus any
        # boundary ties), reading O(k) not O(corpus).  Parquet
        # row-group min/max stats on sort_field double as the
        # early-termination bound.  A SECOND copy of the attrs by
        # design, exactly like Lucene: sorted segments cost write-side
        # space to buy query-side early termination.
        a = docs.select(
            F.col(id_col).alias("doc_id"), *[F.col(c) for c in attr_cols])
        s_sorted = (
            a.repartitionByRange(n_part, F.desc_nulls_last(sort_field),
                                 F.asc("doc_id"))
            .sortWithinPartitions(F.desc_nulls_last(sort_field),
                                  F.asc("doc_id")))
        cat.write(SORTED_ATTRS_TABLE, s_sorted)
        cat.write_small(SORTED_ATTRS_META, [(sort_field, 1, 0)],
                        "sort_field string, descending int, n_segs long")

    def _doc_store_fn():
        # stored-fields column family (the ES _source analog,
        # elastic.cr:224-233): doc_id + the configured fields, shard-
        # partitioned and doc-sorted within files so a Spark-free reader
        # fetches k hits' sources via parquet row-group doc_id stats —
        # shards are disjoint doc-id ranges, so pruning reaches the
        # right files without knowing the shard of a doc id up front
        sf = docs.select(
            F.col(id_col).alias("doc_id"), *[F.col(c) for c in store_fields]
        ).withColumn("shard", (F.col("doc_id") / F.lit(docs_per_shard)).cast("int"))
        cat.write(
            DOC_STORE_TABLE, sf.repartition(n_part, "shard"),
            partition_by=["shard"], sort_within_partitions=["doc_id"],
        )

    def _bigrams_fn():
        # corpus adjacent-bigram counts — the LM the phrase suggester
        # ("did you mean") scores candidate corrections with.  A
        # SEPARATE tokenize pass on purpose: the shard-sorted exchange
        # aggregates (doc, term) and destroys adjacency, and persisting
        # the raw token stream to recover it would double the build's
        # write volume for every build that never asks for bigrams.
        # The kernel emits batch-local partial counts (map-side
        # combine), the groupBy finishes them — the shuffle carries
        # distinct-bigram rows, not the token stream.  Written
        # w1-partitioned and (w1, w2)-sorted so the suggester's
        # `w1 IN (…) AND w2 IN (…)` candidate probe prunes to a few
        # row groups; unigram masses come from term_dict.cf and the
        # exact stats.sum_dl — no extra tables.
        from search_ingest_spark.analysis import doc_bigrams_pandas

        def bigrams(it):
            yield from doc_bigrams_pandas(it, text_col=text_col, mode=mode)

        big = docs.select(text_col).mapInPandas(
            trimmed(bigrams), schema="w1 string, w2 string, cnt long",
        ).groupBy("w1", "w2").agg(F.sum("cnt").alias("cnt"))
        cat.write(BIGRAM_TABLE, big.repartition(n_part, "w1"),
                  sort_within_partitions=["w1", "w2"])

    jobs = [
        _stage_job("doc_lens", [DOC_LENS_TABLE, STATS_TABLE], None, _doc_lens_fn),
    ]
    if with_positions:
        jobs.append(_stage_job("positions", [POSITIONS_TABLE], None, _positions_fn))
    if with_bigrams:
        jobs.append(_stage_job("bigrams", [BIGRAM_TABLE], None, _bigrams_fn))
    if attr_cols:
        jobs.append(_stage_job("doc_attrs", [DOC_ATTRS_TABLE], None, _doc_attrs_fn))
    if store_fields:
        jobs.append(_stage_job("doc_store", [DOC_STORE_TABLE], None, _doc_store_fn))
    if sort_field:
        jobs.append(_stage_job(
            "attrs_sorted", [SORTED_ATTRS_TABLE, SORTED_ATTRS_META],
            None, _attrs_sorted_fn))
    for bid, lo, hi in bounds:
        jobs.append(_stage_job(
            f"blocks_batch_{bid}", [_blocks_table(bid)],
            [[_batch_table(bid)], [POSTINGS_TABLE]],
            (lambda bid=bid, lo=lo, hi=hi: _encode_batch(bid, lo, hi)),
        ))
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futures = [pool.submit(j) for j in jobs]
        for f in futures:
            f.result()

    # term_dict aggregates the blocks output, so it runs after the
    # encode fan-out (sub-second; overlapping it buys nothing)
    stage("term_dict", tables=[TERM_DICT_TABLE],
          alt_tables=None)(_term_dict_fn)

    # ---- join dense ids onto the (small) blocks output --------------------
    # stats/term-count are driver-side pyarrow reads: a Spark action on a
    # one-row table costs ~0.3 s of pure scheduling in local mode
    stats_row = cat.read_small(STATS_TABLE)[0]
    term_dict = cat.read(TERM_DICT_TABLE)

    for bid, lo, hi in bounds:

        @stage(f"postings_batch_{bid}", tables=[_batch_table(bid)],
               alt_tables=[[POSTINGS_TABLE]])
        def _join_batch(bid=bid, lo=lo, hi=hi):
            blocks = cat.read(_blocks_table(bid))
            enc = blocks.join(term_dict.select("term", "term_id"), "term").select(
                *POSTINGS_COLS
            ).repartition(max(1, min(hi - lo, n_part)), "shard")
            cat.write(
                _batch_table(bid), enc,
                partition_by=["shard"],
                sort_within_partitions=["shard", "term_id", "block_id"],
            )
            cat.drop(_blocks_table(bid))

    @stage("postings", tables=[POSTINGS_TABLE])
    def _publish():
        parts = [cat.read(_batch_table(b)) for b, _, _ in bounds]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if len(parts) == 1:
            # single batch: promote without rewrite
            cat.promote(_batch_table(0), POSTINGS_TABLE)
        else:
            cat.write(POSTINGS_TABLE, out,
                      partition_by=["shard"],
                      sort_within_partitions=["shard", "term_id", "block_id"])
            for b, _, _ in bounds:
                cat.drop(_batch_table(b))

    if quantize:

        @stage("postings_quant", tables=[POSTINGS_Q_TABLE, POSTINGS_Q_META])
        def _quant():
            # impact-quantized postings: SAME cached exchange, one extra
            # map pass (no extra shuffle) — avgdl baked in at build time
            # (codec module doc; Lucene-norms trade, opt-in mode)
            avgdl_q = float(stats_row["avgdl"])
            src = packed_tokens().select("doc_id", "dl", "terms", "tfs")
            qb = src.mapInArrow(
                make_arrow_impact_encoder(docs_per_shard, avgdl_q),
                schema=POSTINGS_Q_ENC_SCHEMA,
            )
            enc = qb.join(term_dict.select("term", "term_id"), "term").select(
                *POSTINGS_Q_COLS
            ).repartition(n_part, "shard")
            cat.write(
                POSTINGS_Q_TABLE, enc,
                partition_by=["shard"],
                sort_within_partitions=["shard", "term_id", "block_id"],
            )
            cat.write_small(POSTINGS_Q_META, [(avgdl_q,)], "avgdl double")

    if "df" in _srt:
        _srt["df"].unpersist()

    # -- stage: manifest (per-shard lineage + metrics, north rule) ----------
    @stage("manifest", tables=[MANIFEST_TABLE])
    def _manifest():
        post = cat.read(POSTINGS_TABLE)
        m = (
            post.groupBy("shard")
            .agg(
                F.sum("n_docs").alias("rows"),
                F.sum(F.length("data")).alias("bytes"),
                F.expr("bit_xor(xxhash64(term_id, first_doc_id, data))").alias("fph"),
            )
            .select(
                F.col("shard").alias("partition_id"),
                F.concat(F.lit(fp), F.lit("/"), F.col("fph")).alias("input_fingerprint"),
                "rows", "bytes",
                F.lit(-1).cast("long").alias("wall_ms"),
                F.lit("complete").alias("status"),
            )
        )
        cat.write(MANIFEST_TABLE, m)

    n_terms = cat.arrow_dataset(TERM_DICT_TABLE).count_rows()
    return BuildInfo(
        n_docs=int(stats_row["n_docs"]),
        avgdl=float(stats_row["avgdl"]),
        n_shards=n_shards,
        n_terms=n_terms,
        stages_run=run,
        stages_skipped=skipped,
    )


def _batch_table(batch_id: int) -> str:
    return f"postings__b{batch_id}"


def _blocks_table(batch_id: int) -> str:
    return f"blocks__b{batch_id}"


