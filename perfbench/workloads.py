"""The workloads: set-up, warm-up, timed phase and output checks.

Set-up builds a 16-shard index with impact-quantized postings and stored
text.  `spark_query` runs `build_index` once over dense ids;
`changefeed` first backfills the url-keyed corpus through
`PageIndexer.backfill`, then runs `build_index(..., quantize=True,
store_fields=["text"])` on the same catalog.  One client drives each
workload in a closed loop from this process.

The timed phase runs a fixed number of operations, set by `--seconds`
alone, over a fixed sequence of query kinds, so that every run, on a
fast host or a slow one, times the same operations.
"""

from __future__ import annotations

import contextlib
import copy
import datetime as dt
import os
import time

import numpy as np
import pandas as pd

import gen

N_DOCS = 4096
DOCS_PER_SHARD = 256          # 16 shards
K = 10
QUERY_POOL = 40
SPARK_ROUND = ("topk", "topk", "topk", "topk", "topk_quantized")
SPARK_WARMUP_ROUNDS = 1
SPARK_QUERIES_PER_S = 1.5     # timed queries per second of --seconds
BATCH_SHAPE = (6, 3, 3)       # updates, new urls, deletes per micro-batch
CHANGEFEED_WARMUP_BATCHES = 1
CHANGEFEED_S_PER_BATCH = 5.0  # seconds of --seconds per timed batch
TS0 = dt.datetime(2026, 1, 1)
TOL = 1e-9


class Failed(Exception):
    """An output check failed: the run is not correct."""


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host so far, /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _pages(spark, rows, op: str | None = None):
    """(url, text) rows → the page frame PageIndexer reads."""
    pdf = pd.DataFrame({
        "url": [u for u, _ in rows],
        "warc_ts": [TS0 + dt.timedelta(seconds=i) for i in range(len(rows))],
        "html": pd.Series([None] * len(rows), dtype=object),
        "text": [t for _, t in rows],
    })
    schema = "url string, warc_ts timestamp, html binary, text string"
    if op is not None:
        pdf["_op"] = op
        schema += ", _op string"
    return spark.createDataFrame(pdf, schema)


class Run:
    """State shared by the phases of one run."""

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer
        self.docs = gen.sample_docs(self.rng, N_DOCS)
        self.texts = [gen.doc_text(d) for d in self.docs]
        self.urls = [f"https://bench.example/d{i:05d}" for i in range(N_DOCS)]
        self.queries = gen.make_queries(self.rng, QUERY_POOL, self.docs)
        self.attempted = 0
        self.failed = 0
        self.op_s: list[float] = []
        self.items = 0
        self.timed_s = 0.0
        self.steal = 0.0            # share of CPU time stolen over the timed phase
        self.ops: list[int] = []    # traced op spans of the timed phase

    def phase(self, name: str) -> None:
        if self.tracer is not None:
            self.tracer.phase = name

    @contextlib.contextmanager
    def timed(self):
        """The timed phase: its wall time and the host's CPU steal share."""
        self.phase("timed")
        s0 = _cpu_ticks()
        t0 = time.perf_counter()
        yield
        self.timed_s = time.perf_counter() - t0
        s1 = _cpu_ticks()
        self.steal = (s1[0] - s0[0]) / max(1, s1[1] - s0[1])

    def op(self):
        """Span of one timed operation (a no-op context when untraced)."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span("bench", "op")

    # -- set-up ---------------------------------------------------------------
    def setup(self, pages: bool) -> None:
        """Build the index.  With `pages`, the url-keyed corpus goes
        through PageIndexer.backfill first, as a changefeed needs; else
        the docs get dense ids 0..N-1 and build_index runs once."""
        from search_ingest_spark.catalog import Catalog
        from search_ingest_spark.index.build import build_index
        from search_ingest_spark.streaming.incremental import DOCS_TABLE, PageIndexer

        self.paged = pages
        self.cat = Catalog(self.spark, os.path.join(self.work, "paged" if pages else "index"))
        if pages:
            self.indexer = PageIndexer(self.spark, self.cat, docs_per_shard=DOCS_PER_SHARD)
            self.indexer.backfill(_pages(self.spark, list(zip(self.urls, self.texts))))
            docs = self.cat.read(DOCS_TABLE)
        else:
            docs = self.spark.createDataFrame(
                pd.DataFrame({"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": self.texts}),
                "doc_id long, text string")
        build_index(self.spark, docs, self.cat,
                    docs_per_shard=DOCS_PER_SHARD, quantize=True, store_fields=["text"])

    def index_bytes(self) -> int:
        """Bytes of the current snapshot of every table in the catalog."""
        total = 0
        for name in self.cat.list_tables():
            for dirpath, _, files in os.walk(self.cat.data_path(name)):
                total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total

    def text_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.texts)

    def doc_ids(self) -> dict[str, int]:
        if not self.paged:
            return {u: i for i, u in enumerate(self.urls)}
        return _ids_of(self)

    def reference(self) -> gen.Reference:
        ids = self.doc_ids()
        return gen.Reference({ids[u]: d for u, d in zip(self.urls, self.docs)})


# -- checks -------------------------------------------------------------------
def check_exact(ref_scores: dict[int, float], hits: list[tuple[int, float]], k: int, what: str) -> None:
    """Exact top-k: every hit scores as the reference does, hits run by
    score descending then id ascending, and no missing doc scores above
    the last hit (ties at the cut may resolve either way)."""
    want_n = min(k, len(ref_scores))
    if len(hits) != want_n:
        raise Failed(f"{what}: {len(hits)} hits, expected {want_n}")
    for d, s in hits:
        r = ref_scores.get(d)
        if r is None or abs(s - r) > TOL * max(1.0, abs(r)):
            raise Failed(f"{what}: doc {d} scored {s}, reference {r}")
    keys = [(-s, d) for d, s in hits]
    if keys != sorted(keys) or len(set(d for d, _ in hits)) != len(hits):
        raise Failed(f"{what}: hits not ranked by (score desc, id asc)")
    if hits:
        cut = hits[-1][1]
        got = {d for d, _ in hits}
        above = [d for d, r in ref_scores.items() if d not in got and r > cut + TOL * max(1.0, abs(cut))]
        if above:
            raise Failed(f"{what}: doc {above[0]} outranks the last hit")


def check_build(run: Run, ref: gen.Reference) -> None:
    """The built index's stats and a fixed sample of term dfs equal the
    generator's counts."""
    import pyarrow.compute as pc
    from search_ingest_spark.index import build as ib

    st = run.cat.read_small(ib.STATS_TABLE)[0]
    if (st["n_docs"], st["sum_dl"]) != (ref.n_docs, ref.sum_dl) or st["avgdl"] != ref.avgdl:
        raise Failed(f"stats {st} != n_docs {ref.n_docs}, sum_dl {ref.sum_dl}, avgdl {ref.avgdl}")
    sample = gen.TERM_TEXT[::97]
    tbl = run.cat.arrow_dataset(ib.TERM_DICT_TABLE).to_table(
        columns=["term", "df"], filter=pc.field("term").isin(sample))
    got = dict(zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()))
    want = {t: ref.df(t) for t in sample if ref.df(t)}
    if got != want:
        bad = sorted(t for t in set(got) | set(want) if got.get(t) != want.get(t))
        raise Failed(f"term df differs from the generator's for {len(bad)} terms, e.g. {bad[0]!r}")


def check_quantized(ref_scores: dict[int, float], hits: list[tuple[int, float]], k: int, what: str) -> None:
    """Quantized top-k: as many hits as the query matches (up to k),
    every hit contains a query term, scores never increase."""
    if len(hits) != min(k, len(ref_scores)):
        raise Failed(f"{what}: {len(hits)} hits, expected {min(k, len(ref_scores))}")
    if any(d not in ref_scores for d, _ in hits):
        raise Failed(f"{what}: a hit contains no query term")
    scores = [s for _, s in hits]
    if any(a < b for a, b in zip(scores, scores[1:])):
        raise Failed(f"{what}: scores increase down the list")


# -- spark_query ---------------------------------------------------------------
def spark_query(run: Run, seconds: float) -> None:
    """Searcher.topk / topk_quantized + collect in a closed loop: warm-up
    rounds, then a fixed number of timed rounds, each over the next
    queries of the pool in order."""
    from search_ingest_spark.query.wand import Searcher

    searcher = Searcher(run.spark, run.cat)
    results: list[tuple[str, str, list]] = []
    qi = 0
    timed_rounds = max(1, round(seconds * SPARK_QUERIES_PER_S / len(SPARK_ROUND)))

    def one_round(record: bool) -> None:
        nonlocal qi
        for kind in SPARK_ROUND:
            q = run.queries[qi % len(run.queries)]
            qi += 1
            with run.op() as rec:
                t0 = time.perf_counter()
                df = getattr(searcher, kind)(q, K)
                rows = _collect(run, df)
                dt_ = time.perf_counter() - t0
            if record:
                run.op_s.append(dt_)
                results.append((kind, q, [(int(r["doc_id"]), float(r["score"])) for r in rows]))
                if rec is not None:
                    run.ops.append(rec["idx"])

    run.phase("warmup")
    for _ in range(SPARK_WARMUP_ROUNDS):
        one_round(False)
    with run.timed():
        for _ in range(timed_rounds):
            one_round(True)
    run.attempted = run.items = len(results)

    run.phase("check")
    ref = run.reference()
    check_build(run, ref)
    for kind, q, hits in results:
        scores = ref.scores(gen.query_terms(q))
        (check_exact if kind == "topk" else check_quantized)(scores, hits, K, f"{kind}({q!r})")


def _collect(run: Run, df):
    if run.tracer is None:
        return df.collect()
    with run.tracer.span("query.wand", "wand.collect"):
        return df.collect()


# -- changefeed ----------------------------------------------------------------
class Feed:
    """The changefeed client: submits micro-batches and reads each back
    through a freshly opened reader."""

    def __init__(self, run: Run) -> None:
        self.run = run
        self.ids = run.doc_ids()
        self.stream = gen.ChangeStream(run.rng, {u: len(d) for u, d in zip(run.urls, run.docs)},
                                       *BATCH_SHAPE)
        self.texts = dict(zip(run.urls, run.texts))
        self.k = BATCH_SHAPE[0] + BATCH_SHAPE[1] + 2

    def batch(self, record: bool) -> None:
        from search_ingest_spark.query.reader import LocalSearcher

        run, stream = self.run, self.stream
        b = stream.next()
        changes = _pages(run.spark, b.updates + b.inserts, "upsert").unionByName(
            _pages(run.spark, [(u, None) for u in b.deletes], "delete"))
        with run.op() as rec:
            t0 = time.perf_counter()
            run.indexer.apply_changes(changes)
            reader = LocalSearcher(run.cat)
            exact = reader.topk(b.marker, self.k)
            dt_ = time.perf_counter() - t0
        if rec is not None:
            rec["changed_bytes"] = sum(len(t.encode()) for _, t in b.updates + b.inserts)
        quant = reader.topk_quantized(b.marker, self.k)
        self.ids.update(_ids_of(run, [u for u, _ in b.inserts]))
        up_ids = {self.ids[u] for u, _ in b.updates + b.inserts}
        del_ids = {self.ids[u] for u in b.deletes}
        url_of = {self.ids[u]: u for u, _ in b.updates + b.inserts}
        self.texts.update(b.updates + b.inserts)

        # exact read-back: the upserted docs, scored by BM25 over the
        # live corpus, and nothing else; the live count matches
        got = [(d, s) for d, s, _ in exact]
        if {d for d, _ in got} != up_ids:
            raise Failed(f"batch {b.marker}: exact read-back returned {sorted(d for d, _ in got)}, "
                         f"expected {sorted(up_ids)}")
        if reader.n_docs != len(stream.dl):
            raise Failed(f"batch {b.marker}: n_docs {reader.n_docs} != {len(stream.dl)} live docs")
        avgdl = float(sum(stream.dl.values())) / float(len(stream.dl))
        dls = np.array([stream.dl[url_of[d]] for d, _ in got])
        want = gen.bm25(np.ones(len(got)), dls, len(up_ids), len(stream.dl), avgdl)
        check_exact(dict(zip([d for d, _ in got], want.tolist())), got, self.k, f"topk({b.marker})")

        # quantized and stored-field read-backs: these fail while
        # apply_changes leaves postings_q and doc_store as built
        ok_quant = {d for d, _, _ in quant} == up_ids
        fetched = reader.fetch(sorted(up_ids | del_ids), ["text"])
        ok_fetch = (not (set(fetched) & del_ids)
                    and all(fetched.get(d, {}).get("text") == self.texts[url_of[d]] for d in up_ids))
        if record:
            run.op_s.append(dt_)
            run.items += sum(BATCH_SHAPE)
            run.attempted += 3
            run.failed += (not ok_quant) + (not ok_fetch)
            if rec is not None:
                run.ops.append(rec["idx"])


def changefeed(run: Run, seconds: float) -> None:
    """apply_changes micro-batches, each read back by a fresh reader:
    warm-up batches, then a fixed number of timed batches."""
    check_build(run, run.reference())
    feed = Feed(run)
    run.phase("warmup")
    for _ in range(CHANGEFEED_WARMUP_BATCHES):
        feed.batch(False)
    with run.timed():
        for _ in range(max(1, round(seconds / CHANGEFEED_S_PER_BATCH))):
            feed.batch(True)


def _ids_of(run: Run, urls: list[str] | None = None) -> dict[str, int]:
    """url → doc_id from the catalog, for `urls` or for every url."""
    import pyarrow.compute as pc
    from search_ingest_spark.streaming.incremental import DOC_IDS_TABLE

    filt = None if urls is None else pc.field("url").isin(urls)
    tbl = run.cat.arrow_dataset(DOC_IDS_TABLE).to_table(columns=["url", "doc_id"], filter=filt)
    return dict(zip(tbl["url"].to_pylist(), tbl["doc_id"].to_pylist()))


# -- traced run: the layers a workload's own loop does not reach ------------------
PROBE_QUERIES = 5


def probe_other_layers(run: Run, workload: str) -> None:
    """After the timed phase of a traced run, call the layers this
    workload's loop does not use, so that every per-layer metric is
    measured on every workload.  Nothing here is timed end to end."""
    from search_ingest_spark.query.reader import LocalSearcher
    from search_ingest_spark.query.wand import Searcher

    if workload != "spark_query":
        searcher = Searcher(run.spark, run.cat)
        for q in run.queries[:PROBE_QUERIES]:
            _collect(run, searcher.topk(q, K))
        _collect(run, searcher.topk_quantized(run.queries[0], K))
    if workload != "changefeed":
        for q in run.queries[:PROBE_QUERIES]:
            reader = LocalSearcher(run.cat)
            hits = reader.topk(q, K)
            reader.topk_quantized(q, K)
            reader.fetch([d for d, _, _ in hits], ["text"])
        paged = copy.copy(run)
        run.phase("probe_setup")
        paged.setup(pages=True)
        run.phase("probe")
        Feed(paged).batch(False)


# workload → (loop, whether its set-up backfills through PageIndexer)
WORKLOADS = {"spark_query": (spark_query, False), "changefeed": (changefeed, True)}
