"""Benchmark harness — prints ONE JSON line.

Phases:
1. **Index-build scaling** (north rule evidence): build the full
   compressed index over a deterministically synthesized web-pages
   corpus at local[N] and local[4N] on IDENTICAL input, report docs/sec
   at both and the scaling efficiency (throughput ratio / 4).  This is
   the sandbox proxy for N→4N executors (BASELINE.md).
2. **Headline queries** at $SPARK_GRAFT_SF_DIR (default sf0.1):
   BM25 WAND top-10 latency distribution (p50/p95 over repeats) on the
   documents index, brute-force BM25, and representative dedup /
   similarity / relational operators.

Phase 1 also runs node-calibration probes (cache-resident compute vs
streaming-memory scaling) so the reported efficiency can be compared
to what this single node can physically deliver — one box shares one
set of memory controllers across all cores, which bounds any
data-intensive pipeline's core-scaling well below 1.0; a real N→4N
executor cluster multiplies memory bandwidth along with cores.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default 32),
SPARK_GRAFT_BENCH_DOCS (scaling-corpus size, default 400000),
SPARK_GRAFT_SCALING=0 to skip phase 1.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# 1.2M docs ≈ 60 s at the fast level → the ~5 s per-build fixed cost
# (job scheduling + table commits) is <10% of wall, so the scaling
# ratio measures the pipeline, not the constant (VERDICT r01 item 8)
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "1200000"))
SCALING_REPS = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "2"))
RUN_SCALING = os.environ.get("SPARK_GRAFT_SCALING", "1") != "0"

WAND_QUERIES = ["data", "spark query data", "customer window batch",
                "table scan fast row", "hash join agg"]
REPEATS = 5


def _fresh_spark(cores: int):
    from search_ingest_spark.session import get_spark

    return get_spark(f"bench_{cores}", master=f"local[{cores}]",
                     shuffle_partitions=cores)


def _warmup(spark, cores: int) -> None:
    """Touch every Python worker once (a real cluster reuses warm
    workers; without this, import cost pollutes the measurement)."""

    def noop(it):
        yield from it

    spark.range(cores * 4, numPartitions=cores * 4).mapInPandas(noop, "id long").count()


def _stop(spark) -> None:
    spark.stop()
    # clear the JVM so the next session gets a fresh master/core count
    from pyspark.sql import SparkSession

    SparkSession._instantiatedSession = None  # noqa: SLF001
    SparkSession._activeSession = None  # noqa: SLF001


def _burn(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def _stream(n: int) -> float:
    import numpy as np

    a = np.ones(12_000_000, dtype=np.float64)  # ~96MB, beyond L3
    s = 0.0
    for _ in range(n):
        a *= 1.0000001
        s += a[0]
    return s


def calibration_phase() -> dict:
    """Hardware-envelope probes: how much 8→32-way speedup THIS node can
    physically deliver for (a) cache-resident compute and (b) streaming
    memory traffic.  A single node shares one set of memory controllers
    across all cores; a real N→4N executor cluster multiplies them.
    The index build is judged against (b), its actual profile."""
    import multiprocessing as mp

    out = {}
    for name, fn, arg in [("cpu", _burn, 6_000_000), ("membw", _stream, 6)]:
        rates = {}
        for procs in (max(CPUS // 4, 1), CPUS):
            t0 = time.time()
            with mp.Pool(procs) as p:
                p.map(fn, [arg] * procs * 2)
            rates[procs] = procs * 2 / (time.time() - t0)
        lo, hi = sorted(rates)
        out[f"{name}_speedup"] = round(rates[hi] / rates[lo], 3)
        out[f"{name}_efficiency"] = round(rates[hi] / rates[lo] / (hi / lo), 3)
    return out


def scaling_phase(tmp: str) -> dict:
    """Build the same corpus at two parallelism levels; docs/sec both.

    Isolation rules learned the hard way (all measured on this box):
    - every Spark run (generation AND each build) is its own subprocess:
      a resident parent JVM — even a stopped one — costs a 32-core
      build ~50% via memory pressure;
    - each build subprocess is pinned to exactly its core count with
      `taskset`: unpinned local[8] lets JVM helper threads spill onto
      idle cores and inflates the low-core baseline;
    - levels run interleaved (lo,hi,lo,hi) and the min wall per level is
      used, so slow environment drift hits both levels equally.
    """
    import subprocess

    corpus_path = os.path.join(tmp, "pages_docs")
    gen_script = os.path.join(tmp, "gen_corpus.py")
    with open(gen_script, "w") as fh:
        fh.write(
            "import sys\n"
            "from pyspark.sql import functions as F\n"
            "from search_ingest_spark.session import get_spark\n"
            "from search_ingest_spark.corpus import generate_pages\n"
            f"spark = get_spark('gen', master='local[{CPUS}]', shuffle_partitions={CPUS})\n"
            f"pages = generate_pages(spark, {BENCH_DOCS}, seed=11, partitions={CPUS * 8})\n"
            "latest = (pages.groupBy('url')\n"
            "    .agg(F.max_by(F.struct('warc_ts', 'text'), 'warc_ts').alias('s'))\n"
            "    .select('url', F.col('s.text').alias('text')))\n"
            "docs = latest.withColumn('doc_id', F.regexp_extract('url', r'(\\d+)$', 1)"
            ".cast('long')).select('doc_id', 'text')\n"
            f"docs.repartition(128).write.mode('overwrite').parquet({corpus_path!r})\n"
            "print(docs.count())\n"
        )
    build_script = os.path.join(tmp, "build_one.py")
    with open(build_script, "w") as fh:
        fh.write(
            "import json, sys, time\n"
            "cores, docs_path, idx_path, dps = int(sys.argv[1]), sys.argv[2], sys.argv[3], int(sys.argv[4])\n"
            "from search_ingest_spark.session import get_spark\n"
            "spark = get_spark(f'b{cores}', master=f'local[{cores}]', shuffle_partitions=cores)\n"
            "def noop(it):\n"
            "    yield from it\n"
            "spark.range(cores*4, numPartitions=cores*4).mapInPandas(noop, 'id long').count()\n"
            "from search_ingest_spark.catalog import Catalog\n"
            "from search_ingest_spark.index.build import build_index\n"
            "t0 = time.time()\n"
            "build_index(spark, spark.read.parquet(docs_path), Catalog(spark, idx_path),\n"
            "            mode='standard', docs_per_shard=dps, resume=True)\n"
            "print(json.dumps({'wall': time.time() - t0}))\n"
        )

    env = {
        **os.environ,
        "PYTHONPATH": os.path.dirname(os.path.abspath(__file__)),
        "SPARK_DRIVER_MEM": os.environ.get("SPARK_DRIVER_MEM", "24g"),
    }

    def run_sub(cmd: list[str]) -> str:
        res = subprocess.run(cmd, capture_output=True, text=True, timeout=1200,
                             env=env)
        if res.returncode != 0:
            raise RuntimeError(f"bench subprocess failed: {res.stderr[-2000:]}")
        return res.stdout.strip().splitlines()[-1]

    n_docs = int(run_sub([sys.executable, gen_script]))
    docs_per_shard = max(256, n_docs // 128)  # same layout at both levels

    def run_level(cores: int, rep: int) -> float:
        idx = os.path.join(tmp, f"idx_{cores}_{rep}")
        cmd = [sys.executable, build_script, str(cores), corpus_path, idx,
               str(docs_per_shard)]
        if shutil.which("taskset"):
            cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
        return json.loads(run_level_raw(cmd))["wall"]

    def run_level_raw(cmd: list[str]) -> str:
        return run_sub(cmd)

    lo, hi = max(CPUS // 4, 1), CPUS
    walls: dict[int, list[float]] = {lo: [], hi: []}
    for rep in range(SCALING_REPS):  # interleaved: lo,hi,lo,hi,…
        walls[lo].append(run_level(lo, rep))
        walls[hi].append(run_level(hi, rep))
    out: dict = {"n_docs": n_docs, "reps": SCALING_REPS,
                 "pinned": bool(shutil.which("taskset"))}
    for cores in (lo, hi):
        best = min(walls[cores])
        out[f"local{cores}_sec"] = round(best, 2)
        out[f"local{cores}_walls"] = [round(w, 2) for w in walls[cores]]
        out[f"local{cores}_docs_per_sec"] = round(n_docs / best, 1)
    # the hi-level index of the LAST rep actually run (rep count is
    # configurable; a hardcoded rep 1 broke single-rep smoke runs)
    out["_index_dir"] = os.path.join(tmp, f"idx_{hi}_{SCALING_REPS - 1}")
    out["_corpus_dir"] = corpus_path
    ratio = out[f"local{hi}_docs_per_sec"] / out[f"local{lo}_docs_per_sec"]
    out["cores_low"], out["cores_high"] = lo, hi
    out["speedup"] = round(ratio, 3)
    out["scaling_efficiency"] = round(ratio / (hi / lo), 3)
    cal = calibration_phase()
    out["node_calibration"] = cal
    # fraction of the node's achievable (memory-bandwidth-bound) scaling
    # actually realized by the pipeline — the cluster-relevant number
    if cal.get("membw_speedup"):
        out["efficiency_vs_node_envelope"] = round(
            ratio / cal["membw_speedup"], 3
        )
    return out


def query_phase(tmp: str, scaling: dict | None) -> dict:
    from search_ingest_spark.catalog import Catalog
    from search_ingest_spark.index.build import build_index
    from search_ingest_spark.ops import dedup, similarity, textstats
    from search_ingest_spark.query import bm25
    from search_ingest_spark.query.wand import Searcher

    spark = _fresh_spark(CPUS)
    queries: dict[str, float] = {}

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    # documents index build (the sf-dir headline build)
    cat = Catalog(spark, os.path.join(tmp, "idx_docs_sf"))
    t0 = time.time()
    build_index(spark, docs, cat, mode="simple", resume=False)
    queries["index_build_documents"] = round(time.time() - t0, 3)

    s = Searcher(spark, cat)
    s.topk(WAND_QUERIES[0], 10).collect()  # warm codegen + Python workers
    lat: list[float] = []
    for q in WAND_QUERIES:
        for _ in range(REPEATS):
            t0 = time.time()
            s.topk(q, 10).collect()
            lat.append(time.time() - t0)
    lat.sort()
    queries["wand_topk_p50"] = round(statistics.median(lat), 4)
    queries["wand_topk_p95"] = round(lat[int(len(lat) * 0.95) - 1], 4)

    # batch path: the whole query set in one result frame
    t0 = time.time()
    s.topk_many(dict(enumerate(WAND_QUERIES)), 10).collect()
    queries["wand_batch_5q"] = round(time.time() - t0, 3)

    # Spark-free serving path over the same index (query/reader.py)
    from search_ingest_spark.query.reader import LocalSearcher

    ls = LocalSearcher(cat)
    ls.topk(WAND_QUERIES[0], 10)  # warm
    lat_local: list[float] = []
    for q in WAND_QUERIES:
        for _ in range(REPEATS):
            t0 = time.time()
            ls.topk(q, 10)
            lat_local.append(time.time() - t0)
    lat_local.sort()
    queries["wand_local_p50"] = round(statistics.median(lat_local), 4)
    queries["wand_local_p95"] = round(lat_local[int(len(lat_local) * 0.95) - 1], 4)

    # impact-quantized scoring mode (scoring="quantized"): latency plus
    # the decoded-postings-volume win — the one-byte impacts drop the
    # tf/dl varint streams, so the bytes touched per query shrink
    from pyspark.sql import functions as _Fq
    from search_ingest_spark.index import build as _ib

    catq = Catalog(spark, os.path.join(tmp, "idx_docs_q"))
    t0 = time.time()
    build_index(spark, docs, catq, mode="simple", resume=False, quantize=True)
    queries["index_build_documents_quant"] = round(time.time() - t0, 3)
    sq = Searcher(spark, catq)
    sq.topk_quantized(WAND_QUERIES[0], 10).collect()  # warm
    latq: list[float] = []
    for q in WAND_QUERIES:
        for _ in range(REPEATS):
            t0 = time.time()
            sq.topk_quantized(q, 10).collect()
            latq.append(time.time() - t0)
    latq.sort()
    queries["wand_quantized_p50"] = round(statistics.median(latq), 4)
    queries["wand_quantized_p95"] = round(latq[int(len(latq) * 0.95) - 1], 4)
    all_tids = sorted({t for q in WAND_QUERIES for t in sq.plan(q)})
    bytes_exact = catq.read(_ib.POSTINGS_TABLE).where(
        _Fq.col("term_id").isin(all_tids)
    ).agg(_Fq.sum(_Fq.length("data"))).first()[0]
    bytes_quant = catq.read(_ib.POSTINGS_Q_TABLE).where(
        _Fq.col("term_id").isin(all_tids)
    ).agg(_Fq.sum(_Fq.length("data"))).first()[0]
    queries["queryset_postings_bytes_exact"] = int(bytes_exact)
    queries["queryset_postings_bytes_quant"] = int(bytes_quant)
    from search_ingest_spark.query.reader import LocalSearcher as _LS

    lsq = _LS(catq)
    lsq.topk_quantized(WAND_QUERIES[0], 10)  # warm
    latlq: list[float] = []
    for q in WAND_QUERIES:
        for _ in range(REPEATS):
            t0 = time.time()
            lsq.topk_quantized(q, 10)
            latlq.append(time.time() - t0)
    latlq.sort()
    queries["wand_local_quantized_p50"] = round(statistics.median(latlq), 4)
    queries["wand_local_quantized_p95"] = round(latlq[int(len(latlq) * 0.95) - 1], 4)

    t0 = time.time()
    bm25.bm25_brute_force(docs, "spark query data", 10, mode="simple").collect()
    queries["bm25_brute_force"] = round(time.time() - t0, 3)

    t0 = time.time()
    dedup.exact_duplicates(docs).count()
    queries["dedup_exact"] = round(time.time() - t0, 3)

    # signature stage alone (VERDICT r02 item 1: the JVM-md5 + Arrow
    # min-reduction kernel, vs the old per-shingle Python hash loop)
    t0 = time.time()
    dedup.minhash_signatures(docs).count()
    queries["dedup_minhash_signatures"] = round(time.time() - t0, 3)

    t0 = time.time()
    dedup.minhash_lsh_pairs(docs, threshold=0.8).count()
    queries["dedup_minhash_lsh"] = round(time.time() - t0, 3)

    t0 = time.time()
    brute = similarity.brute_force_topk(emb, [1.0] + [0.0] * 63, 10).collect()
    queries["ann_brute_force"] = round(time.time() - t0, 3)

    # IVF approximate path: latency + recall@10 vs the exact top-10
    cents = similarity.train_centroids(emb, nlist=16)
    bucketed = similarity.assign_buckets(emb, cents).persist()
    bucketed.count()
    t0 = time.time()
    ivf = similarity.ivf_topk(bucketed, cents, [1.0] + [0.0] * 63, 10,
                              nprobe=6).collect()
    queries["ann_ivf_topk"] = round(time.time() - t0, 3)
    exact_ids = {r["vec_id"] for r in brute}
    queries["ann_ivf_recall_at10"] = round(
        len(exact_ids & {r["vec_id"] for r in ivf}) / max(1, len(exact_ids)), 3
    )
    bucketed.unpersist()

    # phrase query over a positions-enabled index (ES always records
    # positions for text fields, so this is the parity-complete build)
    from search_ingest_spark.query.phrase import PhraseSearcher

    catp = Catalog(spark, os.path.join(tmp, "idx_docs_pos"))
    t0 = time.time()
    build_index(spark, docs, catp, mode="simple", resume=False,
                with_positions=True)
    queries["index_build_documents_pos"] = round(time.time() - t0, 3)
    ph = PhraseSearcher(spark, catp)
    ph.topk("table hash", 10).collect()  # warm
    latp = []
    for q in ["table hash", "part filter", "merge group"]:
        for _ in range(REPEATS):
            t0 = time.time()
            ph.topk(q, 10, round_to=4).collect()
            latp.append(time.time() - t0)
    latp.sort()
    queries["phrase_topk_p95"] = round(latp[int(len(latp) * 0.95) - 1], 4)

    t0 = time.time()
    textstats.quality_score(docs).count()
    queries["text_quality"] = round(time.time() - t0, 3)

    # incremental changefeed batch on the O(dirty) path: backfill a
    # url-keyed corpus once, then time ONE 50-doc upsert batch end to
    # end (docs merge, id mapping, doc_lens/stats/term_dict deltas,
    # postings splice, atomic commit)
    from search_ingest_spark.streaming.incremental import OP_UPSERT, PageIndexer
    from pyspark.sql import functions as _F

    pages = docs.select(
        _F.concat(_F.lit("doc://"), _F.col("doc_id").cast("string")).alias("url"),
        _F.lit("2026-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        _F.lit(None).cast("binary").alias("html"),
        "text", _F.lit("en").alias("lang"),
    )
    cat_inc = Catalog(spark, os.path.join(tmp, "idx_inc"))
    ix = PageIndexer(spark, cat_inc, mode="simple", docs_per_shard=1000)
    ix.backfill(pages)
    batch = pages.where(
        _F.regexp_extract("url", r"(\d+)$", 1).cast("long") % 100 == 7
    ).withColumn("warc_ts", _F.lit("2026-01-02 00:00:00").cast("timestamp")) \
     .withColumn("text", _F.concat(_F.col("text"), _F.lit(" updated"))) \
     .withColumn("_op", _F.lit(OP_UPSERT))
    t0 = time.time()
    st = ix.apply_changes(batch)
    queries["incremental_batch_cold_sec"] = round(time.time() - t0, 3)
    # steady-state cadence: a changefeed applies batches continuously,
    # so the number that governs throughput/latency is the WARM batch
    # (codegen + plan caches populated).  Two more distinct batches,
    # report the min.
    warm = []
    for off in (13, 29):
        b2 = pages.where(
            _F.regexp_extract("url", r"(\d+)$", 1).cast("long") % 100 == off
        ).withColumn("warc_ts", _F.lit("2026-01-03 00:00:00").cast("timestamp")) \
         .withColumn("text", _F.concat(_F.col("text"), _F.lit(" updated2"))) \
         .withColumn("_op", _F.lit(OP_UPSERT))
        t0 = time.time()
        st = ix.apply_changes(b2)
        warm.append(time.time() - t0)
    queries["incremental_batch_sec"] = round(min(warm), 3)
    queries["incremental_batch_docs"] = st.upserts
    queries["incremental_dirty_shards"] = len(st.dirty_shards)

    # query latency against the big scaling-corpus index, if present
    if scaling and scaling.get("_index_dir"):
        big = Searcher(spark, Catalog(spark, scaling["_index_dir"]))
        big.topk("the", 10).collect()  # warm
        lat2 = []
        for q in ["the tok0001", "café tok0010 tok2000"]:
            for _ in range(REPEATS):
                t0 = time.time()
                big.topk(q, 10).collect()
                lat2.append(time.time() - t0)
        lat2.sort()
        queries["wand_bigcorpus_p95"] = round(lat2[int(len(lat2) * 0.95) - 1], 4)
        ls_big = LocalSearcher(Catalog(spark, scaling["_index_dir"]))
        ls_big.topk("the", 10)
        lat3 = []
        for q in ["the tok0001", "café tok0010 tok2000"]:
            for _ in range(REPEATS):
                t0 = time.time()
                ls_big.topk(q, 10)
                lat3.append(time.time() - t0)
        lat3.sort()
        queries["wand_local_bigcorpus_p95"] = round(lat3[int(len(lat3) * 0.95) - 1], 4)

    # index-sorted doc-values at 1.2M docs: write the sorted copy into
    # the big index, then field-sorted top-10 via the early-terminating
    # reader vs the full-scan TakeOrdered a reader without index
    # sorting would pay on the SAME table
    if scaling and scaling.get("_index_dir") and scaling.get("_corpus_dir"):
        import numpy as _np
        import pyarrow.dataset as _ds
        from pyspark.sql import functions as F

        from search_ingest_spark.index import build as _ib

        cat_big = Catalog(spark, scaling["_index_dir"])
        docs_big = spark.read.parquet(scaling["_corpus_dir"])
        a = docs_big.select(
            "doc_id", F.length("text").alias("n_chars"))
        t0 = time.time()
        cat_big.write(
            _ib.SORTED_ATTRS_TABLE,
            a.repartitionByRange(64, F.desc_nulls_last("n_chars"),
                                 F.asc("doc_id"))
            .sortWithinPartitions(F.desc_nulls_last("n_chars"),
                                  F.asc("doc_id")))
        cat_big.write_small(_ib.SORTED_ATTRS_META, [("n_chars", 1)],
                            "sort_field string, descending int")
        queries["index_sort_attrs_sec"] = round(time.time() - t0, 3)
        ls2 = LocalSearcher(cat_big)
        st: dict = {}
        ls2.sorted_topk("n_chars", 10, stats=st)  # warm
        lat4 = []
        for _ in range(REPEATS):
            t0 = time.time()
            ls2.sorted_topk("n_chars", 10)
            lat4.append(time.time() - t0)
        queries["sorted_topk_local_p50"] = round(statistics.median(lat4), 4)
        queries["sorted_topk_frags_read"] = st["fragments_read"]
        queries["sorted_topk_frags_total"] = st["fragments_total"]
        t0 = time.time()
        tbl = _ds.dataset(cat_big.data_path(_ib.SORTED_ATTRS_TABLE)) \
            .to_table(columns=["doc_id", "n_chars"])
        nc = tbl["n_chars"].to_numpy()
        di = tbl["doc_id"].to_numpy()
        _np.lexsort((di, -nc))[:10]
        queries["sorted_topk_fullscan_sec"] = round(time.time() - t0, 4)
    _stop(spark)
    return queries


def main() -> None:
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="sis_bench_", dir=base)
    t_start = time.time()
    scaling = scaling_phase(tmp) if RUN_SCALING else None
    queries = query_phase(tmp, scaling)
    total = round(time.time() - t_start, 2)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    result = {
        "metric": "e2e_bench_seconds",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if scaling:
        scaling.pop("_index_dir", None)
        result["index_build_scaling"] = scaling
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    sys.stderr.write(f"bench: sf_dir={SF_DIR} cpus={CPUS} docs={BENCH_DOCS}\n")
    main()
