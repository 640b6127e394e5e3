"""Process and memory hygiene of the Spark session and the serving pool:
Python-UDF tasks trim their worker's zipimporter cache, a "take
everything" limit does not plan a k-slot top-k queue, the default
driver heap follows the memory the process may use, and the serving
pool never re-runs the caller's main script."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pyarrow as pa

from search_ingest_spark import session
from search_ingest_spark.catalog import Catalog
from search_ingest_spark.index import build as ib

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_build_kernel_trims_subpackage_zipimporters(tmp_path):
    """In-process: a per-subpackage zipimporter in the cache is gone
    once a build kernel's iterator is exhausted."""
    archive = tmp_path / "pkgs.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pkg/sub/__init__.py", "")
    key = f"{archive}/pkg/sub"
    sys.path_importer_cache[key] = zipimport.zipimporter(key)
    try:
        kernel = ib.make_packed_tokenizer("doc_id", "text", "simple", False)
        batch = pa.RecordBatch.from_pydict({"doc_id": [1, 2], "text": ["a b", "c"]})
        assert sum(b.num_rows for b in kernel(iter([batch]))) == 2
        assert key not in sys.path_importer_cache
    finally:
        sys.path_importer_cache.pop(key, None)


def test_build_kernel_task_leaves_no_subpackage_zipimporter(spark):
    """In a Spark Python worker: after a build kernel task, the worker's
    importer cache holds no per-subpackage zipimporter (each one costs
    the next task ~200 ms in importlib.invalidate_caches)."""
    kernel = ib.make_packed_tokenizer("doc_id", "text", "simple", False)

    def probe(it):
        import sys
        import zipimport

        for _ in kernel(it):
            pass
        n = sum(1 for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter) and f.prefix)
        yield pa.RecordBatch.from_pydict({"n": [n]})

    got = (spark.createDataFrame([(i, f"w{i} common") for i in range(8)],
                                 "doc_id long, text string")
           .repartition(4).mapInArrow(probe, "n long").collect())
    assert got and all(r["n"] == 0 for r in got)


def test_take_everything_limit_plans_no_topk_queue(spark):
    """limit(10**9) after a sort must not plan TakeOrderedAndProject,
    whose per-partition queue is sized to the limit up front."""
    df = spark.range(10).orderBy("id").limit(10**9)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" not in plan
    assert [r["id"] for r in df.collect()] == list(range(10))
    small = spark.range(10).orderBy("id").limit(3)
    assert "TakeOrderedAndProject" in small._jdf.queryExecution().executedPlan().toString()


def test_default_driver_heap_follows_memory_limit():
    mem = session._default_driver_mem()
    assert mem.endswith("g") and 1 <= int(mem[:-1]) <= 48
    with open("/proc/meminfo") as fh:
        total = next(int(line.split()[1]) * 1024 for line in fh
                     if line.startswith("MemTotal:"))
    assert int(mem[:-1]) * 2**30 <= max(2**30, total // 2)


def test_serve_pool_does_not_rerun_guardless_main(spark, tmp_path):
    """A driver script with no `if __name__ == "__main__"` guard runs
    its top level once, even when a query fans out to the serving
    pool's worker processes."""
    docs = spark.createDataFrame(
        [(i, f"common word{i % 5} filler") for i in range(48)],
        "doc_id long, text string")
    root = str(tmp_path / "idx")
    ib.build_index(spark, docs, Catalog(spark, root), mode="simple",
                   docs_per_shard=4)
    log = tmp_path / "ran.log"
    script = tmp_path / "guardless.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        with open({str(log)!r}, "a") as fh:
            fh.write("top\\n")
        from search_ingest_spark.catalog import Catalog
        from search_ingest_spark.query import reader as R
        R.LocalSearcher._PAR_BOOT = 1
        R.LocalSearcher._PAR_MIN_SHARDS = 2
        R.LocalSearcher._PAR_CHUNK_TARGET = 2
        hits = R.LocalSearcher(Catalog(None, {root!r})).topk("common", 100)
        assert len(hits) == 48, len(hits)
        assert R._SERVE_POOL is not None and not R._SERVE_POOL_BROKEN
    """))
    env = dict(os.environ, SPARK_GRAFT_SERVE_PROCS="2")
    out = subprocess.run([sys.executable, str(script)], env=env, timeout=300,
                         capture_output=True, text=True)
    assert out.returncode == 0, out.stderr[-2000:]
    assert log.read_text() == "top\n"
