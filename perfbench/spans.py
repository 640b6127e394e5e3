"""Tracing for the per-layer run, kept entirely in the benchmark.

`Tracer.install` replaces public functions of the program with wrappers
that record a span around each call (layer, name, start, end, thread,
parent).  Spans stay in memory; `spark_events` reads the Spark event log
written during the run, and `attribute` assigns each Spark job and stage
to the spans whose interval holds its submission time, which also counts
the jobs started on the program's own worker threads.

Self time: for each timed operation, every instant of its wall time is
charged to the innermost span open on the benchmark's main thread, so
the layers' self times add up to the operation's wall time exactly.
Spans opened on other threads are timed and counted but take no self
time from the main-thread span that waits for them.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

# rows of the self-time table, in order
LAYERS = ["session", "index.build", "index.codec", "catalog", "query.reader",
          "query.wand", "streaming.incremental", "bench", "trace"]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self.phase = "setup"      # setup | warmup | timed | probe

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, layer: str, name: str):
        st = self._stack()
        main = threading.get_ident() == self._main
        rec = {"layer": layer, "name": name, "main": main, "phase": self.phase,
               "parent": st[-1] if st else None}
        with self._lock:
            idx = rec["idx"] = len(self.spans)
            self.spans.append(rec)
        st.append(idx)
        rec["w0"] = time.time()
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["w1"] = time.time()
            st.pop()

    def wrap(self, owner, attr: str, layer: str, name: str, after=None) -> None:
        """Replace owner.attr by a spanned wrapper.  `after(rec, args,
        result)` runs once the call's span has closed, inside a span of
        the `trace` layer, so its cost shows as tracing overhead."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer, name) as rec:
                result = fn(*args, **kwargs)
            if after is not None:
                with self.span("trace", f"{name}.measure"):
                    after(rec, args, result)
            return result

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the public calls of every layer the benchmark names."""
        from search_ingest_spark import session
        from search_ingest_spark.catalog import Catalog
        from search_ingest_spark.index import build, codec
        from search_ingest_spark.query import reader, wand
        from search_ingest_spark.streaming import incremental

        self.wrap(session, "get_spark", "session", "session.get_spark")
        self.wrap(build, "build_index", "index.build", "build.build_index")
        # driver-side block decoding (the serving reader's serial scan)
        self.wrap(wand, "decode_blocks_bulk", "index.codec", "codec.decode")
        self.wrap(codec, "decode_impact_blocks_bulk", "index.codec", "codec.decode_impact")
        for attr in ("write", "write_small", "write_small_arrow", "replace_partitions"):
            self.wrap(Catalog, attr, "catalog", f"catalog.{attr}", after=_new_bytes)
        self.wrap(Catalog, "commit", "catalog", "catalog.commit")
        self.wrap(reader.LocalSearcher, "__init__", "query.reader", "reader.open")
        for attr in ("plan", "topk", "topk_quantized", "fetch"):
            self.wrap(reader.LocalSearcher, attr, "query.reader", f"reader.{attr}")
        self.wrap(wand.Searcher, "plan", "query.wand", "wand.plan")
        for attr in ("topk", "topk_quantized"):
            self.wrap(wand.Searcher, attr, "query.wand", "wand.build_df")
        self.wrap(incremental.PageIndexer, "apply_changes", "streaming.incremental",
                  "incremental.apply_changes", after=_dirty_shards)

    # -- queries over the recorded spans ------------------------------------
    def named(self, name: str, phases=None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "t1" in s
                and (phases is None or s["phase"] in phases)]

    def durations(self, name: str, phases=None) -> list[float]:
        return [s["t1"] - s["t0"] for s in self.named(name, phases)]

    def self_times(self, op_idx: int, key: str = "layer") -> dict[str, float]:
        """Seconds of the op's wall time charged to each layer (or, with
        key="name", to each kind of call)."""
        root = self.spans[op_idx]
        kids: dict[int, list[int]] = {}
        for i in range(op_idx + 1, len(self.spans)):
            s = self.spans[i]
            if s["main"] and s["parent"] is not None and "t1" in s:
                kids.setdefault(s["parent"], []).append(i)
        out = {layer: 0.0 for layer in LAYERS} if key == "layer" else {}

        def walk(i: int) -> None:
            s = self.spans[i]
            child = sum(self.spans[c]["t1"] - self.spans[c]["t0"] for c in kids.get(i, []))
            out[s[key]] = out.get(s[key], 0.0) + (s["t1"] - s["t0"]) - child
            for c in kids.get(i, []):
                walk(c)

        walk(op_idx)
        assert abs(sum(out.values()) - (root["t1"] - root["t0"])) < 1e-6
        return out


def _dirty_shards(rec: dict, _args: tuple, result) -> None:
    rec["dirty_shards"] = len(result.dirty_shards)


def _new_bytes(rec: dict, args: tuple, _result) -> None:
    """Bytes of the files a catalog call published that no earlier
    snapshot shares: hardlinked (carried-over) files have nlink > 1."""
    cat, name = args[0], args[1]
    total = 0
    for dirpath, _, files in os.walk(cat.data_path(name)):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            if st.st_nlink == 1:
                total += st.st_size
    rec["bytes"] = total


def spark_events(event_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from the Spark event log: submission time in
    epoch ms, plus per completed stage its task count, shuffle bytes
    written, executor run time and JVM GC time (ms)."""
    jobs, stages = [], []
    for path in glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"t": ev["Submission Time"]})
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                    stages.append({
                        "t": info.get("Submission Time", 0),
                        "tasks": int(info.get("Number of Tasks", 0)),
                        "shuffle_bytes": int(acc.get("internal.metrics.shuffle.write.bytesWritten") or 0),
                        "run_ms": int(acc.get("internal.metrics.executorRunTime") or 0),
                        "gc_ms": int(acc.get("internal.metrics.jvmGCTime") or 0),
                    })
    return jobs, stages


def attribute(spans: list[dict], jobs: list[dict], stages: list[dict]) -> dict:
    """Spark work submitted inside any of `spans` (epoch-ms windows)."""
    wins = [(s["w0"] * 1000.0 - 1.0, s["w1"] * 1000.0 + 1.0) for s in spans]

    def inside(t: float) -> bool:
        return any(a <= t <= b for a, b in wins)

    st = [s for s in stages if inside(s["t"])]
    return {
        "jobs": sum(1 for j in jobs if inside(j["t"])),
        "stages": len(st),
        "tasks": sum(s["tasks"] for s in st),
        "shuffle_bytes": sum(s["shuffle_bytes"] for s in st),
        "run_s": sum(s["run_ms"] for s in st) / 1000.0,
        "gc_s": sum(s["gc_ms"] for s in st) / 1000.0,
    }


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def self_time_table(tr: Tracer, ops: list[int], title: str) -> tuple[str, float]:
    """A text table of mean self time per op by layer, and the smallest
    share, over the ops, of an op's wall time (tracing overhead removed)
    that the program's layers account for."""
    rows = [tr.self_times(i) for i in ops]
    walls = [tr.spans[i]["t1"] - tr.spans[i]["t0"] for i in ops]
    n = max(1, len(ops))
    mean = {layer: sum(r[layer] for r in rows) / n for layer in LAYERS}
    wall = sum(walls) / n
    shares = [(w - r["trace"] - r["bench"]) / (w - r["trace"]) for r, w in zip(rows, walls)]
    accounted = min(shares) if shares else 0.0
    lines = [f"per-layer self time, {title}: {len(ops)} ops, mean wall {wall * 1e3:.1f} ms",
             f"{'layer':<24}{'ms/op':>10}{'share':>9}"]
    for layer in LAYERS:
        lines.append(f"{layer:<24}{mean[layer] * 1e3:>10.2f}{mean[layer] / wall if wall else 0:>9.1%}")
    by_name: dict[str, float] = {}
    for i in ops:
        for name, t in tr.self_times(i, key="name").items():
            by_name[name] = by_name.get(name, 0.0) + t / n
    lines.append("by call: " + ", ".join(
        f"{name} {t * 1e3:.1f} ms" for name, t in sorted(by_name.items(), key=lambda kv: -kv[1])))
    lines.append(f"program layers account for {accounted:.1%} of the wall time of every op "
                 f"(worst op; tracing overhead excluded)")
    return "\n".join(lines), accounted


def _within(spans: list[dict], outer: list[dict]) -> list[dict]:
    """The spans that start inside any of the `outer` spans (any thread)."""
    wins = [(o["t0"], o["t1"]) for o in outer]
    return [s for s in spans if any(a <= s["t0"] <= b for a, b in wins)]


def _bytes_per_posting(cat, table: str) -> float:
    import pyarrow.compute as pc

    tbl = cat.arrow_dataset(table).to_table(columns=["n_docs", "data"])
    return pc.sum(pc.binary_length(tbl["data"])).as_py() / max(1, pc.sum(tbl["n_docs"]).as_py())


def per_layer(tr: Tracer, run, event_dir: str, e2e: dict) -> dict:
    """Every per-layer metric of the run, printing the self-time table
    of the timed operations (with the traced end-to-end figures) first.
    Calls are taken from the timed phase and the probes after it; the
    build figures are totals over the set-up builds."""
    from search_ingest_spark.index import build as ib

    jobs, stages = spark_events(event_dir)
    live = {"timed", "probe"}

    def ms(name: str) -> float:
        return median(tr.durations(name, live)) * 1e3

    build = attribute(tr.named("build.build_index", {"setup"}), jobs, stages)
    wand_calls = tr.named("wand.build_df", live)
    wand = attribute(wand_calls + tr.named("wand.collect", live), jobs, stages)
    n_q = max(1, len(wand_calls))
    batches = tr.named("incremental.apply_changes", live)
    inc = attribute(batches, jobs, stages)
    n_b = max(1, len(batches))
    # catalog calls made by the changefeed batches (any thread)
    writes = _within([s for s in tr.spans if s["layer"] == "catalog" and "bytes" in s], batches)
    batch_bytes = sum(s["bytes"] for s in writes)
    changed = sum(s.get("changed_bytes", 0) for s in tr.named("op", live))

    table, accounted = self_time_table(tr, run.ops, "timed phase")
    print(table)
    print("traced end-to-end: " + ", ".join(f"{k}={v:.4g} {u}" for k, (v, u) in e2e.items()))
    return {
        "session.start_s": (tr.durations("session.get_spark")[0], "s"),
        "build.wall_s": (sum(tr.durations("build.build_index", {"setup"})), "s"),
        "build.spark_jobs": (build["jobs"], "count"),
        "build.spark_stages": (build["stages"], "count"),
        "build.spark_tasks": (build["tasks"], "count"),
        "build.shuffle_bytes": (build["shuffle_bytes"], "B"),
        "build.executor_run_s": (build["run_s"], "s"),
        "build.jvm_gc_s": (build["gc_s"], "s"),
        "codec.postings_bytes_per_posting": (_bytes_per_posting(run.cat, ib.POSTINGS_TABLE), "B"),
        "codec.postings_q_bytes_per_posting": (_bytes_per_posting(run.cat, ib.POSTINGS_Q_TABLE), "B"),
        "catalog.write_s": (median([s["t1"] - s["t0"] for s in writes
                                    if s["name"] != "catalog.replace_partitions"]), "s"),
        "catalog.replace_partitions_s": (median([s["t1"] - s["t0"] for s in writes
                                                 if s["name"] == "catalog.replace_partitions"]), "s"),
        "catalog.bytes_written_per_op": (sum(s["bytes"] for s in writes) / max(1, len(writes)), "B"),
        "reader.open_ms": (ms("reader.open"), "ms"),
        "reader.plan_ms": (ms("reader.plan"), "ms"),
        "reader.topk_ms": (ms("reader.topk"), "ms"),
        "reader.topk_quantized_ms": (ms("reader.topk_quantized"), "ms"),
        "reader.fetch_ms": (ms("reader.fetch"), "ms"),
        "wand.plan_ms": (ms("wand.plan"), "ms"),
        "wand.build_df_ms": (ms("wand.build_df"), "ms"),
        "wand.collect_ms": (ms("wand.collect"), "ms"),
        "wand.spark_jobs_per_query": (wand["jobs"] / n_q, "count"),
        "wand.spark_stages_per_query": (wand["stages"] / n_q, "count"),
        "wand.spark_tasks_per_query": (wand["tasks"] / n_q, "count"),
        "wand.shuffle_bytes_per_query": (wand["shuffle_bytes"] / n_q, "B"),
        "incremental.apply_changes_s": (median(tr.durations("incremental.apply_changes", live)), "s"),
        "incremental.spark_jobs_per_batch": (inc["jobs"] / n_b, "count"),
        "incremental.dirty_shards_per_batch": (sum(s["dirty_shards"] for s in batches) / n_b, "count"),
        "incremental.bytes_rewritten_per_changed_byte": (batch_bytes / max(1, changed), "ratio"),
        "trace.layers_accounted_share": (accounted, "ratio"),
    }
