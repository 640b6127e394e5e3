"""Benchmark entry point.

    python3 perfbench/run.py --workload spark_query --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones, preceded by the per-layer self-time table.  Every file
the run writes lives under perfbench/.work/ and is removed at the end.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PR_SET_CHILD_SUBREAPER = 36
DRIVER_HEAP = "1g"


def _since_process_start() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _tree() -> list[int]:
    """This process and all of its descendants."""
    parent: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [os.getpid()]
    while frontier:
        p = frontier.pop()
        out.append(p)
        frontier.extend(c for c, pp in parent.items() if pp == p)
    return out


class PeakRss:
    """Peak resident memory of the run's whole process tree (driver, JVM,
    Python workers, serving pool): a sampler thread sums the proportional
    set size (Pss, /proc/<pid>/smaps_rollup) over the tree every
    `interval` seconds and keeps the largest sum.  Pss divides each shared
    page among the processes mapping it, so Python workers forked from one
    daemon count their shared pages once.  A sum of per-process VmRSS or
    VmHWM counts those pages once per worker, and VmHWM also counts a
    worker Spark respawns twice."""

    def __init__(self, interval: float = 0.5) -> None:
        self.peak_kb = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval,), daemon=True)
        self._thread.start()

    def sample(self) -> None:
        now = {}
        for pid in _tree():
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    name = fh.read().strip()
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    pss = next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
                now[f"{name}[{pid}]"] = pss
            except (OSError, StopIteration, ValueError):
                continue
        if sum(now.values()) > self.peak_kb:
            self.peak_kb, self.at_peak = sum(now.values()), now

    def _loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.sample()

    def stop_mb(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        print("Pss by process at the peak (MB): " + " ".join(
            f"{name}={kb // 1024}" for name, kb in sorted(self.at_peak.items())), file=sys.stderr)
        return self.peak_kb / 1024.0


def pin_env(work: str, trace: bool) -> None:
    """The run environment, set before Spark starts."""
    cpus = max(1, min(4, (os.cpu_count() or 2) - 1))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    confs = ["spark.ui.showConsoleProgress=false"]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        confs += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{events}",
                  "spark.eventLog.compress=false"]
    # the heap is committed and touched at start, so the JVM's resident
    # size does not follow the collector's growth and shrinkage
    java = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
            f" -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
            " -XX:ReservedCodeCacheSize=240m -Xlog:disable -Xlog:all=warning:stderr")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_HEAP,
        "SPARK_GRAFT_SERVE_PROCS": "2",
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([os.getcwd(), HERE] + [
            p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {c}" for c in confs)
        + f' --driver-java-options "{java}" pyspark-shell',
    })
    # the serving pool's forkserver socket lives under TMPDIR; keep the
    # default when the checkout path would make it too long for AF_UNIX
    if len(tmp) < 80:
        os.environ["TMPDIR"] = tmp


def stop_all(spark) -> None:
    """Stop Spark and the JVM, then every remaining descendant, and wait
    for each to end."""
    from pyspark import SparkContext

    from search_ingest_spark.query.reader import shutdown_serve_pool

    shutdown_serve_pool()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while True:
        _reap()
        rest = [p for p in _tree() if p != os.getpid()]
        if not rest:
            return
        sig = signal.SIGKILL if time.time() > deadline else signal.SIGTERM
        for p in rest:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _reap() -> None:
    """Collect the exit status of every ended child."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_to_end(run, setup_s: float, index_ratio: float, rss: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (statistics.median(run.op_s) * 1e3, "ms"),
        "items_per_s": (run.items / run.timed_s, "1/s"),
        "index_bytes_per_text_byte": (index_ratio, "ratio"),
        "peak_rss_mb": (rss, "MB"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(os.getcwd(), "search_ingest_spark")):
        print("run from the root of a checkout holding search_ingest_spark/", file=sys.stderr)
        return 2
    sys.path[:0] = [os.getcwd(), HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _run(args, work, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))   # only if no other run uses it
        except OSError:
            pass


def _run(args, work: str, workloads) -> int:
    # orphans (the Python workers, once the JVM has exited) are
    # re-parented to this process, so stop_all can find and wait for them
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    pin_env(work, bool(args.trace))
    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer()
        tracer.install()
    from search_ingest_spark.session import get_spark

    rss = PeakRss()
    spark = get_spark("perfbench")
    try:
        run = workloads.Run(spark, work, args.seed, tracer)
        loop, pages = workloads.WORKLOADS[args.workload]
        run.setup(pages)
        setup_s = _since_process_start()
        index_ratio = run.index_bytes() / run.text_bytes()
        try:
            loop(run, args.seconds)
            correct = True
        except workloads.Failed as e:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
            correct = False
        rss_mb = rss.stop_mb()
        if tracer is not None:
            run.phase("probe")
            try:
                workloads.probe_other_layers(run, args.workload)
            except workloads.Failed as e:
                print(f"CHECK FAILED: {e}", file=sys.stderr)
                correct = False
    finally:
        stop_all(spark)
    if not run.op_s:
        print("no operation completed", file=sys.stderr)
        return 1
    e2e = end_to_end(run, setup_s, index_ratio, rss_mb)
    print("op latencies (ms): " + " ".join(f"{s * 1e3:.0f}" for s in run.op_s), file=sys.stderr)
    print(f"host CPU steal over the timed phase: {run.steal:.1%} (figures taken at"
          " different steal are not comparable)", file=sys.stderr)
    if tracer is not None:
        import spans

        metrics = spans.per_layer(tracer, run, os.path.join(work, "events"), e2e)
    else:
        metrics = e2e
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
