"""KG-factory benchmark: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload codekg_build --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The process makes its inputs from
``--seed`` inside ``.perfbench_work/`` of the checkout, starts a Spark
session sized to the host, and repeats the workload's operation (each
sample preceded by an untimed reset) until ``--seconds`` of operation
time are measured. Every output is checked against a DuckDB oracle.
The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (event log on, layer entry points wrapped). See DESIGN.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "structured_data_entity_extraction_spark"
SETUP_REPEATS = 3


def host_heap_mb() -> int:
    """An eighth of the memory this process may use, within 1-2 GiB: one
    local JVM plans and runs every task, and the machine is shared."""
    with open("/proc/meminfo", encoding="utf-8") as fh:
        total_mb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1]) // 1024
    try:
        with open("/sys/fs/cgroup/memory.max", encoding="utf-8") as fh:
            limit = fh.read().strip()
        if limit.isdigit():
            total_mb = min(total_mb, int(limit) // (1 << 20))
    except OSError:
        pass
    return max(1024, min(2048, total_mb // 8))


def configure_environment(work: str) -> None:
    """Make the program runnable from this process whatever the caller's
    cwd and environment, and keep every file it writes in ``work``.
    Must run before pyspark is imported: the JVM and the Python workers
    inherit this environment."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{host_heap_mb()}m"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


class TreeRssSampler:
    """High-water resident memory of this process and its descendants
    (the Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree = {os.getpid()}
        grew = True
        while grew:
            grew = False
            for pid, ppid in parent.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm", encoding="utf-8") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit. PySpark starts the JVM
    with a stdin pipe and the JVM exits when that pipe closes; the JVM
    stops its Python workers as it stops."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(args, work: str) -> dict:
    import layertrace
    import metrics
    import workloads

    configure_environment(work)
    sys.path.insert(0, ROOT)

    t0 = time.perf_counter()
    from structured_data_entity_extraction_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        os.makedirs(conf["spark.eventLog.dir"])
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    try:
        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        prep = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(prep)
        t = time.perf_counter()
        wl.load_oracle()
        log(f"session {session_s:.2f}s, inputs {prep}, oracle {time.perf_counter() - t:.2f}s")

        tracer, restore = workloads.NO_TRACE, None
        if args.trace:
            tracer = layertrace.Tracer(spark.sparkContext)
            restore = layertrace.patch_layers(tracer)

        walls, peaks, failed, attempted = [], [], 0, 0
        while not walls or sum(walls) < args.seconds:
            wl.reset()
            with TreeRssSampler() as rss:
                t = time.perf_counter()
                with tracer.span("operation", layertrace.PIPELINE_GROUP):
                    wl.execute(spark, tracer)
                walls.append(time.perf_counter() - t)
            peaks.append(rss.peak_bytes / 2**20)
            attempted += wl.operations
            failures = wl.check()
            failed += len(failures)
            for error in wl.errors:
                log(error)
            for name in failures:
                log(f"output check failed: {name}")
            if args.trace:
                break  # the per-layer totals describe one operation
        wall_s = statistics.median(walls)
        log(f"{len(walls)} sample(s), wall_s {walls}")

        if not args.trace:
            values = {
                "wall_s": wall_s,
                "docs_per_s": wl.docs / wall_s,
                "rows_out_per_s": wl.rows_out / wall_s,
                "peak_rss_mb": statistics.median(peaks),
                "setup_s": setup_s,
            }
            names = metrics.END_TO_END
        else:
            restore()
            facts = {**wl.trace_facts(spark), "session.start_s": session_s, "wall_s": wall_s}
            spans = tracer.spans
    finally:
        stop_session(spark)

    if args.trace:
        events = layertrace.read_event_log(os.path.join(work, "eventlog"))
        values = metrics.layer_metrics(events, spans, facts)
        names = metrics.PER_LAYER
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": metrics.UNITS[n]} for n in names},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    import workloads

    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = [p for p in (PACKAGE, "__spark_entry__.py") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the program (missing {', '.join(missing)} in {ROOT})", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
