"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for the target execution model (SURVEY.md §4): AQE on (runtime
re-plan + skew-join splitting for mega-repos), Arrow on (the Python
crossings that remain -- pandas UDFs on the avaluo extract and a few
ops, mapInPandas, applyInPandasWithState -- move Arrow batches; the
codekg pipeline starts no Python worker), explicit shuffle-partition
sizing. On a real cluster the same confs ship via spark-submit --conf;
`local[N]` here is the sandbox stand-in for N executors.

Local defaults fit the host: `local[<usable CPUs>]` and a driver heap of
half the host's (or the cgroup's) memory, at most 20g.
`SPARK_GRAFT_CPUS`, `SPARK_GRAFT_MASTER` and `SPARK_GRAFT_DRIVER_MEM`
override them.

Shuffle-partition sizing: size to DATA, not cores — target ~100-250k
rows (or ~128 MB) per reduce task. An undersized count makes reduce
hash-aggregations spill (measured: the 17M-row triple dedup was FLAT
from 2 to 8 cores at 8 partitions, 0.81-efficient at 64); an oversized
count is harmless because AQE coalesces it back down, but AQE can
never SPLIT an undersized aggregation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def usable_cpus() -> int:
    """CPUs this process may run on."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API off Linux
        return os.cpu_count() or 1


def default_driver_mem() -> str:
    """Half of host memory, or of the cgroup limit when lower, at most
    20g: the local JVM shares the machine with its Python workers."""
    try:
        with open("/proc/meminfo", encoding="utf-8") as fh:
            total = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1]) << 10
    except (OSError, StopIteration):
        return "20g"
    try:
        with open("/sys/fs/cgroup/memory.max", encoding="utf-8") as fh:
            limit = fh.read().strip()
        if limit.isdigit():
            total = min(total, int(limit))
    except OSError:
        pass
    return f"{min(20 << 10, max(1 << 10, total // 2 >> 20))}m"


DEFAULT_CONF = {
    # AQE: runtime coalescing + skew-join handling (north_rule)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs; bounded batches so huge `content`
    # blobs can't blow executor memory (100 TB corpora have fat rows)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # broadcast threshold comfortably above our dim tables (~2.5k rows)
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # parquet scans: vectorized reader on by default; keep splits sane
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # one codekg run generates ~137 distinct classes, a bench.py session
    # ~283: at the default 100 entries every same-session re-run
    # recompiled them (warm codekg re-run: 116 compilations -> 0)
    "spark.sql.codegen.cache.maxEntries": "1000",
    # local-mode sizing: this ONE JVM hosts the driver plus all N task
    # slots' execution memory plus every operator cache, so the old 8g
    # default left ~256 MB/slot at local[32] and GC-thrashed the
    # larger-SF bench (measured: the 10x-corpus artifact total fell
    # 30.9 -> 26.1 s and its median-over-best 1.18 -> 1.07 from this
    # alone on a 128 GiB host; sf0.1 is unaffected). The default takes
    # half the host's memory up to that 20g, so a 15 GB host without
    # swap is not promised more heap than it has; env-overridable. On a
    # real cluster executor memory is per node and set via
    # spark-submit, not this local default.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
    # shuffle/spill scratch: tmpfs when available (local-mode shuffle
    # writes otherwise bottleneck on the VM's shared disk)
    "spark.local.dir": os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/tmp"),
}


def get_spark(
    app_name: str = "structured-data-entity-extraction-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or usable_cpus())
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: T.StructType) -> DataFrame:
    """A driver-side table (tuples in ``schema`` order) as a local
    relation. The rows travel as a pyarrow Table carrying the declared
    schema, so the plan holds them in a ``LocalTableScan`` (with Arrow
    on or off): queries and broadcasts over it run no Python worker and
    no Spark job. ``createDataFrame`` over a Python list instead plans
    ``Scan ExistingRDD`` over a PythonRDD, which re-pickles the rows in
    Python workers on every evaluation."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
            schema=arrow_schema,
        ),
        schema,
    )
