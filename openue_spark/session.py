"""SparkSession factory with scale-oriented defaults.

Local-mode in the sandbox (local[32], single JVM) but every setting is the
one we'd ship to a 1000-executor cluster: AQE on (shuffle coalescing,
broadcast conversion, skew-join splitting), Arrow for all pandas UDF
traffic, bounded Arrow batch sizes so spliced-sequence batches fit in
Python-worker memory.
"""

from __future__ import annotations

import contextlib
import os
import sys

from pyspark.sql import DataFrame, SparkSession


def _disable_thp_stalls() -> None:
    """Work around pathological THP direct-compaction stalls (Linux).

    numpy madvises MADV_HUGEPAGE for every allocation >= 4 MB; with THP in
    madvise mode on a memory-fragmented host each such first-touch fault can
    run synchronous compaction — measured 280x here (an 80 MB allocation:
    16 s vs 0.05 s, EVERY allocation, not just the first). PR_SET_THP_DISABLE
    (=41) turns the madvise into a no-op and is inherited across fork+exec,
    so setting it at import time — before the JVM spawns — covers the JVM
    and every forked Python worker running our Arrow-batched numpy.
    Harmless where THP behaves: the same workloads measure within noise.
    """
    os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    if sys.platform == "linux":
        try:
            import ctypes

            ctypes.CDLL(None, use_errno=True).prctl(41, 1, 0, 0, 0)
        except Exception:  # pragma: no cover - best-effort guard
            pass


_disable_thp_stalls()


def tuning_conf(cores: int = 32, shuffle_partitions: int | None = None) -> dict[str, str]:
    """The scale-oriented conf set, reusable by any entry point (tests,
    bench, and the spark-submit job — a vanilla session's 200 static shuffle
    partitions with AQE off makes the iterative linking stage ~4x slower at
    sandbox scale and would be far worse on a cluster)."""
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or max(2 * cores, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        "spark.sql.files.maxPartitionBytes": "128m",
    }


@contextlib.contextmanager
def job_phase(spark: SparkSession, name: str):
    """Label all Spark jobs submitted inside the block with a phase name
    (visible in the UI and the event log — scripts/profile_job.py groups
    its per-job serial-latency table by these). Purely observational.

        with job_phase(spark, "linking"):
            ...
    """
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    try:
        sc.setJobDescription(name if prev is None else f"{prev}/{name}")
        yield
    finally:
        sc.setJobDescription(prev)


# The same label for the steps INSIDE a library call (the fold's link/
# delta/merge/state-write/graph-write). A second name, bound at import,
# because a tracer that turns `session.job_phase` blocks into per-layer
# spans (perfbench's) must not re-attribute a library function's own
# work: a step label only extends the description of the enclosing span.
job_step = job_phase


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A driver-built frame (run metadata, manifest rows, a dimension
    table) as a local Arrow relation.

    `spark.createDataFrame(<list>, ddl)` plans as `Scan ExistingRDD`: every
    action over it, even a one-row parquet append, runs the pickled rows
    through Python-worker tasks (one per default-parallelism slice; on
    local[4], warm: 4 tasks and ~0.4 s per append). The same rows as a
    `pyarrow.Table` plan as `LocalTableScan` (1 task, ~0.15 s) with the
    same rows and schema: NULLs stay NULL (pandas would turn a None double
    into NaN), binary stays byte-exact, and naive timestamps are read as
    session-time-zone wall time (the row path reads them in the process's
    local zone; the two agree unless spark.sql.session.timeZone is set
    away from it)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    schema = DataType.fromDDL(ddl)
    arrow = to_arrow_schema(schema, timestamp_utc=False)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=t) for c, t in zip(cols, arrow.types)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def get_spark(
    app_name: str = "openue_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    cores = 32
    if master.startswith("local[") and master[6:-1].isdigit():
        cores = int(master[6:-1])
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = tuning_conf(cores, shuffle_partitions)
    conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    conf["spark.ui.enabled"] = "false"
    # Python workers forked by an already-running JVM re-read the env; keep
    # the numpy THP opt-out visible there too (belt to the prctl suspenders).
    conf["spark.executorEnv.NUMPY_MADVISE_HUGEPAGE"] = "0"
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
