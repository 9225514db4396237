"""SparkSession factory.

Local-mode defaults are tuned for the test/bench environment
(single JVM, many cores); the same builder settings are what we would
ship on a real cluster: AQE on (runtime re-planning, skew-join
handling, partition coalescing), UTC session timezone (parity with the
DuckDB oracle and with the reference's naive timestamps), Arrow
enabled for the few pandas-UDF paths.

Driver-side rows (geocode results, graph-tier answers, parameter
tables) become relations through :func:`local_frame`, never through
``createDataFrame(<python list>)``.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier

CODEGEN_CACHE_ENTRIES = 2000

# Session conf the table loaders read and never set: the UTC pin keeps
# timestamps in parity with the DuckDB oracles, and nanosAsLong lets a
# stored TIMESTAMP(NANOS) parquet column read as a long, which the
# loaders convert to micro-precision timestamps. get_spark pins both;
# a session built elsewhere pins them before loading (__spark_entry__).
LOADER_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "enriched_crime_incident_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-sane defaults.

    ``shuffle_partitions`` defaults to the local core count — the
    right size for local runs; on a real cluster leave AQE's
    coalescing to right-size post-shuffle partitions from the
    ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``
    ceiling instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r10 (guide §3.1/§9): allow shuffled-hash join where the
        # per-partition build side fits — skips the sort both sides of
        # a sort-merge pay. The AQE threshold bounds the build-side
        # partition at 64 MB (measured post-shuffle, after AQE
        # coalescing), so the OOM risk SMJ exists to avoid is capped;
        # interleaved A/B over the join-heavy bench entries: −2.6%
        # total, no regression beyond noise. Join RESULTS are
        # strategy-independent; full selfcheck re-verified 360/360.
        # CAVEAT (ADVICE r10): preferSortMergeJoin=false also steers
        # the STATIC planner, which picks shuffled-hash from size
        # ESTIMATES — a badly misestimated or skewed build side can
        # OOM where sort-merge would spill. The AQE threshold below
        # bounds only the AQE conversion path. On a cluster whose
        # stats are unreliable, drop this line and keep the AQE
        # threshold alone (runtime sizes, bounded build side).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "64m",
        )
        # Generated-class cache (static conf, so it must be set here).
        # Spark's default of 100 entries evicts a daily pass's classes
        # before the next pass. On the e2ebench daily_reports workload
        # (seed 3001, 4 cores, rank-by-rank enrichment) a timed day
        # re-ran a median of 36 Janino compiles (26-54 a day; by
        # phase: stream ingest 11, geocode-cache step 4, enriched view
        # 19.5), and 0 with 2000 entries. The fused ranks bring that
        # session to 91 classes, so the headroom is for sessions that
        # mix more plans (on corpus_stream, where only this setting
        # applies, median cpu_s went 11.1 -> 10.3 CPU-s over 5 pairs,
        # within noise; peak memory did not move).
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # PySpark's DataFrame query-context capture wraps every
        # `functions`/Column call in an active-session lookup, a conf
        # read, a stack walk and PySparkCurrentOrigin set/clear py4j
        # calls. On the e2ebench daily_reports workload (seed 3001,
        # 4 cores) the enriched view made a median 1 575 py4j calls a
        # day with it and 881 without, the stream ingest 504 and 305.
        # Errors still raise with their message and Python traceback;
        # only the DataFrame call-site fragment of the message is
        # lost. PySpark reads this conf once per process, at the first
        # Column call, so it is set on the builder.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in LOADER_CONF.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType | str
) -> DataFrame:
    """Driver-side ``rows`` (tuples in field order) as a relation under
    ``schema`` (a ``StructType`` or a DDL string).

    The rows go through the same type verifier as
    ``createDataFrame(<list>)`` (a ``None`` in a non-nullable field,
    an int out of its type's range, a value of the wrong type all
    raise), then into one pyarrow Table. A Table plans as a
    ``LocalTableScan``: no PythonRDD, so no Python worker task and no
    Spark job each time the relation is read, where a list plans as a
    ``Scan ExistingRDD`` that runs one Python task per default
    partition."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
