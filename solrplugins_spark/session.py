"""SparkSession factory tuned for the engine.

Local mode is a correctness harness; the configs below are the ones
that matter at cluster scale too (AQE, Arrow, shuffle partitions).
"""

from __future__ import annotations

import functools
import os
import warnings

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "solrplugins_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls local parallelism (``local[cores]``); defaults to
    ``$SPARK_GRAFT_CPUS`` or all cores. ``shuffle_partitions`` defaults
    to the core count — at cluster scale you'd size this to
    ~2-3x total executor cores and let AQE coalesce.
    """
    explicit_cores = cores is not None
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # Master precedence:
    #   1. $SPARK_GRAFT_MASTER — explicit user override, beats all;
    #   2. an EXPLICIT cores=N argument — the caller asked for exactly
    #      local[N] (benchmarks measuring a core count must not be
    #      silently retargeted by ambient env);
    #   3. $MASTER — what spark-submit exports for python apps
    #      (local-cluster / standalone / YARN), so no-cores entry
    #      points (scripts/, scaling_cluster) run unchanged on a real
    #      cluster;
    #   4. local[cores] default.
    # Detection is ENV-ONLY on purpose: probing SparkConf() in-process
    # is unreliable — after a context stops, its spark.master lingers
    # in the JVM-side defaults, and every later get_spark(cores=N)
    # would silently reuse the OLD core count (measured: a "4-core"
    # session running local[1]).
    master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None and not explicit_cores:
        master = os.environ.get("MASTER")
    if master is None:
        master = f"local[{cores}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # syscalls are expensive in this environment (measured 70% sys
        # time in JVM<->python pipes) — large Arrow batches and socket
        # buffers cut the syscall count ~2x on Arrow-UDF stages
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "200000")
        .config("spark.buffer.size", "1048576")
        # NOTE: a giant local-mode heap is an anti-optimization — measured
        # on this box, 32-thread shuffles run 5-25x slower at 48g+G1 than
        # at 8-12g+ParallelGC (GC scaling dominates tiny tasks); 12g
        # comfortably fits sf0.1 work.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        # File creation is very expensive in this environment (~350us,
        # globally serialized). Bypass-merge shuffle creates maps*reducers
        # files; force the sort-based writer (1 data + 1 index file per
        # map task) so shuffles don't serialize on open().
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_FALLBACK_WARNED = False


@functools.lru_cache(maxsize=256)
def _schemas(ddl: str):
    """(StructType, Arrow schema) for a DDL string, parsed once per
    process: ``createDataFrame(..., schema="<ddl>")`` re-parses the
    string in the JVM on every call (~10 ms a relation, measured)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(ddl)
    return struct, to_arrow_schema(struct)


def local_relation(spark: SparkSession, data, schema):
    """A bounded driver-side answer as a DataFrame that plans as
    ``LocalRelation``: it collects on the driver with no Spark job.

    The one place a local-tier answer crosses into the JVM. ``data`` is
    a pandas frame, a dict of columns, or None for an empty relation;
    ``schema`` is a DDL string (its StructType and Arrow schema are
    parsed once and cached) or a StructType. The rows become an Arrow
    table with that schema, and the table becomes the relation, so the
    JVM neither re-parses a schema nor infers one.

    ``spark.createDataFrame([], schema)`` would plan a LogicalRDD whose
    every ``collect()`` schedules one job (measured 0.30 s/1 job ->
    0.024 s/0 jobs for an empty answer). If this PySpark lacks the
    Arrow-table path, the relation is built by ``createDataFrame`` from
    the rows instead (an empty one then takes the RDD path), with one
    warning per process.
    """
    global _FALLBACK_WARNED
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType

        if isinstance(schema, StructType):
            struct, arrow_schema = schema, to_arrow_schema(schema)
        else:
            struct, arrow_schema = _schemas(schema)
        if data is None:
            table = arrow_schema.empty_table()
        elif isinstance(data, dict):
            table = pa.table(data, schema=arrow_schema)
        else:
            table = pa.Table.from_pandas(
                data, schema=arrow_schema, preserve_index=False
            )
        # a copy: the DataFrame hands its schema object to its callers
        return spark.createDataFrame(table, schema=StructType(struct.fields))
    except (ImportError, TypeError) as e:
        if not _FALLBACK_WARNED:
            _FALLBACK_WARNED = True
            warnings.warn(
                "local_relation: no Arrow-table DataFrame path "
                f"({type(e).__name__}: {e}); answers are built with "
                "createDataFrame from rows, and empty ones schedule a "
                "Spark job on collect",
                RuntimeWarning,
                stacklevel=2,
            )
        if data is None:
            data = []
        elif isinstance(data, dict):
            import pandas as pd

            data = pd.DataFrame(data)
        return spark.createDataFrame(data, schema)


def empty_df(spark: SparkSession, schema):
    """Empty DataFrame that plans as ``LocalRelation <empty>`` (see
    ``local_relation``)."""
    return local_relation(spark, None, schema)
