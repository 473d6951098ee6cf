"""SparkSession factory tuned for the engine, and the held answers
(``local_relation``) every bounded driver-side answer is returned as.

Local mode is a correctness harness; the configs below are the ones
that matter at cluster scale too (AQE, Arrow, shuffle partitions).
"""

from __future__ import annotations

import functools
import os
import threading
import warnings

import pandas as pd
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import _create_converter_to_pandas, to_arrow_schema
from pyspark.sql.types import AtomicType, StructType, TimestampType, _parse_datatype_string

try:
    from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame
    from pyspark.sql.conversion import ArrowTableToRowsConversion
except ImportError:  # PySpark < 4.0: answers are built eagerly (_hold)
    _ClassicDataFrame = object


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


_WARNED: set[str] = set()


def _warn_once(key: str, message: str) -> None:
    if key not in _WARNED:
        _WARNED.add(key)
        warnings.warn(message, RuntimeWarning, stacklevel=3)


@functools.lru_cache(maxsize=256)
def _schemas(ddl: str):
    """(StructType, Arrow schema) for a DDL string, parsed once per
    process: ``createDataFrame(..., schema="<ddl>")`` re-parses the
    string in the JVM on every call (~10 ms a relation, measured)."""
    struct = _parse_datatype_string(ddl)
    return struct, to_arrow_schema(struct)


class _Held(_ClassicDataFrame):
    """A bounded answer held on the driver as an Arrow table (``_hold``).
    ``collect``, ``toPandas``, ``count``, ``take``/``head``/``first``,
    ``isEmpty``, ``columns``, ``schema``, ``dtypes`` and a ``select`` of
    column names read the table, with no py4j call. Any other operation
    reads ``_jdf``, built on that first read, once, by ``_eager``."""

    def __getattr__(self, name: str):
        if name != "_jdf":
            return super().__getattr__(name)
        d = self.__dict__
        with d["_lock"]:
            if "_jdf" not in d:
                d["_jdf"] = _eager(d["_session"], d["_table"], d["_struct"])._jdf
        return d["_jdf"]

    @property
    def schema(self):
        return self._schema

    def collect(self):
        return self.take(self._table.num_rows)

    def take(self, num: int):
        if num < 0:  # Spark's limit raises
            return super().take(num)
        return ArrowTableToRowsConversion.convert(self._table.slice(0, num), self._struct)

    def count(self) -> int:
        return self._table.num_rows

    def isEmpty(self) -> bool:
        return self._table.num_rows == 0

    def select(self, *cols):
        names = cols[0] if len(cols) == 1 and isinstance(cols[0], list) else cols
        fields = {f.name: f for f in self._struct.fields}
        if not names or not all(isinstance(c, str) and c in fields for c in names):
            return super().select(*cols)
        return local_relation(self._session, self._table,
                              StructType([fields[c] for c in names]))

    def toPandas(self):
        # PandasConversionMixin.toPandas's Arrow path; a timestamp or
        # nested column needs the session's time zone or struct mode
        # (py4j reads), so it takes the mixin (fed by _collect_as_arrow)
        fields = self._struct.fields
        if not fields or not all(isinstance(f.dataType, AtomicType) and not
                                 isinstance(f.dataType, TimestampType) for f in fields):
            return super().toPandas()
        pdf = self._table.to_pandas(date_as_object=True, coerce_temporal_nanoseconds=True)
        return pd.concat([_create_converter_to_pandas(f.dataType, f.nullable)(pser)
                          for (_, pser), f in zip(pdf.items(), fields)], axis="columns")

    def _collect_as_arrow(self, split_batches=False, empty_list_if_zero_records=True):
        if self._table.num_rows or empty_list_if_zero_records:
            return [b for b in self._table.to_batches() if b.num_rows]
        return [pa.RecordBatch.from_pylist([], schema=self._table.schema)]


def _hold(spark: SparkSession, table, struct):
    """``table`` held as a DataFrame of ``struct``; None where this
    PySpark's classic constructor does not set ``_session`` and
    ``_jdf`` (another layout, or Spark Connect)."""
    if _ClassicDataFrame is object or getattr(spark, "_jsparkSession", None) is None:
        return None
    df = object.__new__(_Held)
    try:
        _ClassicDataFrame.__init__(df, None, spark)
    except (TypeError, AttributeError):
        return None
    d = df.__dict__
    if d.pop("_jdf", 0) is not None or d.get("_session") is not spark:
        return None
    # _schema is a copy: the answer hands it to its callers
    d.update(_table=table, _struct=struct, _lock=threading.Lock(),
             _schema=StructType(list(struct.fields)))
    return df


def _eager(spark: SparkSession, table, struct):
    """``table`` as a ``LocalRelation`` DataFrame: where an answer
    crosses into the JVM (``createDataFrame([], schema)`` would plan a
    LogicalRDD whose every ``collect()`` schedules a job). Without the
    Arrow-table path the rows go through ``createDataFrame`` (an empty
    answer then takes the RDD path), with one warning per process."""
    schema = StructType(list(struct.fields))
    try:
        return spark.createDataFrame(table, schema=schema)
    except TypeError as e:
        _warn_once("rows", "local_relation: no Arrow-table DataFrame path "
                   f"({type(e).__name__}: {e}); answers are built with "
                   "createDataFrame from rows, and empty ones schedule a "
                   "Spark job on collect")
        return spark.createDataFrame(list(zip(*table.to_pydict().values())), schema)


def local_relation(spark: SparkSession, data, schema):
    """A bounded driver-side answer as a DataFrame, held on the driver
    (``_Held``): it crosses into the JVM on its first Spark use.

    ``data`` is a pandas frame, a dict of columns, an Arrow table, or
    None for an empty answer; ``schema`` is a DDL string (parsed once
    and cached) or a StructType. Frames and dicts become an Arrow table
    column by column under the flat engine's rule: NaN stays NaN in a
    floating column and None is null; elsewhere pandas' missing values
    are null. Where this PySpark cannot hold an answer, it is built at
    once (``_eager``), with one warning per process.
    """
    if isinstance(schema, StructType):
        struct, arrow_schema = schema, to_arrow_schema(schema)
    else:
        struct, arrow_schema = _schemas(schema)
    if data is None:
        table = arrow_schema.empty_table()
    elif isinstance(data, pa.Table):
        table = data.select(arrow_schema.names).cast(arrow_schema)
    else:
        table = pa.table([
            pa.array(data[f.name], f.type, from_pandas=not pa.types.is_floating(f.type))
            for f in arrow_schema
        ], schema=arrow_schema)
    held = _hold(spark, table, struct)
    if held is None:
        _warn_once("held", "local_relation: no classic DataFrame to hold answers "
                   "in; every answer crosses into the JVM when it is built")
        held = _eager(spark, table, struct)
    return held


def empty_df(spark: SparkSession, schema):
    """An empty held answer (see ``local_relation``)."""
    return local_relation(spark, None, schema)
