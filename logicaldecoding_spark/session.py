"""SparkSession factory tuned for the CDC replay workload.

Local-mode settings follow the public Spark tuning guidance: shuffle
partitions sized to cores (not the 200 default), AQE on for runtime
coalescing and skew splitting, Arrow enabled for the proto wire's
Python-worker decode and for local relations (``local_frame``), a driver
heap no larger than half of physical memory, UTC session timezone so
results compare cleanly against DuckDB oracles, and a generated-class
cache (``spark.sql.codegen.cache.maxEntries``, a static conf read once
when the JVM starts) of ``CODEGEN_CACHE_ENTRIES`` classes: Spark's
default of 100 is smaller than the engine's working set, so every pass
over the same queries would recompile its classes.

It also owns the engine's two ways of touching a live session:
``local_frame`` (the one way to turn driver rows into a DataFrame) and
``conf_set`` (the one way to change a SQL conf, scoped and restored).
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# generated classes Spark keeps compiled; about 3x the 624 distinct classes
# that all entry queries at sf0.01 plus a 150k-event JSON replay compile
CODEGEN_CACHE_ENTRIES = 2048


def default_driver_memory() -> str:
    """The driver heap ``get_spark`` asks for without ``SPARK_DRIVER_MEM``:
    the smaller of 16g and half of physical memory.  In local mode the
    executors share this heap, and the Python workers and the driver
    process need memory beside it, so a heap near physical memory would
    grow into swap or the OOM killer instead of spilling."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(16 << 10, phys // 2 >> 20)}m"


def get_spark(
    app_name: str = "logicaldecoding_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or ``*``.
    ``shuffle_partitions`` defaults to 2x cores — enough parallelism for the
    final reduce without over-scheduling tiny tasks in local mode.
    The driver heap is ``$SPARK_DRIVER_MEM``, else
    ``default_driver_memory()``.
    ``extra_conf`` overrides any setting here; static ones (the codegen
    cache size among them) only take effect in a JVM this call starts.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_cores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n_cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable, schema: T.StructType | str,
) -> DataFrame:
    """Driver rows as a JVM local relation (``LocalTableScan``).

    ``createDataFrame`` on a Python list pickles the rows into a
    ``ParallelCollectionRDD`` and re-serializes them in Python workers on
    EVERY execution of the frame (``Scan ExistingRDD``), whatever the
    Arrow conf says; an Arrow table becomes a local relation the JVM owns,
    which also lets Catalyst fold an empty one away.  Rows are tuples
    (``Row`` included, positionally), dicts or objects, as with
    ``createDataFrame``, and pass its type verifier first: a row of the
    wrong arity or a value of the wrong type raises here, before any
    Spark job.  Where ``createDataFrame`` would stringify a non-str value
    in a string column, the Arrow build raises ``ArrowTypeError``."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    verify = T._make_type_verifier(schema)
    internal = []
    for r in rows:
        verify(r)
        internal.append(schema.toInternal(r))
    arrow = to_arrow_schema(schema)
    cols = list(zip(*internal)) if internal else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema=schema)


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (each generated-class
    cache miss compiles one).  The counter is JVM-wide: queries running
    concurrently in other threads count too."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


@contextmanager
def conf_set(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set one session conf for the block, then restore the caller's
    value (or unset it if it was unset), also when the block raises."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
