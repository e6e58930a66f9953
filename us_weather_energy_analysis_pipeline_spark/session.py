"""SparkSession factory with scale-minded defaults.

The reference executes eagerly in single-process pandas (reference
``src/pipeline.py:11-111``); here every plan is lazy and Catalyst-optimized.
Defaults below are chosen for the 100 TB posture while remaining correct on
``local[*]``:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- modest ``shuffle.partitions`` for local runs — on a real cluster this is
  overridden by AQE's coalescing from the initial number;
- Arrow enabled so any Pandas-UDF escape hatch is batched, never per-row;
- session timezone pinned UTC so date truncation is deterministic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    # local mode runs ALL executor threads inside the driver JVM, whose
    # default 1g heap means constant GC (and OOM on larger-than-sf0.1
    # inputs) with 32 task threads; size it like the executor it really is.
    # Only effective at JVM launch — a no-op when attaching to a live session.
    "spark.driver.memory": "16g",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # runtime Bloom-filter pushdown on selective joins: the probe side's
    # scan skips row groups that cannot match the build side — a large win
    # for fact⨝filtered-dim joins at the 100 TB target, harmless locally
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # At 100 TB the autoBroadcastJoinThreshold default (10m) is kept: dimension
    # tables (region/nation/city) stay broadcast; fact-fact joins go sort-merge.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.showConsoleProgress": "false",
    # Long-lived-session hygiene: the app-status store retains the FULL
    # plan graph of the last 1000 SQL executions plus per-job/stage/task
    # rows by default — over a many-query session (the corpus sweep is
    # 118 queries × 2 runs × several jobs each) that is hundreds of MB of
    # driver heap and measurable GC drag (queries late in a sweep ran
    # 2-4× their standalone time before these caps). Batch drivers don't
    # need the UI at all.
    "spark.ui.enabled": "false",
    "spark.sql.ui.retainedExecutions": "8",
    "spark.ui.retainedJobs": "100",
    "spark.ui.retainedStages": "100",
    "spark.ui.retainedTasks": "2000",
    # reclaim driver-held broadcast/persist refs promptly (default 30min)
    "spark.cleaner.periodicGC.interval": "2min",
}


def get_spark(
    app_name: str = "us-weather-energy-analysis-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine defaults.

    ``master`` resolution: explicit arg > $SPARK_GRAFT_MASTER >
    ``local[$SPARK_GRAFT_CPUS]`` > ``local[*]``.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, rows, schema):
    """Plan-side literal DataFrame (Arrow ``LocalTableScan``).

    ``spark.createDataFrame(python_list, schema)`` pickles the rows into a
    defaultParallelism-partition RDD: every downstream action schedules a
    32-task job (~0.5 s locally even for a 4-row dim), ``coalesce(1)`` over
    it hits a multi-second scheduler pathology (measured 4.5 s,
    BENCH_NOTES r5), and the join side carries no size statistics. Routing
    the rows through a pyarrow Table instead produces a true LocalRelation:
    ``collect()`` is job-free, joins against it broadcast, and NULLs
    survive exactly (a pandas detour would coerce None→NaN for doubles).

    For the engine's uses — literal dims, driver-computed small results —
    rows are tuples/Rows of plain values (str/int/float/bool/date/
    datetime/None). Falls back to the classic path if the Arrow
    conversion is unavailable.
    """
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        names = [f.name for f in st.fields]
        tbl = pa.Table.from_pylist(
            [dict(zip(names, tuple(r))) for r in rows],
            schema=to_arrow_schema(st),
        )
        return spark.createDataFrame(tbl, schema=st)
    except Exception:  # pragma: no cover - version-drift safety net
        return spark.createDataFrame(list(rows), schema=st)


def checkpointed_columns_df(spark: SparkSession, columns: dict[str, list], schema: str):
    """Source DataFrame built once in the JVM from driver-side columns.

    ``columns`` maps each field of the DDL ``schema`` to a list of plain
    values (``None`` → NULL), all lists of one length. They become one
    ``pyarrow.Table``, enter the JVM once, and are eagerly
    ``localCheckpoint()``ed, so every later scan reads block-manager
    memory through a ``LogicalRDD``: no Python worker, no pickling, and no
    literal rows for the optimizer to fold. The eager checkpoint costs one
    job per call; the blocks are freed by the context cleaner once the
    frame is unreachable.

    This is for the large fact sources (the ETL's readings, which its
    plans scan many times per run); small literal dims stay on
    ``local_df``, whose LocalRelation broadcasts and collects job-free.
    Designs measured on the ``etl_historical`` benchmark workload
    (``perfbench/run.py --seconds 3``, 4-vCPU VM) against the former
    pickled-RDD sources, and rejected:

    - the bare Arrow frame (this without the checkpoint) is a
      LocalRelation, and ``ConvertToLocalRelation`` folds the parse
      projections over it row by row on the driver in every optimization:
      Catalyst optimization took 25 s per op instead of 0.2 s, and the
      cold op 121 CPU-s against 105 on the same seed;
    - ``persist()`` on the source frames (pickled RDD kept): 106 and 100
      CPU-s per op against 105 and 108 on the same seeds, no gain;
    - ``persist()`` on the joined fact: its 32 cached partitions feed the
      partitioned parquet sink, which then wrote 3,224 files instead of
      101, and the dashboard's reads of that table went from 17 files to
      544.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema)
    tbl = pa.Table.from_pydict(columns, schema=to_arrow_schema(st))
    return spark.createDataFrame(tbl, schema=st).localCheckpoint(eager=True)
