"""SparkSession construction and runtime tuning.

The driver harness supplies its own SparkSession to ``__spark_entry__``; we
therefore split configuration into
- :func:`get_spark` — build a tuned session (tests, bench, CLI use), and
- :func:`tune` — apply the *runtime-settable* confs to any existing session
  (called from every entry point so driver-owned sessions behave identically).

:func:`local_frame` is the one way the package turns driver-side rows into
a DataFrame.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Runtime-settable SQL confs applied to every session we touch.
_RUNTIME_CONF = {
    # The driver testdata stores `events.ts` as parquet TIMESTAMP(NANOS),
    # which Spark cannot read natively (PARQUET_TYPE_ILLEGAL). Reading nanos
    # as long + explicit conversion in sources.registry is lossless here
    # because the generator only populates microsecond precision.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE: runtime coalescing, skew-join splitting, broadcast demotion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF path and for toPandas in tests.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scan hygiene: pushdown + vectorized reader are default-on, but
    # pin them so a misconfigured parent session can't silently disable them.
    "spark.sql.parquet.filterPushdown": "true",
    # Broadcast threshold: Spark's 10 MiB default. Round-1 ran 64 MiB to
    # force the post-filter orders side to broadcast, but measured under the
    # round-2 concurrent serving mode the oversized broadcast BUILD
    # serializes on the driver and costs ~0.25 s of batch wall; at 10 MiB
    # the star joins still plan BroadcastHashJoin (post-filter estimates
    # fit) with smaller builds. Facts beyond the threshold fall back to
    # sort-merge + AQE — the correct 100 TB behavior.
    # Override: SPARK_GRAFT_BROADCAST_MB.
    "spark.sql.autoBroadcastJoinThreshold": str(
        int(os.environ.get("SPARK_GRAFT_BROADCAST_MB", "10")) * 1024 * 1024
    ),
}


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent, cheap)."""
    for k, v in _RUNTIME_CONF.items():
        # A caller that pinned AQE (bench's serving/sf1 sections run
        # AQE OFF: per-exchange materialize barriers cost more than
        # runtime coalescing buys on sub-second statements) must not be
        # silently overridden by the next cache-miss table load — the
        # same survive-later-tune rule as shuffle.partitions below.
        # SPARK_GRAFT_AQE=false pins it off process-wide (round 8: the
        # sf1 bench section had been flipped back to AQE-on by the first
        # warm pass's load_table -> tune, defeating its own A/B).
        if k == "spark.sql.adaptive.enabled":
            v = os.environ.get("SPARK_GRAFT_AQE", v)
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable on this build — leave session default
    # Local-mode default of 200 shuffle partitions wastes task overhead at
    # test scale; size to cores. On a real cluster this would be set per-job
    # (or left to AQE's coalescing from a higher initial number). Only
    # override Spark's untouched default: an explicit caller choice (e.g.
    # bench sizing partitions to data volume) must survive later tune()
    # calls — tune runs on every first table load, and clobbering the
    # caller's setting here silently re-inflated every shuffle to cores.
    try:
        current = spark.conf.get("spark.sql.shuffle.partitions", "200")
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        elif current == "200":
            spark.conf.set("spark.sql.shuffle.partitions", str(_cpus()))
    except Exception:
        pass
    return spark


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-built ``rows`` (tuples in field order) in
    the declared ``schema`` (DDL string or ``StructType``).

    ``spark.createDataFrame(<list>, schema)`` plans a ``parallelize`` over
    a ``PythonRDD``: every execution of the frame then runs one Python
    worker task per default partition, ~0.26 s of CPU each even when the
    list holds ten rows. An Arrow table in the same schema plans a
    ``LocalTableScan`` and starts no Python worker. Every driver-built
    frame in the package goes through here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def get_spark(
    app_name: str = "nocnetintel-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Local mode is a single JVM; ``spark.driver.memory`` is the only memory
    knob. On a cluster these builder confs would come from spark-submit.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{_cpus()}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _cpus()))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark, shuffle_partitions)
