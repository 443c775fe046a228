"""Iceberg production sink — the target the parquet sink stands in for.

The north rule's production path is an exactly-once idempotent **Iceberg**
sink: ``writeStream.format("iceberg")`` gives end-to-end exactly-once from
checkpointed offsets + Iceberg's atomic snapshot commits (commit dedup is
keyed on (queryId, epochId) in the snapshot summary — exactly what
``ExactlyOnceParquetSink``'s batch-id manifest re-implements on a plain
filesystem, see sink.py).

This sandbox has no network, so the Iceberg runtime jar
(``org.apache.iceberg:iceberg-spark-runtime-3.5_2.13``) cannot be
fetched; every entry point here degrades to a clear, actionable error when
the extension classes are absent, and the rest of the engine uses the
parquet sink. On a cluster with the jar on the classpath these functions
are the drop-in production path — the sandbox CI exercises the same
contracts (idempotent redelivery, torn-write recovery, checkpoint resume)
against the parquet twin in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

RUNTIME_CLASS = "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"

ICEBERG_CONF = {
    # spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.13:<ver>
    "spark.sql.extensions": RUNTIME_CLASS,
    "spark.sql.catalog.rtsw": "org.apache.iceberg.spark.SparkCatalog",
    "spark.sql.catalog.rtsw.type": "hadoop",
    # set spark.sql.catalog.rtsw.warehouse to the table root
}


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(RUNTIME_CLASS)
        return True
    except Exception:
        return False


def _require(spark: SparkSession) -> None:
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime jar not on the classpath. Launch with\n"
            "  spark-submit --packages org.apache.iceberg:"
            "iceberg-spark-runtime-3.5_2.13:1.6.* \\\n"
            "    --conf spark.sql.extensions=" + RUNTIME_CLASS + " \\\n"
            "    --conf spark.sql.catalog.rtsw=org.apache.iceberg.spark.SparkCatalog ...\n"
            "In this sandbox use streaming.sink.ExactlyOnceParquetSink — the "
            "same exactly-once contract on a plain filesystem."
        )


def write_stream_to_iceberg(
    result: DataFrame,
    table: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Append-mode exactly-once streaming write into an Iceberg table.

    STARTS the query: ``DataStreamWriter.toTable`` begins execution and
    returns the running ``StreamingQuery`` (it is not a builder step) —
    callers own the returned query's lifecycle (``awaitTermination`` /
    ``stop``).

    Idempotence: Structured Streaming replays an unacknowledged epoch after
    failure with the SAME epochId; the Iceberg sink sees the (queryId,
    epochId) it already committed in the table's snapshot summary and skips
    the re-commit — no duplicate rows, no manual MERGE needed for pure
    appends.
    """
    _require(result.sparkSession)
    writer = (
        result.writeStream.format("iceberg")
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.toTable(table)

