"""External-connector surface (the reference's integration modules:
Kafka and Slick/JDBC — reference: seamless/*/src, unverified;
SURVEY.md §3.1).

Spark-first, each connector is ``spark.read[Stream].format(...)`` with
connector-specific options. ``kafka_stream_reader`` and ``jdbc_reader``
build the configured readers from the pure option maps
``kafka_stream_options`` and ``jdbc_options``, with the scale-relevant
options (offset bounds, partition bounds) spelled out rather than left
to defaults; ``socket_stream_reader`` is the core-Spark line stream.
The Kafka connector JAR (spark-sql-kafka) is NOT bundled in this
environment, so ``load()`` on that reader raises Spark's
missing-data-source error; the JDBC path runs for real against the
embedded Derby database (`q_source_jdbc`), and the option plumbing is
unit-tested. On a cluster, adding the JAR is the only change. The
``register_*`` functions add the custom Python data sources and sink
(``repeat``, ``pydump``, ``pyticks``).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamReader


def kafka_stream_options(
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 1_000_000,
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """The Kafka reader option map (pure function — unit-testable
    without the connector JAR)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topics,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_stream_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 1_000_000,
    fail_on_data_loss: bool = False,
) -> DataStreamReader:
    """Configured Kafka stream reader. Scale notes: one Spark partition
    per Kafka partition — size topic partitioning to the cluster;
    ``maxOffsetsPerTrigger`` bounds micro-batch size (backpressure);
    ``failOnDataLoss=false`` keeps retention-expiry from killing the
    query. Call ``.load()`` where the connector JAR is present; the
    value column arrives as binary — pair with ``from_json``/``from_avro``."""
    return spark.readStream.format("kafka").options(
        **kafka_stream_options(
            bootstrap_servers, topics, starting_offsets,
            max_offsets_per_trigger, fail_on_data_loss,
        )
    )


def jdbc_options(
    url: str,
    dbtable: str,
    driver: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
) -> dict[str, str]:
    """The JDBC reader option map (pure function — unit-testable)."""
    opts = {"url": url, "dbtable": dbtable, "driver": driver}
    if partition_column is not None:
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    return opts


def jdbc_reader(
    spark: SparkSession,
    url: str,
    dbtable: str,
    driver: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
):
    """Configured JDBC reader. Without partition bounds the ENTIRE table
    streams through ONE connection — always set
    (partitionColumn, lowerBound, upperBound, numPartitions) for any
    table worth distributing; each partition issues its own bounded
    range query and predicates push into every one. Runs for real here
    against embedded Derby (see q_source_jdbc)."""
    return spark.read.format("jdbc").options(
        **jdbc_options(
            url, dbtable, driver, partition_column,
            lower_bound, upper_bound, num_partitions,
        )
    )


def socket_stream_reader(
    spark: SparkSession, host: str, port: int
) -> DataStreamReader:
    """Configured TCP socket line-stream reader (core Spark — no
    connector JAR). The reference's lowest-level streaming input
    analogue; one line per row in a single ``value`` string column.
    Single-connection, at-most-once, no offset replay — a smoke/debug
    source, NOT a production ingest (use Kafka for that); it IS the one
    streaming connector this sandbox can integration-test end-to-end
    (tests/test_streaming.py drives it against a real local TCP
    server)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
    )


def register_repeat_source(spark: SparkSession) -> None:
    """Register the ``repeat`` custom source — the reference's
    RepeatInput typeclass (a finite element sequence repeated N times)
    as a Spark 4 Python DataSource (reference: kernel Input typeclasses,
    SURVEY.md §3.1 — unverified). The scale-relevant part is
    ``partitions()``: the source declares its own InputPartition split
    (replicas striped over ``parts`` readers), so a custom source feeds
    the cluster in parallel exactly like a file scan — the pattern any
    bespoke ingest (API pagination, id-range pulls) should follow.
    Options: ``n`` repeats, ``parts`` reader partitions, ``items`` as
    ``name:value,name:value`` pairs."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class RepeatReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", 1))
            self.parts = int(options.get("parts", 4))
            raw = options.get("items", "a:1,b:2")
            self.items = [
                (p.split(":")[0], int(p.split(":")[1])) for p in raw.split(",")
            ]

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            for rep in range(partition.value, self.n, self.parts):
                for item, v in self.items:
                    yield (rep, item, v)

    class RepeatSource(DataSource):
        @classmethod
        def name(cls):
            return "repeat"

        def schema(self):
            return "rep int, item string, v int"

        def reader(self, schema):
            return RepeatReader(self.options)

    spark.dataSource.register(RepeatSource)


def register_pydump_sink(spark: SparkSession) -> None:
    """Register the ``pydump`` custom SINK — the reference's Output
    typeclass side of the custom-connector story as a Spark 4 Python
    DataSource writer: each task's partition streams through ``write``
    and lands one part file (task-parallel, commit-message protocol —
    the same executor-side shape a real bespoke sink, e.g. an HTTP
    batch uploader, would use). Pipe-delimited text, ``path`` option."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class DumpWriter(DataSourceWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            import os
            import uuid

            os.makedirs(self.path, exist_ok=True)
            fn = os.path.join(self.path, f"part-{uuid.uuid4().hex}.txt")
            with open(fn, "w") as f:
                for row in iterator:
                    f.write("|".join(str(x) for x in row) + "\n")
            return WriterCommitMessage()

    class DumpSource(DataSource):
        @classmethod
        def name(cls):
            return "pydump"

        def writer(self, schema, overwrite):
            return DumpWriter(self.options)

    spark.dataSource.register(DumpSource)


def register_tick_stream_source(spark: SparkSession, batch_rows: int = 5) -> None:
    """Register ``pyticks`` — a custom STREAMING source as a Spark 4
    Python SimpleDataSourceStreamReader: a deterministic tick sequence
    whose offset is the next sequence number. The offset contract is the
    whole story for exactly-once: ``read(start)`` returns (rows, end)
    and ``readBetweenOffsets`` must REPLAY the same rows for a committed
    range after restart — with a deterministic generator both hold by
    construction, which is exactly the property a real bespoke stream
    (API cursor, changefeed) must engineer. Integration-tested for
    gap/duplicate freedom across micro-batches."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class TickReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            i = start["i"]
            rows = [(j, j * 2) for j in range(i, i + batch_rows)]
            return iter(rows), {"i": i + batch_rows}

        def readBetweenOffsets(self, start, end):
            return iter([(j, j * 2) for j in range(start["i"], end["i"])])

    class TickSource(DataSource):
        @classmethod
        def name(cls):
            return "pyticks"

        def schema(self):
            return "i int, v int"

        def simpleStreamReader(self, schema):
            return TickReader()

    spark.dataSource.register(TickSource)
