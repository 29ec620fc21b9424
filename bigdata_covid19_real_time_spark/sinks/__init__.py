from bigdata_covid19_real_time_spark.sinks.registry import (
    ConsoleSink,
    FileSink,
    IdempotentParquetSink,
    JdbcSink,
    MemorySink,
    Sink,
)

__all__ = [
    "Sink",
    "FileSink",
    "MemorySink",
    "IdempotentParquetSink",
    "JdbcSink",
    "ConsoleSink",
]
