from bigdata_covid19_real_time_spark.sinks.registry import (
    ConsoleSink,
    FileSink,
    JdbcSink,
    MemorySink,
    Sink,
)

__all__ = [
    "Sink",
    "FileSink",
    "MemorySink",
    "JdbcSink",
    "ConsoleSink",
]
