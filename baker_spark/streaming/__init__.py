from baker_spark.streaming.connectors import (
    KINESIS_RECORD_SCHEMA,
    KCLSource,
    KinesisPythonSource,
    kinesis_records,
)
from baker_spark.streaming.daemon import FileStreamSource, StreamingPipeline
from baker_spark.streaming.tcp import TCPFileSource, TCPGzipListener, send_gzip_records
from baker_spark.streaming.sqs import SQSConfig, SQSPoller
from baker_spark.streaming.sqs_datasource import DirQueueClient, SQSSource

__all__ = [
    "KINESIS_RECORD_SCHEMA",
    "DirQueueClient",
    "FileStreamSource",
    "KCLSource",
    "KinesisPythonSource",
    "kinesis_records",
    "SQSConfig",
    "SQSPoller",
    "SQSSource",
    "StreamingPipeline",
    "TCPFileSource",
    "TCPGzipListener",
    "send_gzip_records",
]
