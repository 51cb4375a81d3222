"""Source layer: batch + streaming inputs behind one abstraction.

OSS Spark ships no first-party Kinesis source (SURVEY section 7 hard
part #1); the reference's own tests never touch real Kinesis either
(triton/test_util.go fakes). The pluggable layer here mirrors that:
file/rate sources and the ``kinesis_sim`` shard simulator for tests and
local mode, a boto3-backed ``kinesis`` source for real AWS, and the
``tri`` format for reference archives.
"""

from go_triton_spark.sources.stream_source import open_stream
from go_triton_spark.sources.tri_datasource import register_tri_datasource

__all__ = ["open_stream", "register_tri_datasource"]
