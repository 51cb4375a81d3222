"""Schema-on-read decode: schemaless record maps -> rows of a declared schema.

A go-triton record is a schemaless msgpack map decoded at the reader
(triton/stream_reader.go:173); every record source here turns it into
a row of the schema the caller declared. ``coerce`` is that decision,
the one place it is made: the Kinesis payload decode below, the
``kinesis_sim`` source and the ``format("tri")`` reader all call it.
An uncoercible value becomes null and is reported
(``uncoercible_field``), never failing the task.

``decode_msgpack_column`` serves the real-AWS Kinesis source
(sources/kinesis_boto3.py), which surfaces raw record payloads as a
``data`` binary column: each payload is one msgpack map; corrupt or
non-map payloads are skipped (S5 semantics, stream_reader.go:174-194),
trailing bytes ignored. Used by StorePipeline whenever the source emits
a binary ``data`` column and a record schema is declared.
"""

from __future__ import annotations

import datetime as _dt
import json

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from go_triton_spark.codec.msgpack_codec import MsgpackError, unpackb
from go_triton_spark.reporting import get_error_reporter, safe_report

_UTC = _dt.timezone.utc
_INT_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32,
             T.LongType: 64}


def coerce(value, dtype: T.DataType, reporter=None, context=None):
    """Read one decoded record value as ``dtype``.

    Rules by target type (``None`` is null everywhere):

    - string: str as is; bytes as UTF-8 text; datetime as ISO-8601;
      anything else (maps, arrays, numbers, bools) as
      ``json.dumps(sort_keys=True, default=str)``
    - byte/short/int/bigint: int, integral float or numeric string,
      within the type's range; bools are not numbers
    - float/double: int, float or numeric string
    - boolean: bool; int (non-zero is true); "true"/"false" in any case
    - binary: bytes; str as UTF-8 bytes
    - timestamp: datetime; ISO-8601 string (``Z`` allowed); int or
      float as epoch seconds. Values without a zone are read as UTC.
    - array/struct/map: recurse per element, field and entry; a map
      entry whose key is uncoercible is dropped

    Any other value, or a column type outside that list, is
    uncoercible: it becomes null and is reported to ``reporter``
    (default: the process-global one) as ``uncoercible_field`` with
    ``context``.
    """
    if value is None:
        return None
    try:
        return _convert(value, dtype, reporter, context)
    except (TypeError, ValueError, OverflowError, OSError) as e:
        safe_report(reporter or get_error_reporter(), "uncoercible_field",
                    f"{value!r:.80} as {dtype.simpleString()}: {e}",
                    **(context or {}))
        return None


def _convert(v, dt: T.DataType, reporter, context):
    if isinstance(dt, T.StringType):
        if isinstance(v, str):
            return v
        if isinstance(v, (bytes, bytearray)):
            return bytes(v).decode("utf-8")
        if isinstance(v, _dt.datetime):
            return v.isoformat()
        return json.dumps(v, sort_keys=True, default=str)
    if type(dt) in _INT_BITS:
        if isinstance(v, bool) or not isinstance(v, (int, float, str)):
            raise TypeError(f"{type(v).__name__} is not an integer")
        if isinstance(v, float) and not v.is_integer():
            raise ValueError("not an integer")
        n = int(v)
        half = 1 << (_INT_BITS[type(dt)] - 1)
        if not -half <= n < half:
            raise OverflowError("out of range")
        return n
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        if isinstance(v, bool) or not isinstance(v, (int, float, str)):
            raise TypeError(f"{type(v).__name__} is not a number")
        return float(v)
    if isinstance(dt, T.BooleanType):
        if isinstance(v, int):
            return bool(v)
        if isinstance(v, str) and v.lower() in ("true", "false"):
            return v.lower() == "true"
        raise TypeError(f"{type(v).__name__} is not a boolean")
    if isinstance(dt, T.BinaryType):
        if isinstance(v, str):
            return v.encode("utf-8")
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        raise TypeError(f"{type(v).__name__} is not binary")
    if isinstance(dt, T.TimestampType):
        if isinstance(v, _dt.datetime):
            ts = v
        elif isinstance(v, str):
            ts = _dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
        elif isinstance(v, (int, float)) and not isinstance(v, bool):
            return _dt.datetime.fromtimestamp(v, tz=_UTC)
        else:
            raise TypeError(f"{type(v).__name__} is not a timestamp")
        return ts if ts.tzinfo else ts.replace(tzinfo=_UTC)
    if isinstance(dt, T.ArrayType):
        if not isinstance(v, (list, tuple)):
            raise TypeError(f"{type(v).__name__} is not an array")
        return [coerce(x, dt.elementType, reporter, context) for x in v]
    if isinstance(dt, T.StructType):
        if not isinstance(v, dict):
            raise TypeError(f"{type(v).__name__} is not a map")
        return {f.name: coerce(v.get(f.name), f.dataType, reporter, context)
                for f in dt.fields}
    if isinstance(dt, T.MapType):
        if not isinstance(v, dict):
            raise TypeError(f"{type(v).__name__} is not a map")
        out = {}
        for k, x in v.items():
            k = coerce(k, dt.keyType, reporter, context)
            if k is not None:
                out[k] = coerce(x, dt.valueType, reporter, context)
        return out
    raise TypeError("column type has no msgpack mapping")


def decode_msgpack_column(df: DataFrame, schema: T.StructType,
                          data_col: str = "data",
                          on_corrupt: str = "skip",
                          on_error=None,
                          context: dict | None = None) -> DataFrame:
    """Decode a binary msgpack-map column into ``schema`` columns.

    ``on_corrupt``: "skip" (reference semantics — drop, report, keep
    going) or "raise". One payload = one record map; payloads that
    decode to non-maps are treated as corrupt.

    ``on_error``: reporter invoked per skipped record and per
    uncoercible field, executor-side (the reference reports each skip
    to Sentry from the reader loop, stream_reader.go:159-192). Defaults
    to the process-global reporter (log + count). ``context`` is merged
    into every report.
    """
    import pandas as pd

    fields = schema.fields
    names = [f.name for f in fields]
    reporter = on_error if on_error is not None else get_error_reporter()
    ctx = dict(context or {})
    field_ctx = [{**ctx, "field": f.name} for f in fields]

    def batches(it):
        for pdf in it:
            rows = []
            for raw in pdf[data_col]:
                try:
                    obj, _ = unpackb(bytes(raw))
                except (MsgpackError, TypeError) as e:
                    if on_corrupt == "skip":
                        safe_report(reporter, "corrupt_record",
                                    f"msgpack decode failed: {e}", **ctx)
                        continue
                    raise
                if not isinstance(obj, dict):
                    if on_corrupt == "skip":
                        safe_report(reporter, "corrupt_record",
                                    f"non-map record: {type(obj).__name__}",
                                    **ctx)
                        continue
                    raise MsgpackError(f"non-map record: {type(obj)}")
                rows.append(obj)
            yield pd.DataFrame(
                {f.name: pd.Series(
                    [coerce(r.get(f.name), f.dataType, reporter, fc)
                     for r in rows],
                    dtype="object")
                 for f, fc in zip(fields, field_ctx)},
                columns=names)

    return df.mapInPandas(batches, schema=schema)
