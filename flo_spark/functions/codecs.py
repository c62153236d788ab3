"""Payload codecs — typed views over the opaque event `data` column.

flo decodes payloads client-side via `EventCodec` impls: RawCodec,
StringCodec, LossyStringCodec, SerdeJsonCodec
(reference: flo-client-lib/src/codec/mod.rs:15-83, codec/serde.rs:11-62).

Here each codec is a Column expression (JVM-side, codegen'd — never a
UDF), applied at consume time:

    consume(events).select("*", utf8(F.col("data")).alias("text"))
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def raw(data: Column) -> Column:
    """RawCodec: pass-through bytes (codec/mod.rs:40-47)."""
    return data


def utf8(data: Column) -> Column:
    """StringCodec: strict UTF-8 decode — invalid input errors at
    execution, like the Rust codec's FromUtf8Error (codec/mod.rs:49-62)."""
    return F.decode(data, "UTF-8")


def json(data: Column, schema: T.StructType | str) -> Column:
    """SerdeJsonCodec: typed JSON view (codec/serde.rs:11-38)."""
    return F.from_json(utf8(data), schema)


def json_field(data: Column, path: str) -> Column:
    """Single-field JSON projection without a full schema."""
    return F.get_json_object(utf8(data), path)


def encode_utf8(text: Column) -> Column:
    """Produce-side encoder (convert_produced analog)."""
    return F.encode(text, "UTF-8")


def encode_json(struct_col: Column) -> Column:
    """Produce-side JSON encoder."""
    return F.encode(F.to_json(struct_col), "UTF-8")
