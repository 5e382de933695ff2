"""DataFrame-side Avro serde: struct column ⇄ Confluent-framed bytes (T1/T2).

Arrow-batched pandas UDFs wrapping the pure-Python codec — the engine's
stand-in for `to_avro`/`from_avro` + the 5-byte Confluent prefix (the
spark-avro module jar is not present, and `from_avro` would not speak the
prefix anyway — SURVEY §7 "Confluent wire format").

Only the (payload → bytes) boundary crosses into Python, once per batch via
Arrow; all other envelope columns stay JVM-side.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from event_store_spark.avro.codec import RecordCodec, frame, projection, unframe
from event_store_spark.shipping import ensure_shipped

_AVRO_TO_SPARK = {
    "null": "void",
    "boolean": "boolean",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "bytes": "binary",
    "string": "string",
}


def spark_type_of(codec: RecordCodec) -> str:
    """Spark struct DDL equivalent of a flat Avro record schema."""
    fields = []
    for name, t in codec.fields:
        base = t[1] if isinstance(t, list) else t
        fields.append(f"{name} {_AVRO_TO_SPARK[base]}")
    return f"struct<{', '.join(fields)}>"


def frame_rows(pdf: pd.DataFrame, codec: RecordCodec, schema_id: int) -> list[bytes]:
    """Per-row body of :func:`to_confluent_avro`: each row of ``pdf`` (one
    column per record field) as Confluent-framed Avro bytes, a NaN in a
    nullable field encoded as Avro null (see there)."""
    nullable = {name for name, t in codec.fields if isinstance(t, list)}
    out = []
    for row in pdf.to_dict("records"):
        clean = {
            k: (None if k in nullable and isinstance(v, float) and math.isnan(v) else v)
            for k, v in row.items()
        }
        out.append(frame(schema_id, codec.encode(clean)))
    return out


def to_confluent_avro(payload: Column, schema: dict | str, schema_id: int) -> Column:
    """struct column → Confluent-framed Avro binary column.

    Null handling: Arrow→pandas converts a null int/long cell to float NaN
    (pandas has no null int); those are restored to None before encoding so
    nullable integer fields round-trip as Avro null instead of crashing
    ``int(nan)``. The same conversion makes a null DOUBLE cell
    indistinguishable from a literal NaN — both encode as Avro null for
    nullable double fields (store real NaN payloads as bytes if the
    distinction matters).
    """
    ensure_shipped()
    codec = RecordCodec(schema)

    @F.pandas_udf("binary")
    def ser(pdf: pd.DataFrame) -> pd.Series:
        return pd.Series(frame_rows(pdf, codec, schema_id))

    return ser(payload)


def from_confluent_avro(
    data: Column,
    schema: dict | str,
    schema_id: int,
    writer_schemas: dict[int, dict | str] | None = None,
) -> Column:
    """Confluent-framed Avro binary column → struct column.

    Without ``writer_schemas`` the schema id in each frame is checked
    against ``schema_id`` — mirroring the strict single-version lookup.
    With ``writer_schemas`` ({id: schema} for every version of the subject,
    e.g. ``registry.versions(name)``), each frame is decoded with ITS OWN
    writer codec — resolved by the id in the frame, exactly the per-record
    registry lookup the reference's deserializer performs — then projected
    to the reader schema: fields the writer lacked take the reader field's
    Avro default (or null if nullable); fields the reader dropped are
    discarded. Topics that span a schema evolution decode in one pass.
    """
    ensure_shipped()
    reader = RecordCodec(schema)
    out_type = spark_type_of(reader)
    codecs = {sid: RecordCodec(s) for sid, s in (writer_schemas or {}).items()}
    codecs.setdefault(schema_id, reader)
    names = [n for n, _ in reader.fields]
    #: schema id → (writer codec, its projection to the reader), resolved
    #: in each task on the first frame that carries the id
    resolved: dict[int, tuple] = {}

    @F.pandas_udf(out_type)
    def de(col: pd.Series) -> pd.DataFrame:
        rows = []
        for b in col:
            if b is None:
                # NULL payloads exist by design (crypto-shredded rows read
                # as NULL data). A pandas struct-UDF can only emit a row of
                # null FIELDS, so the placeholder emitted here is replaced
                # by a genuine NULL struct in the F.when wrapper below —
                # downstream `decoded IS NULL` does identify shredded rows.
                rows.append(dict.fromkeys(names))
                continue
            sid, body = unframe(bytes(b))
            if sid not in resolved:
                if writer_schemas is None and sid != schema_id:
                    raise ValueError(f"schema id mismatch: frame {sid} != {schema_id}")
                codec = codecs.get(sid)
                if codec is None:
                    raise ValueError(f"frame schema id {sid} not registered for subject")
                resolved[sid] = codec, projection(reader, codec)
            codec, project = resolved[sid]
            rows.append(project(codec.decode(body)))
        return pd.DataFrame(rows, columns=names)

    # a true null struct for NULL payloads (crypto-shredded rows): Arrow
    # pandas UDFs cannot emit struct-level nulls themselves (only a struct
    # of null fields), so the null-ness is restored declaratively here
    return F.when(data.isNull(), F.lit(None).cast(out_type)).otherwise(de(data))
