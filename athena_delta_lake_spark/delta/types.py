"""Delta Lake schema-JSON <-> Spark StructType mapping.

The reference maps Delta types to Arrow fields in an 11-case match
(/root/reference/DeltaMetadataHandler.scala:57-72) and throws on anything
else (primitives only, README.md:61). This module maps the FULL Delta type
system both directions — primitives, decimal(p,s), array/map/struct, binary —
removing that limitation (nested types are required by the embedding /
multimodal extensions).

Delta's schema serialization format is public: the `metaData` action's
`schemaString` holds a JSON document of the form
``{"type":"struct","fields":[{"name":..,"type":..,"nullable":..,"metadata":{}}]}``
where `type` is either a primitive name string or a nested object for
array/map/struct/decimal.
"""

from __future__ import annotations

import json
import re
from typing import Any

from pyspark.sql import types as T

_PRIMITIVES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "byte": T.ByteType(),
    "short": T.ShortType(),
    "integer": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "timestamp_ntz": T.TimestampNTZType(),
    "binary": T.BinaryType(),
    # Delta variantType feature: semi-structured values, physically a
    # struct<metadata: binary, value: binary> in parquet (Spark 4 writes
    # and reads that shredding natively for VariantType columns)
    "variant": T.VariantType(),
}

_DECIMAL_RE = re.compile(r"decimal\(\s*(\d+)\s*,\s*(-?\d+)\s*\)")


def delta_type_to_spark(t: Any) -> T.DataType:
    """Convert a Delta schema-JSON type node to a Spark DataType."""
    if isinstance(t, str):
        if t in _PRIMITIVES:
            return _PRIMITIVES[t]
        m = _DECIMAL_RE.fullmatch(t)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        raise ValueError(f"unsupported Delta primitive type: {t!r}")
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "struct":
            return T.StructType([_field_to_spark(f) for f in t["fields"]])
        if kind == "array":
            return T.ArrayType(
                delta_type_to_spark(t["elementType"]), bool(t.get("containsNull", True))
            )
        if kind == "map":
            return T.MapType(
                delta_type_to_spark(t["keyType"]),
                delta_type_to_spark(t["valueType"]),
                bool(t.get("valueContainsNull", True)),
            )
        raise ValueError(f"unsupported Delta complex type: {kind!r}")
    raise ValueError(f"malformed Delta type node: {t!r}")


def _field_to_spark(f: dict) -> T.StructField:
    return T.StructField(
        f["name"],
        delta_type_to_spark(f["type"]),
        bool(f.get("nullable", True)),
        f.get("metadata") or {},
    )


def schema_string_to_struct(schema_string: str) -> T.StructType:
    """Parse a Delta `metaData.schemaString` into a Spark StructType."""
    node = json.loads(schema_string)
    st = delta_type_to_spark(node)
    if not isinstance(st, T.StructType):
        raise ValueError("schemaString root must be a struct")
    return st


# ---------------------------------------------------------------- reverse map


def spark_type_to_delta(dt: T.DataType) -> Any:
    """Convert a Spark DataType to a Delta schema-JSON type node."""
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.StructType):
        return {
            "type": "struct",
            "fields": [
                {
                    "name": f.name,
                    "type": spark_type_to_delta(f.dataType),
                    "nullable": f.nullable,
                    "metadata": f.metadata or {},
                }
                for f in dt.fields
            ],
        }
    if isinstance(dt, T.ArrayType):
        return {
            "type": "array",
            "elementType": spark_type_to_delta(dt.elementType),
            "containsNull": dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        return {
            "type": "map",
            "keyType": spark_type_to_delta(dt.keyType),
            "valueType": spark_type_to_delta(dt.valueType),
            "valueContainsNull": dt.valueContainsNull,
        }
    for name, obj in _PRIMITIVES.items():
        if dt == obj:
            return name
    raise ValueError(f"unsupported Spark type for Delta: {dt!r}")


def struct_to_schema_string(st: T.StructType) -> str:
    return json.dumps(spark_type_to_delta(st))


def logical_to_physical(
    schema: T.StructType, config: dict | None
) -> dict[str, str] | None:
    """Top-level logical→physical column-name map when column mapping is
    active on the table, else None. Physical names come from the
    `delta.columnMapping.physicalName` field metadata (defaulting to the
    logical name, which is what enable_column_mapping assigns so data files
    written before the upgrade stay readable)."""
    if (config or {}).get("delta.columnMapping.mode", "none") == "none":
        return None
    return {
        f.name: (f.metadata or {}).get(
            "delta.columnMapping.physicalName", f.name
        )
        for f in schema.fields
    }


def physical_to_logical(
    schema: T.StructType, config: dict | None
) -> dict[str, str] | None:
    """The inverse of logical_to_physical: the log keys partitionValues
    and stats by PHYSICAL name; this maps them back. None when unmapped."""
    l2p = logical_to_physical(schema, config)
    return None if l2p is None else {p: n for n, p in l2p.items()}


def cast_partition_value(raw: str | None, dt: T.DataType):
    """Cast a Delta `add.partitionValues` string to a typed Python value.

    Delta stores partition values as strings; `__HIVE_DEFAULT_PARTITION__`
    and absent keys mean NULL. The reference hard-coded int parsing for
    year/month/day (/root/reference/DeltaMetadataHandler.scala:33-38); here
    values are typed from the table schema.
    """
    import datetime
    import decimal

    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if isinstance(dt, T.StringType):
        return raw
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return int(raw)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return float(raw)
    if isinstance(dt, T.BooleanType):
        return raw.lower() == "true"
    if isinstance(dt, T.DecimalType):
        return decimal.Decimal(raw)
    if isinstance(dt, T.DateType):
        return datetime.date.fromisoformat(raw)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return datetime.datetime.fromisoformat(raw)
    raise ValueError(f"unsupported partition column type: {dt!r}")
