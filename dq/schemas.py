"""Type normalization for the schema checks.

Reproduces the reference's 5-way type-class normalization
(``core/quality_checks.py:113-184`` in /root/reference): any type string
containing ``int`` → int-class; float/double/decimal → float-class
(decimal precision is deliberately NOT validated, matching the reference);
bool → bool; date/time/stamp → datetime; explicit string/binary/array/
map/struct mappings; unknown → string.

Also normalizes *actual* Spark DataTypes into the same 5 classes so the
schema-types check can compare declared-vs-actual without pandas dtypes.
The declared schemas themselves come from each table's ``TableSpec``
(``dq.checks_job``; the JSON config of ``scripts/run_checks.py``).
"""

from __future__ import annotations

from pyspark.sql import types as T

_EXPLICIT = {
    "varchar": "string", "char": "string", "text": "string",
    "string": "string",
    "integer": "int", "int": "int", "long": "int", "bigint": "int",
    "smallint": "int", "tinyint": "int",
    "double": "float", "real": "float", "float": "float",
    "decimal": "float", "numeric": "float",
    "boolean": "bool", "bool": "bool",
    "timestamp": "datetime", "date": "datetime", "datetime": "datetime",
    "binary": "binary", "array": "array", "map": "map", "struct": "struct",
}


def normalize_type(type_str: str) -> str:
    """Collapse a declared type string to one of the comparison classes.

    Matches reference semantics exactly, including precedence: the
    substring checks (int/float/bool/datetime) run before the explicit
    prefix map, and unknown types default to ``string``.
    """
    if not type_str:
        return type_str
    t = str(type_str).lower().strip()
    if "int" in t:
        return "int"
    if "float" in t or "double" in t or "decimal" in t:
        return "float"
    if "bool" in t:
        return "bool"
    if "date" in t or "time" in t or "stamp" in t:
        return "datetime"
    for prefix, cls in _EXPLICIT.items():
        if t.startswith(prefix):
            return cls
    return "string"


def spark_type_class(dt: T.DataType) -> str:
    """Normalized class of an *actual* Spark type (the introspected side)."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "float"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "datetime"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, T.MapType):
        return "map"
    if isinstance(dt, T.StructType):
        return "struct"
    return "string"

