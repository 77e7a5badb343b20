"""Struct flattening — the Spark-native equivalent of the reference's
``-jn`` / ``--json-normalize`` mode (reference: localsql/localsql.py:126-135,
golden output at README.md:84-90).

The reference flattens each JSON object with ``pd.json_normalize`` into dotted
top-level columns (``nest.a``, ``nest.b``).  Spark reads nested JSON as native
``StructType`` already; flattening is a single recursive ``select`` — pure
logical plan, zero UDFs, so Catalyst column-prunes straight through it.
Arrays are kept as-is (the reference stringifies them; we render with
``to_json`` only on request).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from localsql_spark.operators.text import qcol


def _flatten_cols(schema: StructType, parent: Column, prefix: str) -> list[Column]:
    cols: list[Column] = []
    for field in schema.fields:
        full = f"{prefix}{field.name}"
        child = parent.getField(field.name)
        if isinstance(field.dataType, StructType):
            cols.extend(_flatten_cols(field.dataType, child, f"{full}."))
        else:
            cols.append(child.alias(full))
    return cols


def flatten_structs(df: DataFrame) -> DataFrame:
    """Recursively flatten StructType columns to dotted names.

    ``{"nest": {"a": 1, "b": [1,2,3]}}`` -> columns ``nest.a``, ``nest.b``
    (matching the reference's normalize-mode golden at README.md:84-90).
    """
    cols = []
    for field in df.schema.fields:
        base = qcol(field.name)
        if isinstance(field.dataType, StructType):
            cols.extend(_flatten_cols(field.dataType, base, f"{field.name}."))
        else:
            cols.append(base)
    return df.select(*cols)


def stringify_arrays(df: DataFrame) -> DataFrame:
    """Optional textual-parity mode: render array/struct columns as JSON
    strings (the reference's ``df_iterable_to_str``,
    localsql/localsql.py:72-76, without losing the native path)."""
    from pyspark.sql.types import ArrayType, MapType

    cols = []
    for field in df.schema.fields:
        if isinstance(field.dataType, (ArrayType, StructType, MapType)):
            cols.append(F.to_json(qcol(field.name)).alias(field.name))
        else:
            cols.append(qcol(field.name))
    return df.select(*cols)
