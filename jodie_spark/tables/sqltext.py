"""Quoting for SQL text built from schema names.

Every place that renders a column name or a data type into SQL text
(merge CASE expressions, CAST targets, SHOW CREATE TABLE) goes through
these two helpers, so a name with a space, dash, colon, dot or backtick
parses back as the same name.
"""

from __future__ import annotations

from pyspark.sql import types as T


def quote(name: str) -> str:
    """Backtick-quoted identifier; a backtick inside the name doubles
    (the Spark parser's escape), so ``a`b`` renders as ```a``b```."""
    return "`" + str(name).replace("`", "``") + "`"


def ddl(dtype: T.DataType) -> str:
    """Type text the Spark parser reads back as ``dtype``: like
    ``simpleString()``, but every struct field name, at any depth, is
    quoted (``simpleString()`` leaves ``struct<va l:bigint>`` bare)."""
    if isinstance(dtype, T.StructType):
        fields = ",".join(f"{quote(f.name)}:{ddl(f.dataType)}" for f in dtype.fields)
        return f"struct<{fields}>"
    if isinstance(dtype, T.ArrayType):
        return f"array<{ddl(dtype.elementType)}>"
    if isinstance(dtype, T.MapType):
        return f"map<{ddl(dtype.keyType)},{ddl(dtype.valueType)}>"
    return dtype.simpleString()
