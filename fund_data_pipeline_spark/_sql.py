"""SQL-text spelling of names, string values, types and cleaning rules.

The per-column builders (the merge kernel, ``conform``, the row hashes, the
dedup window, the daily cleans) hand their expressions to the JVM as SQL
text: in PySpark classic every Column call is several py4j round trips, so
a projection built one Column per table column costs thousands of round
trips on a wide table, while ``selectExpr`` or one ``F.expr`` costs one
message per expression string. Catalyst parses the text into the same
expression trees. All SQL text in the package is quoted here, in one place.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def ident(name: str) -> str:
    """``name`` as a backtick-quoted identifier: any column name (spaces,
    dots, backticks, non-ASCII) is one name, never a nested path."""
    return "`" + name.replace("`", "``") + "`"


def lit(value: str) -> str:
    """``value`` as a SQL string literal (Spark's default string-literal
    parsing, where backslash escapes are processed)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def keys_match(keys: Sequence[str], eq: str, left: str, right: str) -> str:
    """The keyed join condition as SQL text: one left-deep conjunction of
    ``left.k <eq> right.k``. Every keyed match in the package (the merge
    kernel, its deletes, ``delete_keys``, ``scd2_apply``) is spelled here
    with ``<=>``, so a NULL key part matches a NULL; only
    ``merge_as_dataframe(null_safe_keys=False)`` passes ``=``."""
    return functools.reduce(
        lambda a, b: f"({a}) AND ({b})", [f"{left}.{ident(k)} {eq} {right}.{ident(k)}" for k in keys]
    )


def sql_type(dt: T.DataType) -> str:
    """``dt`` as a SQL type for ``CAST``/``try_cast``. Struct field names are
    quoted (a ``simpleString`` such as ``struct<a b:int>`` does not parse)
    and non-nullable struct fields keep ``NOT NULL``; SQL has no spelling
    for non-null array elements or map values, so those read nullable."""
    if isinstance(dt, T.StructType):
        fields = ", ".join(
            f"{ident(f.name)}: {sql_type(f.dataType)}{'' if f.nullable else ' NOT NULL'}"
            for f in dt.fields
        )
        return f"STRUCT<{fields}>"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{sql_type(dt.keyType)}, {sql_type(dt.valueType)}>"
    return dt.simpleString()


def rule(text_rule: Callable[..., str]) -> Callable[..., Column]:
    """A cleaning rule written once, as text: ``text_rule(e, *args)`` maps
    the SQL expression text ``e`` to SQL expression text. The decorated name
    is the rule over a column name (one ``F.expr``); ``name.sql`` is
    ``text_rule`` itself, for composing rules into one projection."""

    @functools.wraps(text_rule)
    def over_column(name: str, *args, **kwargs) -> Column:
        return F.expr(text_rule(ident(name), *args, **kwargs))

    over_column.sql = text_rule
    return over_column


def select(df: DataFrame, exprs: Mapping[str, str]) -> DataFrame:
    """One ``selectExpr``: output column name -> SQL expression text."""
    return df.selectExpr(*[f"{e} AS {ident(name)}" for name, e in exprs.items()])


def apply_rules(rules: Mapping[str, Callable[[str], str]], columns: Iterable[str]) -> dict[str, str]:
    """Column name -> SQL text: each of ``columns`` through its rule in
    ``rules`` (a function of the column's quoted name), or as itself."""
    return {c: rules[c](ident(c)) if c in rules else ident(c) for c in columns}
