"""Driver-local tiny frames as pure-JVM VALUES relations.

``spark.createDataFrame(rows)`` materializes through a Python-RDD
scan: every job that touches the frame runs a Python-worker task just
to unpickle a handful of driver-known rows. On the virtualized bench
kernel a fresh worker fork inside a large JVM measured 0.4-6 s
(flaky; the ``_spread_py`` pathology), and frames that sit under a
global sort pay the scan twice (range-sampler + sort). A SQL VALUES
literal builds the same rows as a JVM LocalRelation — no RDD, no
Python worker, constant-folded into the plan.

Supported value types (r12 added nested, r13 non-finite floats):

- ints/strings/bools/None render exactly;
- floats render with ``repr`` — Python's shortest round-trip form,
  which parses back to the identical IEEE double in Java's
  ``Double.parseDouble``; NaN/±Infinity render as their CAST forms;
- lists render as ``array(...)`` literals, tuples (e.g. collected
  Rows) as positional ``named_struct`` re-typed by the declared CAST;
- date/datetime/Decimal/dict raise TypeError — keep createDataFrame
  for frames with temporal/decimal/map columns.

Column names are backquoted (a backquote doubles), so a key named
``doc id`` or ``doc-id`` builds like any other. :func:`empty_df` is the
one typed empty frame: a JVM empty ``LocalRelation`` that keeps every
field's type and nullability and that the optimizer folds joins and
unions over. :func:`key_set_sql` renders driver-local key tuples as an
exact SQL ``IN`` predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
)


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        # non-finite floats have no bare SQL token (ADVICE r12):
        # render the cast forms Spark's parser accepts; repr() covers
        # every finite double exactly (shortest round-trip form)
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if v == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        return repr(v)
    if isinstance(v, str):
        escaped = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{escaped}'"
    # nested values (r12): arrays render as array(...) literals and
    # struct-like values (tuple/Row) as named_struct with positional
    # field names — the declared-type CAST in values_df re-types both
    # (Spark casts struct fields positionally), so callers can pass
    # collected Rows / embedding lists without a Python-RDD scan
    if isinstance(v, list):
        return "array(" + ", ".join(_sql_literal(x) for x in v) + ")"
    if isinstance(v, tuple):
        body = ", ".join(
            f"'f{i}', {_sql_literal(x)}" for i, x in enumerate(v)
        )
        return f"named_struct({body})"
    # date/datetime/Decimal/dict values would render as invalid or
    # silently mistyped tokens — reject them loudly (ADVICE r12);
    # callers with temporal/decimal/map columns keep createDataFrame
    raise TypeError(
        f"values_df supports int/float/str/bool/None scalars, lists and "
        f"tuples (structs) only, got {type(v)}: {v!r}"
    )


def _quote(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _split_fields(schema: str) -> list[str]:
    """Split a DDL column list on TOP-LEVEL commas only, so nested
    types (array<struct<a:int, b:double>>) and backquoted names
    survive."""
    fields, depth, cur, quoted = [], 0, [], False
    for ch in schema:
        if ch == "`":
            quoted = not quoted
        elif quoted:
            pass
        elif ch == "<" or ch == "(":
            depth += 1
        elif ch == ">" or ch == ")":
            depth -= 1
        if ch == "," and depth == 0 and not quoted:
            fields.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        fields.append("".join(cur))
    return fields


def _split_name(field: str) -> tuple[str, str]:
    """A DDL column entry as (unquoted name, type)."""
    field = field.strip()
    if not field.startswith("`"):
        name, typ = field.split(None, 1)
        return name, typ
    i = 1
    while True:
        j = field.index("`", i)
        if field[j + 1:j + 2] != "`":
            return field[1:j].replace("``", "`"), field[j + 1:].strip()
        i = j + 2


def empty_df(spark: SparkSession, schema: StructType | str) -> DataFrame:
    """A typed empty frame (``schema``: a StructType or a DDL string)
    as a JVM empty LocalRelation. Names, types and nullability are kept
    exactly, no Python-RDD scan runs, and the optimizer sees that it is
    empty, so a join or union over it folds away."""
    jvm, jss = spark._jvm, spark._jsparkSession
    jschema = (
        jvm.org.apache.spark.sql.types.StructType.fromDDL(schema)
        if isinstance(schema, str)
        else jss.parseDataType(schema.json())
    )
    rows = jvm.java.util.ArrayList()
    return DataFrame(jss.createDataFrame(rows, jschema), spark)


def values_df_like(spark: SparkSession, rows, schema) -> DataFrame:
    """values_df with the DDL derived from a StructType — the drop-in
    for ``createDataFrame(collected_rows, df.schema)`` localizations
    (collected Rows are tuples, so they render directly)."""
    if not rows:
        return empty_df(spark, schema)
    ddl = ", ".join(
        f"{_quote(f.name)} {f.dataType.simpleString()}"
        for f in schema.fields
    )
    return values_df(spark, [tuple(r) for r in rows], ddl)


def values_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """``createDataFrame(rows, schema)`` twin for scalar schemas,
    built as a VALUES relation. ``schema`` is the same DDL string
    ("a BIGINT, b STRING"); an explicit per-column CAST pins each
    column to the declared type exactly like createDataFrame does.
    Empty ``rows`` yields :func:`empty_df` (the q206 idiom)."""
    if not rows:
        return empty_df(spark, schema)
    cols = [_split_name(field) for field in _split_fields(schema)]
    sel = ", ".join(
        f"CAST({_quote(name)} AS {typ}) AS {_quote(name)}"
        for name, typ in cols
    )
    body = ", ".join(
        "(" + ", ".join(_sql_literal(v) for v in row) + ")" for row in rows
    )
    names = ", ".join(_quote(name) for name, _ in cols)
    return spark.sql(
        f"SELECT {sel} FROM (VALUES {body}) AS t({names})"
    )


# suffixes that type an integral or floating literal exactly as its
# column, so an IN list needs no cast on either side
_LITERAL_SUFFIX = {
    ByteType: "Y", ShortType: "S", IntegerType: "", LongType: "L",
    FloatType: "F", DoubleType: "D",
}


def _typed_literal(v, dtype) -> str | None:
    """``v`` as a SQL literal of exactly ``dtype``, or None when no
    literal compares like an equi-join on that type: temporal, decimal,
    binary and nested types, collated strings, and float zeros and
    non-finite floats (a join normalizes -0.0 and NaN; a hashed IN
    set does not)."""
    t = type(dtype)
    if t in (FloatType, DoubleType):
        if v == 0 or v != v or v in (float("inf"), float("-inf")):
            return None
        return repr(float(v)) + _LITERAL_SUFFIX[t]
    if t in _LITERAL_SUFFIX:
        return f"{int(v)}{_LITERAL_SUFFIX[t]}"
    if t is BooleanType:
        return "TRUE" if v else "FALSE"
    if dtype == StringType():
        return _sql_literal(str(v))
    return None


def key_set_sql(fields, tuples) -> str | None:
    """A predicate true exactly for rows whose ``fields`` (StructFields)
    tuple is one of ``tuples`` (non-NULL driver-local values), under
    equi-join semantics: ``coalesce(k IN (…), false)``, or
    ``(k1, k2) IN ((…), …)`` for composite keys, so a row with a NULL
    key never matches. None when a value has no exact typed literal
    (see :func:`_typed_literal`)."""
    if not tuples:
        return "false"
    rendered = []
    for t in tuples:
        lits = [_typed_literal(v, f.dataType) for v, f in zip(t, fields)]
        if None in lits:
            return None
        rendered.append(lits[0] if len(lits) == 1 else f"({', '.join(lits)})")
    cols = [_quote(f.name) for f in fields]
    lhs = cols[0] if len(cols) == 1 else f"({', '.join(cols)})"
    return f"coalesce({lhs} IN ({', '.join(rendered)}), false)"
