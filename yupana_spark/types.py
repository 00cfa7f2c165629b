"""Yupana type system mapped onto Spark SQL types.

Reference: yupana-api/src/main/scala/org/yupana/api/types/DataType.scala:109-122
(fixed nominal types) and the binary-op "guard" matrix in
yupana-api/.../types/guards/{PlusGuard,MinusGuard,TimesGuard,DivGuard}.scala.

CURRENCY is the one type Spark lacks natively: the reference stores it as
fixed-point cents (Currency.scala:21-30).  We encode it as DECIMAL(18,2) and
enforce the guard rules (cur*cur forbidden, cur/cur -> DOUBLE, cur*num -> cur)
in this module rather than relying on Spark's decimal promotion.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Nominal types (strings keep the IR spark-free and hashable)
# ---------------------------------------------------------------------------
BYTE = "TINYINT"
SHORT = "SMALLINT"
INT = "INTEGER"
LONG = "BIGINT"
DOUBLE = "DOUBLE"
DECIMAL = "DECIMAL"
CURRENCY = "CURRENCY"
STRING = "VARCHAR"
TIMESTAMP = "TIMESTAMP"
BOOLEAN = "BOOLEAN"
PERIOD = "PERIOD"
BLOB = "BLOB"
NULL = "NULL"


def decimal(p: int, s: int) -> str:
    """Parameterized decimal, e.g. DECIMAL(18,4)."""
    return f"DECIMAL({p},{s})"


def array_of(t: str) -> str:
    return f"ARRAY<{t}>"


def is_array(t: str) -> bool:
    return t.startswith("ARRAY<")


def element_type(t: str) -> str:
    assert is_array(t), t
    return t[6:-1]


INTEGRAL = (BYTE, SHORT, INT, LONG)
NUMERIC = INTEGRAL + (DOUBLE, DECIMAL)

_LADDER = {BYTE: 1, SHORT: 2, INT: 3, LONG: 4, DECIMAL: 5}


class YupanaTypeError(TypeError):
    """Raised when the guard matrix forbids an operation."""


def spark_type(t: str) -> T.DataType:
    if is_array(t):
        return T.ArrayType(spark_type(element_type(t)))
    if t.startswith("DECIMAL("):
        p, s = t[8:-1].split(",")
        return T.DecimalType(int(p), int(s))
    return {
        BYTE: T.ByteType(),
        SHORT: T.ShortType(),
        INT: T.IntegerType(),
        LONG: T.LongType(),
        DOUBLE: T.DoubleType(),
        DECIMAL: T.DecimalType(38, 18),
        CURRENCY: T.DecimalType(18, 2),
        STRING: T.StringType(),
        TIMESTAMP: T.TimestampType(),
        BOOLEAN: T.BooleanType(),
        BLOB: T.BinaryType(),
        PERIOD: T.DayTimeIntervalType(),
        NULL: T.NullType(),
    }[t]


def base(t: str) -> str:
    """Collapse parameterized decimals onto the nominal DECIMAL."""
    return DECIMAL if t.startswith("DECIMAL(") else t


def _widen(a: str, b: str) -> str:
    """Numeric widening: decimal beats double beats the integral ladder.

    PlusGuard.scala:51-63 — double+decimal -> decimal; int widening follows
    the byte->short->int->long->decimal ladder.
    """
    if DECIMAL in (a, b):
        return DECIMAL
    if DOUBLE in (a, b):
        return DOUBLE
    return a if _LADDER[a] >= _LADDER[b] else b


def plus_type(a: str, b: str) -> str:
    a, b = base(a), base(b)
    if a in NUMERIC and b in NUMERIC:
        return _widen(a, b)
    if a == STRING and b == STRING:
        return STRING  # string '+' is concat (PlusGuard)
    if a == CURRENCY and b == CURRENCY:
        return CURRENCY
    if {a, b} == {TIMESTAMP, PERIOD}:
        return TIMESTAMP
    if a == PERIOD and b == PERIOD:
        return PERIOD
    if NULL in (a, b):
        return a if b == NULL else b
    raise YupanaTypeError(f"'+' not defined for ({a}, {b})")


def minus_type(a: str, b: str) -> str:
    a, b = base(a), base(b)
    if a in NUMERIC and b in NUMERIC:
        return _widen(a, b)
    if a == CURRENCY and b == CURRENCY:
        return CURRENCY
    if a == TIMESTAMP and b == TIMESTAMP:
        return PERIOD  # time - time -> interval (functions.md:53-55)
    if a == TIMESTAMP and b == PERIOD:
        return TIMESTAMP
    if a == PERIOD and b == PERIOD:
        return PERIOD
    if NULL in (a, b):
        return a if b == NULL else b
    raise YupanaTypeError(f"'-' not defined for ({a}, {b})")


def times_type(a: str, b: str) -> str:
    a, b = base(a), base(b)
    if a in NUMERIC and b in NUMERIC:
        return _widen(a, b)
    if a == CURRENCY and b in NUMERIC:
        return CURRENCY  # cur * num -> cur (TimesGuard)
    if b == CURRENCY and a in NUMERIC:
        return CURRENCY
    if a == CURRENCY and b == CURRENCY:
        raise YupanaTypeError("CURRENCY * CURRENCY is forbidden (TimesGuard)")
    raise YupanaTypeError(f"'*' not defined for ({a}, {b})")


def div_type(a: str, b: str) -> str:
    a, b = base(a), base(b)
    if a in INTEGRAL and b in INTEGRAL:
        return _widen(a, b)  # integral division
    if a in NUMERIC and b in NUMERIC:
        return _widen(a, b)
    if a == CURRENCY and b == CURRENCY:
        return DOUBLE  # cur / cur -> DOUBLE (DivGuard.scala:77-85)
    if a == CURRENCY and b in NUMERIC:
        return CURRENCY
    raise YupanaTypeError(f"'/' not defined for ({a}, {b})")
