"""Predicate expression tree for scans, DML scopes and conflict checks.

Re-expresses the reference's strict-eval expression language
(``standalone/src/main/java/io/delta/standalone/expressions/``: Column,
Literal, comparisons, And/Or/Not, IsNull/IsNotNull, In) as a small Python
AST. ``eval`` is strict 3-valued evaluation against a dict, with SQL null
semantics (BinaryExpression.eval returns null if either side is null,
In.java:79-98 for IN): the file pruner (scan.py) and the conflict checker
(ConflictChecker.scala:148-173) evaluate partition predicates with it on
the driver; values of different types compare after Spark's implicit
cast (``_implicit_cast``). ``to_column`` compiles the row-level residual
a data scan applies. :func:`bind` resolves a predicate against the table
schema first.

``split_metadata_and_data`` mirrors
PartitionUtils.splitMetadataAndDataPredicates (PartitionUtils.scala:61-99):
conjuncts that only reference partition columns (case-insensitively) are
prunable; the rest is the residual the data scan applies.
"""

from __future__ import annotations

import datetime as dt
import functools
from dataclasses import dataclass
from decimal import Decimal
from typing import Any, Dict, FrozenSet, List, Optional, Sequence, Tuple

from pyspark.sql import Column as SparkColumn
from pyspark.sql import functions as F
from pyspark.sql import types as T


class Expression:
    def references(self) -> FrozenSet[str]:
        raise NotImplementedError

    def to_column(self, resolver=F.col) -> SparkColumn:
        """Compile to a Spark Column; ``resolver`` maps a column name to the
        Column expression to read it from (e.g. replaceWhere's generated
        column expressions)."""
        raise NotImplementedError

    def eval(self, row: Dict[str, Any]) -> Any:
        """Strict 3-valued evaluation against a dict (None = SQL NULL)."""
        raise NotImplementedError

    # sugar
    def __and__(self, other: "Expression") -> "And":
        return And(self, other)

    def __or__(self, other: "Expression") -> "Or":
        return Or(self, other)

    def __invert__(self) -> "Not":
        return Not(self)


@dataclass(frozen=True)
class Col(Expression):
    """Field reference (expressions/Column.java:19)."""

    name: str

    def references(self):
        return frozenset([self.name])

    def to_column(self, resolver=F.col):
        return resolver(self.name)

    def eval(self, row):
        return row.get(self.name)

    # comparison sugar
    def __eq__(self, other):  # type: ignore[override]
        return EqualTo(self, _lit(other))

    def __gt__(self, other):
        return GreaterThan(self, _lit(other))

    def __ge__(self, other):
        return GreaterThanOrEqual(self, _lit(other))

    def __lt__(self, other):
        return LessThan(self, _lit(other))

    def __le__(self, other):
        return LessThanOrEqual(self, _lit(other))

    def __hash__(self):
        return hash(("Col", self.name))

    def is_null(self) -> "IsNull":
        return IsNull(self)

    def is_not_null(self) -> "IsNotNull":
        return IsNotNull(self)

    def isin(self, *values) -> "In":
        return In(self, [_lit(v) for v in values])


@dataclass(frozen=True)
class Lit(Expression):
    """Typed constant (expressions/Literal.java:17,65-158)."""

    value: Any

    def references(self):
        return frozenset()

    def to_column(self, resolver=F.col):
        return F.lit(self.value)

    def eval(self, row):
        return self.value


def _lit(v) -> Expression:
    return v if isinstance(v, Expression) else Lit(v)


def _cmp(a: Any, b: Any) -> Optional[int]:
    if a is None or b is None:
        return None
    if type(a) is not type(b):
        a, b = _implicit_cast(a, b), _implicit_cast(b, a)
    return (a > b) - (a < b)


def _implicit_cast(v: Any, other: Any) -> Any:
    """``v`` as Spark's implicit cast reads it beside ``other``: a string
    decodes to the other side's type (``DeltaError`` where the ANSI cast
    fails), a date is midnight beside a timestamp, a number is a float
    beside a float."""
    if isinstance(v, str) and not isinstance(other, str):
        dtype = next((t for p, t in _SPARK_TYPES if isinstance(other, p)),
                     None)
        return v if dtype is None else _cast_string(v, dtype)
    if type(v) is dt.date and isinstance(other, dt.datetime):
        return dt.datetime.combine(v, dt.time())
    if isinstance(other, float) and isinstance(v, (int, Decimal)):
        return float(v)
    return v


def _cast_string(value: str, dtype, column: Optional[str] = None) -> Any:
    """``value`` cast to ``dtype`` by the partition-value codec;
    ``DeltaError`` where Spark's ANSI cast fails."""
    from .errors import DeltaError
    from .partition_values import decode
    try:
        return decode(value, dtype)
    except (ValueError, ArithmeticError):
        raise DeltaError(f"cannot cast {value!r} to {dtype.simpleString()}"
                         + (f" for column {column}" if column else "")
                         ) from None


@dataclass(frozen=True)
class _Binary(Expression):
    left: Expression
    right: Expression

    def references(self):
        return self.left.references() | self.right.references()


class EqualTo(_Binary):
    def to_column(self, resolver=F.col):
        return self.left.to_column(resolver) == self.right.to_column(resolver)

    def eval(self, row):
        c = _cmp(self.left.eval(row), self.right.eval(row))
        return None if c is None else c == 0


class GreaterThan(_Binary):
    def to_column(self, resolver=F.col):
        return self.left.to_column(resolver) > self.right.to_column(resolver)

    def eval(self, row):
        c = _cmp(self.left.eval(row), self.right.eval(row))
        return None if c is None else c > 0


class GreaterThanOrEqual(_Binary):
    def to_column(self, resolver=F.col):
        return self.left.to_column(resolver) >= self.right.to_column(resolver)

    def eval(self, row):
        c = _cmp(self.left.eval(row), self.right.eval(row))
        return None if c is None else c >= 0


class LessThan(_Binary):
    def to_column(self, resolver=F.col):
        return self.left.to_column(resolver) < self.right.to_column(resolver)

    def eval(self, row):
        c = _cmp(self.left.eval(row), self.right.eval(row))
        return None if c is None else c < 0


class LessThanOrEqual(_Binary):
    def to_column(self, resolver=F.col):
        return self.left.to_column(resolver) <= self.right.to_column(resolver)

    def eval(self, row):
        c = _cmp(self.left.eval(row), self.right.eval(row))
        return None if c is None else c <= 0


class And(_Binary):
    def to_column(self, resolver=F.col):
        return self.left.to_column(resolver) & self.right.to_column(resolver)

    def eval(self, row):
        l, r = self.left.eval(row), self.right.eval(row)
        if l is False or r is False:
            return False
        if l is None or r is None:
            return None
        return True


class Or(_Binary):
    def to_column(self, resolver=F.col):
        return self.left.to_column(resolver) | self.right.to_column(resolver)

    def eval(self, row):
        l, r = self.left.eval(row), self.right.eval(row)
        if l is True or r is True:
            return True
        if l is None or r is None:
            return None
        return False


@dataclass(frozen=True)
class Not(Expression):
    child: Expression

    def references(self):
        return self.child.references()

    def to_column(self, resolver=F.col):
        return ~self.child.to_column(resolver)

    def eval(self, row):
        v = self.child.eval(row)
        return None if v is None else (not v)


@dataclass(frozen=True)
class IsNull(Expression):
    child: Expression

    def references(self):
        return self.child.references()

    def to_column(self, resolver=F.col):
        return self.child.to_column(resolver).isNull()

    def eval(self, row):
        return self.child.eval(row) is None


@dataclass(frozen=True)
class IsNotNull(Expression):
    child: Expression

    def references(self):
        return self.child.references()

    def to_column(self, resolver=F.col):
        return self.child.to_column(resolver).isNotNull()

    def eval(self, row):
        return self.child.eval(row) is not None


@dataclass(frozen=True)
class In(Expression):
    """3-valued SQL IN (In.java:31,79-98): true if found; false if not found
    and no nulls in the list; null if the value is null or the list contains
    a null without a match. Spark's ``isin`` agrees."""

    value: Expression
    elems: Tuple[Expression, ...]

    def __init__(self, value: Expression, elems: Sequence[Expression]):
        object.__setattr__(self, "value", value)
        object.__setattr__(self, "elems", tuple(elems))

    def references(self):
        out = self.value.references()
        for e in self.elems:
            out |= e.references()
        return out

    def to_column(self, resolver=F.col):
        # ``isin`` costs about three JVM calls per element; a large list
        # (a DML key slice) goes to the JVM as one SQL string instead
        sql = self._sql() if resolver is F.col else None
        if sql is not None:
            return F.expr(sql)
        return self.value.to_column(resolver).isin(
            *[e.to_column(resolver) for e in self.elems])

    def _sql(self) -> Optional[str]:
        """This IN as SQL, or None. Only for a plain ``Col`` whose name
        has no dot (``F.col`` reads one as a nested field) or backtick,
        quoted in backticks, and elements that are all literal ints in
        int64 range, strs, bools or None: each renders as a SQL literal
        that Spark types as ``F.lit`` types the value (an int as int or
        bigint by its size); a quote or backslash in a str is escaped.
        Also None under a legacy parser setting (``_legacy_parser``)."""
        if type(self.value) is not Col or not self.elems:
            return None
        name = self.value.name
        if "." in name or "`" in name or _legacy_parser():
            return None
        out = []
        for e in self.elems:
            if type(e) is not Lit:
                return None
            v = e.value
            if v is None:
                out.append("NULL")
            elif type(v) is bool:
                out.append("true" if v else "false")
            elif type(v) is int and -2**63 <= v < 2**63:
                out.append(str(v))
            elif type(v) is str:
                out.append("'" + v.replace("\\", "\\\\").replace("'", "\\'")
                           + "'")
            else:
                return None
        return f"`{name}` IN ({', '.join(out)})"

    def eval(self, row):
        v = self.value.eval(row)
        if v is None:
            return None
        saw_null = False
        for e in self.elems:
            ev = e.eval(row)
            if ev is None:
                saw_null = True
            elif _cmp(v, ev) == 0:
                return True
        return None if saw_null else False


def _legacy_parser() -> bool:
    """Whether a legacy parser setting changes what ``In._sql``'s text
    means: ``escapedStringLiterals`` reads escapes literally and
    ``quotedRegexColumnNames`` reads a backtick-quoted name as a regex."""
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    return spark is not None and any(
        spark.conf.get(f"spark.sql.parser.{k}", "false").lower() == "true"
        for k in ("escapedStringLiterals", "quotedRegexColumnNames"))


def split_conjuncts(expr: Expression) -> List[Expression]:
    if isinstance(expr, And):
        return split_conjuncts(expr.left) + split_conjuncts(expr.right)
    return [expr]


def split_metadata_and_data(
        expr: Optional[Expression],
        partition_columns: Sequence[str],
) -> Tuple[Optional[Expression], Optional[Expression]]:
    """(metadata_predicate, data_predicate) — PartitionUtils.scala:61-99.
    Conjuncts referencing only partition columns (case-insensitive) prune
    files; the rest is residual for the data scan."""
    if expr is None:
        return None, None
    pset = {c.lower() for c in partition_columns}
    meta: List[Expression] = []
    data: List[Expression] = []
    for c in split_conjuncts(expr):
        refs = {r.lower() for r in c.references()}
        if refs and refs <= pset:
            meta.append(c)
        else:
            data.append(c)

    return (functools.reduce(And, meta) if meta else None,
            functools.reduce(And, data) if data else None)


# the Spark type a string casts to beside a value of each Python type
# (bool before int, datetime before date: subclasses first)
_SPARK_TYPES = ((bool, T.BooleanType()), (int, T.LongType()),
                (float, T.DoubleType()), (Decimal, T.DecimalType(38, 18)),
                (dt.datetime, T.TimestampType()), (dt.date, T.DateType()),
                (bytes, T.BinaryType()))

_COMPARISONS = (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
                LessThanOrEqual)


def bind(expr: Optional[Expression], schema) -> Optional[Expression]:
    """``expr`` bound to ``schema`` (a StructType) by the bind rule
    scan.py states; a name the schema lacks stays as written."""
    fields = {f.name.lower(): f for f in schema.fields}

    def field(e):
        return fields.get(e.name.lower()) if isinstance(e, Col) else None

    def go(e, f=None):
        # ``f``: the field a literal ``e`` is compared with
        if isinstance(e, Col):
            return Col(field(e).name) if field(e) else e
        if isinstance(e, Lit):
            if f is None or not isinstance(e.value, str) \
                    or f.dataType.simpleString() == "string":
                return e
            return Lit(_cast_string(e.value, f.dataType, f.name))
        if isinstance(e, _COMPARISONS):
            return type(e)(go(e.left, field(e.right)),
                           go(e.right, field(e.left)))
        if isinstance(e, In):
            return In(go(e.value), [go(x, field(e.value)) for x in e.elems])
        if isinstance(e, (And, Or)):
            return type(e)(go(e.left), go(e.right))
        if isinstance(e, (Not, IsNull, IsNotNull)):
            return type(e)(go(e.child))
        return e

    return None if expr is None else go(expr)
