"""Expression null semantics: our AST's strict eval must agree with Spark SQL
(property-tested with hypothesis; mirrors the reference's ExpressionSuite)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from connectors_spark.expressions import (And, Col, EqualTo, In, IsNotNull,
                                          IsNull, Lit, Not, Or,
                                          split_metadata_and_data)

vals = st.one_of(st.none(), st.integers(-5, 5))


def _tv(b):
    """truth value: True/False/None"""
    return b


@given(vals, vals)
@settings(max_examples=200, deadline=None)
def test_comparison_null_propagation(a, b):
    row = {"x": a, "y": b}
    e = EqualTo(Col("x"), Col("y"))
    got = e.eval(row)
    want = None if (a is None or b is None) else (a == b)
    assert got == want


@given(vals, vals)
@settings(max_examples=200, deadline=None)
def test_and_or_three_valued(a, b):
    row = {"x": a, "y": b}
    gx = IsNotNull(Col("x")).eval(row)
    p = EqualTo(Col("x"), Lit(1))
    q = EqualTo(Col("y"), Lit(2))
    pa, qa = p.eval(row), q.eval(row)
    got_and = And(p, q).eval(row)
    got_or = Or(p, q).eval(row)
    # Kleene logic
    want_and = False if (pa is False or qa is False) else (
        None if (pa is None or qa is None) else True)
    want_or = True if (pa is True or qa is True) else (
        None if (pa is None or qa is None) else False)
    assert got_and == want_and
    assert got_or == want_or
    assert gx == (a is not None)


@given(vals, st.lists(vals, max_size=5))
@settings(max_examples=200, deadline=None)
def test_in_three_valued(v, elems):
    """In.java:79-98: null value -> null; match -> true; no match ->
    false unless a null elem -> null."""
    row = {"x": v}
    got = In(Col("x"), [Lit(e) for e in elems]).eval(row)
    if v is None:
        want = None
    elif any(e == v for e in elems if e is not None):
        want = True
    elif any(e is None for e in elems):
        want = None
    else:
        want = False
    assert got == want


def test_not_and_isnull():
    assert Not(Lit(True)).eval({}) is False
    assert Not(Lit(None)).eval({}) is None
    assert IsNull(Col("x")).eval({"x": None}) is True
    assert IsNull(Col("x")).eval({"x": 1}) is False


def test_split_metadata_and_data():
    pred = And(And(EqualTo(Col("p"), Lit(1)), EqualTo(Col("d"), Lit(2))),
               Or(EqualTo(Col("p"), Lit(3)), EqualTo(Col("q"), Lit(4))))
    meta, data = split_metadata_and_data(pred, ["p", "q"])
    assert meta is not None and data is not None
    assert meta.references() <= {"p", "q"}
    assert "d" in data.references()
    # case-insensitivity (PartitionUtils.isPredicateMetadataOnly:85-92)
    meta2, data2 = split_metadata_and_data(
        EqualTo(Col("P"), Lit(1)), ["p"])
    assert meta2 is not None and data2 is None


def test_spark_agreement(spark):
    """Cross-check eval() against Spark SQL on a null-rich DataFrame."""
    from pyspark.sql import functions as F
    rows = [(None, None), (1, None), (None, 2), (1, 2), (3, 3)]
    df = spark.createDataFrame(rows, "x int, y int")
    exprs = [
        EqualTo(Col("x"), Col("y")),
        And(EqualTo(Col("x"), Lit(1)), EqualTo(Col("y"), Lit(2))),
        Or(IsNull(Col("x")), EqualTo(Col("y"), Lit(3))),
        In(Col("x"), [Lit(1), Lit(None)]),
        Not(EqualTo(Col("x"), Lit(1))),
    ]
    pdf = df.toPandas()
    for e in exprs:
        got_spark = [r[0] for r in df.select(e.to_column(F.col)).collect()]
        got_eval = [e.eval({"x": None if str(r.x) == "nan" or r.x is None
                            else int(r.x),
                            "y": None if str(r.y) == "nan" or r.y is None
                            else int(r.y)})
                    for r in pdf.itertuples()]
        assert got_spark == got_eval, str(e)


def test_mixed_type_eval_agrees_with_spark(spark):
    """eval() casts values of different types as Spark's implicit cast
    does: a string to a non-string literal's type, a date to a
    timestamp, a number to a double beside a double."""
    import datetime as dt
    from decimal import Decimal

    import pytest
    from pyspark.sql import functions as F

    from connectors_spark.errors import DeltaError
    rows = [("2020", dt.datetime(2020, 1, 1), Decimal("0.1"), 2),
            ("02020", dt.datetime(2020, 1, 1, 12), Decimal("0.2"), 3),
            ("7", None, None, None), ("010", dt.datetime(2019, 12, 31),
                                      Decimal("0.0"), 9007199254740993),
            (None, dt.datetime(2020, 1, 2), Decimal("0.1"), 1)]
    df = spark.createDataFrame(rows, "y string, t timestamp, "
                                     "d decimal(10,1), i bigint")
    day = dt.date(2020, 1, 1)
    exprs = [Col("y") == Lit(2020), Col("y") > Lit(999),
             Col("y").isin(7, 10), Lit(8) < Col("y"),
             Col("t") == Lit(day), Col("t") > Lit(day),
             Col("t").isin(day), Col("d") == Lit(0.1),
             Col("d") >= Lit(Decimal("0.1")), Col("i") > Lit(2.5),
             Col("i") > Lit(9007199254740992.0)]
    got = df.collect()
    for e in exprs:
        spark_vals = [r[0] for r in df.select(e.to_column(F.col)).collect()]
        assert spark_vals == [e.eval(r.asDict()) for r in got], str(e)
    with pytest.raises(DeltaError):
        (Col("y") == Lit(5)).eval({"y": "abc"})


def test_in_literal_list_is_one_sql_in_with_isin_rows(spark):
    """A literal IN over a plain column compiles to one SQL IN (one JVM
    call, not about three per element) that keeps the same rows as
    Spark's ``isin`` of the same values: quotes, backslashes, a None,
    negatives and a value above 2**31. Other element types keep the
    per-literal form."""
    import datetime as dt

    from pyspark.sql import functions as F
    strs = ["it's", "back\\slash", "\\'", "''", "plain", None, "a\\nb"]
    ints = [-7, 0, 3, 2**31 + 5, -2**40, None]
    rows = [(s, i, i is not None and i > 0) for s in strs for i in ints]
    df = spark.createDataFrame(rows + [("x", 2**62, None)],
                               "s string, i bigint, b boolean")
    cases = [(Col("s"), strs), (Col("s"), ["it's", "a\\nb"]),
             (Col("i"), ints), (Col("i"), [2**31 + 5, -7]),
             (Col("b"), [True, None])]
    for col, values in cases:
        e = col.isin(*values)
        assert e._sql() is not None, values
        got = sorted(map(tuple, df.where(e.to_column(F.col)).collect()),
                     key=repr)
        want = sorted(map(tuple, df.where(
            F.col(col.name).isin(*values)).collect()), key=repr)
        assert got == want and got, values
    # a legacy parser setting reads escapes literally or a quoted name as
    # a regex: every list keeps the per-literal form, with isin's rows
    for legacy in ("escapedStringLiterals", "quotedRegexColumnNames"):
        spark.conf.set(f"spark.sql.parser.{legacy}", "true")
        try:
            for col, values in cases:
                e = col.isin(*values)
                assert e._sql() is None, (legacy, values)
                assert df.where(e.to_column(F.col)).count() == df.where(
                    F.col(col.name).isin(*values)).count() > 0
        finally:
            spark.conf.unset(f"spark.sql.parser.{legacy}")
    assert Col("s").isin("back\\slash")._sql() is not None
    assert Col("d").isin(dt.date(2020, 1, 1))._sql() is None
    assert Col("i").isin(2**63)._sql() is None
    assert In(Col("a.b"), [Lit(1)])._sql() is None
