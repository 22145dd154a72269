"""Driver-local relations built from Arrow.

``spark.createDataFrame(list, schema)`` turns a driver-side list into a
Python RDD: every job over it starts Python workers to apply the schema
(``applySchemaToPythonRDD``), one task per slice, and an empty list still
plans ``defaultParallelism`` empty Python slices. The commit plane and the
scans build many such small relations (publish file lists, partition-value
maps, DV assignments, file inventories), so that cost lands on writes and
reads alike.

``local_rows_df`` converts the rows to a ``pyarrow.Table`` on the driver
(``to_arrow_schema`` of the Spark schema) and hands it to
``spark.createDataFrame``; the JVM decodes the Arrow batches, so no Python
worker starts. Each record batch becomes one partition: a small relation
plans as ``LocalTableScan``, a large one as ``Scan ExistingRDD arrow``.
Values convert as Spark's Python path converts them (timestamps through the
Spark type's own ``toInternal``), so both paths give the same rows.
"""

from __future__ import annotations

from typing import Optional, Sequence


def _arrow_column(values, dtype, atype):
    """One Arrow array of ``atype`` from the Python ``values`` of Spark
    type ``dtype``. pyarrow reads a naive datetime as UTC, Spark as
    local time: a column with a timestamp at any depth goes through
    Spark's own conversion (``toInternal``: timestamps become epoch
    microseconds, which pyarrow takes as they are)."""
    import pyarrow as pa
    if "timestamp" in dtype.simpleString():
        values = [None if v is None else dtype.toInternal(v)
                  for v in values]
    return pa.array(values, atype)


def _rebuilt_map(dtype) -> bool:
    """Whether ``dtype`` holds, at any depth, a map whose keys or values
    are timestamps or nested: Spark's Arrow import rebuilds such a map
    array to localize timestamps, and before pyarrow 17 it drops the
    array's null mask (SPARK-48302), so a null map would read back as
    an empty one."""
    from pyspark.sql import types as T
    if isinstance(dtype, T.MapType):
        return any(isinstance(t, (T.ArrayType, T.MapType, T.StructType))
                   or "timestamp" in t.simpleString()
                   for t in (dtype.keyType, dtype.valueType))
    if isinstance(dtype, T.ArrayType):
        return _rebuilt_map(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return any(_rebuilt_map(f.dataType) for f in dtype.fields)
    return False


def local_rows_df(spark, rows: Sequence, schema,
                  parts: Optional[int] = None):
    """DataFrame over driver-built ``rows`` (tuples or Rows in ``schema``
    order; ``schema`` a StructType or a DDL string), decoded by the JVM
    from Arrow.

    ``parts`` sets the partition count: pass the intended task count
    when the relation fans out real per-row work (e.g. a ``mapInPandas``
    over a staged-file list). Otherwise the rows go as one batch, which
    Spark splits at ``spark.sql.execution.arrow.maxRecordsPerBatch``.
    A schema with a map of timestamps or nested values (``_rebuilt_map``;
    no engine relation has one) takes Spark's Python path under
    pyarrow < 17."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = rows if isinstance(rows, list) else list(rows)
    if not rows:
        return spark.createDataFrame(arrow_schema.empty_table(), schema)
    if int(pa.__version__.split(".")[0]) < 17 and _rebuilt_map(schema):
        return spark.createDataFrame(rows, schema)
    columns = list(zip(*rows))
    batch = pa.RecordBatch.from_arrays(
        [_arrow_column(c, f.dataType, af.type)
         for c, f, af in zip(columns, schema.fields, arrow_schema)],
        schema=arrow_schema)
    n = len(rows)
    step = n if parts is None else -(-n // max(1, parts))
    table = pa.Table.from_batches(
        [batch.slice(i, step) for i in range(0, n, step)], arrow_schema)
    return spark.createDataFrame(table, schema)


def fan_out(spark, rows: Sequence, schema, body, out_schema):
    """``body``, a ``mapInPandas`` function, run over the driver-built
    ``rows`` in at most ``defaultParallelism`` tasks, with the package's
    code shipped by value: the per-file work of maintenance commands.
    No rows: an empty relation, which collects without a job."""
    if not rows:
        return local_rows_df(spark, [], out_schema)
    from .shipping import ensure_shipped_by_value
    ensure_shipped_by_value()
    parts = min(len(rows), spark.sparkContext.defaultParallelism)
    return (local_rows_df(spark, rows, schema, parts=parts)
            .mapInPandas(body, out_schema))
