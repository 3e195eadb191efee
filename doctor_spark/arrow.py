"""The one Arrow boundary between Spark and the row-wise Python kernels.

Most kernels in this package take a document (bytes or str) and return a
tuple.  Both adapters below hand such a kernel the plain Python values of
one row — ``pa.Array.to_pylist()``, so NULL arrives as ``None``, binary as
``bytes`` and a struct as a ``dict`` — and build the output Arrow data
straight from what it returns, typed by the DDL.  No pandas is involved:
``None`` stays NULL and NaN stays NaN.

- :func:`row_udf` is a scalar ``arrow_udf`` (one ``ArrowEvalPython`` node,
  eval type 250): ``fn(*row)`` returns one value per row; a struct comes
  back as a tuple or a dict, an array of structs as a list of them.
- :func:`row_map` is ``mapInArrow`` (one ``MapInArrow`` node):
  ``fn(*row)`` returns a list of output row tuples, zero or more per
  input row, and each input batch becomes one output batch.

The kernels that quantize a numpy result over a whole batch go through
:func:`..micro.micro_udf`, also a scalar ``arrow_udf``.  The extraction
operator and the kernels that aggregate a batch, emit timestamps, run a
thread pool, or do numpy math over ``array<double>`` rows stay on
``pandas_udf``/``mapInPandas``; ``tests/test_arrow_boundary.py`` lists
each of those sites with its reason.
"""

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.types import DataType, StructType


def _rows(cols):
    return zip(*(c.to_pylist() for c in cols))


def row_udf(fn, ddl: str):
    """``F.arrow_udf`` calling ``fn(*row)`` once per row of its argument
    columns; ``ddl`` is the Spark return type.  Like every UDF factory it
    needs an active SparkContext to parse ``ddl``.  Compose with
    ``.asNondeterministic()`` as any UDF."""
    spark_type = DataType.fromDDL(ddl)
    arrow_type = to_arrow_type(spark_type)

    def kernel(*cols: pa.Array) -> pa.Array:
        return pa.array([fn(*row) for row in _rows(cols)], type=arrow_type)

    kernel.__name__ = getattr(fn, "__name__", kernel.__name__)  # plan label
    return F.arrow_udf(kernel, spark_type)


def row_map(df: DataFrame, fn, ddl: str) -> DataFrame:
    """``df.mapInArrow``: ``fn`` gets the values of ``df``'s columns, one
    row at a time, and returns a list of output tuples in the field order
    of the ``ddl`` schema."""
    schema = to_arrow_schema(StructType.fromDDL(ddl))

    def run(batches):
        for batch in batches:
            out = [r for row in _rows(batch.columns) for r in fn(*row)]
            cols = list(zip(*out)) if out else [()] * len(schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                schema=schema,
            )

    run.__name__ = getattr(fn, "__name__", run.__name__)  # plan label
    return df.mapInArrow(run, ddl)
