"""Driver-side frames and bounded collects for the serving operators.

A serving read is a handful of small jobs, so what each job costs to launch
matters more than what its tasks compute. Two shapes made those launches
expensive, and this module replaces both:

- ``spark.createDataFrame(<python list>)`` is a pickled ``parallelize``
  RDD. Spark can read it only through a Python worker per partition
  (pyspark re-serializes the rows through a Python ``map``), which costs
  a Python task per job even for one row. Most of such a task used to be
  the worker's start-up, which re-read Spark's archives on every task
  (``compat.py``, "Python worker start-up"). Since the package stops
  those re-reads, a one-row frame's ``collect_bounded`` takes a median
  293 ms instead of 494 ms (``local[4]`` on a 4-core host, warm worker
  daemon). ``local_frame`` converts the rows to Arrow on the driver and
  hands the table to Spark 4's ``createDataFrame(pyarrow.Table)``: the
  result is a JVM ``LocalRelation`` (a JVM-side RDD above
  ``spark.sql.execution.arrow.localRelationThreshold``). Catalyst sees its
  size, so it broadcasts, and collecting it runs no job.
- ``df.limit(n).collect()`` plans a ``CollectLimit``, which scans
  partitions incrementally: one partition first, then more in further
  jobs until ``n`` rows or the input is exhausted. A query frame spread
  thinly over a few partitions costs two jobs. ``collect_bounded`` orders
  by ``monotonically_increasing_id()`` under the limit instead, which
  plans a ``TakeOrderedAndProject``: ONE job over all partitions in
  parallel, each keeping at most ``n`` rows, merged on the driver. Rows
  come back in the frame's own order.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sycamore_spark import compat

_ORDER_COL = "__collect_order"


def local_frame(spark: SparkSession, rows: Iterable, schema: StructType | str) -> DataFrame:
    """``rows`` (tuples, Rows or dicts) as a DataFrame with ``schema`` (a
    StructType or DDL string), built without a Python-worker RDD.

    Values convert exactly as ``createDataFrame(list, schema)`` converts
    them: pyspark's own local-data-to-Arrow converter does the work. Zero
    rows give an empty table of the schema. On a pyspark without the Arrow
    path (``compat.has("arrow_local_frame")`` false) this falls back to
    ``createDataFrame``."""
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    rows = list(rows)
    if not compat.has("arrow_local_frame"):
        return spark.createDataFrame(rows, schema)
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    if rows:
        table = LocalDataToArrowConversion.convert(rows, schema, False)
    else:
        table = to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema)


def collect_bounded(df: DataFrame, max_rows: int, error: str) -> list:
    """Collect ``df`` in one parallel job, raising ``ValueError(error)`` if
    it holds more than ``max_rows`` rows. No partition sends the driver
    more than ``max_rows + 1`` rows and the driver merges them into at most
    ``max_rows + 1`` as they arrive, so an oversized input costs at most
    that many rows per partition in flight, never the whole frame."""
    rows = (
        df.withColumn(_ORDER_COL, F.monotonically_increasing_id())
        .orderBy(_ORDER_COL)
        .limit(max_rows + 1)
        .drop(_ORDER_COL)
        .collect()
    )
    if len(rows) > max_rows:
        raise ValueError(error)
    return rows
