"""sycamore_spark — a PySpark-native analytics/ETL engine with the query and
data-processing capabilities of aryn-ai/sycamore, re-expressed Spark-first.

Entry points:
    import sycamore_spark as ss
    spark = ss.init()
    ds = ss.DocSet(spark.read.parquet(...))
"""

from sycamore_spark import compat
from sycamore_spark.context import init
from sycamore_spark.docset import DocSet, GroupedDocSet
from sycamore_spark.reader import DocSetReader, DocSetWriter, read

__version__ = "0.1.0"
__all__ = ["init", "DocSet", "GroupedDocSet", "DocSetReader", "DocSetWriter", "read", "__version__"]

compat.skip_spark_archive_rereads()
