"""pyspark's Python worker daemon, with the workers' imports done once.

The session names this module as ``spark.python.daemon.module``. Every
Python worker is forked from the daemon, so importing pandas, pyarrow and
the ``sycamore_spark`` modules the workloads' UDFs live in here makes each
fork start warm. Without it a fresh worker spends about a second importing
them, workers keep being forked for the first minute of a session, and the
first minute's operations are up to twice as slow as the ones after it.
"""

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
from pyspark.daemon import manager

import sycamore_spark.docset  # noqa: F401
import sycamore_spark.llm.client  # noqa: F401
import sycamore_spark.operators.dedup  # noqa: F401
import sycamore_spark.operators.elements  # noqa: F401
import sycamore_spark.operators.embed  # noqa: F401
import sycamore_spark.operators.retrieval  # noqa: F401
import sycamore_spark.operators.similarity  # noqa: F401
import sycamore_spark.plans.executor  # noqa: F401

if __name__ == "__main__":
    manager()
