"""Spark feature probes (make version requirements explicit), and the
Python worker start-up fix (below).

The engine targets Spark 4.x but most of the surface runs on 3.5; the
exceptions are probed HERE, at one choke point, so an older cluster gets
one clear error naming the feature and the minimum version instead of an
AttributeError three operators deep.

Probed features (each an attribute probe, not a version-string compare, so
vendor backports count):

- ``variant``       — VariantType + F.parse_json / F.variant_get
                      (Spark 4.0; used by functions/fields.py JSON-variant
                      dotted access)
- ``stream_dedup_watermark`` — DataFrame.dropDuplicatesWithinWatermark
                      (Spark 3.5; streaming/dedup.py)
- ``arrow_local_frame`` — createDataFrame(pyarrow.Table) + the classic
                      local-data-to-Arrow converter (Spark 4.1;
                      functions/local.py ``local_frame``, which falls back
                      to createDataFrame(list) without it)
- ``lateral_column_alias``, ``percentile`` etc. ride the 3.5 floor and are
  not individually probed.

Use::

    from sycamore_spark import compat
    compat.require("variant")        # raises UnsupportedSparkFeature
    if compat.has("variant"): ...    # branch

Tests force flags off via ``compat._OVERRIDES`` to pin the error paths.

Python worker start-up
----------------------

pyspark's worker ends every task's file setup with
``importlib.invalidate_caches()``. On CPython 3.11 a zipimporter's
``invalidate_caches`` re-reads its archive's whole central directory, and a
worker caches one zipimporter per package path inside the archives Spark
puts on its ``PYTHONPATH`` (``pyspark.zip``, the py4j zip, the spark-core
jar): 16 of them, 150-250 ms of every task before it runs any code.
``skip_spark_archive_rereads`` (run when the package is imported) puts a
finder first on ``sys.meta_path`` whose ``invalidate_caches`` removes those
importers from ``sys.path_importer_cache`` just before ``PathFinder`` would
re-read them. Imports still work: a new zipimporter takes the directory
from zipimport's module cache. Spark's archives do not change while an
application runs. Archives shipped with ``addPyFile`` are on ``sys.path``,
not ``PYTHONPATH``, so their importers are kept and still re-read on every
task.
"""

from __future__ import annotations

import os
import sys
import zipimport

_MIN_VERSIONS = {
    "variant": "4.0",
    "stream_dedup_watermark": "3.5",
    "arrow_local_frame": "4.1",
}

# test seam: {"feature": False} forces a probe result
_OVERRIDES: dict[str, bool] = {}


class UnsupportedSparkFeature(RuntimeError):
    pass


def _probe(feature: str) -> bool:
    if feature == "variant":
        try:
            from pyspark.sql import functions as F
            from pyspark.sql.types import VariantType  # noqa: F401

            return hasattr(F, "parse_json") and hasattr(F, "variant_get")
        except ImportError:
            return False
    if feature == "stream_dedup_watermark":
        from pyspark.sql import DataFrame

        return hasattr(DataFrame, "dropDuplicatesWithinWatermark")
    if feature == "arrow_local_frame":
        try:
            from pyspark.sql.conversion import LocalDataToArrowConversion  # noqa: F401
            from pyspark.sql.pandas.conversion import SparkConversionMixin

            return hasattr(SparkConversionMixin, "_create_from_arrow_table")
        except ImportError:
            return False
    raise KeyError(f"unknown feature probe {feature!r}")


def has(feature: str) -> bool:
    """True iff this pyspark exposes ``feature`` (override-aware)."""
    if feature in _OVERRIDES:
        return _OVERRIDES[feature]
    return _probe(feature)


def require(feature: str) -> None:
    """Raise ``UnsupportedSparkFeature`` with the minimum Spark version if
    ``feature`` is unavailable; no-op otherwise."""
    if not has(feature):
        import pyspark

        raise UnsupportedSparkFeature(
            f"{feature!r} requires Spark >= {_MIN_VERSIONS[feature]} "
            f"(running pyspark {pyspark.__version__}). "
            "See sycamore_spark/compat.py for the feature matrix."
        )


def _drop_spark_archive_importers() -> None:
    archives = {os.path.abspath(p) for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if os.path.isfile(p)}
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and os.path.abspath(finder.archive) in archives:
            sys.path_importer_cache.pop(path, None)


class _SparkArchiveImporterDrop:
    """A meta path finder that finds nothing; ``importlib.invalidate_caches``
    calls it before ``PathFinder``, which is where the re-reads happen."""

    @staticmethod
    def find_spec(name, path=None, target=None):
        return None

    invalidate_caches = staticmethod(_drop_spark_archive_importers)


def skip_spark_archive_rereads() -> None:
    """Stop ``importlib.invalidate_caches()`` re-reading the archives on
    ``PYTHONPATH`` (see "Python worker start-up" above). Idempotent;
    forked processes inherit it."""
    if _SparkArchiveImporterDrop not in sys.meta_path:
        sys.meta_path.insert(0, _SparkArchiveImporterDrop)
