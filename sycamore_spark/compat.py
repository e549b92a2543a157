"""Spark feature probes: make version requirements explicit.

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
"""

from __future__ import annotations

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
