"""geofeaturegeneration_spark — a from-scratch PySpark-native feature-engineering engine.

Re-expresses the capabilities of the reference repo
``youareeverysingleday/GeoFeatureGeneration`` (pandas/polars/multiprocessing
batch pipeline over CSV stage files) as an idiomatic Spark DataFrame engine:

* point-in-time **as-of join** (generalizing the reference's ``shift``-adjacency,
  ``Test/GeoFeatureGenerationClass.py:407``) with key salting for hot entities,
* gap / state-change **sessionization** (``Test/GeoFeatureGenerationClass.py:367-466``),
* **lag/lead/rolling** per-entity context windows (``Record.md:40-50``),
* **bucket-pivot aggregates** (``GenerateGeographicFeature.py:214-218``),
* **vocabulary encoding** with reserved pad 0 (``CommonCode.py:295-336``),
* **padded sequence export** (``DP_GenerateTrajectory.py:33-93``),
* per-partition **checkpoint / lineage / resume** (``DP_GenerateTrajectory.py:50-52``),

plus large-scale training-data ops (dedup, text analysis)
that the 100 TB use-case needs.

Everything here derives from public knowledge only: the Apache Spark / PySpark
API and the reference repo's observable behavior.
"""

__version__ = "0.1.0"

from geofeaturegeneration_spark.config import EngineConfig
from geofeaturegeneration_spark.session import get_spark

__all__ = ["EngineConfig", "get_spark", "__version__"]
