"""mindseye_dataframes_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of
SimiaCryptus/mindseye-dataframes (reference at /root/reference) as an
idiomatic PySpark package:

- relational surface (scan/project/filter/join/agg/window/set-ops) is
  expressed through the DataFrame/SQL API so Catalyst + Tungsten own
  optimization and physical execution,
- the reference's schema-recursive featurization calculus
  (dictionary embeddings, z-score standardization, struct reduction,
  one-hot targets; ``DataframeModeler.scala``/``ModelingStrategy.scala``)
  is rebuilt on broadcast parameter tables + Arrow-batched pandas UDFs,
- north-star large-scale training-data ops (dedup, similarity search,
  text analysis, multimodal columns) are first-class operators.

Subpackages
-----------
sources/    readers, sinks, catalog helpers          (SURVEY §2A S1-S6)
operators/  zip-join, as-of join, dedup, similarity  (SURVEY §2A J*, §2B)
functions/  deterministic hashing, vector/text fns   (SURVEY §2A F5)
featurize/  modeler + strategies (F1-F4, M1-M5)
plans/      explain/plan assertions for scale checks
streaming/  structured-streaming ops over events
queries/    the declared query surface + duckdb oracle SQL
"""

__version__ = "0.1.0"

from mindseye_dataframes_spark.compat import stamp_zip_reloads
from mindseye_dataframes_spark.session import get_session  # noqa: F401

# a no-op except in a PySpark worker, which imports the package to
# unpickle any of its UDFs
stamp_zip_reloads()
