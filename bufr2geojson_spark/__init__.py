"""bufr2geojson_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the capabilities of ``wmo-im/bufr2geojson``
(reference at /root/reference, v0.7.0) as a distributed Spark pipeline:

  Iceberg-style document scan  →  vectorized decode (mapInPandas fold)
  →  H3/S2-style cell encoding  →  broadcast point-in-polygon join
  →  kNN station matching (cell-ring expansion)  →  salted tile aggregation
  →  range-partitioned write with per-file lineage + checkpoint-resume.

The reference is a single-process Python generator pipeline over the ecCodes
C library (``bufr2geojson/__init__.py:1179-1310``); this package keeps its
data model and per-row transformation semantics (golden-output contract)
while the execution architecture is idiomatic Spark: DataFrame/Catalyst
planning, Arrow-batched pandas UDFs for the per-document decode fold, and
explicit partitioning/salting for the wide stages.

Nothing here is a port: no code is copied from the reference; file:line
citations in docstrings point at the *behavior* being matched.
"""

__version__ = "0.1.0"

from bufr2geojson_spark.schemas import (  # noqa: F401
    DOCUMENT_SCHEMA,
    FEATURE_SCHEMA,
    LINEAGE_SCHEMA,
    SPAN_SCHEMA,
)
from bufr2geojson_spark.operators.decode import decode_documents  # noqa: F401
from bufr2geojson_spark.sources.synth import (  # noqa: F401
    synth_documents,
    synth_stations,
    synth_region_polygons,
)
