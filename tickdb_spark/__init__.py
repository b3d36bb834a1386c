"""tickdb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of vimrus/tickdb (reference: a Go single-node
time-series store), rebuilt Spark-first.

Design (see SURVEY.md):
- One canonical ``ticks`` table ``(series, ts, value)``, time-sorted files
  partitioned by ``(series, dt)`` instead of one file per index (reference:
  ``database.go:49-69``); ``dt`` (the UTC day of ``ts``, which reads filter
  on to open only the days they overlap) and ``ts_utc`` derive from ``ts``.
- Calendar-bucket aggregation is ``groupBy(date_trunc(...))`` answered by
  Catalyst's partial+final hash aggregate instead of the reference's
  materialized rollup tree (``storage/node.go:39-53``); optional persistent
  rollup tables replicate the tree's read path (``storage/cursor.go:269-352``)
  for repeated coarse queries.
- Beyond the reference surface: joins (incl. as-of), window functions,
  streaming ingest, and large-scale training-data pipeline operators
  (dedup, similarity search, text analysis, multimodal columns).
"""

from tickdb_spark.session import get_spark
from tickdb_spark.api import TickDB

__version__ = "0.1.0"
__all__ = ["get_spark", "TickDB", "__version__"]
