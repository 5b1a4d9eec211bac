"""Index artifact model.

Reference counterpart: ``IndexArtifact(kind, data, metadata)``
(modular.py:19-25) — a single in-memory object.  The Spark-native
artifact splits into (a) ``tables``: DataFrames (bucket tables, packed
cluster blobs, code tables) that scale with the base data and live as
Parquet at cluster scale, and (b) ``params``: small driver-side objects
(centroids, projection matrices, codebooks, calibration stats) that are
broadcast to executors.  An IVF-family artifact caches and persists one
table, ``packed``; its ``assignment`` row view is derived from it
(operators/ivf.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame


@dataclass
class IndexArtifact:
    kind: str
    tables: dict[str, DataFrame] = field(default_factory=dict)
    params: dict[str, Any] = field(default_factory=dict)
    metadata: dict[str, Any] = field(default_factory=dict)
