"""Join shapes from the reference, Spark-first (SURVEY.md §2.3).

J2: top-k ids -> doc fetch as a broadcast semi-join
(reference: backend/api/main.py:848-867).  J1, the parent-children
denormalization that replaces the reference's N+1 point lookups, is one
pre-aggregated join written inline in the ``denorm_children`` gate
(``__spark_entry__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fetch_by_topk_ids(docs: DataFrame, topk: DataFrame, key: str) -> DataFrame:
    """J2: fetch full rows for a small top-k id list — broadcast semi-join."""
    return docs.join(F.broadcast(topk.select(key)), key, "left_semi")
