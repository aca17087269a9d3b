"""Window operators (reference W1-W4 generalized: gold_feature.py.py:27-38).

The lag, rolling-mean and ranking shapes of the reference are written
inline in the plans and pipeline modules; what is shared is the
deterministic per-group top-k.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def topk_per_group(
    df: DataFrame, partition_by: Sequence[str], order_by: Sequence, k: int
) -> DataFrame:
    """Deterministic per-group top-k via row_number filter.

    Scales as one shuffle + per-partition sort; for very hot groups AQE
    skew handling splits the partition. ``order_by`` must break ties.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k).drop("__rn")
