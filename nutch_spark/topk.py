"""One top-k-per-key operator for every window that keeps the best rows of a
key: the latest-version-wins merges, WebGraph's edge dedup, LinkRank's
per-domain contribution, robots rule and delay picks, updatedb's top-K
inlinks, LinkDumper's top inlinks, the kNN searches, KMV sketches,
stratified samples, langid's argmax and RRF. Windows that keep the rank as
a value (Generator's segment spill, duplicate flags) write their own.

The rank filter compiles to ``WindowGroupLimit``, so each partition keeps at
most ``k`` rows per key before the window's shuffle and a hot key costs ``k``
rows of state, not its whole group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    keys: list[Column | str],
    order_by: list[Column | str],
    k: int,
) -> DataFrame:
    """Keep at most ``k`` rows per value of ``keys`` (an empty list is one
    global window), first under ``order_by``. Ties that ``order_by`` leaves
    open are broken arbitrarily, so a deterministic caller ends the list
    with unique columns."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    ranked = df.withColumn("_topk", F.row_number().over(w))
    return ranked.filter(F.col("_topk") <= k).drop("_topk")
