"""Skew handling: salting for hot keys
(north rule: "salting for skewed hosts").

The pages table is keyed by url (fine-grained, so the extraction shuffle
is naturally balanced even with Zipf host skew), but any *host-level*
aggregation concentrates hot hosts onto single reducers. The standard
fix is two-phase aggregation over a salted key; AQE's skew-join splitter
covers joins, salting covers aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALTS = 16


def host_of_url(col=None) -> F.Column:
    return F.regexp_extract(col if col is not None else F.col("url"), r"https?://([^/]+)/", 1)


def docs_per_host_salted(pages: DataFrame, n_salts: int = DEFAULT_SALTS) -> DataFrame:
    """Two-phase (salted partial -> final) count per host — the skew-safe
    shape for any hot-key aggregation: phase 1 aggregates (host, salt)
    [hot host spread across n_salts reducers], phase 2 sums the partials
    [n_salts rows per host, trivially small]."""
    salted = pages.select(
        host_of_url().alias("host"),
        F.pmod(F.xxhash64("url"), F.lit(n_salts)).alias("salt"),
    )
    partial = salted.groupBy("host", "salt").agg(F.count("*").alias("c"))
    return partial.groupBy("host").agg(F.sum("c").alias("n_docs"))
