"""The per-document Python boundary of the url-grouped graph stages:
edges, clustering, ECN scoring/training and the cut query each run one
array kernel per document behind one url shuffle, built only here."""

from __future__ import annotations

from typing import Callable, Mapping

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def per_url(schema: StructType, kernel: Callable[..., Mapping], frame: DataFrame,
            other: DataFrame | None = None) -> DataFrame:
    """``applyInArrow`` over ``frame`` grouped on url (cogrouped with
    ``other`` when given). The kernel gets one ``{column: ndarray}`` per
    frame, a url's rows in one call (a side the url is missing from
    comes as empty columns), and returns ``{column: values}`` for
    ``schema``. No pandas frame is built per document."""
    arrow_schema = to_arrow_schema(schema)

    def run(*tables: pa.Table) -> pa.Table:
        cols = [{k: c.to_numpy() for k, c in zip(t.column_names, t.columns)} for t in tables]
        return pa.Table.from_pydict(kernel(*cols), schema=arrow_schema)

    # Spark checks the UDF's arity: one table per group, two per cogroup
    if other is None:
        return frame.groupBy("url").applyInArrow(lambda t: run(t), schema)
    return frame.groupBy("url").cogroup(other.groupBy("url")).applyInArrow(
        lambda a, b: run(a, b), schema)
