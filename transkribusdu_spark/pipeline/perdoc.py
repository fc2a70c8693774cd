"""The two per-document Python boundaries, built only here.

- :func:`per_doc` is the map-only pass over a pages table: a pages row
  is a whole document, so parse, fused edges, fused extraction and the
  oracle conjugate and region passes run one kernel per parsed document
  with no shuffle.
- :func:`per_url` is the url-grouped pass of the stages that start from
  node and edge tables: edges, clustering, ECN scoring/training, the
  cut query, the hull query, table-row tagging, row detection and
  row evaluation, and the enriched write-back each run one array
  kernel per document behind one url shuffle.

Both hand plain columns to a Spark-free kernel and build the Arrow
output from its ``{column: values}``; no pandas frame is built per
batch or per document. :func:`per_doc` runs a small parquet pages scan
in one Python worker, not one per core (:func:`_sized`)."""

from __future__ import annotations

from typing import Callable, Iterator, Mapping

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .parse import MAX_NODES_PER_DOC, parse_batch

# Largest estimated input of a per_doc pass that runs as one task. Rule:
# a task's kernel time should be at least the cold start of the Python
# worker it runs in. A pass is one task when even a split in two breaks
# the rule, for the costliest kernel: 2 x 0.88 s (worst fork to first
# output batch of a worker) / 0.81 s per estimated MB (segment_regions;
# conjugate clusters 0.33-0.40, extraction 0.16-0.17) = 2.2 MB, rounded
# down to 2 MB. Measured with spark-submit, 4 cores, local[4], on
# perfbench pages snapshots (BENCH/PER_DOC_SIZING.json). The MB are
# Spark's estimate for a parquet pages scan (the file bytes scaled by
# the projected columns); only such scans are sized. In a warm session,
# where workers are reused, the one task costs at most its whole kernel
# time of wall against a split over the cores.
ONE_TASK_BYTES = 2 * 1024 * 1024

# Logical operators that keep their child's partitions row for row
_ROW_WISE = frozenset({"Project", "Filter"})


def _sized(frame: DataFrame) -> DataFrame:
    """``frame`` coalesced to one partition (no shuffle) when it is a
    projection or filter of a file scan whose estimated size is at most
    :data:`ONE_TASK_BYTES`, else as it is. So an input whose partitions
    a shuffle, an explicit repartition (the jobs' ``--repartition N``),
    a cache or an RDD decides keeps them, and so does an input whose
    estimate is not file bytes (a Python map's output, an RDD's
    ``Long.MaxValue``-derived size)."""
    plan = frame._jdf.queryExecution().optimizedPlan()
    if _file_scan(plan) and plan.stats().sizeInBytes() <= ONE_TASK_BYTES:
        return frame.coalesce(1)
    return frame


def _file_scan(plan) -> bool:
    """Whether the JVM logical ``plan`` is row-wise operators over one
    file scan, so that the scan's splits are its partitions."""
    while plan.getClass().getSimpleName() in _ROW_WISE:
        plan = plan.child()
    return (plan.getClass().getSimpleName() == "LogicalRelation"
            and plan.relation().getClass().getSimpleName() == "HadoopFsRelation")


def per_doc(schema: StructType, kernel: Callable[..., Mapping], pages: DataFrame,
            kinds: tuple[str, ...] = ("TextRegion",),
            max_nodes_per_doc: int | None = MAX_NODES_PER_DOC) -> DataFrame:
    """``mapInArrow`` over ``pages.select("url", "html")``: every document
    of a batch goes through :func:`.parse.parse_batch` (``kinds`` and
    ``max_nodes_per_doc`` are its arguments) and then through
    ``kernel(url, cols, status)``, where ``cols`` is the parsed node
    columns (None when the document failed to parse) and ``status`` its
    parse status. The kernel returns ``{column: list}`` for ``schema``,
    or ``{}`` when the document gives no rows; each input batch gives
    one output batch. The pass runs on :func:`_sized` partitions."""
    arrow_schema = to_arrow_schema(schema)
    names = schema.fieldNames()

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            out: dict[str, list] = {n: [] for n in names}
            for url, cols, status in parse_batch(b.to_pydict(), kinds, max_nodes_per_doc):
                for k, v in kernel(url, cols, status).items():
                    out[k].extend(v)
            yield pa.RecordBatch.from_pydict(out, schema=arrow_schema)

    return _sized(pages.select("url", "html")).mapInArrow(run, schema)


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
