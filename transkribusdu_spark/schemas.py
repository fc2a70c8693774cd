"""Frozen StructType schemas for every intermediate table.

The reference discovers feature widths dynamically from fitted sklearn
transformers (``graph/GraphModel.py:272-278`` — "Pretty convenient ...
will crash"). We freeze every schema explicitly (SURVEY.md §1.4) so plans
are stable and Catalyst can prune columns.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input table (BASELINE.json input_hint): Common-Crawl-style pages.
# ---------------------------------------------------------------------------
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# One row per layout object (reference Block, ``graph/Block.py:40-76``).
NODES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("page_num", T.IntegerType(), False),
        T.StructField("page_w", T.DoubleType(), False),
        T.StructField("page_h", T.DoubleType(), False),
        T.StructField("page_cnt", T.IntegerType(), False),
        # null for a TextRegion without @id. The fused per-document
        # passes key nodes on position, so it takes part in edges,
        # clusters and hulls there but is never named in their output;
        # edge tables (edges.edge_rows) and the staged id-keyed
        # clusterers leave it out
        T.StructField("node_id", T.StringType(), True),
        T.StructField("kind", T.StringType(), False),
        T.StructField("x1", T.DoubleType(), False),
        T.StructField("y1", T.DoubleType(), False),
        T.StructField("x2", T.DoubleType(), False),
        T.StructField("y2", T.DoubleType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("orientation", T.IntegerType(), False),
        T.StructField("reading_index", T.IntegerType(), True),
        T.StructField("label", T.StringType(), True),
        # parent region id for sub-region node kinds (TextLine) — the
        # linkage the exporter needs to rebuild the region/line tree
        T.StructField("parent_id", T.StringType(), True),
    ]
)

# Spatial line-of-sight edges (reference Edge, ``graph/Edge.py:21-204``).
EDGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_num", T.IntegerType(), False),
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("etype", T.StringType(), False),  # 'H' | 'V' | 'CP'
        T.StructField("length", T.DoubleType(), False),
        T.StructField("overlap", T.DoubleType(), False),
        T.StructField("iou", T.DoubleType(), False),
    ]
)

NODE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("node_id", T.StringType(), False),
        T.StructField("f", T.ArrayType(T.DoubleType(), False), False),
    ]
)

EDGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("f", T.ArrayType(T.DoubleType(), False), False),
    ]
)

EDGE_SCORES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("p_continue", T.DoubleType(), False),
        T.StructField("p_break", T.DoubleType(), False),
    ]
)

CLUSTERS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("cluster_id", T.IntegerType(), False),
        T.StructField("node_ids", T.ArrayType(T.StringType(), False), False),
        T.StructField("proba", T.DoubleType(), True),
        T.StructField("algo", T.StringType(), False),
    ]
)

# Region geometry (C4): one convex hull per cluster, as a PageXML-style
# points string over its n_nodes member boxes.
HULLS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("cluster_id", T.IntegerType(), False),
        T.StructField("algo", T.StringType(), False),
        T.StructField("n_nodes", T.IntegerType(), False),
        T.StructField("hull_points", T.StringType(), False),
    ]
)

SPAN_TYPE = T.StructType(
    [
        T.StructField("node_id", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("label", T.StringType(), True),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("extracted_text", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_TYPE, False), False),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("input_snapshot", T.StringType(), False),
        T.StructField("doc_count", T.LongType(), False),
        T.StructField("checksum", T.StringType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)

# Label space (reference NodeType label namespace, ``graph/NodeType.py:58-76``).
MAIN_CONTENT_LABELS = ("paragraph", "heading")
BOILERPLATE_LABELS = ("header", "page-number", "other", "marginalia", "catch-word")
ALL_LABELS = MAIN_CONTENT_LABELS + BOILERPLATE_LABELS
