"""Extraction stage: labeled nodes -> per-document text + span offsets.

This is the byte-identical surface (reference reading-order assembly:
sort by (page, y, x) ``graph/Block.py:309-318`` +
``spm/spmPageVerticals.py:374-376``; text join ``graph/Graph_DOM.py:166-195``).

Two forms, one output. Over a nodes table (:func:`extract_text_spans`)
the stage is a window function + groupBy with no Python UDF: span
offsets are a running sum over the canonical order
(start_i = sum_{j<i}(len_j + 1) for the single-space join), so it stays
inside whole-stage codegen and scales as an ordinary shuffle-once
aggregation keyed on url. Over raw pages (:func:`extract_with_status`,
:func:`extract_from_pages`) it is a :func:`.perdoc.per_doc` kernel: the
map-only parse pass assembles each document's text and spans in place,
with no shuffle and one row with a parse status per document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import MAIN_CONTENT_LABELS
from .parse import MAX_NODES_PER_DOC
from .perdoc import per_doc

# Canonical reading order (SURVEY.md §2.6 O2): page, then top-to-bottom,
# then left-to-right; node_id as the deterministic tiebreak.
READING_ORDER = ["page_num", "y1", "x1", "node_id"]

# One row per input document (:func:`extract_with_status`); every column
# is nullable, since only documents with text carry doc_id/text/spans.
STATUS_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("extracted_text", T.StringType()),
    T.StructField("spans", T.ArrayType(T.StructType([
        T.StructField("node_id", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("label", T.StringType()),
    ]))),
    T.StructField("status", T.StringType()),
])


def extract_text_spans(
    nodes: DataFrame,
    labels: tuple[str, ...] | None = MAIN_CONTENT_LABELS,
    label_col: str = "label",
) -> DataFrame:
    """nodes -> (url, doc_id, extracted_text, spans).

    ``labels=None`` extracts everything (full-text mode); the default
    keeps main-content labels only (boilerplate strip).
    """
    sel = nodes
    if labels is not None:
        sel = sel.filter(F.col(label_col).isin(list(labels)))

    w = Window.partitionBy("url").orderBy(*[F.col(c) for c in READING_ORDER])
    cum = Window.partitionBy("url").orderBy(*[F.col(c) for c in READING_ORDER]).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sel = (
        sel.withColumn("rn", F.row_number().over(w))
        .withColumn("tlen", F.length(F.coalesce(F.col("text"), F.lit(""))))
        # running sum of (len + 1 separator) up to and including this row;
        # subtracting (len+1) gives this row's start offset.
        .withColumn("cum", F.sum(F.col("tlen") + F.lit(1)).over(cum))
        .withColumn("start", (F.col("cum") - F.col("tlen") - F.lit(1)).cast("int"))
        .withColumn("end", (F.col("cum") - F.lit(1)).cast("int"))
    )
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("rn"),
                F.col("text"),
                F.col("node_id"),
                F.col("start"),
                F.col("end"),
                F.col(label_col).alias("label"),
            )
        )
    )
    return (
        sel.groupBy("url")
        .agg(F.first("doc_id").alias("doc_id"), ordered.alias("parts"))
        .select(
            "url",
            "doc_id",
            F.array_join(F.transform("parts", lambda p: p["text"]), " ").alias("extracted_text"),
            F.transform(
                "parts",
                lambda p: F.struct(
                    p["node_id"].alias("node_id"),
                    p["start"].alias("start"),
                    p["end"].alias("end"),
                    p["label"].alias("label"),
                ),
            ).alias("spans"),
        )
    )


def _fused_ord_key(dc: dict, i: int):
    """Mirrors the Spark window's ASC ordering on malformed inputs too:
    NULL node_ids sort FIRST among coordinate ties (Spark default NULLS
    FIRST) and NaN coordinates sort LAST (Spark orders NaN greater than
    any double, including +Inf)."""
    import math

    y, x = dc["y1"][i], dc["x1"][i]
    nid = dc["node_id"][i]
    return (
        dc["page_num"][i],
        isinstance(y, float) and math.isnan(y), y if y == y else 0.0,
        isinstance(x, float) and math.isnan(x), x if x == x else 0.0,
        nid is not None, nid or "",
    )


def _fused_doc(dc: dict, want: set[str] | None) -> tuple[str, list[dict]] | None:
    """Per-doc assembly of the fused parse+extract over one document's
    parsed columns: returns (extracted_text, spans), or None when no
    node survives the label filter."""
    idx = sorted(range(len(dc["node_id"])), key=lambda i: _fused_ord_key(dc, i))
    if want is not None:
        idx = [i for i in idx if dc["label"][i] in want]
    if not idx:
        return None
    parts: list[str] = []
    spans: list[dict] = []
    off = 0
    for i in idx:
        t = dc["text"][i] or ""
        parts.append(t)
        end = off + len(t)
        spans.append(
            {"node_id": dc["node_id"][i], "start": off, "end": end,
             "label": dc["label"][i]}
        )
        off = end + 1
    return " ".join(parts), spans


def extract_with_status(
    pages: DataFrame,
    labels: tuple[str, ...] | None = MAIN_CONTENT_LABELS,
    max_nodes_per_doc: int | None = MAX_NODES_PER_DOC,
) -> DataFrame:
    """Fused parse+extract with its audit: pages.html -> ONE row per
    input document, (url, doc_id, extracted_text, spans, status), in one
    map-only pass.

    ``status`` is the :func:`parse.parse_batch` status (``ok``,
    ``truncated:<n>``, ``error:<Type>: <msg>``), or ``empty`` when the
    document parsed but no node survives the label filter — a truncated
    document whose kept head has no such node is ``empty`` too. A row
    has ``extracted_text`` exactly when its status is ``ok`` or
    ``truncated:<n>``; :func:`extract_from_pages` is those rows. Jobs
    persist this frame once, write the output from its text rows and the
    audit table from its other rows, and count the statuses with a
    ``DataFrame.observe`` in the same action — no second parse."""
    want = set(labels) if labels is not None else None

    def kernel(url: str, dc: dict | None, status: str) -> dict[str, list]:
        did = text = spans = None
        if dc is not None:
            assembled = _fused_doc(dc, want)
            if assembled is None:
                status = "empty"
            else:
                did, (text, spans) = dc["doc_id"][0], assembled
        return dict(url=[url], doc_id=[did], extracted_text=[text], spans=[spans],
                    status=[status])

    return per_doc(STATUS_SCHEMA, kernel, pages, max_nodes_per_doc=max_nodes_per_doc)


def extract_from_pages(
    pages: DataFrame,
    labels: tuple[str, ...] | None = MAIN_CONTENT_LABELS,
) -> DataFrame:
    """Fused parse+extract: pages.html -> (url, doc_id, extracted_text,
    spans) in ONE map-only pass — the flagship 100 TB plan shape.

    Reading order, the single-space join, and span offsets are all
    DOC-LOCAL, so nothing here needs the :func:`extract_text_spans`
    window shuffle: html crosses Arrow once per doc and ONE row per doc
    comes back (node rows never cross at all). Byte-identical to
    ``extract_text_spans(parse_pages(pages), labels=...)`` — same
    canonical (page_num, y1, x1, node_id) order (ints/floats compare
    numerically; node_id tiebreak is ASCII in this corpus family, where
    Python code-point order equals Java's UTF-16 order), same
    single-space join, same running-sum offsets — and hash-verified by
    the same DuckDB oracles. Keep :func:`extract_text_spans` for
    labeled NODE tables (predicted/smoothed labels, cluster-driven
    extraction); this fused form exists for the scan->extract path.

    These are the text rows of :func:`extract_with_status` at its
    default ``MAX_NODES_PER_DOC`` cap, the one ``parse_pages`` applies:
    documents that fail to parse or keep no node are absent, and that
    frame says why."""
    return (
        extract_with_status(pages, labels)
        .filter(F.col("extracted_text").isNotNull())
        .drop("status")
    )


def observe_status(status: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach the parse funnel to an :func:`extract_with_status` frame:
    an ``Observation`` counting ``parse_ok``, ``parse_error``,
    ``truncated`` and ``empty`` documents, filled by the first action
    that computes the returned frame (read it with ``.get`` after that
    action; it costs no extra job). On Spark 4.1 a session that has run
    an Observation can no longer be serialized, which spark.ml tuning
    does: observe in a separate ``spark.newSession()`` when mixing the
    two."""
    obs = Observation("parse_funnel")
    st = F.col("status")
    return status.observe(
        obs,
        F.count_if(st == "ok").alias("parse_ok"),
        F.count_if(st.startswith("error:")).alias("parse_error"),
        F.count_if(st.startswith("truncated:")).alias("truncated"),
        F.count_if(st == "empty").alias("empty"),
    ), obs
