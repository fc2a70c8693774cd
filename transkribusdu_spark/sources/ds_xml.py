"""DS-XML source (SURVEY.md §2.1 S6; reference ``graph/Graph_DSXml.py:24-72``
+ ``graph/NodeType_DSXml.py:82-115``): the third input dialect.

Shape: ``<DOC><PAGE width= height=><BLOCK id= x= y= width= height=
[label="yes"]><TEXT><TOKEN>tok</TOKEN>...</TEXT></BLOCK>...</PAGE></DOC>``
- page size attributes are floats in the XML (reference reads
  ``int(float(nd.get("width")))``; we keep floats — our schema is float)
- block geometry is (x, y, width, height), not corner pairs
- block text = ``" ".join(TOKEN texts)`` (``NodeType_DSXml.py:102-106``)
- the label is an attribute named after the label with value "yes"
  (``NodeType_DSXml.py:72-78`` setDocNodeLabel)

The renderer (:func:`nodes_to_dsxml`) is fully declarative string
algebra (no Python); the parser (:func:`parse_dsxml_pages`) is the
standard map-only ElementTree UDF, emitting the same nodes schema as the
PageXML and JSON sources so the whole downstream pipeline is reusable.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from xml.etree import ElementTree as etree

from ..schemas import ALL_LABELS, NODES_SCHEMA


def _esc(col):
    # '"' must be escaped too: node_id is rendered inside id="..."
    # (matches writeback._esc); harmless in element text
    return F.replace(
        F.replace(
            F.replace(F.replace(col, F.lit("&"), F.lit("&amp;")), F.lit("<"), F.lit("&lt;")),
            F.lit(">"),
            F.lit("&gt;"),
        ),
        F.lit('"'),
        F.lit("&quot;"),
    )


def nodes_to_dsxml(nodes: DataFrame) -> DataFrame:
    """nodes table -> one DS-XML payload per url (export sink; the
    inverse of :func:`parse_dsxml_pages`). Pure column expressions."""
    token_xml = F.array_join(
        F.transform(
            F.split(F.coalesce("text", F.lit("")), " "),
            lambda t: F.concat(F.lit("<TOKEN>"), _esc(t), F.lit("</TOKEN>")),
        ),
        "",
    )
    block_xml = F.concat(
        F.lit('<BLOCK id="'), _esc(F.col("node_id")),
        F.lit('" x="'), F.col("x1").cast("string"),
        F.lit('" y="'), F.col("y1").cast("string"),
        F.lit('" width="'), (F.col("x2") - F.col("x1")).cast("string"),
        F.lit('" height="'), (F.col("y2") - F.col("y1")).cast("string"),
        F.lit('" '), F.coalesce(F.col("label"), F.lit("other")), F.lit('="yes">'),
        F.lit("<TEXT>"), token_xml, F.lit("</TEXT></BLOCK>"),
    )
    per_page = (
        nodes.withColumn("_blk", block_xml)
        .groupBy("url", "page_num", "page_w", "page_h")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("reading_index", "node_id", "_blk"))
                    ),
                    lambda s: s["_blk"],
                ),
                "",
            ).alias("_blocks")
        )
        .withColumn(
            "_page",
            F.concat(
                F.lit('<PAGE width="'), F.col("page_w").cast("string"),
                F.lit('" height="'), F.col("page_h").cast("string"),
                F.lit('">'), F.col("_blocks"), F.lit("</PAGE>"),
            ),
        )
    )
    return per_page.groupBy("url").agg(
        F.concat(
            F.lit("<DOC>"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("page_num", "_page"))),
                    lambda s: s["_page"],
                ),
                "",
            ),
            F.lit("</DOC>"),
        ).alias("dsxml")
    )


def _parse_dsxml_doc(url: str, xml: bytes) -> list[dict]:
    """One DS-XML document -> node dicts (ElementTree, document-local)."""
    root = etree.fromstring(xml)
    pages = root.findall(".//PAGE")
    page_cnt = len(pages)
    try:
        doc_id = int(url.rsplit("/", 1)[1])
    except (ValueError, IndexError):
        doc_id = None
    rows: list[dict] = []
    label_set = set(ALL_LABELS)
    for pnum, page in enumerate(pages, start=1):
        pw = float(page.get("width", "0"))
        ph = float(page.get("height", "0"))
        ridx = 0
        for blk in page.findall(".//BLOCK"):
            x1 = float(blk.get("x", "0"))
            y1 = float(blk.get("y", "0"))
            w = float(blk.get("width", "0"))
            h = float(blk.get("height", "0"))
            toks = [nd.text or "" for nd in blk.findall(".//TOKEN")]
            label = next((k for k, v in blk.attrib.items() if v == "yes" and k in label_set), "other")
            rows.append(
                {
                    "url": url, "doc_id": doc_id, "page_num": pnum,
                    "page_w": pw, "page_h": ph, "page_cnt": page_cnt,
                    "node_id": blk.get("id"), "kind": "TextRegion",
                    "x1": x1, "y1": y1, "x2": x1 + w, "y2": y1 + h,
                    "text": " ".join(toks), "orientation": 0,
                    "reading_index": ridx, "label": label, "parent_id": None,
                }
            )
            ridx += 1
    return rows


def parse_dsxml_pages(pages: DataFrame, payload_col: str = "html") -> DataFrame:
    """pages with DS-XML payloads -> standard nodes table (map-only).

    Malformed payloads are skipped: they yield no nodes and no audit
    row. A job that reads DS-XML should first move this source onto
    the PageXML path's status contract (``pipeline.parse.parse_batch``:
    one loop, a status per document, no second pass)."""
    arrow_schema = to_arrow_schema(NODES_SCHEMA)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            rows: list[dict] = []
            for url, payload in zip(b.column(0).to_pylist(), b.column(1).to_pylist()):
                try:
                    rows += _parse_dsxml_doc(url, bytes(payload))
                except Exception:
                    pass
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return pages.select("url", payload_col).mapInArrow(run, NODES_SCHEMA)
