"""Enriched-document write-back (SURVEY.md §2.1 S9/S10, §2.2 P7).

The reference writes predictions back into the DOM (label attributes,
``@DU_Y`` probabilities, Cluster elements) and saves ``*_du.mpxml``
files. Here the labeled-nodes table (the actual 100 TB sink) is the
predicted node frame written as is, and this module is the optional XML
render of the enriched document (one string per url) for consumers that
want documents back.
The render is one string assembly per document behind one url shuffle
(``pipeline.perdoc.per_url``); it round-trips through our own
parser (tested), which is the analogue of the reference's save/load
cycle.
"""

from __future__ import annotations

from typing import Mapping

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pipeline.perdoc import per_url


def _esc(s: str) -> str:
    return (s or "").replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")


RENDERED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("xml", T.StringType(), False),
    ]
)


def _render_doc(c: Mapping[str, np.ndarray]) -> dict[str, list]:
    """One document's TextRegion rows ``{column: ndarray}`` -> its one
    enriched document: pages in order, a page's regions by (y1, x1)."""
    page, proba, lines = c["page_num"], c.get("proba_out"), c.get("lines_arr")
    order = np.lexsort((c["x1"], c["y1"], page))
    parts = ["<PcGts>"]
    for p in np.unique(page[page == page]):  # a null page is no page
        rows = order[page[order] == p]
        parts.append(f'<Page n="{int(p)}" imageWidth="{c["page_w"][rows[0]]:g}" '
                     f'imageHeight="{c["page_h"][rows[0]]:g}">')
        for i in rows:
            x1, y1, x2, y2 = (c[k][i] for k in ("x1", "y1", "x2", "y2"))
            box = f"{x1:g},{y1:g} {x2:g},{y1:g} {x2:g},{y2:g} {x1:g},{y2:g}"
            if lines is not None and lines[i] is not None and len(lines[i]):
                # S10 full: rebuild the original line tree
                body = "".join(
                    f'<TextLine id="{_esc(l["lid"])}">'
                    f'<Coords points="{l["lx1"]:g},{l["ly1"]:g} {l["lx2"]:g},{l["ly1"]:g} '
                    f'{l["lx2"]:g},{l["ly2"]:g} {l["lx1"]:g},{l["ly2"]:g}"/>'
                    f"<TextEquiv><Unicode>{_esc(l['ltext'])}</Unicode></TextEquiv></TextLine>"
                    for l in lines[i]
                )
            else:
                body = (
                    f'<TextLine id="{_esc(c["node_id"][i])}_l0"><Coords points="{box}"/>'
                    f"<TextEquiv><Unicode>{_esc(c['text'][i])}</Unicode></TextEquiv></TextLine>"
                )
            du_y = f' DU_Y="{proba[i]:.6f}"' if proba is not None else ""
            parts.append(
                f'<TextRegion id="{_esc(c["node_id"][i])}" custom="structure '
                f'{{type:{_esc(c["label_out"][i])};}}"{du_y}>'
                f'<Coords points="{box}"/>' + body + "</TextRegion>"
            )
        parts.append("</Page>")
    parts.append("</PcGts>")
    return {"url": c["url"][:1].tolist(), "xml": ["".join(parts)]}


def render_enriched_xml(nodes: DataFrame, label_col: str = "label",
                        proba_col: str | None = None,
                        lines: DataFrame | None = None) -> DataFrame:
    """Labeled nodes -> one enriched PageXML-like document per url with
    predicted structure types (and optional DU_Y probability attr).

    ``lines``: optional TextLine node table (kind='TextLine' rows with
    parent_id linkage from the multitype parser) — when given, the TRUE
    region/line tree is rebuilt (S10 full: each region nests its
    original lines with their own boxes/texts); otherwise each region
    carries one synthetic line holding the region text."""
    cols = ["url", "page_num", "page_w", "page_h", "node_id", "x1", "y1",
            "x2", "y2", "text", F.col(label_col).alias("label_out")]
    if proba_col:
        cols.append(F.col(proba_col).alias("proba_out"))
    # a node without a url belongs to no document
    keep = F.col("url").isNotNull()
    if "kind" in nodes.columns:
        keep &= F.col("kind") == "TextRegion"
    src = nodes.filter(keep).select(*cols)
    if lines is not None:
        ln = (
            lines.filter(F.col("kind") == "TextLine")
            .groupBy("url", F.col("parent_id").alias("node_id"))
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("y1").alias("ly1"), F.col("x1").alias("lx1"),
                            F.col("node_id").alias("lid"),
                            F.col("x2").alias("lx2"), F.col("y2").alias("ly2"),
                            F.coalesce("text", F.lit("")).alias("ltext"),
                        )
                    )
                ).alias("lines_arr")
            )
        )
        src = src.join(ln, ["url", "node_id"], "left")
    return per_url(RENDERED_SCHEMA, _render_doc, src)
