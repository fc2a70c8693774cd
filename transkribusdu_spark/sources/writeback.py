"""Enriched-document write-back (SURVEY.md §2.1 S9/S10, §2.2 P7).

The reference writes predictions back into the DOM (label attributes,
``@DU_Y`` probabilities, Cluster elements) and saves ``*_du.mpxml``
files. Here the labeled-nodes table (the actual 100 TB sink) is the
predicted node frame written as is, and this module is the optional XML
render of the enriched document (one string per url) for consumers that
want documents back.
The render is a vectorized string assembly inside mapInPandas; it
round-trips through our own parser (tested), which is the analogue of
the reference's save/load cycle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _esc(s: str) -> str:
    return (s or "").replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")


RENDERED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("xml", T.StringType(), False),
    ]
)


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
            "x2", "y2", "text", label_col]
    if proba_col:
        cols.append(proba_col)
    src = nodes.filter(
        F.col("kind") == "TextRegion"
    ).select(*cols).withColumnRenamed(label_col, "label_out") if "kind" in nodes.columns else nodes.select(*cols).withColumnRenamed(label_col, "label_out")
    if proba_col:
        src = src.withColumnRenamed(proba_col, "proba_out")
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

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: dict[str, pd.DataFrame] = {}
        for pdf in batches:
            for url, g in pdf.groupby("url", sort=False):
                buf[url] = pd.concat([buf[url], g]) if url in buf else g
        out_urls, out_xml = [], []
        for url, g in buf.items():
            parts = ["<PcGts>"]
            for pnum, pg in g.sort_values(["page_num", "y1", "x1"]).groupby("page_num", sort=True):
                w = pg["page_w"].iloc[0]
                h = pg["page_h"].iloc[0]
                parts.append(f'<Page n="{int(pnum)}" imageWidth="{w:g}" imageHeight="{h:g}">')
                for r in pg.itertuples():
                    proba = f' DU_Y="{r.proba_out:.6f}"' if hasattr(r, "proba_out") else ""
                    real_lines = getattr(r, "lines_arr", None)
                    if real_lines is not None and not (
                        isinstance(real_lines, float) or real_lines is None
                    ) and len(real_lines):
                        # S10 full: rebuild the original line tree
                        lparts = [
                            f'<TextLine id="{_esc(l["lid"])}">'
                            f'<Coords points="{l["lx1"]:g},{l["ly1"]:g} {l["lx2"]:g},{l["ly1"]:g} '
                            f'{l["lx2"]:g},{l["ly2"]:g} {l["lx1"]:g},{l["ly2"]:g}"/>'
                            f"<TextEquiv><Unicode>{_esc(l['ltext'])}</Unicode></TextEquiv></TextLine>"
                            for l in real_lines
                        ]
                        body = "".join(lparts)
                    else:
                        body = (
                            f'<TextLine id="{_esc(r.node_id)}_l0"><Coords points="{r.x1:g},{r.y1:g} '
                            f'{r.x2:g},{r.y1:g} {r.x2:g},{r.y2:g} {r.x1:g},{r.y2:g}"/>'
                            f"<TextEquiv><Unicode>{_esc(r.text)}</Unicode></TextEquiv></TextLine>"
                        )
                    parts.append(
                        f'<TextRegion id="{_esc(r.node_id)}" custom="structure '
                        f'{{type:{_esc(r.label_out)};}}"{proba}>'
                        f'<Coords points="{r.x1:g},{r.y1:g} {r.x2:g},{r.y1:g} '
                        f'{r.x2:g},{r.y2:g} {r.x1:g},{r.y2:g}"/>'
                        + body + "</TextRegion>"
                    )
                parts.append("</Page>")
            parts.append("</PcGts>")
            out_urls.append(url)
            out_xml.append("".join(parts))
        yield pd.DataFrame({"url": out_urls, "xml": out_xml})

    # repartition by url so each document renders whole in one task
    return src.repartition(F.col("url")).mapInPandas(run, schema=RENDERED_SCHEMA)
