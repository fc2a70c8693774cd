"""Deterministic synthesis of the Common-Crawl-style ``pages`` input table.

BASELINE.json ``input_hint`` fixes the shape: ``pages(url string,
warc_ts timestamp, html binary, text string, lang string)``. No external
data exists in this sandbox, so we synthesize pages deterministically from
the driver-provided ``documents`` parquet (doc_id, text, lang): each
document's token stream is laid out into a PageXML-like layout-bearing
markup (regions / lines / coords / custom attrs) mirroring the
reference's input model (``xml_formats/PageXml.py:32``,
``graph/tests/7749.mpxml``), plus host-templated boilerplate blocks
(header / page-number / footer nav) so that main-content extraction is a
non-trivial labeling problem.

Round-trip invariant (the correctness oracle): extracting the text of the
main-content blocks (labels ``paragraph``/``heading``) in reading order
and joining with single spaces reproduces ``documents.text``
byte-identically — the analogue of the reference's
``" ".join(itertext())`` + reading-order assembly
(``xml_formats/PageXml.py:282-291``, ``graph/Graph_DOM.py:166-195``).

Determinism (FIXTURES.md §6): a fresh ``np.random.default_rng([SEED,
doc_id])`` per document — any doc regenerates identically in isolation;
no wall clock, no dict order. Coordinates are even ints (grid of 2,
reference ``graph/Block.py:37``).
"""

from __future__ import annotations

import datetime as _dt
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import SEED
from .schemas import PAGES_SCHEMA

N_HOSTS = 50
ZIPF_A = 1.2
PAGE_W = 1240
PAGE_H = 3000
X_LEFT = 150
X_RIGHT = 1090
LINE_H = 50
BLOCK_GAP = 30
EPOCH = _dt.datetime(2024, 1, 1, 0, 0, 0)

# Precomputed Zipf(1.2) CDF over 50 hosts — host skew is real so that the
# salting / AQE-skew machinery has something to chew on (north rule).
_ranks = np.arange(1, N_HOSTS + 1, dtype=np.float64)
_p = 1.0 / _ranks**ZIPF_A
_HOST_CDF = np.cumsum(_p / _p.sum())


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _even(v: float) -> int:
    """Round to the nearest even int (coordinate grid of 2)."""
    return int(round(v / 2.0)) * 2


def host_of(doc_id: int) -> int:
    rng = np.random.default_rng([SEED, int(doc_id)])
    return int(np.searchsorted(_HOST_CDF, rng.random()))


def url_of(doc_id: int) -> str:
    return f"https://host{host_of(doc_id):03d}.example.org/doc/{int(doc_id):06d}"


def _polygon_pts(x1: int, y1: int, x2: int, y2: int, rng) -> list[tuple[int, int]]:
    """4-8 point polygon whose bounding box is exactly (x1,y1,x2,y2)
    (exercises polygon->rect fitting, ``util/Polygon.py:104``): midpoints
    are inserted on up to two sides, jittered INWARD so min/max stay put."""
    pts = [(x1, y1), (x2, y1), (x2, y2), (x1, y2)]
    n_extra = int(rng.integers(0, 3))
    for _ in range(n_extra):
        side = int(rng.integers(0, 2))
        if side == 0 and x2 - x1 > 8:
            pts.insert(1, (_even((x1 + x2) / 2), y1 + 2))
        elif y2 - y1 > 8:
            pts.insert(3, (x2 - 2, _even((y1 + y2) / 2)))
    return pts


def _plan_block(
    node_id: str, label: str, x1: int, y1: int, x2: int, y2: int,
    lines: list[tuple[str, str]], rng,
) -> dict:
    """Layout plan for one TextRegion: polygon + per-line boxes/texts.
    This dict IS the ground truth the XML renderer and the parser must
    round-trip (tools/make_truth.py derives the oracle sidecars from it)."""
    pts = _polygon_pts(x1, y1, x2, y2, rng)
    ltups = []
    ly = y1
    for lid, ltext in lines:
        ltups.append(
            {"node_id": lid, "text": ltext, "x1": x1, "y1": ly, "x2": x2, "y2": ly + LINE_H - 10}
        )
        ly += LINE_H
    return {
        "node_id": node_id, "label": label,
        "x1": x1, "y1": y1, "x2": x2, "y2": y2,
        "pts": pts, "lines": ltups,
    }


def _block_xml(blk: dict) -> str:
    """Pure renderer: one planned TextRegion -> PageXML-like markup."""
    points = " ".join(f"{px},{py}" for px, py in blk["pts"])
    ls = []
    for ln in blk["lines"]:
        ls.append(
            f'<TextLine id="{ln["node_id"]}"><Coords points="{ln["x1"]},{ln["y1"]} {ln["x2"]},{ln["y1"]} {ln["x2"]},{ln["y2"]} {ln["x1"]},{ln["y2"]}"/>'
            f"<TextEquiv><Unicode>{_xml_escape(ln['text'])}</Unicode></TextEquiv></TextLine>"
        )
    return (
        f'<TextRegion id="{blk["node_id"]}" custom="structure {{type:{blk["label"]};}}">'
        f'<Coords points="{points}"/>' + "".join(ls) + "</TextRegion>"
    )


def plan_doc(doc_id: int, text: str, lang: str) -> dict:
    """Deterministic layout plan for one document — the single source of
    truth shared by the XML renderer (:func:`render_doc`) and the oracle
    sidecar generator (``tools/make_truth.py``). RNG draw order is part
    of the contract: any change here changes the corpus."""
    doc_id = int(doc_id)
    rng = np.random.default_rng([SEED, doc_id])
    h = int(np.searchsorted(_HOST_CDF, rng.random()))
    url = f"https://host{h:03d}.example.org/doc/{doc_id:06d}"
    words = text.split(" ")

    # Chunk words into lines (4-8 words), lines into blocks (1-4 lines).
    lines: list[list[str]] = []
    i = 0
    while i < len(words):
        n = int(rng.integers(4, 9))
        lines.append(words[i : i + n])
        i += n
    blocks: list[list[list[str]]] = []
    i = 0
    while i < len(lines):
        n = int(rng.integers(1, 5))
        blocks.append(lines[i : i + n])
        i += n

    content_per_page = int(rng.integers(3, 6))
    pages_blocks = [blocks[i : i + content_per_page] for i in range(0, len(blocks), content_per_page)]
    if not pages_blocks:
        pages_blocks = [[]]
    pages: list[dict] = []
    for pnum, pblocks in enumerate(pages_blocks, start=1):
        regions = []
        # Boilerplate: host-templated header at top.
        regions.append(
            _plan_block(
                f"p{pnum}_hdr", "header", X_LEFT, 40, X_RIGHT, 40 + LINE_H - 10,
                [(f"p{pnum}_hdr_l0", f"host{h:03d} navigation home about contact")], rng,
            )
        )
        y = 150
        for bi, blines in enumerate(pblocks):
            first_of_doc = pnum == 1 and bi == 0
            label = "heading" if (first_of_doc and len(blines) == 1) else "paragraph"
            x1 = _even(X_LEFT + rng.integers(0, 20))
            x2 = _even(X_RIGHT - rng.integers(0, 20))
            bh = LINE_H * len(blines)
            bid = f"p{pnum}_b{bi}"
            ltups = [(f"{bid}_l{li}", " ".join(ws)) for li, ws in enumerate(blines)]
            regions.append(_plan_block(bid, label, x1, _even(y), x2, _even(y + bh - 10), ltups, rng))
            y += bh + BLOCK_GAP
        # Boilerplate: page number + footer nav at bottom.
        regions.append(
            _plan_block(
                f"p{pnum}_pn", "page-number", _even(PAGE_W / 2 - 20), 2860, _even(PAGE_W / 2 + 20), 2900,
                [(f"p{pnum}_pn_l0", str(pnum))], rng,
            )
        )
        regions.append(
            _plan_block(
                f"p{pnum}_ftr", "other", X_LEFT, 2920, X_RIGHT, 2960,
                [(f"p{pnum}_ftr_l0", f"copyright host{h:03d} terms privacy sitemap")], rng,
            )
        )
        pages.append({"pnum": pnum, "regions": regions})
    warc_ts = EPOCH + _dt.timedelta(seconds=37 * doc_id)
    return {
        "doc_id": doc_id, "url": url, "host": h, "lang": lang,
        "warc_ts": warc_ts, "pages": pages,
    }


def render_doc(doc_id: int, text: str, lang: str) -> tuple[str, _dt.datetime, bytes]:
    """Render one document. Returns (url, warc_ts, html bytes)."""
    plan = plan_doc(doc_id, text, lang)
    page_xmls = [
        f'<Page n="{pg["pnum"]}" imageWidth="{PAGE_W}" imageHeight="{PAGE_H}">'
        + "".join(_block_xml(blk) for blk in pg["regions"])
        + "</Page>"
        for pg in plan["pages"]
    ]
    html = f'<PcGts lang="{plan["lang"]}">' + "".join(page_xmls) + "</PcGts>"
    return plan["url"], plan["warc_ts"], html.encode("utf-8")


# ---------------------------------------------------------------------------
# Table fixture family (full C9 input): deterministic tables with row
# skew + cell-top jitter, the analogue of the reference's ABP tables.
# ---------------------------------------------------------------------------
TABLE_X0 = 100
TABLE_Y0 = 120
TABLE_COL_W = 160
TABLE_LINE_H = 18
TABLE_LINE_GAP = 4
TABLE_CELL_PAD = 6
TABLE_ROW_GAP = 14


def plan_table(table_id: int) -> dict:
    """Deterministic table layout plan: n_rows x n_cols cells, 1-3 text
    lines per cell, per-cell top jitter (+-4px) and a global row skew
    (linear in x, |slope| <= 0.012 so rows stay separable by the 10px
    cut miner — the identifiability margin the detector is entitled to).
    Ground-truth row ids and BIESO tags come from the construction."""
    rng = np.random.default_rng([SEED, 777, int(table_id)])
    n_rows = int(rng.integers(4, 10))
    n_cols = int(rng.integers(3, 7))
    skew = float(rng.uniform(-0.012, 0.012))
    lines: list[dict] = []
    y = TABLE_Y0
    for r in range(n_rows):
        n_lines = [int(rng.integers(1, 4)) for _ in range(n_cols)]
        row_h = max(n_lines) * (TABLE_LINE_H + TABLE_LINE_GAP) + 2 * TABLE_CELL_PAD
        for c in range(n_cols):
            x1 = TABLE_X0 + c * TABLE_COL_W
            x2 = x1 + TABLE_COL_W - 12
            jitter = int(rng.integers(-4, 5))
            top = y + TABLE_CELL_PAD + jitter + skew * (x1 - TABLE_X0)
            k = n_lines[c]
            for li in range(k):
                ly1 = top + li * (TABLE_LINE_H + TABLE_LINE_GAP)
                tag = "RS" if k == 1 else "RB" if li == 0 else "RE" if li == k - 1 else "RI"
                lines.append(
                    {
                        "node_id": f"t{table_id}_r{r}_c{c}_l{li}",
                        "col_id": c, "gt_row": r, "tag": tag,
                        "x1": float(x1), "y1": float(ly1),
                        "x2": float(x2), "y2": float(ly1 + TABLE_LINE_H),
                    }
                )
        y += row_h + TABLE_ROW_GAP
    return {
        "table_id": int(table_id), "url": f"table:{int(table_id):04d}",
        "n_rows": n_rows, "n_cols": n_cols, "skew": skew, "lines": lines,
    }


TABLE_LINES_SCHEMA = (
    "url string, table_id int, node_id string, col_id int, gt_row int, "
    "tag string, x1 double, y1 double, x2 double, y2 double"
)


def table_lines_df(spark: SparkSession, n_tables: int = 40) -> DataFrame:
    """Distributed fixture generation: one row per text line over
    ``n_tables`` planned tables (mapInPandas over a range — the same
    scale shape as pages_from_documents)."""
    ids = spark.range(n_tables).withColumnRenamed("id", "table_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for tid in pdf["table_id"]:
                plan = plan_table(int(tid))
                for ln in plan["lines"]:
                    rows.append(dict(ln, url=plan["url"], table_id=plan["table_id"]))
            cols = ["url", "table_id", "node_id", "col_id", "gt_row", "tag",
                    "x1", "y1", "x2", "y2"]
            yield pd.DataFrame(rows, columns=cols)

    return ids.mapInPandas(gen, schema=TABLE_LINES_SCHEMA)


def pages_from_documents(spark: SparkSession, sf_dir: str, multiplier: int = 1) -> DataFrame:
    """documents.parquet -> pages DataFrame (distributed, deterministic).

    Runs as ``mapInPandas`` so synthesis scales with the cluster; the
    output is the authoritative input-shape table for the whole pipeline.

    ``multiplier`` > 1 replicates the corpus deterministically (doc_id
    offset by 10^7 per replica, which reshuffles host draws and layout
    RNG) — used to amplify bench inputs beyond the driver-provided SFs.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text", "lang")
    if multiplier > 1:
        reps = spark.range(multiplier).withColumnRenamed("id", "rep")
        docs = (
            docs.crossJoin(reps)
            .withColumn("doc_id", F.col("doc_id") + F.col("rep") * F.lit(10_000_000))
            .drop("rep")
            # the small documents parquet is a single input split, so an
            # amplified corpus would otherwise be SYNTHESIZED in one
            # task; spread the generation before the expensive kernel
            .repartition(F.col("doc_id"))
        )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, tss, htmls = [], [], []
            for doc_id, text, lang in zip(pdf["doc_id"], pdf["text"], pdf["lang"]):
                u, ts, hb = render_doc(int(doc_id), text, lang)
                urls.append(u)
                tss.append(ts)
                htmls.append(hb)
            yield pd.DataFrame(
                {
                    "url": urls,
                    "warc_ts": tss,
                    "html": htmls,
                    "text": list(pdf["text"]),
                    "lang": list(pdf["lang"]),
                }
            )

    return docs.mapInPandas(gen, schema=PAGES_SCHEMA)


def documents_amplified(spark: SparkSession, sf_dir: str, multiplier: int) -> DataFrame:
    """Amplify the documents table for dedup/similarity benchmarks while
    preserving pair structure: each replica renames the whole token
    vocabulary (token -> token + '_r<rep>'). A bijection on tokens maps
    shingle sets bijectively, so within-replica Jaccard values are
    EXACTLY preserved (planted near-dup pairs scale linearly with the
    multiplier) while replicas share zero shingles (no cross-replica
    pair explosion). All JVM-side column ops."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if multiplier <= 1:
        return docs
    reps = spark.range(multiplier).withColumnRenamed("id", "rep")
    rep_tok = F.concat(F.lit("_r"), F.col("rep").cast("string"))
    return (
        docs.crossJoin(reps)
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * F.lit(10_000_000))
        .repartition(F.col("doc_id"))  # spread before the per-row transform
        .withColumn(
            "text",
            F.array_join(
                F.transform(F.split("text", " "), lambda t: F.concat(t, rep_tok)), " "
            ),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .drop("rep")
    )


def write_pages(
    spark: SparkSession, sf_dir: str, out_path: str, n_partitions: int = 32,
    multiplier: int = 1,
) -> None:
    """Materialize the pages table as parquet (bench/e2e input snapshot).

    Hash-distributed on url — the explicit partitioning the north rule
    asks for; hot hosts are spread because url (not host) is the key.
    """
    pages_from_documents(spark, sf_dir, multiplier).repartition(
        n_partitions, F.col("url")
    ).write.mode("overwrite").parquet(out_path)
