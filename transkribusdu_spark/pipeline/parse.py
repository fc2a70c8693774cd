"""Parse stage: ``pages.html`` -> one row per layout node.

Spark shape: document parsing is embarrassingly parallel, so this stage
is map-only (no shuffle): :func:`parse_batch` is the per-document loop
of :func:`.perdoc.per_doc`, the one ``mapInArrow`` over the pages
table's ``url``/``html`` (Catalyst prunes every other page column out
of the scan), and :func:`parse_pages` is that pass with a kernel that
returns the parsed columns.

Reference semantics reproduced (SURVEY.md §2.2 P1-P10):
- node iteration per configured XPath (``graph/NodeType_PageXml.py:126-200``)
- text = ``" ".join(nd.itertext())`` (``xml_formats/PageXml.py:282-291``)
  over each TextLine, lines joined by single space — byte-exact.
- polygon -> fitted axis-aligned rectangle = bounding box
  (``util/Polygon.py:38-43,104``)
- label parsed from the CSS-ish ``custom`` attribute
  (``xml_formats/PageXml.py:223-263``), default ``other``
- empty-graph filter (``graph/Graph.py:338-339``)
"""

from __future__ import annotations

import re
from typing import Iterator, Mapping, Sequence

from xml.etree import ElementTree as etree
from pyspark.sql import DataFrame

from ..schemas import NODES_SCHEMA

_CUSTOM_RE = re.compile(r"(\w[\w-]*)\s*\{([^}]*)\}")
_KV_RE = re.compile(r"([\w-]+)\s*:\s*([^;]*)\s*;?")


def parse_custom_attr(custom: str) -> dict[str, dict[str, str]]:
    """Parse ``custom="readingOrder {index:9;} structure {type:heading;}"``
    into nested dicts (reference ``PageXml.parseCustomAttr``,
    ``xml_formats/PageXml.py:223-263``)."""
    out: dict[str, dict[str, str]] = {}
    for name, body in _CUSTOM_RE.findall(custom or ""):
        out[name] = {k: v.strip() for k, v in _KV_RE.findall(body)}
    return out


from functools import lru_cache

# Real Transkribus PageXML routinely embeds a per-region readingOrder
# index in @custom ("readingOrder {index:3;} structure {type:p;}"),
# making nearly every raw value distinct — so the cache is keyed on the
# custom string WITH the readingOrder clause stripped (the label only
# depends on the structure clause), keeping the hit rate ~100% on both
# synthetic and real corpora.
_RO_STRIP_RE = re.compile(r"readingOrder\s*\{[^}]*\}\s*")


@lru_cache(maxsize=65536)
def _label_of_structure(custom_wo_ro: str, type_attr: str | None) -> str:
    c = parse_custom_attr(custom_wo_ro)
    return c.get("structure", {}).get("type") or type_attr or "other"


def _label_of(custom: str | None, type_attr: str | None) -> str:
    """Label from the custom attr (structure.type), else @type, else
    'other'. The cached regex scans run once per distinct
    structure-clause value per worker, not once per node (measured 10%
    of parse time)."""
    c = custom or ""
    if "readingOrder" in c:
        c = _RO_STRIP_RE.sub("", c)
    return _label_of_structure(c, type_attr)


def node_text(nd: etree.Element) -> str:
    """Exact reference join semantics: ``" ".join(nd.itertext())``
    (``xml_formats/PageXml.py:282-291``). The byte-identical surface.
    Leaf fast path: for a childless element ``itertext`` yields exactly
    its truthy ``.text`` (or nothing), so the generator + join is
    skipped — same bytes, ~2x less call overhead on the dominant
    leaf-``<Unicode>`` case."""
    if not len(nd):
        return nd.text or ""
    return " ".join(nd.itertext())


def fit_rectangle(points: list[tuple[float, float]]) -> tuple[float, float, float, float]:
    """Polygon -> axis-aligned bounding rectangle
    (``util/Polygon.py:38-43,104``)."""
    xs = [p[0] for p in points]
    ys = [p[1] for p in points]
    return min(xs), min(ys), max(xs), max(ys)


def parse_points(s: str) -> list[tuple[float, float]]:
    return [(float(x), float(y)) for x, y in (pt.split(",") for pt in s.split())]


def _bbox_of_points(s: str) -> tuple[float, float, float, float]:
    """Fused parse_points + fit_rectangle without intermediate tuples
    (the geometry hot path; identical float values — C-level
    replace/split + map(float) instead of a Python per-point loop,
    measured 26% of parse time before)."""
    vals = list(map(float, s.replace(",", " ").split()))
    # well-formed = whitespace-separated "x,y" tokens: exactly one comma
    # per point and the comma inside the token (" 10, 20" or "10 ,20"
    # must RAISE like the per-point parser did, not silently re-pair)
    n2 = 2 * len(s.split())
    if not vals or len(vals) != n2 or 2 * s.count(",") != n2:
        raise ValueError(f"bad points string: {s!r}")
    xs = vals[0::2]
    ys = vals[1::2]
    return min(xs), min(ys), max(xs), max(ys)


def _first_child(el: etree.Element, tag: str) -> etree.Element | None:
    """First direct child with ``tag`` — same element ``el.find(tag)``
    returns, without the ElementPath machinery (~3x faster; measured
    1/3 of parse time was path selection, not XML parsing)."""
    for c in el:
        if c.tag == tag:
            return c
    return None


def _te_unicode(tl: etree.Element) -> etree.Element | None:
    """First Unicode under a TextEquiv child — exact
    ``tl.find("TextEquiv/Unicode")`` semantics (first TextEquiv that
    HAS a Unicode, in document order) via direct child walks."""
    for c in tl:
        if c.tag == "TextEquiv":
            for u in c:
                if u.tag == "Unicode":
                    return u
    return None


def parse_doc_cols(url: str, html: bytes,
                   kinds: tuple[str, ...] = ("TextRegion",)) -> dict[str, list]:
    """Columnar ET parse: one document -> dict of per-column lists in
    ``NODES_SCHEMA`` order, one entry per node in document order. Fields
    constant per document/page (url, doc_id, page dims, kind, ...) are
    filled with C-speed list multiplication AFTER the walk instead of
    being re-appended per region, which is where a row-dict assembly
    spent most of its time (measured: 106 -> ~80 us/doc).
    ``pd.DataFrame(parse_doc_cols(...))`` is the node table of one
    document. Raises on malformed input; :func:`parse_batch` is the one
    caller that decides what a failure means."""
    root = etree.fromstring(html)
    pages = [el for el in root.iter("Page") if el is not root]
    page_cnt = len(pages)
    want_region = "TextRegion" in kinds
    want_line = "TextLine" in kinds
    try:
        doc_id = int(url.rsplit("/", 1)[1])
    except (ValueError, IndexError):
        doc_id = None
    if doc_id is not None and not -(2**63) <= doc_id < 2**63:
        doc_id = None  # outside the long column: Arrow would fail the batch
    # per-region varying columns (regions and lines appended in document
    # order, exactly as the row form emitted them)
    c_pnum: list[int] = []
    c_pw: list[float] = []
    c_ph: list[float] = []
    c_nid: list[str | None] = []
    c_kind: list[str] = []
    c_x1: list[float] = []
    c_y1: list[float] = []
    c_x2: list[float] = []
    c_y2: list[float] = []
    c_text: list[str] = []
    c_ridx: list[int] = []
    c_label: list[str] = []
    c_parent: list[str | None] = []
    for pnum, page in enumerate(pages, start=1):
        pw = float(page.get("imageWidth", "0"))
        ph = float(page.get("imageHeight", "0"))
        ridx = 0
        for region in page.iter("TextRegion"):
            coords = _first_child(region, "Coords")
            if coords is None:
                continue
            x1, y1, x2, y2 = _bbox_of_points(coords.get("points", "0,0"))
            label = _label_of(region.get("custom"), region.get("type"))
            lines = list(region.iter("TextLine"))
            # TextLine text via itertext; region text joins line texts with
            # a single space (nested-text fallback semantics,
            # ``graph/NodeType_PageXml.py:311-337``).
            unis = [_te_unicode(tl) for tl in lines]
            if want_region:
                c_pnum.append(pnum)
                c_pw.append(pw)
                c_ph.append(ph)
                c_nid.append(region.get("id"))
                c_kind.append("TextRegion")
                c_x1.append(x1)
                c_y1.append(y1)
                c_x2.append(x2)
                c_y2.append(y2)
                c_text.append(" ".join(node_text(u) for u in unis if u is not None))
                c_ridx.append(ridx)
                c_label.append(label)
                c_parent.append(None)
            if want_line:
                for li, tl in enumerate(lines):
                    uni = unis[li]
                    lcoords = _first_child(tl, "Coords")
                    if uni is None or lcoords is None:
                        continue
                    lx1, ly1, lx2, ly2 = _bbox_of_points(lcoords.get("points", "0,0"))
                    c_pnum.append(pnum)
                    c_pw.append(pw)
                    c_ph.append(ph)
                    c_nid.append(tl.get("id") or f"{region.get('id')}_l{li}")
                    c_kind.append("TextLine")
                    c_x1.append(lx1)
                    c_y1.append(ly1)
                    c_x2.append(lx2)
                    c_y2.append(ly2)
                    c_text.append(node_text(uni))
                    c_ridx.append(li)
                    c_label.append(label)
                    c_parent.append(region.get("id"))
            ridx += 1
    n = len(c_nid)
    return {
        "url": [url] * n, "doc_id": [doc_id] * n,
        "page_num": c_pnum, "page_w": c_pw, "page_h": c_ph,
        "page_cnt": [page_cnt] * n,
        "node_id": c_nid, "kind": c_kind,
        "x1": c_x1, "y1": c_y1, "x2": c_x2, "y2": c_y2,
        "text": c_text, "orientation": [0] * n,
        "reading_index": c_ridx, "label": c_label, "parent_id": c_parent,
    }


# A real document never has this many layout regions; a pathological
# one (scraped garbage, a dumped table of 100k rows) would make every
# downstream O(n log n)-to-O(n^2) per-doc stage (LOS sweep candidates,
# dual graph ~ sum deg^2) a straggler or an OOM. Truncation keeps the
# HEAD of the document in reading order and is never silent: the doc's
# status says ``truncated:<n>`` (see parse_batch).
MAX_NODES_PER_DOC = 20_000


def parse_batch(
    batch: Mapping[str, Sequence],
    kinds: tuple[str, ...] = ("TextRegion",),
    max_nodes_per_doc: int | None = MAX_NODES_PER_DOC,
) -> Iterator[tuple[str, dict[str, list] | None, str]]:
    """The one per-document parse loop, iterated by :func:`.perdoc.per_doc`
    over each Arrow batch's ``to_pydict()`` (any mapping with
    ``url``/``html`` columns). It yields, per input document in input
    order, ``(url, cols, status)``:

    - ``ok``: ``cols`` is the :func:`parse_doc_cols` output;
    - ``truncated:<n>``: the document had n > ``max_nodes_per_doc``
      nodes and ``cols`` is already cut to the first ``max_nodes_per_doc``
      in document order (``None`` disables the cap);
    - ``error:<Type>: <msg>``: the document failed to parse and ``cols``
      is None. A malformed document never kills the job — mandatory at
      web scale, where input is always partly garbage — and the status is
      its audit record, from the same pass that produced the output."""
    for url, html in zip(batch["url"], batch["html"]):
        try:
            cols = parse_doc_cols(url, bytes(html), kinds)
        except Exception as e:
            yield url, None, f"error:{type(e).__name__}: {e}"
            continue
        n = len(cols["node_id"])
        if max_nodes_per_doc and n > max_nodes_per_doc:
            for v in cols.values():
                del v[max_nodes_per_doc:]
            yield url, cols, f"truncated:{n}"
        else:
            yield url, cols, "ok"


def parse_pages(pages: DataFrame, kinds: tuple[str, ...] = ("TextRegion",)) -> DataFrame:
    """pages -> nodes. Map-only; one Arrow batch in, node rows out.

    Documents that fail to parse contribute no rows, and a giant document
    contributes its first ``MAX_NODES_PER_DOC`` nodes (:func:`parse_batch`;
    ``extract.extract_with_status`` reports both per url). ``kinds``
    selects node types (multitype F21).
    """
    from .perdoc import per_doc  # perdoc imports this module

    return per_doc(NODES_SCHEMA, lambda url, cols, status: cols or {}, pages, kinds)


def dedup_guard(nodes: DataFrame) -> DataFrame:
    """P8 node-dedup guard (reference ``graph/Graph.py`` node_id
    uniqueness check): returns the offending rows — (url, node_id, kind,
    n) for ids claimed by more than one node of the same kind. Empty
    result = invariant holds; callers treat non-empty as a data error
    channel."""
    from pyspark.sql import functions as F

    return (
        nodes.groupBy("url", "node_id", "kind")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


def filter_output_files(pages: DataFrame, suffix: str = "_du") -> DataFrame:
    """P9 output-file filter (reference skips its own ``*_du.mpxml``
    outputs when re-listing an input collection): drop rows whose url
    stem carries the output marker."""
    from pyspark.sql import functions as F

    return pages.filter(~F.col("url").rlike(f"{suffix}($|[.?#])"))


def shrink_bboxes(nodes: DataFrame, w_factor: float = 0.066, cap: float = 20.0) -> DataFrame:
    """P5 BBoxDeltaFun shrink (reference ``graph/NodeType_PageXml.py:31-43,
    171-186``): reduce each box by dx = max(w*0.066, min(20, w/3)) per
    axis so overlapping polygons stop confusing the line-of-sight sweep.
    Rounding = round-half-even (``F.rint`` == Python round == the
    reference's ``int(round(v))``), column expressions only."""
    from pyspark.sql import functions as F

    def d(lo, hi):
        w = F.col(hi) - F.col(lo)
        return F.greatest(w * w_factor, F.least(F.lit(cap), w / 3.0))

    dx, dy = d("x1", "x2"), d("y1", "y2")
    return (
        nodes.withColumn("_x1", F.rint(F.col("x1") + dx))
        .withColumn("x2", F.rint(F.col("x2") - dx))
        .withColumn("_y1", F.rint(F.col("y1") + dy))
        .withColumn("y2", F.rint(F.col("y2") - dy))
        .drop("x1", "y1")
        .withColumnRenamed("_x1", "x1")
        .withColumnRenamed("_y1", "y1")
    )
