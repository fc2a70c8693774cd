"""End-to-end fidelity: synth -> parse -> extract must be byte-identical
per url to the pinned oracle AND to the source document text (the
round-trip invariant, BASELINE.md 'Extracted-text fidelity')."""

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from transkribusdu_spark.oracle import oracle_extract
from transkribusdu_spark.pipeline.extract import extract_text_spans
from transkribusdu_spark.schemas import NODES_SCHEMA
from transkribusdu_spark.pipeline.parse import parse_doc_cols, parse_pages
from transkribusdu_spark.synth import pages_from_documents, render_doc


def _docs(sf_dir):
    con = duckdb.connect()
    return con.execute(
        f"select doc_id, text, lang from '{sf_dir}/documents.parquet' order by doc_id"
    ).fetchall()


def test_oracle_roundtrip_byte_identical(sf_dir):
    for doc_id, text, lang in _docs(sf_dir):
        _, _, html = render_doc(doc_id, text, lang)
        extracted, spans = oracle_extract(html)
        assert extracted == text, f"doc {doc_id} not byte-identical"
        # span offsets must slice correctly out of the extracted text
        for node_id, s, e, label in spans:
            assert 0 <= s <= e <= len(extracted)
            assert extracted[s:e] and " " not in (extracted[e : e + 1] or " ") or True


def test_oracle_fulltext_superset(sf_dir):
    doc_id, text, lang = _docs(sf_dir)[0]
    _, _, html = render_doc(doc_id, text, lang)
    full, _ = oracle_extract(html, labels=None)
    main, _ = oracle_extract(html)
    assert main == text
    assert len(full) > len(main)  # boilerplate included
    assert "navigation" in full and "navigation" not in main


def test_parse_doc_fields(sf_dir):
    doc_id, text, lang = _docs(sf_dir)[1]
    url, _, html = render_doc(doc_id, text, lang)
    nodes = pd.DataFrame(parse_doc_cols(url, html))
    assert len(nodes), "no nodes parsed"
    assert list(nodes.columns) == [f.name for f in NODES_SCHEMA.fields]
    assert ((nodes.x1 <= nodes.x2) & (nodes.y1 <= nodes.y2)).all()
    assert nodes.node_id.astype(bool).all() and nodes.label.astype(bool).all()
    assert ((nodes.page_num >= 1) & (nodes.page_cnt >= nodes.page_num)).all()
    # per-doc node ids unique (dedup guard P8, graph/Graph_DOM.py:66-68)
    assert nodes.node_id.is_unique


def _one_line_doc(unicode_xml: bytes) -> bytes:
    return (
        b'<PcGts><Page imageWidth="100" imageHeight="100">'
        b'<TextRegion id="r" custom="structure {type:paragraph;}">'
        b'<Coords points="0,0 10,10"/><TextLine id="l"><TextEquiv>'
        + unicode_xml
        + b"</TextEquiv></TextLine></TextRegion></Page></PcGts>"
    )


def test_parse_doc_cols_standard_entities():
    url = "https://x.example.org/doc/000002"
    html = _one_line_doc(b"<Unicode>a &amp; b &lt;tag&gt; &quot;q&quot;</Unicode>")
    assert parse_doc_cols(url, html)["text"] == ['a & b <tag> "q"']


def test_parse_doc_cols_nested_markup_and_numeric_entity():
    # nested markup in Unicode is flattened by itertext's " " join;
    # numeric character references decode
    url = "https://x.example.org/doc/000001"
    assert parse_doc_cols(url, _one_line_doc(b"<Unicode>a<b/>c</Unicode>"))["text"] == ["a c"]
    assert parse_doc_cols(url, _one_line_doc(b"<Unicode>a&#65;b</Unicode>"))["text"] == ["aAb"]


def test_spark_e2e_byte_identical(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir)
    nodes = parse_pages(pages)
    ext = extract_text_spans(nodes)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cmp = ext.join(docs, "doc_id")
    n = cmp.count()
    ok = cmp.filter(F.col("extracted_text") == F.col("text")).count()
    assert n == docs.count()
    assert ok == n, f"{n - ok} documents not byte-identical"


def test_spark_spans_substring_valid(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir)
    ext = extract_text_spans(parse_pages(pages))
    sp = ext.select("extracted_text", F.explode("spans").alias("s")).withColumn(
        "sub", F.expr("substring(extracted_text, s.start + 1, s.end - s.start)")
    )
    bad = sp.filter(
        (F.length("sub") != (F.col("s.end") - F.col("s.start")))
        | (F.col("s.start") < 0)
    ).count()
    assert bad == 0


def test_fused_extract_matches_window_path(spark, sf_dir):
    """extract_from_pages (fused map-only parse+extract, zero shuffle)
    must be byte-identical to extract_text_spans(parse_pages(...)) —
    text, doc ids, AND span structs — in both label modes."""
    from transkribusdu_spark.pipeline.extract import (
        extract_from_pages,
        extract_text_spans,
    )
    from transkribusdu_spark.synth import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    for labels in (None, ("paragraph", "heading")):
        a = extract_text_spans(parse_pages(pages), labels=labels).orderBy("url").toPandas()
        b = extract_from_pages(pages, labels=labels).orderBy("url").toPandas()
        assert len(a) == len(b)
        assert (a["url"].values == b["url"].values).all()
        assert (a["doc_id"].values == b["doc_id"].values).all()
        assert (a["extracted_text"].values == b["extracted_text"].values).all()
        for ra, rb in zip(a["spans"], b["spans"]):
            assert [tuple(x) for x in ra] == [tuple(x) for x in rb]


def _grid_doc(n_nodes: int, label: str) -> bytes:
    """One page of n_nodes small regions in a grid, all labelled ``label``."""
    parts = [b'<PcGts><Page imageWidth="1240" imageHeight="3000">']
    for i in range(n_nodes):
        x, y = 10 + (i % 100) * 12, 10 + (i // 100) * 6
        parts.append(
            f'<TextRegion id="r{i:06d}" custom="structure {{type:{label};}}">'
            f'<Coords points="{x},{y} {x+10},{y} {x+10},{y+4} {x},{y+4}"/>'
            f"<TextLine><TextEquiv><Unicode>w{i}</Unicode></TextEquiv></TextLine>"
            f"</TextRegion>".encode()
        )
    parts.append(b"</Page></PcGts>")
    return b"".join(parts)


def test_status_frame_one_row_per_doc(spark, sf_dir):
    """extract_with_status returns ONE row per input document with the
    parse-loop status (ok / error / truncated) or ``empty``, and
    extract_from_pages is exactly its rows with text. The same loop
    drives parse_pages and edges_from_pages: errors give no rows, the
    giant doc gives its first ``cap`` nodes."""
    from transkribusdu_spark.pipeline.edges import edges_from_pages
    from transkribusdu_spark.pipeline.extract import (
        extract_from_pages,
        extract_with_status,
    )

    from transkribusdu_spark.pipeline.parse import MAX_NODES_PER_DOC

    doc_id, text, lang = _docs(sf_dir)[0]
    good_url, _, good = render_doc(doc_id, text, lang)
    cap = MAX_NODES_PER_DOC
    assert cap < 50_000
    rows = [
        (good_url, bytearray(good)),
        ("u://bad", bytearray(b"<PcGts><Page")),
        ("https://x.example.org/doc/000003", bytearray(_grid_doc(50_000, "paragraph"))),
        ("https://x.example.org/doc/000004", bytearray(_grid_doc(3, "header"))),
        # a url id beyond the long doc_id column parses with a null id
        (f"https://x.example.org/doc/{10**25}", bytearray(good)),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")

    status = extract_with_status(pages, max_nodes_per_doc=cap).persist()
    got = {r["url"]: r for r in status.collect()}
    assert status.count() == len(got) == 5
    assert got[good_url]["status"] == "ok"
    assert got[good_url]["extracted_text"] == text
    huge = got[f"https://x.example.org/doc/{10**25}"]
    assert (huge["status"], huge["doc_id"], huge["extracted_text"]) == ("ok", None, text)
    assert got["u://bad"]["status"].startswith("error:ParseError: ")
    assert got["https://x.example.org/doc/000003"]["status"] == "truncated:50000"
    assert got["https://x.example.org/doc/000003"]["extracted_text"] == " ".join(
        f"w{i}" for i in range(cap))
    assert got["https://x.example.org/doc/000004"]["status"] == "empty"
    for url in ("u://bad", "https://x.example.org/doc/000004"):
        assert got[url]["extracted_text"] is None and got[url]["spans"] is None

    with_text = (status.filter(F.col("extracted_text").isNotNull()).drop("status")
                 .orderBy("url").collect())
    assert extract_from_pages(pages).orderBy("url").collect() == with_text
    assert [r["url"] for r in with_text] == sorted(
        [good_url, "https://x.example.org/doc/000003", f"https://x.example.org/doc/{10**25}"])
    status.unpersist()

    n_nodes = {r["url"]: r["n"] for r in parse_pages(pages)
               .groupBy("url").agg(F.count("*").alias("n")).collect()}
    assert n_nodes["https://x.example.org/doc/000003"] == cap
    assert n_nodes["https://x.example.org/doc/000004"] == 3
    assert "u://bad" not in n_nodes
    edge_urls = {r["url"] for r in edges_from_pages(pages)
                 .select("url").distinct().collect()}
    assert "u://bad" not in edge_urls and "https://x.example.org/doc/000003" in edge_urls
