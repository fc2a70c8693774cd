"""End-to-end fidelity: synth -> parse -> extract must be byte-identical
per url to the pinned oracle AND to the source document text (the
round-trip invariant, BASELINE.md 'Extracted-text fidelity')."""

import duckdb
from pyspark.sql import functions as F

from transkribusdu_spark.oracle import oracle_extract
from transkribusdu_spark.pipeline.extract import extract_text_spans
from transkribusdu_spark.pipeline.parse import parse_doc, parse_doc_cols, parse_pages
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
    nodes = parse_doc(url, html)
    assert nodes, "no nodes parsed"
    for n in nodes:
        assert n["x1"] <= n["x2"] and n["y1"] <= n["y2"]
        assert n["node_id"] and n["label"]
        assert n["page_num"] >= 1 and n["page_cnt"] >= n["page_num"]
    # per-doc node ids unique (dedup guard P8, graph/Graph_DOM.py:66-68)
    ids = [n["node_id"] for n in nodes]
    assert len(ids) == len(set(ids))


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


def test_fused_extract_skip_is_audited(spark, sf_dir):
    """A document the fused path SKIPS (parse or assembly raised) must
    appear in extract_errors with its exception — no silent drops."""
    import datetime

    from transkribusdu_spark.pipeline.extract import (
        extract_errors,
        extract_from_pages,
    )
    from transkribusdu_spark.synth import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    bad = spark.createDataFrame(
        [("u://bad", datetime.datetime(2020, 1, 1),
          bytearray(b"<PcGts><Page"), "", "xx")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    both = pages.unionByName(bad)
    n_ok = pages.count()
    assert extract_from_pages(both).count() == n_ok  # bad doc skipped
    errs = {r["url"]: r["error"] for r in extract_errors(both).collect()}
    assert set(errs) == {"u://bad"}
    assert "ParseError" in errs["u://bad"]
