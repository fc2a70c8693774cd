"""BIESO row tagging over a constructed table layout (C9-lite)."""

import numpy as np

from transkribusdu_spark.pipeline.tablerows import bieso_tag_rows, tag_doc_rows


def _table(n_rows=3, n_cols=3, row_h=40, gap=30):
    rows = []
    for r in range(n_rows):
        y1 = 100 + r * (row_h + gap)
        for c in range(n_cols):
            x1 = 100 + c * 200
            rows.append(
                dict(url="u", node_id=f"r{r}c{c}", page_num=1,
                     x1=float(x1), y1=float(y1), x2=float(x1 + 150), y2=float(y1 + row_h))
            )
    # a lone caption line below the table -> RS
    rows.append(dict(url="u", node_id="caption", page_num=1,
                     x1=100.0, y1=400.0, x2=700.0, y2=430.0))
    return {k: np.array([r[k] for r in rows]) for k in rows[0]}


def test_tag_doc_rows_bieso():
    got = tag_doc_rows(_table(), min_gap=10.0)
    tags = dict(zip(got["node_id"], got["bieso"]))
    for r in range(3):
        assert tags[f"r{r}c0"] == "RB"
        assert tags[f"r{r}c1"] == "RI"
        assert tags[f"r{r}c2"] == "RE"
    assert tags["caption"] == "RS"
    # rows are distinct and ordered top-to-bottom
    rid = dict(zip(got["node_id"], got["row_id"]))
    assert rid["r0c0"] < rid["r1c0"] < rid["r2c0"]
    assert rid["r0c0"] == rid["r0c2"]


def test_bieso_distributed_on_synth_lines(spark, sf_dir):
    from transkribusdu_spark.pipeline.parse import parse_pages
    from transkribusdu_spark.synth import pages_from_documents

    nodes = parse_pages(pages_from_documents(spark, sf_dir).limit(30),
                        kinds=("TextLine",))
    tags = bieso_tag_rows(nodes)
    assert tags.count() == nodes.count()
    # every doc-line layout is single-column: all tags must be RS
    vals = {r.bieso for r in tags.select("bieso").distinct().collect()}
    assert vals == {"RS"}
