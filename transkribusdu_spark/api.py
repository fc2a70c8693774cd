"""Top-level composable pipelines (the reference's DU_Task entry points,
SURVEY.md §3, re-expressed as DataFrame -> DataFrame functions).

Extraction (:func:`extract_documents`) and oracle conjugate clustering
(:func:`conjugate_cluster`) are map-only: a pages row is a whole
document, so each is one Python pass over ``url``/``html`` that parses
every document once and needs no shuffle. The learned paths compose
the staged DataFrame layers (parse, edges, features, model)."""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .pipeline.edges import build_edges
from .pipeline.extract import extract_from_pages, extract_text_spans
from .pipeline.features import edge_features, node_features
from .pipeline.model import (
    predict_nodes,
    train_edge_classifier,
    train_node_classifier,
)
from .pipeline.parse import parse_batch, parse_pages
from .pipeline.segment import oracle_clusters_doc
from .schemas import CLUSTERS_SCHEMA
from .synth import pages_from_documents


def extract_documents(pages: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """The --run path (SURVEY.md §3.2) in ground-truth-label mode:
    scan -> [repartition(url)] -> fused parse+extract (map-only, zero
    shuffle — reading order, join, and spans are doc-local).

    This is the throughput surface benchmarked in bench.py;
    byte-identical to the window-based
    ``extract_text_spans(parse_pages(pages))`` form (parity-locked).
    """
    if n_partitions:
        pages = pages.repartition(n_partitions, F.col("url"))
    return extract_from_pages(pages)


def extract_documents_predicted(pages: DataFrame, node_model) -> DataFrame:
    """Same path but labels come from the trained node classifier
    (boilerplate strip by model, not ground truth)."""
    nodes = parse_pages(pages)
    nf = node_features(nodes, build_edges(nodes))
    pred = predict_nodes(node_model, nf)
    return extract_text_spans(pred, labels=("main",), label_col="pred_label")


def conjugate_cluster(pages: DataFrame) -> DataFrame:
    """Conjugate (dual) mode with the edge oracle (the reference's own
    validation trick, M8): edges scored continue iff their endpoints
    share a label, clustered by connected components at 0.5 (SURVEY.md
    §2.8), as ``CLUSTERS_SCHEMA`` rows with ``algo`` ``"cc"``.

    One map-only ``mapInArrow`` over ``url``/``html``: each document is
    parsed once (:func:`.pipeline.parse.parse_batch`; a document that
    fails to parse, or has no named node, gives no rows) and solved by
    :func:`.pipeline.segment.oracle_clusters_doc`. No shuffle. A trained
    edge model ``m`` takes the staged composition instead::

        nodes = parse_pages(pages)
        connected_components(nodes, predict_edges(m, edge_features(build_edges(nodes), nodes)))
    """
    schema = to_arrow_schema(CLUSTERS_SCHEMA)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            urls: list[str] = []
            members: list[list[str]] = []
            cids: list[int] = []
            for url, dc, _ in parse_batch(b.to_pydict()):
                if dc is not None:
                    clusters = oracle_clusters_doc(dc)
                    urls += [url] * len(clusters)
                    members += clusters
                    cids += range(len(clusters))
            k = len(urls)
            yield pa.RecordBatch.from_pydict(
                dict(url=urls, cluster_id=cids, node_ids=members,
                     proba=[None] * k, algo=["cc"] * k), schema=schema)

    return pages.select("url", "html").mapInArrow(run, CLUSTERS_SCHEMA)


def extract_documents_deterministic(pages: DataFrame) -> DataFrame:
    """The hash-gateable learned path: fit the closed-form diagonal-LDA
    node classifier (bit-reproducible integer-sum fit), predict,
    Viterbi-smooth with fitted transitions, extract. This is the
    pipeline the contract query `extract_predicted_smoothed` verifies
    against the independent single-node oracle."""
    from .pipeline.model import (
        fit_label_transitions,
        fit_lda_params,
        predict_nodes_lda,
        viterbi_smooth,
    )

    nodes = parse_pages(pages)
    params = fit_lda_params(nodes)
    pred = predict_nodes_lda(nodes, params)
    sm = viterbi_smooth(pred, log_trans=fit_label_transitions(nodes))
    labeled = pred.drop("y_proba").join(sm, ["url", "node_id"])
    return extract_text_spans(labeled, labels=("main",), label_col="smoothed_label")


def segment_regions(pages: DataFrame, min_col_gap: float = 30.0) -> DataFrame:
    """Full segmentation surface: :func:`conjugate_cluster` clusters,
    column splitting via the linear separator (C7), convex hulls per
    refined cluster (C4) — the cluster->DOM geometry the exporter
    consumes. The two geometry stages read the parsed node table."""
    from .pipeline.segment import clusters_with_hulls, split_wide_clusters

    nodes = parse_pages(pages)
    refined = split_wide_clusters(conjugate_cluster(pages), nodes, min_gap=min_col_gap)
    return clusters_with_hulls(refined.drop("separator"), nodes)


def train_models(pages: DataFrame):
    """Fit stage: returns (node_model, edge_model) trained on GT labels."""
    nodes = parse_pages(pages)
    edges = build_edges(nodes)
    nf = node_features(nodes, edges)
    ef = edge_features(edges, nodes)
    return train_node_classifier(nf), train_edge_classifier(ef)


def pages_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pages_from_documents(spark, sf_dir)
