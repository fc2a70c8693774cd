"""Top-level composable pipelines (the reference's DU_Task entry points,
SURVEY.md §3, re-expressed as DataFrame -> DataFrame functions).

Extraction (:func:`.pipeline.extract.extract_from_pages`), oracle
conjugate clustering (:func:`conjugate_cluster`) and region segmentation
(:func:`segment_regions`) are map-only: a pages row is a whole
document, so each is one :func:`.pipeline.perdoc.per_doc` pass over
``url``/``html`` that parses every document once and needs no shuffle.
The deterministic learned path (:func:`extract_documents_deterministic`)
is two such passes, a summed fit and a map-only score, smooth and
extract."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from .pipeline.extract import STATUS_SCHEMA, _fused_doc
from .pipeline.model import fit_lda_params, smoothed_labels
from .pipeline.perdoc import per_doc
from .pipeline.segment import oracle_clusters_doc, regions_doc
from .schemas import CLUSTERS_SCHEMA, HULLS_SCHEMA

# The extraction rows of extract_with_status, without the parse status.
_EXTRACT_SCHEMA = StructType([f for f in STATUS_SCHEMA.fields if f.name != "status"])


def conjugate_cluster(pages: DataFrame) -> DataFrame:
    """Conjugate (dual) mode with the edge oracle (the reference's own
    validation trick, M8): edges scored continue iff their endpoints
    share a label, clustered by connected components at 0.5 (SURVEY.md
    §2.8), as ``CLUSTERS_SCHEMA`` rows with ``algo`` ``"cc"``.

    One map-only pass (:func:`.pipeline.perdoc.per_doc`): each document
    is parsed once and solved by :func:`.pipeline.segment.oracle_clusters_doc`
    over node positions (an id-less node links but is not listed; a
    cluster without a named node gives no row). No shuffle. On unique ids
    this is the staged composition, which a trained edge model ``m`` takes::

        nodes = parse_pages(pages)
        connected_components(nodes, predict_edges(m, edge_features(build_edges(nodes), nodes)))
    """

    def kernel(url: str, cols: dict | None, status: str) -> dict[str, list]:
        clusters = oracle_clusters_doc(cols) if cols else []
        k = len(clusters)
        return dict(url=[url] * k, cluster_id=list(range(k)), node_ids=clusters,
                    proba=[None] * k, algo=["cc"] * k)

    return per_doc(CLUSTERS_SCHEMA, kernel, pages)


def extract_documents_deterministic(pages: DataFrame) -> DataFrame:
    """The hash-gateable learned path (SURVEY.md §0 steps 5-6): classify
    every node with the closed-form diagonal-LDA model, Viterbi-smooth
    the labels along reading order with fitted transitions, and extract
    the nodes smoothed to ``main``, as ``(url, doc_id, extracted_text,
    spans)`` rows. This is the pipeline the contract query
    ``extract_predicted_smoothed`` verifies against the independent
    single-node oracle.

    Two :func:`.pipeline.perdoc.per_doc` passes, so each document is
    parsed twice: :func:`.pipeline.model.fit_lda_params` sums per-document
    statistics into one collected row, then one map-only pass scores and
    smooths each document (:func:`.pipeline.model.smoothed_labels`) and
    assembles its text with the same reading order and span offsets as
    :func:`.pipeline.extract.extract_from_pages`. No shuffle; a document
    that fails to parse, or has no node smoothed to ``main``, gives no
    row. Every node is its own span, whatever its ``@id``."""
    params = fit_lda_params(pages)

    def kernel(url: str, cols: dict | None, status: str) -> dict[str, list]:
        if not cols or not cols["node_id"]:
            return {}
        assembled = _fused_doc(dict(cols, label=smoothed_labels(cols, params)), {"main"})
        if assembled is None:
            return {}
        text, spans = assembled
        return dict(url=[url], doc_id=[cols["doc_id"][0]], extracted_text=[text], spans=[spans])

    return per_doc(_EXTRACT_SCHEMA, kernel, pages)


def segment_regions(pages: DataFrame) -> DataFrame:
    """Full segmentation surface: :func:`conjugate_cluster` clusters,
    column splitting via the linear separator (C7) at a 30-unit
    whitespace gap, convex hulls per refined cluster (C4) — the
    cluster->DOM geometry the exporter consumes, as ``HULLS_SCHEMA``
    rows.

    One map-only pass like :func:`conjugate_cluster`: each parsed
    document goes through :func:`.pipeline.segment.regions_doc`, which
    reads each member node's box from the document itself (``n_nodes``
    is the member count). No shuffle."""
    return per_doc(HULLS_SCHEMA, lambda url, cols, status: regions_doc(url, cols) if cols else {},
                   pages)
