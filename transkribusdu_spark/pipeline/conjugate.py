"""Conjugate (dual) graph construction (SURVEY.md §2.3 J11/J12).

The reference builds the dual graph — primal edges become dual nodes;
dual edges link primal edges sharing an endpoint — with an O(E^2)
pairwise loop (``graph/GraphConjugate.py:59-102``, flagged as an
anti-pattern in SURVEY §4). Here it is a self-join of the edge list on
the shared endpoint: explode each primal edge to its two endpoints,
join on (url, endpoint), emit each unordered dual pair once. Cost is
O(sum_v deg(v)^2) — the true output size — not O(E^2).

Dual node features = primal edge features; dual edge carries the shared
endpoint so its features can be looked up from the primal node
(``GraphConjugate.py`` semantics). ``duplicate_directed`` mirrors the
reference's directed-ECN edge duplication (``gcn/DU_Model_ECN.py:119-171``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _edge_id(src, dst) -> F.Column:
    return F.concat_ws("|", src, dst)


def dual_graph(edges: DataFrame) -> DataFrame:
    """edges (url, src, dst, ...) -> dual edges
    (url, e1 string, e2 string, shared string).

    e1/e2 are primal edge ids 'src|dst'; shared is the common endpoint.
    Each unordered dual pair appears exactly once (e1 < e2).
    """
    eid = edges.select(
        "url", _edge_id("src", "dst").alias("eid"),
        F.explode(F.array("src", "dst")).alias("endpoint"),
    )
    a = eid.select("url", F.col("eid").alias("e1"), "endpoint")
    b = eid.select("url", F.col("eid").alias("e2"), "endpoint")
    return (
        a.join(b, ["url", "endpoint"])
        .filter(F.col("e1") < F.col("e2"))
        .select("url", "e1", "e2", F.col("endpoint").alias("shared"))
        .distinct()
    )


def duplicate_directed(dual: DataFrame) -> DataFrame:
    """J12: append reversed dual edges for directed message passing."""
    fwd = dual.select("url", "e1", "e2", "shared")
    rev = dual.select(
        "url", F.col("e2").alias("e1"), F.col("e1").alias("e2"), "shared"
    )
    return fwd.unionByName(rev)
