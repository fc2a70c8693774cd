"""The per-document Arrow harness behind the url-grouped graph stages."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from transkribusdu_spark.pipeline.perdoc import per_url
from transkribusdu_spark.pipeline.segment import agglomerative_clusters, connected_components


def test_per_url_hands_a_large_url_to_one_kernel_call(spark):
    """A url with more rows than one Arrow batch holds still reaches the
    kernel as ONE mapping: the graph kernels need the whole document."""
    big = 25_000
    assert int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")) < big
    frame = spark.range(big + 3).select(
        F.when(F.col("id") < big, "big").otherwise("small").alias("url"),
        F.col("id").alias("v"),
    )
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("total", T.LongType()),
    ])

    def count(c):
        return {"url": c["url"][:1].tolist(), "n": [len(c["v"])], "total": [int(c["v"].sum())]}

    got = sorted(tuple(r) for r in per_url(schema, count, frame).collect())
    assert got == [("big", big, big * (big - 1) // 2),
                   ("small", 3, 3 * big + 3)]


def test_clusterers_cover_edgeless_urls_and_skip_nodeless_ones(spark):
    """Cogroup sides: a url with nodes but no scored edges still gets
    one singleton cluster per node; a url with edges but no nodes gets
    no cluster at all."""
    nodes = spark.createDataFrame(
        [("lonely", "b"), ("lonely", "a"), ("joined", "x"), ("joined", "y")],
        "url string, node_id string",
    )
    scores = spark.createDataFrame(
        [("joined", "x", "y", 1.0), ("ghost", "p", "q", 1.0)],
        "url string, src string, dst string, p_continue double",
    )
    for clusterer in (connected_components, agglomerative_clusters):
        got = sorted(
            (r.url, r.cluster_id, tuple(r.node_ids))
            for r in clusterer(nodes, scores).collect()
        )
        assert got == [("joined", 0, ("x", "y")), ("lonely", 0, ("a",)), ("lonely", 1, ("b",))]
