"""The per-document Arrow harnesses: the url-grouped graph stages, and
the sizing of the map-only pass over pages."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from transkribusdu_spark import api
from transkribusdu_spark.pipeline import perdoc
from transkribusdu_spark.pipeline.extract import extract_with_status
from transkribusdu_spark.pipeline.parse import parse_pages
from transkribusdu_spark.pipeline.perdoc import per_url
from transkribusdu_spark.pipeline.segment import agglomerative_clusters, connected_components
from transkribusdu_spark.synth import pages_from_documents


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


@pytest.fixture(scope="module")
def scan(spark, sf_dir, tmp_path_factory):
    """The sf pages as a 4-file parquet table: a 4-partition scan."""
    out = str(tmp_path_factory.mktemp("perdoc_pages") / "p")
    pages_from_documents(spark, sf_dir).repartition(4).write.parquet(out)
    pages = spark.read.parquet(out)
    assert pages.rdd.getNumPartitions() == 4
    return pages


def _estimate(pages) -> int:
    return pages.select("url", "html")._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()


def test_small_scan_runs_in_one_python_task(scan):
    """A parquet pages scan up to the threshold is one task, still
    map-only: one MapInArrow and no shuffle."""
    assert _estimate(scan) <= perdoc.ONE_TASK_BYTES
    clusters = api.conjugate_cluster(scan)
    assert clusters.rdd.getNumPartitions() == 1
    plan = clusters._jdf.queryExecution().executedPlan().toString()
    assert (plan.count("MapInArrow"), plan.count("Exchange")) == (1, 0)


def test_scan_above_the_threshold_keeps_its_splits(scan, monkeypatch):
    """One task up to the threshold, the scan's own splits above it;
    never a count in between."""
    est = _estimate(scan)
    for threshold, parts in ((est, 1), (est - 1, 4), (1, 4)):
        monkeypatch.setattr(perdoc, "ONE_TASK_BYTES", threshold)
        assert parse_pages(scan).rdd.getNumPartitions() == parts, threshold
    monkeypatch.setattr(perdoc, "ONE_TASK_BYTES", est)
    filtered = scan.filter(F.col("url").isNotNull())
    assert parse_pages(filtered).rdd.getNumPartitions() == 1


def _coalesced(frame) -> bool:
    return "Coalesce" in frame._jdf.queryExecution().executedPlan().toString()


def test_input_not_from_a_file_scan_keeps_its_partitions(spark, scan, sf_dir, monkeypatch):
    """An RDD (Spark derives its size from Long.MaxValue), a Python map
    and a shuffle decide their partitions, and none of them is
    coalesced, however large the threshold."""
    monkeypatch.setattr(perdoc, "ONE_TASK_BYTES", 2 ** 63)
    assert _coalesced(parse_pages(scan))
    frames = {
        "rdd": spark.createDataFrame(scan.rdd, scan.schema),
        "python map": pages_from_documents(spark, sf_dir),
        "shuffle": scan.dropDuplicates(["url"]),
    }
    for name, frame in frames.items():
        assert not _coalesced(parse_pages(frame)), name


def test_explicit_repartition_keeps_its_partitions(scan):
    """The jobs' ``--repartition N`` (a hash repartition on url before
    extraction) still gives the extraction N tasks."""
    status = extract_with_status(scan.repartition(3, F.col("url")))
    assert status.rdd.getNumPartitions() == 3
    assert status.count() == scan.count()
