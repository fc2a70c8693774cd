"""SparkSession construction with scale-oriented defaults.

The same settings we would ship to a 1000-executor cluster, minus the
cluster manager specifics: AQE on (skew-join splitting + shuffle
coalescing), Arrow enabled for all pandas UDF exchange, bounded Arrow
batch sizes so a giant document batch cannot OOM an executor.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partitions: on a real cluster this is sized to ~2-3x total cores
# and AQE coalesces down. local[32] tests use 32. Every key of
# engine_conf is overridable per session (build_session's
# shuffle_partitions= / extra_conf=, spark-submit --conf).
DEFAULT_SHUFFLE_PARTITIONS = 32


def engine_conf(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The engine's tuned Spark conf — the same settings we would ship
    to a 1000-executor cluster, keyed so both the in-process builder
    (:func:`build_session`) and the spark-submit path
    (:func:`submit_session`) share one source of truth."""
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        # AQE: runtime re-planning — shuffle coalescing, skew-join splitting.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Let AQE coalesce the shuffle under a persisted frame too (Spark's
        # default keeps a cached plan's partitioning as planned). Without it
        # the jobs' persisted extraction `status` keeps all 32 partitions of
        # url dedup's window shuffle, and every Python kernel reading it
        # (extraction, MinHash signatures, shingle sets, lineage) runs 32
        # tasks. corpus_job's extraction stage on perfbench dedup snapshots,
        # local[4] on 4 cores, tasks and stage wall without -> with the key
        # (median of 2-3 runs from 15k documents up):
        #   1.5k docs (1.9 MB shuffled): 32, 7.3 s -> 1, 3.4 s
        #   15k docs (20 MB):            32, 7.7 s -> 4, 4.4 s
        #   60k docs (78 MB):            32, 12.9 s -> 5, 8.2 s
        #   240k docs (320 MB):          32, 24.0 s -> 6, 30.1 s
        # Past cores x 64 MB (the advisory partition size) AQE cuts 64 MB
        # partitions, and 6 of them on 4 cores leave two cores idle through
        # a second wave of ~17 s tasks. For a corpus in that band, the jobs'
        # --repartition N sets the partition count (AQE keeps an explicit
        # count), or --conf turns the key off.
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        # Arrow: the only sanctioned Python<->JVM data path.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Batch sizing for every Python map/group UDF: per-batch MEMORY is
        # bounded by maxBytesPerBatch (Spark 4's direct knob — 32 MB
        # keeps a giant-html batch from OOMing a worker, the job the old
        # 512-row cap did indirectly), while the ROW cap is raised to
        # 10k so narrow-row text kernels (minhash/simhash signatures,
        # token factorize) amortize their per-batch numpy/factorize
        # setup over real batches (guide §4.2; measured: simhash pairs
        # 1.55 -> 1.26 s at 50k docs from this alone — 512-row batches
        # were tuned for html payloads and starved every text kernel).
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.execution.arrow.maxBytesPerBatch": str(32 * 1024 * 1024),
        # Broadcast joins for small dims (fitted params, host tables).
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Scan split sizing for a PYTHON-PARSE-BOUND engine: the hot
        # stages spend ~100x more CPU per byte than a columnar scan
        # (html -> Arrow -> ElementTree parse), so a 128 MB split is a
        # multi-minute task and the default 4 MB per-file open cost
        # packs small files into FEW, RAGGED splits (measured: a 1.5 GB
        # / 192-file corpus became 18 splits — one full wave of 16
        # threads plus a 2-task tail that doubled the stage wall). 32 MB
        # splits + 1 MB open cost keep every core in work for JVM scans
        # at small corpus sizes; a per-document Python pass over a
        # parquet pages scan of at most 2 MB runs as one task instead
        # (pipeline/perdoc.py _sized: a cold Python worker costs more
        # than such a task's share of the kernel). At 100 TB
        # both settings are irrelevant to wave shape (hundreds of splits
        # per executor either way) and 32 MB still means ~30 s parse
        # tasks — well above scheduling noise.
        "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(1024 * 1024),
        "spark.ui.enabled": "false",
    }


def build_session(
    app_name: str = "transkribusdu_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    b = SparkSession.builder.appName(app_name).master(master).config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )
    for k, v in engine_conf(shuffle_partitions).items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def submit_session(app_name: str = "transkribusdu_spark") -> SparkSession:
    """Session for spark-submit jobs (north rule: `spark-submit
    --py-files transkribusdu_spark.zip jobs/<job>.py`).

    spark-submit owns master / deploy mode / executor sizing; anything
    it supplied (via --master / --conf / spark-defaults) is already in
    the JVM-side properties, so the engine's tuned conf is applied only
    as a DEFAULT for keys the submitter did not set — a cluster operator
    can override every knob from the command line."""
    from pyspark import SparkConf

    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # Driver launched by spark-submit: the JVM (and its conf — master,
        # --conf entries, spark-defaults) already exists; connect the py4j
        # gateway so SparkConf() below reads it instead of an empty dict.
        # (Top-level import: pyspark.core.* is a 4.x-only path.)
        from pyspark import SparkContext

        SparkContext._ensure_initialized()
    submitted = SparkConf()  # loads spark.* properties set by spark-submit
    b = SparkSession.builder.appName(submitted.get("spark.app.name", app_name))
    if not submitted.contains("spark.master"):
        b = b.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    for k, v in engine_conf().items():
        if not submitted.contains(k):
            b = b.config(k, v)
    return b.getOrCreate()
