"""Fitted-parameter artifact store (SURVEY.md §2.1 S11).

The reference gzip-pickles sklearn transformers and models with a
timestamp-freshness check (``graph/GraphModel.py:92-226``). Pickled
Python objects don't belong on executors; here every fitted artifact is
a small JSON document in a key-value parquet table, versioned by a
config hash — loadable anywhere, diffable, broadcastable.
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException


def config_hash(config: dict[str, Any]) -> str:
    """Deterministic hash of a task config (the freshness key — replaces
    the reference's file-mtime check)."""
    blob = json.dumps(config, sort_keys=True, separators=(",", ":"))
    return hashlib.sha1(blob.encode()).hexdigest()[:16]


def _read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """Read the artifacts table, or None if the store does not exist yet.
    Only the missing-path case is swallowed — genuine read failures
    (corrupt files, permissions) propagate. Stores written by the old
    version-less schema are upgraded on the fly: legacy rows count as
    version 0 so a new save appends version 1 above them."""
    try:
        # mergeSchema: a legacy store holds version-less files next to
        # new versioned appends; without it the inferred schema depends
        # on which footer Spark samples and the version column could
        # silently vanish from a later read.
        df = spark.read.option("mergeSchema", "true").parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise
    if "version" not in df.columns:
        df = df.withColumn("version", F.lit(0).cast("long"))
    else:
        # merged mixed-schema store: legacy rows surface as NULL version
        df = df.withColumn(
            "version", F.coalesce(F.col("version").cast("long"), F.lit(0))
        )
    return df


def _save_artifact(spark: SparkSession, store_dir: str, name: str,
                   payload: Any, cfg_hash: str = "") -> None:
    """Append a new version: version = 1 + max existing version for
    (name, cfg_hash). Plain parquet read order across appended files is
    unspecified, so 'latest' must be an explicit column, not row order."""
    path = os.path.join(store_dir, "artifacts")
    prev = _read_store(spark, path)
    if prev is None:
        version = 1
    else:
        row = (
            prev.filter((prev.name == name) & (prev.cfg_hash == cfg_hash))
            .agg({"version": "max"})
            .collect()[0]
        )
        version = int(row[0] if row[0] is not None else 0) + 1
    df = spark.createDataFrame(
        [(name, cfg_hash, version, json.dumps(payload, sort_keys=True))],
        "name string, cfg_hash string, version long, payload string",
    )
    df.coalesce(1).write.mode("append").parquet(path)


def _load_artifact(spark: SparkSession, store_dir: str, name: str,
                   cfg_hash: str = "") -> Any | None:
    """Latest artifact for (name, cfg_hash) by explicit version column,
    or None if absent/stale."""
    df = _read_store(spark, os.path.join(store_dir, "artifacts"))
    if df is None:
        return None
    rows = (
        df.filter((df.name == name) & (df.cfg_hash == cfg_hash))
        .orderBy("version")
        .collect()
    )
    if not rows:
        return None
    return json.loads(rows[-1].payload)


def save_quantile_splits(spark, store_dir, splits: dict[str, list[float]], cfg: dict) -> str:
    h = config_hash(cfg)
    # +-inf are not JSON; encode as sentinels
    enc = {c: [("-inf" if v == float("-inf") else "inf" if v == float("inf") else v) for v in s]
           for c, s in splits.items()}
    _save_artifact(spark, store_dir, "quantile_splits", enc, h)
    return h


def load_quantile_splits(spark, store_dir, cfg: dict) -> dict[str, list[float]] | None:
    enc = _load_artifact(spark, store_dir, "quantile_splits", config_hash(cfg))
    if enc is None:
        return None
    dec = {}
    for c, s in enc.items():
        dec[c] = [float("-inf") if v == "-inf" else float("inf") if v == "inf" else float(v) for v in s]
    return dec
