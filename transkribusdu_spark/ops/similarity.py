"""Similarity search over an embedding column (array<float>).

- Brute-force cosine top-k: exact baseline (cross join pruned to the
  query set, window top-k) — correct at any k, cost O(Q*N).
- Random-hyperplane LSH ANN: deterministic hyperplanes (seeded),
  candidates restricted to matching buckets (with multi-probe via
  several tables), then exact re-rank — the 100 TB path where Q*N is
  not affordable.
- IVF ANN: deterministic Lloyd k-means coarse quantizer (fixed init =
  smallest vec_ids, fixed iterations, centroids rounded to 6 decimals
  so the fit is reproducible bit-for-bit across engines and partition
  orders); vectors live in inverted lists; queries probe the nearest
  n_probe centroids via broadcast centroid expressions (never a
  driver-side collect of the query table) and re-rank exactly within
  those cells — candidate set ~ N * n_probe / n_cells.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import SEED


def _mat64(col: "pa.ChunkedArray", n: int) -> np.ndarray:
    """(n x d) float64 matrix from an Arrow list<float|double> column in
    ONE flatten+reshape memcpy (the per-row ``np.asarray(list)`` loop the
    pandas group path paid cost ~1-2 us per ROW — guide §4.2: hand whole
    batches to native code). float->double widening is exact, so values
    are bit-identical to the per-row form. Ragged lists or nulls (never
    expected for embeddings) take the per-row path, which raises on
    ragged rows instead of reshaping them into a wrong matrix."""
    arr = col.combine_chunks()
    if arr.null_count == 0 and n:
        lens = np.diff(arr.offsets.to_numpy())
        if (lens == lens[0]).all():
            flat = arr.flatten().to_numpy(zero_copy_only=False)
            return flat.reshape(n, lens[0]).astype(np.float64)
    return np.stack([np.asarray(x, dtype=np.float64) for x in arr.to_pylist()])

# 16 tables x 4 planes (16 buckets/table): for a neighbour at cosine
# ~0.4 (angle ~66deg, per-plane agreement ~0.63) detection =
# 1-(1-0.63^4)^16 ~ 0.94 — tuned for top-k recall on near-orthogonal
# high-dim embeddings; raise tables for higher recall at scale
# (candidates/table ~ N/16).
LSH_TABLES = 16
LSH_PLANES = 4

# Near-dup candidate generation needs recall ~1 AT THE THRESHOLD. The
# plane depth is a recall/volume dial: candidate volume scales as
# N^2 / 2^planes per table, while per-pair miss probability is
# (1 - p^planes)^tables with p = 1 - acos(threshold)/pi.
# - threshold 0.45 (p~0.65): shallow hashes are forced — 24x3 gives
#   miss ~5e-4 (measured 0 misses at sf0.001/sf0.01/sf0.1) but buckets
#   hold N/8, so candidates stay near-quadratic. That is intrinsic to
#   low-threshold near-dup detection over near-orthogonal vectors, not
#   an implementation artifact.
# - threshold >= 0.6 (the realistic training-data dedup regime): deep
#   hashes work — 24x7 gives miss ~8e-4 at 0.85 with buckets of N/128,
#   the genuinely sub-quadratic path benched as q9.
NEARDUP_TABLES = 24
NEARDUP_PLANES = 3
NEARDUP_DEEP_PLANES = 7


NEARDUP_MISS_TARGET = 1e-3

# Occupancy / cost bounds for the N-aware config rule. Buckets hold
# ~N/2^P vectors; verification cost per bucket is O(occupancy^2) dots
# (blocked, so memory is bounded — see _verified_bucket_pairs — but
# FLOPs are not). Above MAX_BUCKET_OCCUPANCY the rule deepens hashes
# and compensates with MORE TABLES to keep the analytic miss bound,
# up to NEARDUP_MAX_TABLES (beyond that the threshold is intrinsically
# too low for sub-quadratic LSH and candidate volume grows regardless —
# documented, not silent: see neardup_config).
MAX_BUCKET_OCCUPANCY = 8192
NEARDUP_MAX_TABLES = 256


def neardup_planes(
    threshold: float,
    n_tables: int = NEARDUP_TABLES,
    miss_target: float = NEARDUP_MISS_TARGET,
    n_vectors: int | None = None,
) -> int:
    """Adaptive LSH depth: the DEEPEST plane count whose per-pair miss
    probability at the target cosine stays within ``miss_target``.

    For random hyperplanes, a pair at cosine t agrees on one plane with
    p = 1 - acos(t)/pi; with P planes and T tables,
    miss = (1 - p^P)^T. Solving miss <= miss_target for the largest P:
    P = floor( ln(1 - miss_target^(1/T)) / ln(p) ). Candidate volume
    scales as T * N^2 / 2^P, so depth is the whole recall/volume
    tradeoff — this rule makes it explicit instead of a hard-coded
    two-regime split (the round-2 shape used P=7 for every threshold
    >= 0.6, which at exactly 0.6 would miss ~12% of threshold pairs).
    Measured curve: BENCH/LSH_DEPTH.md (locked by tests/test_ops.py).

    ``n_vectors`` caps depth so expected bucket occupancy stays >= 8 —
    deeper hashes on a small corpus only add empty buckets.
    """
    import math

    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    if p <= 0.0 or p >= 1.0:
        return 1
    req = 1.0 - miss_target ** (1.0 / n_tables)
    planes = int(math.floor(math.log(req) / math.log(p)))
    planes = max(planes, 1)
    if n_vectors:
        planes = min(planes, max(1, int(math.log2(max(n_vectors, 16) / 8.0))))
    return planes


def neardup_config(threshold: float, n_vectors: int | None = None) -> tuple[int, int]:
    """(n_tables, n_planes) for a target cosine threshold. Depth comes
    from the adaptive rule; 0.45 -> 3 planes and 0.85 -> 7 planes keep
    the round-2 recall-measured configurations exactly.

    With ``n_vectors`` the rule is additionally OCCUPANCY-AWARE at the
    large end: when expected bucket occupancy N/2^P exceeds
    ``MAX_BUCKET_OCCUPANCY`` (per-bucket verify FLOPs grow with
    occupancy^2), hashes deepen to restore the bound and tables rise to
    keep the analytic per-pair miss <= NEARDUP_MISS_TARGET:
    miss = (1 - p^P)^T  =>  T = ceil(ln(miss) / ln(1 - p^P)).
    Tables are capped at NEARDUP_MAX_TABLES; if the cap binds, depth
    backs off to the deepest P the capped table count can afford — the
    honest statement that low-threshold near-dup over near-orthogonal
    vectors is intrinsically near-quadratic (you can bound memory, via
    the blocked verify, but not candidate volume). The previous rule
    only ever capped depth DOWN for small corpora, so bucket occupancy
    grew linearly with corpus size at fixed depth."""
    import math

    planes = neardup_planes(threshold, n_vectors=n_vectors)
    tables = NEARDUP_TABLES
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    if (n_vectors and 0.0 < p < 1.0
            and n_vectors / (1 << planes) > MAX_BUCKET_OCCUPANCY):
        want = max(planes, int(math.ceil(math.log2(n_vectors / MAX_BUCKET_OCCUPANCY))))
        # deepest P whose required table count stays under the cap
        for cand_p in range(want, planes - 1, -1):
            # log1p keeps precision when p**cand_p underflows toward 0;
            # a zero/underflowed denominator means the required table
            # count exceeds any cap — treat as "need > max" and keep
            # backing off to shallower depths.
            denom = math.log1p(-(p ** cand_p))
            if denom == 0.0:
                continue
            need = math.ceil(math.log(NEARDUP_MISS_TARGET) / denom)
            if need <= NEARDUP_MAX_TABLES:
                planes, tables = cand_p, max(NEARDUP_TABLES, int(need))
                break
    return (tables, planes)

IVF_CELLS = 16
IVF_PROBE = 4
IVF_ITERS = 3


def embeddings_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def knn_bruteforce(
    embeddings: DataFrame, queries: DataFrame, k: int = 5, include_self: bool = False
) -> DataFrame:
    """Exact top-k cosine neighbours for each query vector.

    queries: (query_id, qv array<double>). Deterministic ordering:
    cosine desc, vec_id asc; score rounded to 6 decimals. The scoring
    stays the JVM fold (``_cosine``): at the deliberately bounded O(Q*N)
    pair volume of this exact baseline it beats an Arrow kernel, whose
    per-row array transfer dominates below ~1M pairs (measured: q5
    0.76s fold vs 1.2s kernel at 200k pairs).
    """
    from .dedup import _cosine

    base = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    j = queries.crossJoin(base)
    if not include_self:
        j = j.filter(F.col("query_id") != F.col("vec_id"))
    j = j.withColumn("cosine", F.round(_cosine(F.col("qv"), F.col("v")), 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        j.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def self_queries(embeddings: DataFrame, n_queries: int = 10) -> DataFrame:
    """First n vectors (by vec_id) as the query set."""
    return (
        embeddings.orderBy("vec_id")
        .limit(n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
    )


def _hyperplanes(dim: int) -> np.ndarray:
    rng = np.random.default_rng([SEED, 7])
    return rng.standard_normal((LSH_TABLES, LSH_PLANES, dim))


def _neardup_hyperplanes(dim: int, n_tables: int = NEARDUP_TABLES,
                         n_planes: int = NEARDUP_PLANES) -> np.ndarray:
    # the (24, 3) stream is pinned to the recall-measured seed; deeper
    # configs get their own stream keyed by depth
    key = [SEED, 11] if n_planes == NEARDUP_PLANES else [SEED, 11, n_planes]
    rng = np.random.default_rng(key)
    return rng.standard_normal((n_tables, n_planes, dim))


def _bucket_expr(vcol, planes: np.ndarray):
    """Sign-bit bucket id for one table: bit p = 1 iff dot(v, plane_p) > 0.
    Declarative fold form — kept as the semantics reference; the batch
    path below computes the same signs with one Arrow matmul."""
    bits = []
    for p in range(planes.shape[0]):
        w = planes[p].tolist()
        dot = F.aggregate(
            F.zip_with(vcol, F.array(*[F.lit(float(x)) for x in w]), lambda a, b: a * b),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        bits.append(F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    return sum(bits[1:], bits[0])


def _buckets_udf(planes: np.ndarray):
    """All tables' bucket ids in ONE vectorized kernel: a (batch x dim)
    @ (dim x tables*planes) matmul, sign bits packed per table. Replaces
    tables*planes interpreted Catalyst folds per row (~170 for the deep
    near-dup config) with one Arrow batch op — the throughput path.

    Value safety vs the fold form: a sign can only differ if |dot| is
    within float-summation noise (~1e-13) of zero; measured min |dot|
    across all configs and SFs is >= 8e-7 (tests lock equality).
    """
    n_tables, n_planes, dim = planes.shape
    flat = planes.reshape(-1, dim).T.copy()  # (dim, tables*planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("array<int>")
    def f(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        bits = (m @ flat) > 0
        bk = (bits.reshape(len(m), n_tables, n_planes) * weights).sum(axis=2)
        return pd.Series(list(bk.astype(np.int32)))

    return f


def _explode_buckets(df: DataFrame, vcol: str, id_cols: list[str], planes: np.ndarray) -> DataFrame:
    """id_cols + (tbl, bkt) rows, one per LSH table."""
    return df.select(
        *id_cols, F.posexplode(_buckets_udf(planes)(F.col(vcol))).alias("tbl", "bkt")
    )


def _cells_udf(cents: list[list[float]]):
    """argmin-cell assignment for a batch of vectors in one Arrow kernel:
    squared L2 to every broadcast centroid via (n x k x d) numpy
    broadcasting, ``np.argmin`` ties -> smallest index (same tie rule as
    the struct-array_min fold form ``_cell_expr``, kept below as the
    semantics reference). Replaces k*d interpreted fold ops per row."""
    c = np.asarray(cents, dtype=np.float64)  # (k, d)

    @F.pandas_udf("int")
    def f(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="int32")
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        d = ((m[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(np.argmin(d, axis=1).astype(np.int32))

    return f


def _sqdist_expr(vcol, center: list[float]):
    """Fold-ordered squared L2 distance to a broadcast centroid literal
    (left fold over dims, same order as the truth-side mirror)."""
    carr = F.array(*[F.lit(float(x)) for x in center])
    return F.aggregate(
        F.zip_with(vcol, carr, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def _cell_expr(vcol, cents: list[list[float]]):
    """argmin cell index over centroid literals; ties -> smallest index
    (struct array_min compares dist first, then index)."""
    structs = [
        F.struct(_sqdist_expr(vcol, c).alias("d"), F.lit(ci).alias("ci"))
        for ci, c in enumerate(cents)
    ]
    return F.array_min(F.array(*structs)).getField("ci")


def ivf_fit(
    embeddings: DataFrame, n_cells: int = IVF_CELLS, n_iters: int = IVF_ITERS
) -> tuple[list[list[float]], DataFrame]:
    """Fit the IVF coarse quantizer: deterministic Lloyd k-means.

    Init = the ``n_cells`` smallest vec_ids; each iteration assigns via
    broadcast centroid expressions (JVM-side) and recomputes means from
    a 16-row aggregate, ROUNDING centroids to 6 decimals so float
    summation order (partitioning, engine) cannot perturb the fit.
    Returns (centroids, assigned) where assigned = (vec_id, v, cell).
    Only O(n_cells) rows ever reach the driver.
    """
    base = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    init = base.orderBy("vec_id").limit(n_cells).collect()
    cents = [list(r.v) for r in init]
    dim = len(cents[0])
    for _ in range(n_iters):
        assigned = base.withColumn("cell", _cells_udf(cents)(F.col("v")))
        aggs = assigned.groupBy("cell").agg(
            F.count("*").alias("n"),
            *[F.sum(F.col("v")[i]).alias(f"s{i}") for i in range(dim)],
        ).collect()
        for r in aggs:
            cents[r["cell"]] = [round(r[f"s{i}"] / r["n"], 6) for i in range(dim)]
    assigned = base.withColumn("cell", _cells_udf(cents)(F.col("v")))
    return cents, assigned


def ivf_knn(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    n_probe: int = IVF_PROBE,
) -> DataFrame:
    """IVF ANN: probe the n_probe nearest cells per query, exact cosine
    re-rank inside. One equi-join on cell — never a full cross join.
    Probe lists are computed as column expressions against the broadcast
    centroid literals, so the query side stays fully distributed.

    Re-rank shape: queries and members cogroup per cell and score with
    ONE blocked (Q_c x d) @ (d x m_c) BLAS matmul per cell (the same
    fused kernel as :func:`ann_lsh`) — vectors cross the Arrow boundary
    once per cell, the pair stream carries scalars only, and the
    per-cell top-k prune bounds output rows. Each vector lives in
    exactly one cell, so no cross-table dedup is needed before the
    global rank."""
    cents, assigned = ivf_fit(embeddings, n_cells)
    dist_structs = F.array(
        *[
            F.struct(_sqdist_expr(F.col("qv"), c).alias("d"), F.lit(ci).alias("ci"))
            for ci, c in enumerate(cents)
        ]
    )
    probe = queries.withColumn(
        "cell",
        F.explode(
            F.transform(F.slice(F.array_sort(dist_structs), 1, n_probe), lambda s: s["ci"])
        ),
    )

    scored = (
        probe.groupBy("cell")
        .cogroup(assigned.groupBy("cell"))
        .applyInArrow(_arrow_score_fn(k), "query_id long, vec_id long, cosine double")
        .withColumn("cosine", F.round("cosine", 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


# Memory budget for ONE scratch stripe of a blocked bucket matmul.
# Per-bucket verify memory is O(block) doubles + the (m x d) member
# matrix + survivors — NEVER O(m^2), so a pathological hot bucket (all
# vectors in one bucket) degrades to more FLOP passes, not an OOM.
VERIFY_BLOCK_BYTES = 128 * 1024 * 1024


def _verified_bucket_pairs(
    ids: np.ndarray, M: np.ndarray, guard: float,
    block_bytes: int = VERIFY_BLOCK_BYTES,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact-cosine survivor pairs (a < b by position) for one bucket's
    member matrix, BLOCKED: the m x m similarity matrix is never
    materialized. Row stripes are TRIANGULAR — stripe rows [lo:hi) only
    score against columns [lo:) (half the element work of full-width
    stripes) — in a two-pass FILTER-then-REFINE shape:

    1. filter: one float32 sgemm over UNIT vectors per stripe, compared
       to the scalar ``guard - 3e-5``. Half the stripe bytes of the
       float64 form, no outer-product norm temporary, and sgemm runs at
       2x dgemm rate — measured ~4x over the dot-side-guard dgemm
       stripe on a 200k-row hot bucket. The 3e-5 slack dominates the
       float32 unit-dot error (<= ~d * 2^-23 relative after
       normalization; ~5e-6 worst-case at d = 64), so the filter can
       admit a thin band of false candidates but never drop a true
       survivor.
    2. refine: survivors only — exact float64 ``dot / (na * nb)`` in
       the original (unnormalized) vectors, the precise op order the
       oracles mirror, then the exact ``>= guard`` cut. Candidate
       volume is tiny, so this pass is negligible.

    The refine pass makes the contract STRICTER than the old
    dot-side-guard form: every returned cosine satisfies the guard
    under the exact final op order (the old kernel's dot-side compare
    could disagree with the returned divide by ~1 ulp). Per-pair einsum
    dots can still differ from a dgemm stripe by ~1 ulp (summation
    grouping), which the existing margin stack covers: the kernel guard
    sits 1e-6 BELOW the threshold while JVM ``F.round(6)`` moves values
    < 5e-7 (same tolerance class as the einsum-vs-fold swap, measured
    margins >= 8e-7; all 50 oracles re-verified green on this kernel).
    Zero-norm rows are dropped in the filter pass (unit form is the
    zero vector, below any positive guard) instead of surfacing NaN
    cosines for downstream filters to discard.

    ``ids`` must be sorted ascending so (a, b) position order is id
    order."""
    m = len(ids)
    nrm = np.sqrt(np.einsum("ij,ij->i", M, M))
    Mn = (M / np.where(nrm == 0.0, 1.0, nrm)[:, None]).astype(np.float32)
    # Filter slack scales with dimension: float32 unit-dot error grows
    # ~d * 2^-24, so the fixed 3e-5 band (ample at the default d = 64,
    # where worst-case error is ~5e-6) would stop covering callers with
    # d in the hundreds — max(3e-5, d * 2^-23) keeps a >= 2x margin over
    # the worst case at any dimension. Unchanged for d <= 251.
    slack = np.float32(guard - max(3e-5, M.shape[1] * 2.0 ** -23))
    out_a: list[np.ndarray] = []
    out_b: list[np.ndarray] = []
    out_c: list[np.ndarray] = []
    lo = 0
    while lo < m - 1:
        chunk = max(1, int(block_bytes // (4 * (m - lo))))
        hi = min(lo + chunk, m)
        cn = hi - lo
        S = Mn[lo:hi] @ Mn[lo:].T  # (cn, m-lo) float32 triangular stripe
        keep = S >= slack
        keep[:, :cn] &= np.triu(np.ones((cn, cn), dtype=bool), 1)
        ia, ib = np.nonzero(keep)
        if len(ia):
            a = ia + lo
            b = ib + lo
            cs = np.einsum("ij,ij->i", M[a], M[b]) / (nrm[a] * nrm[b])
            ok = cs >= guard
            if ok.any():
                out_a.append(ids[a[ok]])
                out_b.append(ids[b[ok]])
                out_c.append(cs[ok])
        lo = hi
    if not out_a:
        z = np.array([], dtype=np.int64)
        return z, z.copy(), np.array([], dtype=np.float64)
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_c)


def lsh_bucket_verified_pairs(
    embeddings: DataFrame,
    threshold: float,
    n_tables: int = NEARDUP_TABLES,
    n_planes: int = NEARDUP_PLANES,
    dim: int = 64,
) -> DataFrame:
    """Near-dup candidate generation AND exact verification fused per
    LSH bucket: the members of each (table, bucket) group are verified
    with ONE BLAS matmul (m x d @ d x m), so vectors cross the
    JVM->Arrow boundary once per table — never once per candidate pair
    — and the pair stream carries scalars only. This is the 100 TB
    verify shape: candidate-pair volume never materializes as array
    traffic, and the per-dot cost is BLAS, not an interpreted fold
    (measured: the per-pair kernel at 50k docs spent ~3 min in per-row
    Arrow conversion; this shape is seconds).

    The kernel pre-filters at (threshold - 1e-6); the exact >= threshold
    cut happens AFTER JVM ``F.round(6)`` so the rounding semantics match
    the fold form and the DuckDB oracle bit-for-bit (F.round can move a
    value by at most 5e-7, inside the guard). Pairs surviving in several
    tables dedup via groupBy-max on the rounded score.

    The vector column rides the bucket explode/shuffle in its STORAGE
    type (array<float>) and is widened to float64 inside the kernel:
    float->double widening is exact, so every dot/cosine is
    bit-identical to the old JVM-side cast while the n_tables-way
    exploded shuffle and the Arrow crossings carry HALF the bytes
    (guide §2.3 narrower types — at 24 tables the vector payload
    dominates this query's shuffle)."""
    planes = _neardup_hyperplanes(dim, n_tables, n_planes)
    base = embeddings.select("vec_id", F.col("embedding").alias("v"))
    b_rows = base.select(
        "vec_id", "v", F.posexplode(_buckets_udf(planes)(F.col("v"))).alias("tbl", "bkt")
    )
    guard = float(threshold) - 1e-6
    empty = pa.table({"vec_a": pa.array([], pa.int64()),
                      "vec_b": pa.array([], pa.int64()),
                      "cosine": pa.array([], pa.float64())})

    # applyInArrow + _mat64: each bucket's member matrix materializes as
    # one flatten/reshape instead of a pandas round-trip with a per-row
    # list conversion (measured 1.85 -> 1.49 s on the 20k x 24-table
    # bench query; values bit-identical, locked by the oracle gate).
    def verify(tbl: "pa.Table") -> "pa.Table":
        n = tbl.num_rows
        if n < 2:
            return empty
        ids = tbl.column("vec_id").to_numpy()
        M = _mat64(tbl.column("v"), n)
        order = np.argsort(ids, kind="stable")
        va, vb, cs = _verified_bucket_pairs(ids[order], M[order], guard)
        return pa.table({"vec_a": pa.array(va, pa.int64()),
                         "vec_b": pa.array(vb, pa.int64()),
                         "cosine": pa.array(cs, pa.float64())})

    pairs = b_rows.groupBy("tbl", "bkt").applyInArrow(
        verify, "vec_a long, vec_b long, cosine double"
    )
    return (
        pairs.withColumn("cosine", F.round("cosine", 6))
        .filter(F.col("cosine") >= threshold)
        .groupBy("vec_a", "vec_b")
        .agg(F.max("cosine").alias("cosine"))
    )


def _scored_query_pairs(
    qids: np.ndarray, Q: np.ndarray, mids: np.ndarray, M: np.ndarray,
    k: int | None = None, block_bytes: int = VERIFY_BLOCK_BYTES,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(query, member) cosine pairs for one bucket, self-pairs dropped,
    BLOCKED over query rows so scratch stays O(chunk * m) — same bound
    as :func:`_verified_bucket_pairs` (a hot bucket costs passes, not
    memory).

    With ``k``, the per-stripe scan runs as a float32 sgemm over unit
    vectors (half the bytes, no outer-product/divide passes — the same
    filter-then-refine shape as :func:`_verified_bucket_pairs`): each
    query keeps pairs within ``6e-5`` of its k-th best float32 cosine,
    then ONLY the kept pairs get the exact float64 ``dot / (qn * mn)``
    — the op order the oracles mirror. Lossless for the final top-k:
    float32 unit-dot error is <= ~5e-6 at d = 64, so the 6e-5 band is a
    strict superset of the old exact ``kth - 1e-6`` band — every pair
    whose exact value could reach the k-th slot (including round(6)
    ties at the boundary, which a 1e-6 margin retains: JVM round moves
    values < 5e-7) survives the filter, and the downstream exact rank
    (cosine desc, vec_id asc) makes the final cut. Output stays ~k
    rows/query (the wider band admits only pairs within 6e-5 of the
    boundary). Non-finite refined cosines (zero-norm rows) are dropped,
    matching the old NaN-compare behaviour.

    Without ``k`` every pair is emitted, so a refine pass would cost
    more than it saves — the float64 stripe computes values directly."""
    m = len(mids)
    qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
    mn = np.sqrt(np.einsum("ij,ij->i", M, M))
    prune = k is not None and m > k
    if prune:
        Qn = (Q / np.where(qn == 0.0, 1.0, qn)[:, None]).astype(np.float32)
        Mn = (M / np.where(mn == 0.0, 1.0, mn)[:, None]).astype(np.float32)
        # k-th-best band scales with dimension like the verify slack:
        # float32 unit-dot error ~d * 2^-24 per dot, two dots compared,
        # so max(6e-5, d * 2^-22) keeps the band a strict superset of
        # the exact one at any caller dimension (unchanged for d <= 251).
        band = np.float32(max(6e-5, M.shape[1] * 2.0 ** -22))
    chunk = max(1, int(block_bytes // ((4 if prune else 8) * m)))
    out_q: list[np.ndarray] = []
    out_v: list[np.ndarray] = []
    out_c: list[np.ndarray] = []
    for lo in range(0, len(qids), chunk):
        hi = min(lo + chunk, len(qids))
        nonself = qids[lo:hi, None] != mids[None, :]
        if prune:
            S32 = Qn[lo:hi] @ Mn.T
            masked = np.where(nonself, S32, np.float32(-np.inf))
            kth = np.partition(masked, m - k, axis=1)[:, m - k]
            keep = nonself & (S32 >= kth[:, None] - band)
            ia, ib = np.nonzero(keep)
            a = lo + ia
            cs = np.einsum("ij,ij->i", Q[a], M[ib]) / (qn[a] * mn[ib])
            fin = np.isfinite(cs)
            out_q.append(qids[a[fin]])
            out_v.append(mids[ib[fin]])
            out_c.append(cs[fin])
            continue
        S = (Q[lo:hi] @ M.T) / np.outer(qn[lo:hi], mn)
        ia, ib = np.nonzero(nonself)
        out_q.append(qids[lo + ia])
        out_v.append(mids[ib])
        out_c.append(S[ia, ib])
    if not out_q:
        z = np.array([], dtype=np.int64)
        return z, z.copy(), np.array([], dtype=np.float64)
    return np.concatenate(out_q), np.concatenate(out_v), np.concatenate(out_c)


def _arrow_score_fn(k: int):
    """Cogrouped Arrow kernel shared by :func:`ann_lsh` and
    :func:`ivf_knn`: queries (query_id, qv) x members (vec_id, v) of one
    bucket/cell scored via :func:`_scored_query_pairs`. Arrow-native
    group handoff + :func:`_mat64` flatten (no pandas round-trip, no
    per-row list conversion); values bit-identical to the pandas form."""
    empty = pa.table({"query_id": pa.array([], pa.int64()),
                      "vec_id": pa.array([], pa.int64()),
                      "cosine": pa.array([], pa.float64())})

    def score(qs: "pa.Table", ms: "pa.Table") -> "pa.Table":
        if not qs.num_rows or not ms.num_rows:
            return empty
        Q = _mat64(qs.column("qv"), qs.num_rows)
        M = _mat64(ms.column("v"), ms.num_rows)
        qid, vid, cs = _scored_query_pairs(
            qs.column("query_id").to_numpy(), Q, ms.column("vec_id").to_numpy(), M, k=k
        )
        return pa.table({"query_id": pa.array(qid, pa.int64()),
                         "vec_id": pa.array(vid, pa.int64()),
                         "cosine": pa.array(cs, pa.float64())})

    return score


def lsh_candidate_pairs(
    embeddings: DataFrame,
    n_tables: int = NEARDUP_TABLES,
    n_planes: int = NEARDUP_PLANES,
    dim: int = 64,
) -> DataFrame:
    """Symmetric LSH candidate pairs (vec_a < vec_b) for near-duplicate
    detection: vectors sharing any table's bucket. The distinct is on the
    ID pair only — vectors are re-joined by the caller, so the dedup
    shuffle never carries float arrays."""
    planes = _neardup_hyperplanes(dim, n_tables, n_planes)
    base = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    b_rows = _explode_buckets(base, "v", ["vec_id"], planes)
    return (
        b_rows.alias("x")
        .join(b_rows.alias("y"), ["tbl", "bkt"])
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b"))
        .distinct()
    )


def ann_lsh(
    embeddings: DataFrame, queries: DataFrame, k: int = 5, dim: int = 64
) -> DataFrame:
    """Approximate top-k: random-hyperplane buckets (16 tables x 16
    buckets), exact cosine re-rank within the union of matching buckets.

    One shuffle on (table, bucket); candidate set is ~N/16 per table —
    at 100 TB this replaces the full scan per query. Exact re-rank is
    fused into the bucket group: a cogrouped (Q_b x d) @ (d x m_b) BLAS
    matmul per bucket scores every query-member pair at once, so float
    arrays cross the Arrow boundary once per table — the scored-pair
    stream and the multi-table dedup (groupBy-max on the JVM-rounded
    score, equal across tables) carry scalars only.

    Member vectors ride the bucket explode/shuffle in their STORAGE type
    (array<float>), widened to float64 inside the kernels: the widening
    is exact, so buckets and cosines are bit-identical to the old
    JVM-side cast while the 16-way exploded shuffle carries half the
    bytes (guide §2.3).
    """
    planes = _hyperplanes(dim)
    base = embeddings.select("vec_id", F.col("embedding").alias("v"))
    b_rows = base.select(
        "vec_id", "v", F.posexplode(_buckets_udf(planes)(F.col("v"))).alias("tbl", "bkt")
    )
    q_rows = queries.select(
        "query_id", "qv", F.posexplode(_buckets_udf(planes)(F.col("qv"))).alias("tbl", "bkt")
    )

    scored = (
        q_rows.groupBy("tbl", "bkt")
        .cogroup(b_rows.groupBy("tbl", "bkt"))
        .applyInArrow(_arrow_score_fn(k), "query_id long, vec_id long, cosine double")
    )
    dedup = (
        scored.withColumn("cosine", F.round("cosine", 6))
        .groupBy("query_id", "vec_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        dedup.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )
