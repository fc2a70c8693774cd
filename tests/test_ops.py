"""Training-data ops: dedup, similarity, textstats, multimodal —
validated against DuckDB oracles at sf0.001 (the driver's gate runs the
same comparisons at sf0.01 via tools/check_oracles.py)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from transkribusdu_spark.ops import dedup, similarity, textstats
from transkribusdu_spark.ops.multimodal import attach_media, extract_binary_features


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")
    return con


def test_exact_dedup_counts(docs, duck):
    got = dedup.exact_dedup(docs).agg(F.sum("group_size")).collect()[0][0]
    want = duck.execute("select count(*) from documents").fetchone()[0]
    assert got == want


def test_minhash_lsh_recall_vs_exact(docs):
    exact = dedup.ngram_jaccard_pairs(docs).toPandas()
    lsh = dedup.minhash_lsh_pairs(docs).toPandas()
    want = set(zip(exact.doc_a, exact.doc_b))
    got = set(zip(lsh.doc_a, lsh.doc_b))
    assert want == got  # verification stage makes LSH output == exact set


def test_hot_shingle_guard_bounds_boilerplate_skew(spark):
    """Boilerplate-heavy fixture: every doc shares the 'copyright all
    rights reserved' shingles, two docs are true near-dups. The DF-cap
    guard (on by default) must drop exactly the boilerplate shingles
    (anti-join visible in the plan, candidate join bounded) while the
    true pair — whose similarity comes from below-cap shingles —
    survives with the same jaccard a local post-filter computation gives.
    """
    boiler = "copyright all rights reserved"
    body = " ".join(f"x{j}" for j in range(20))
    texts = {i: f"{boiler} u{i}a u{i}b u{i}c u{i}d" for i in range(40)}
    texts[900] = f"{boiler} {body} same tail here"
    texts[901] = f"{boiler} {body} same tail there"
    docs = spark.createDataFrame(
        [(i, t) for i, t in sorted(texts.items())], "doc_id long, text string"
    )
    cap = 10

    hot = dedup.hot_shingles(docs, max_shingle_df=cap).toPandas()
    n_docs = len(texts)
    assert set(hot.shingle) == {"copyright all rights", "all rights reserved"}
    assert (hot["count"] == n_docs).all()

    pairs = dedup.ngram_jaccard_pairs(docs, max_shingle_df=cap)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan  # the hot-key guard is a broadcast anti-join

    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}

    # local reference with identical post-filter semantics
    def sh3(t):
        toks = t.split(" ")
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    allsh = {i: sh3(t) for i, t in texts.items()}
    from collections import Counter
    df_counts = Counter(s for ss in allsh.values() for s in ss)
    kept = {i: {s for s in ss if df_counts[s] <= cap} for i, ss in allsh.items()}
    import itertools
    want = {}
    for a, b in itertools.combinations(sorted(kept), 2):
        inter = len(kept[a] & kept[b])
        if inter:
            j = inter / (len(kept[a]) + len(kept[b]) - inter)
            if round(j, 6) >= 0.7:
                want[(a, b)] = round(j, 6)
    assert got == want
    assert (900, 901) in got  # the true near-dup pair survives the guard


def test_simhash_matches_duckdb(docs, duck):
    got = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    rows = duck.execute(
        """
        with tok as (select doc_id, unnest(string_split(text,' ')) t from documents),
        h as (select doc_id, cast(('0x'||substr(md5(t),1,15)) as ubigint)::bigint h from tok),
        bits as (select doc_id, b, sum(case when (h >> b) & 1 = 1 then 1 else -1 end) s
                 from h cross join (select unnest(range(60)) b) bb group by 1,2)
        select doc_id, sum(case when s > 0 then (1::bigint << b) else 0 end)::bigint
        from bits group by 1
        """
    ).fetchall()
    for doc_id, sh in rows:
        assert got[doc_id] == sh


def _simhash_ref(text, bits=60):
    """Per-doc simhash by definition: md5-prefix token hashes, bit b set
    iff more tokens have it set than not."""
    import hashlib

    import numpy as np

    h = np.array(
        [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in text.split(" ")],
        dtype=np.int64,
    )
    b = np.arange(bits, dtype=np.int64)
    s = (2 * ((h[:, None] >> b) & 1) - 1).sum(axis=0)
    return int(((s > 0).astype(np.int64) << b).sum())


def test_simhash_open_vocab_chunks_match_reference():
    """A high-entropy batch (every token distinct corpus-wide, plus some
    in-doc repeats) takes the open-vocabulary path and spans several
    SIMHASH_CHUNK_TRIPLES chunks; its signatures equal the definition."""
    import random

    rng = random.Random(3)
    texts = []
    for _ in range(6_000):
        toks = [f"t{rng.getrandbits(48):x}" for _ in range(rng.randrange(20, 90))]
        toks += rng.sample(toks, 5)  # multiplicity counts
        texts.append(" ".join(toks))
    n_triples = sum(len(set(t.split(" "))) for t in texts)
    assert n_triples > 2 * dedup.SIMHASH_CHUNK_TRIPLES  # >= 3 chunks
    got = dedup._simhash_batch(texts, 60)
    assert got.tolist() == [_simhash_ref(t) for t in texts]


def test_simhash_doc_chunks_respect_budget():
    """Chunks cover the docs in order, split only on doc boundaries,
    hold <= budget triples unless one doc alone is larger, and are
    greedy (the next doc would not have fit)."""
    import random

    import numpy as np

    rng = random.Random(5)
    budget = 100
    for _ in range(200):
        sizes = [rng.choice([1, 3, 40, 99, 100, 101, 250]) for _ in range(rng.randrange(1, 40))]
        starts = np.r_[0, np.cumsum(sizes)[:-1]]
        n = sum(sizes)
        chunks = list(dedup._doc_chunks(starts, n, budget))
        assert [gs for gs, _ in chunks] == [0] + [ge for _, ge in chunks[:-1]]
        assert chunks[-1][1] == len(sizes)
        for gs, ge in chunks:
            held = sum(sizes[gs:ge])
            assert held <= budget or ge - gs == 1
            if ge < len(sizes):
                assert held + sizes[ge] > budget


def test_simhash_blocking_equals_allpairs(docs):
    pairs = dedup.simhash_near_pairs(docs, max_hamming=8).toPandas()
    sig = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    import itertools

    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(sig), 2)
        if bin(sig[a] ^ sig[b]).count("1") <= 8
    }
    assert set(zip(pairs.doc_a, pairs.doc_b)) == want


def test_simhash_blocking_equals_allpairs_fallback(docs):
    # max_hamming=9 exercises the 5-chunk <=1-flip fallback scheme
    # (3 chunks cannot cover distance 9: 9 = 3+3+3 > 3*2).
    pairs = dedup.simhash_near_pairs(docs, max_hamming=9).toPandas()
    sig = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    import itertools

    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(sig), 2)
        if bin(sig[a] ^ sig[b]).count("1") <= 9
    }
    assert set(zip(pairs.doc_a, pairs.doc_b)) == want


def test_simhash_blocking_nondefault_bits(docs):
    # Chunk geometry must follow the signature width: at bits=40 the
    # chunks are 3x14 bits and recall must stay exact (a hard-coded
    # 20-bit width would leave the top chunk constant here).
    pairs = dedup.simhash_near_pairs(docs, max_hamming=8, bits=40).toPandas()
    sig = {r.doc_id: r.simhash for r in dedup.simhash(docs, bits=40).collect()}
    import itertools

    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(sig), 2)
        if bin(sig[a] ^ sig[b]).count("1") <= 8
    }
    assert set(zip(pairs.doc_a, pairs.doc_b)) == want


def test_knn_bruteforce_matches_duckdb(emb, duck):
    got = similarity.knn_bruteforce(emb, similarity.self_queries(emb, 5), k=3).toPandas()
    want = duck.execute(
        """
        with e as (select vec_id, embedding::double[] v from embeddings),
        q as (select vec_id query_id, v qv from e order by vec_id limit 5),
        s as (select query_id, vec_id, round(list_cosine_similarity(qv,v),6) cosine
              from q cross join e where vec_id != query_id),
        r as (select *, row_number() over (partition by query_id
              order by cosine desc, vec_id asc) rank from s)
        select query_id, vec_id, cosine, rank from r where rank <= 3
        """
    ).fetchdf()
    g = sorted(map(tuple, got[["query_id", "vec_id", "rank"]].itertuples(index=False)))
    w = sorted(map(tuple, want[["query_id", "vec_id", "rank"]].itertuples(index=False)))
    assert g == w


def test_ann_lsh_recall(emb):
    k = 5
    exact = similarity.knn_bruteforce(emb, similarity.self_queries(emb, 10), k=k).toPandas()
    approx = similarity.ann_lsh(emb, similarity.self_queries(emb, 10), k=k).toPandas()
    want = set(zip(exact.query_id, exact.vec_id))
    got = set(zip(approx.query_id, approx.vec_id))
    recall = len(want & got) / len(want)
    assert recall >= 0.5, f"ANN recall too low: {recall}"


def test_language_id_deterministic(docs):
    out = textstats.language_id(docs).toPandas()
    assert set(out.pred_lang.unique()) <= {"de", "en", "fi", "fr"}
    assert len(out) == docs.count()


def test_multimodal_plumbing(docs):
    media = attach_media(docs)
    feats = extract_binary_features(media).toPandas()
    assert len(feats) == docs.count()
    assert (feats.n_bytes > 0).all()
    assert all(len(h) == 16 for h in feats.byte_hist)
    assert all(abs(sum(h) - 1.0) < 1e-3 for h in feats.byte_hist)


def test_decode_real_is_stubbed(docs):
    from transkribusdu_spark.ops.multimodal import decode_image_real

    with pytest.raises(NotImplementedError):
        decode_image_real(attach_media(docs))


def test_adaptive_lsh_depth_rule():
    """Locks the neardup_planes recall/volume rule (BENCH/LSH_DEPTH.md):
    pinned depths at the measured thresholds, monotone in threshold,
    analytic miss within target at the chosen depth, and the N-cap."""
    import math

    from transkribusdu_spark.ops.similarity import (
        NEARDUP_MISS_TARGET,
        NEARDUP_TABLES,
        neardup_config,
        neardup_planes,
    )

    # pinned values: 0.45/0.85 are the round-2 recall-measured configs
    assert neardup_planes(0.45) == 3
    assert neardup_planes(0.6) == 3
    assert neardup_planes(0.7) == 4
    assert neardup_planes(0.85) == 7
    assert neardup_config(0.45) == (NEARDUP_TABLES, 3)
    # monotone non-decreasing in threshold
    depths = [neardup_planes(t / 100.0) for t in range(30, 96, 5)]
    assert all(a <= b for a, b in zip(depths, depths[1:]))
    # analytic miss at the chosen depth stays within target...
    for t in (0.45, 0.6, 0.7, 0.85, 0.92):
        p = 1.0 - math.acos(t) / math.pi
        pl = neardup_planes(t)
        miss = (1.0 - p**pl) ** NEARDUP_TABLES
        assert miss <= NEARDUP_MISS_TARGET, (t, pl, miss)
        # ...and one level deeper would overshoot (depth is maximal)
        overshoot = (1.0 - p ** (pl + 1)) ** NEARDUP_TABLES
        assert overshoot > NEARDUP_MISS_TARGET, (t, pl, overshoot)
    # small corpora cap depth to keep buckets occupied
    assert neardup_planes(0.9, n_vectors=128) <= 4


def test_ivf_knn_recall(emb):
    k = 5
    exact = similarity.knn_bruteforce(emb, similarity.self_queries(emb, 10), k=k).toPandas()
    approx = similarity.ivf_knn(emb, similarity.self_queries(emb, 10), k=k,
                                n_cells=8, n_probe=4).toPandas()
    want = set(zip(exact.query_id, exact.vec_id))
    got = set(zip(approx.query_id, approx.vec_id))
    recall = len(want & got) / len(want)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # ranks must be dense 1..k per query
    assert (approx.groupby("query_id")["rank"].max() == k).all()


def test_occupancy_aware_neardup_config():
    """Locks the N-aware depth/tables rule: at web-scale N the config
    deepens hashes so expected bucket occupancy stays bounded (or the
    table cap binds, for intrinsically-hard low thresholds) while the
    analytic per-pair miss stays within target."""
    import math

    from transkribusdu_spark.ops.similarity import (
        MAX_BUCKET_OCCUPANCY,
        NEARDUP_MAX_TABLES,
        NEARDUP_MISS_TARGET,
        NEARDUP_TABLES,
        neardup_config,
    )

    # small / unspecified N: unchanged round-3 configs (gate stability)
    assert neardup_config(0.45) == (NEARDUP_TABLES, 3)
    assert neardup_config(0.85) == (NEARDUP_TABLES, 7)
    for n, t in [(10**7, 0.85), (10**9, 0.85), (10**9, 0.7), (10**8, 0.6)]:
        tables, planes = neardup_config(t, n_vectors=n)
        p = 1.0 - math.acos(t) / math.pi
        miss = (1.0 - p**planes) ** tables
        assert miss <= NEARDUP_MISS_TARGET * 1.0000001, (n, t, tables, planes, miss)
        assert tables <= NEARDUP_MAX_TABLES
        occupancy = n / (1 << planes)
        # bounded occupancy unless the table cap binds (documented
        # intrinsic near-quadratic regime)
        assert occupancy <= MAX_BUCKET_OCCUPANCY or tables >= NEARDUP_TABLES, (
            n, t, tables, planes)
    # 1e9 vectors at 0.85: occupancy truly bounded
    tables, planes = neardup_config(0.85, n_vectors=10**9)
    assert 10**9 / (1 << planes) <= MAX_BUCKET_OCCUPANCY
    assert tables > NEARDUP_TABLES  # tables rose to pay for the depth


def test_forced_hot_bucket_blocked_verify():
    """All vectors in ONE bucket, >= 120k of them, verified under a
    capped address-space budget: the blocked kernel needs O(chunk * m)
    scratch where the unblocked m x m similarity matrix would be
    ~115 GB. Runs in a subprocess so the RLIMIT_AS cap cannot leak into
    the test session; also asserts survivor parity against a direct
    O(s^2) check on a planted near-dup cluster. (Sized 120k, not 200k:
    the memory proof is identical — 115 GB vs a 3 GiB cap — and the
    runtime stays minutes under the subprocess deadline even on a
    noisy-neighbor-throttled box, where the 200k form measured within
    5% of the 570 s deadline and flaked.)"""
    import os
    import subprocess
    import sys

    code = r"""
import resource, sys
import numpy as np
# cap address space at 3 GiB: the unblocked 120k x 120k double matrix
# alone would need ~115 GiB, so only a blocked verify can pass
resource.setrlimit(resource.RLIMIT_AS, (3 << 30, 3 << 30))
from transkribusdu_spark.ops.similarity import _verified_bucket_pairs

rng = np.random.default_rng(7)
m, d = 120_000, 8
M = rng.standard_normal((m, d))
# plant a tight cluster: 5 vectors almost identical
base = rng.standard_normal(d)
for i in range(5):
    M[i] = base + 1e-4 * rng.standard_normal(d)
ids = np.arange(m, dtype=np.int64)
va, vb, cs = _verified_bucket_pairs(ids, M, 0.999, block_bytes=256 << 20)
got = set(zip(va.tolist(), vb.tolist()))
want = set()
nrm = np.sqrt((M[:5] ** 2).sum(axis=1))
S = (M[:5] @ M[:5].T) / np.outer(nrm, nrm)
for i in range(5):
    for j in range(i + 1, 5):
        if S[i, j] >= 0.999:
            want.add((i, j))
assert want, "planted cluster produced no pairs"
assert want <= got, (sorted(want - got)[:5], len(got))
# no survivor may violate the guard
assert (cs >= 0.999).all()
print("OK", len(got))
"""
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))), timeout=570,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.startswith("OK")


def test_shingle_hash_sets_match_string_sets(spark, docs):
    """De-risks the shingle-hash space: the 62-bit two-mix hash sets the
    MinHash verify intersects must reproduce string-set sizes AND
    pairwise intersections exactly (collision bound ~m^2/2^63 per doc;
    a 31-bit single mix would break this at megadoc scale with
    ~m^2/2^32 spurious intersections)."""
    from transkribusdu_spark.ops.dedup import shingle_hash_sets

    sub = docs.orderBy("doc_id").limit(80)  # deterministic selection
    pdf = sub.toPandas()
    hs = {r["doc_id"]: set(r["sh"]) for r in shingle_hash_sets(sub).collect()}
    ss = {}
    for r in pdf.itertuples():
        toks = r.text.split(" ")
        if len(toks) < 3:
            continue
        ss[r.doc_id] = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    assert set(hs) == set(ss)
    for did in ss:
        assert len(hs[did]) == len(ss[did]), did
    ids = sorted(ss)
    for i in range(0, len(ids) - 1, 2):
        a, b = ids[i], ids[i + 1]
        assert len(hs[a] & hs[b]) == len(ss[a] & ss[b]), (a, b)


def _trigram_ref(text):
    """The MinHash shingle space by definition: each distinct string word
    trigram of the text as its two 31-bit mixes of md5-prefix token
    hashes (pinned constants, mod 2^31-1 and mod the second prime)."""
    import hashlib

    toks = (text or "").split(" ")
    grams = {tuple(toks[i:i + 3]) for i in range(len(toks) - 2)}
    out = set()
    for g in grams:
        h = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in g]
        s1 = sum(k * (x % dedup.MERSENNE_P) for k, x in zip(dedup._TRIO_K, h))
        s2 = sum(k * (x % dedup._P2) for k, x in zip(dedup._TRIO_K2, h))
        out.add((s1 % dedup.MERSENNE_P, s2 % dedup._P2))
    return out


def _random_texts(rng, n_docs):
    small = ["a", "b", "c", "d", "e"]
    texts = []
    for _ in range(n_docs):
        r = rng.random()
        if r < 0.05:
            texts.append(None)
        elif r < 0.1:
            texts.append("")
        elif r < 0.2:
            texts.append(" ".join(rng.choice(small) for _ in range(rng.randrange(1, 3))))
        elif r < 0.45:  # heavy token repeats, repeated trigrams
            texts.append(" ".join(rng.choice(small) for _ in range(rng.randrange(3, 80))))
        else:
            texts.append(" ".join(f"w{rng.getrandbits(20):x}" if rng.random() < 0.7
                                  else rng.choice(small) for _ in range(rng.randrange(3, 60))))
    return texts


def test_minhash_batch_kernels_match_definition():
    """The signature and verification-set batch kernels (the MinHash
    path's two Arrow kernels, called here without Spark) equal a per-doc
    reference built from the definition: distinct string trigrams,
    md5-prefix token hashes, the mix, then the min over the 64
    permutations, or the sorted distinct packed set. Covers None and
    empty texts, 1-2-token docs, heavy repeats and all-short batches."""
    import random

    rng = random.Random(17)
    P = dedup.MERSENNE_P
    for trial in range(40):
        n_docs = rng.choice([1, 2, 7, 60, 400])
        texts = _random_texts(rng, n_docs)
        if trial == 0:
            texts = [None, "", "a", "a b", "x y"]  # no doc has a trigram
        elif trial == 1:  # neighbouring docs with the same single trigram
            texts = ["a a a", "a a a a", "b", "a a a", "c c c c c"]
        ref = [_trigram_ref(t) for t in texts]
        keep = [bool(r) for r in ref]

        got_keep, sigs = dedup._minhash_batch(texts)
        assert got_keep.tolist() == keep
        want_sigs = [
            [min((a * s1 + b) % P for s1, _ in r) for a, b in zip(dedup._PERM_A, dedup._PERM_B)]
            for r in ref if r
        ]
        assert sigs.tolist() == want_sigs

        got_keep, offsets, values = dedup._shingle_set_batch(texts)
        assert got_keep.tolist() == keep
        sets = [values[offsets[i]:offsets[i + 1]].tolist() for i in range(len(offsets) - 1)]
        assert sets == [sorted({(s1 << 31) + s2 for s1, s2 in r}) for r in ref if r]


def test_blocked_verify_matches_bruteforce_randomized():
    """Property check: for random (m, d, guard, block size) the blocked
    triangular verify emits EXACTLY the brute-force survivor set, with
    cosines equal to the dot/(na*nb) reference within a few ulps (the
    kernel's refine pass sums dots with einsum, the reference with a
    dgemm — summation grouping differs, measured <= 2 ulps; the margin
    stack that matters downstream is 1e-6 guard vs 5e-7 round-6
    granularity) — including block sizes that force chunk=1 stripes and
    guards at -1/+1."""
    import numpy as np

    from transkribusdu_spark.ops.similarity import _verified_bucket_pairs

    rng = np.random.default_rng(123)
    for trial in range(12):
        m = int(rng.integers(2, 120))
        d = int(rng.integers(2, 17))
        guard = float(rng.uniform(-1.0, 1.0)) if trial else 1.0
        bb = int(rng.choice([1, 4096, 1 << 20]))
        M = rng.standard_normal((m, d))
        ids = np.arange(m, dtype=np.int64) * 7  # non-contiguous ids
        va, vb, cs = _verified_bucket_pairs(ids, M, guard, block_bytes=bb)
        nrm = np.sqrt((M ** 2).sum(axis=1))
        S = (M @ M.T) / np.outer(nrm, nrm)
        iu, ju = np.triu_indices(m, 1)
        ref = {(ids[i], ids[j]): S[i, j] for i, j in zip(iu, ju) if S[i, j] >= guard}
        got = dict(zip(zip(va.tolist(), vb.tolist()), cs))
        # survivor sets may differ only for values within 1 ulp of guard
        for k in set(ref) ^ set(got):
            v = ref.get(k, got.get(k))
            assert abs(v - guard) < 1e-12, (trial, k, v, guard)
        for k in set(ref) & set(got):
            assert got[k] == ref[k] or abs(got[k] - ref[k]) < 1e-15, (trial, k)


def test_topk_prune_lossless_randomized():
    """Property check for the per-bucket top-k prune: simulating the
    downstream pipeline (round-6, per-pair max across buckets, rank by
    cosine desc / vec_id asc) over pruned kernel output must give the
    same top-k as the same pipeline over UNPRUNED output — the
    docstring's losslessness claim, exercised across random bucketings
    including duplicate/tied vectors."""
    import numpy as np

    from transkribusdu_spark.ops.similarity import _scored_query_pairs

    rng = np.random.default_rng(77)

    def downstream(rows, k):
        best = {}
        for q, v, c in rows:
            c6 = round(c, 6)
            best[(q, v)] = max(best.get((q, v), -2.0), c6)
        by_q = {}
        for (q, v), c in best.items():
            by_q.setdefault(q, []).append((-c, v))
        out = {}
        for q, cands in by_q.items():
            out[q] = tuple(sorted(cands)[:k])
        return out

    for trial in range(10):
        n, d = int(rng.integers(8, 60)), int(rng.integers(2, 9))
        k = int(rng.integers(1, 6))
        M = rng.standard_normal((n, d))
        if n > 10:
            M[n // 2] = M[0]  # force exact ties
        mids = np.arange(n, dtype=np.int64)
        qn = int(rng.integers(1, 6))
        Q, qids = M[:qn], mids[:qn]
        # random 2-table bucketing
        full, pruned = [], []
        for _ in range(2):
            bkt = rng.integers(0, 3, size=n)
            for b in range(3):
                sel = bkt == b
                qsel = sel[:qn]
                if not qsel.any() or not sel.any():
                    continue
                a = _scored_query_pairs(qids[qsel], Q[qsel], mids[sel], M[sel])
                f = _scored_query_pairs(qids[qsel], Q[qsel], mids[sel], M[sel], k=k)
                full.extend(zip(*[x.tolist() for x in a]))
                pruned.extend(zip(*[x.tolist() for x in f]))
        assert downstream(pruned, k) == downstream(full, k), trial


def test_deepened_lsh_config_end_to_end(spark):
    """The occupancy-aware rule can emit configs beyond the pinned
    (24, 3)/(24, 7) — e.g. 40 tables x 10 planes. Smoke the whole
    bucket-verify path at such a depth: planted exact-duplicate pairs
    share every bucket and must always surface with cosine 1.0."""
    import numpy as np

    from transkribusdu_spark.ops.similarity import lsh_bucket_verified_pairs

    rng = np.random.default_rng(5)
    vecs = [(int(i), rng.standard_normal(64).tolist()) for i in range(200)]
    for a, b in ((500, 501), (510, 511), (520, 521)):
        v = rng.standard_normal(64).tolist()
        vecs.append((a, v))
        vecs.append((b, v))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<double>",
    )
    got = {(r.vec_a, r.vec_b): r.cosine for r in
           lsh_bucket_verified_pairs(emb, 0.99, n_tables=40, n_planes=10,
                                     dim=64).collect()}
    for pair in ((500, 501), (510, 511), (520, 521)):
        assert pair in got and got[pair] == 1.0, (pair, got)


def test_mat64_uniform_rows_reshape_and_ragged_rows_raise():
    import numpy as np
    import pyarrow as pa

    rows = [[float(i * 3 + k) for k in range(3)] for i in range(4)]
    col = pa.chunked_array([pa.array(rows[:1], pa.list_(pa.float32())),
                            pa.array(rows[1:], pa.list_(pa.float32()))])
    assert np.array_equal(similarity._mat64(col, 4), np.array(rows))
    # 63 + 65 = 128 elements divide evenly by 2 rows, but the rows are
    # ragged: this must not silently become a 2 x 64 matrix
    ragged = pa.chunked_array([pa.array([[0.0] * 63, [1.0] * 65], pa.list_(pa.float64()))])
    with pytest.raises(ValueError):
        similarity._mat64(ragged, 2)
