"""Dedup-graph, duplicated-span, repetition, and URL-dedup operators:
DuckDB-oracle parity at sf0.001 plus property tests against local
reference implementations (union-find for connected components)."""

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from transkribusdu_spark.ops import dedup, textstats
from transkribusdu_spark.ops.dedupgraph import (
    dedup_clusters,
    dedup_components,
    dedup_survivors,
)
from transkribusdu_spark.ops.urls import canonical_url, url_dedup, url_dedup_rows


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from '{sf_dir}/documents.parquet'"
    )
    return con


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------
def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize(
    "name,edges",
    [
        ("path", [(i, i + 1) for i in range(30)]),  # worst case for naive label prop
        ("clique", [(a, b) for a in range(10) for b in range(a + 1, 10)]),
        ("stars", [(100 * c, 100 * c + i) for c in range(5) for i in range(1, 8)]),
        ("reverse_path", [(i + 1, i) for i in range(20)]),  # doc_a > doc_b tolerated
        ("single_edge", [(7, 3)]),
    ],
)
def test_components_match_union_find_structured(spark, name, edges):
    got = dict(
        dedup_components(
            spark.createDataFrame(edges, "doc_a long, doc_b long")
        ).collect()
    )
    assert got == _union_find(edges)


def test_components_match_union_find_random(spark):
    rng = random.Random(42)
    nodes = list(range(200))
    edges = [
        (rng.choice(nodes), rng.choice(nodes))
        for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    got = dict(
        dedup_components(
            spark.createDataFrame(edges, "doc_a long, doc_b long")
        ).collect()
    )
    assert got == _union_find(edges)


def test_components_empty_pairs(spark):
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup_components(empty).count() == 0


def test_dedup_clusters_matches_duckdb_transitive_closure(docs, duck):
    got = {
        (r.doc_id, r.component) for r in dedup_clusters(docs).collect()
    }
    want = {
        tuple(r)
        for r in duck.execute(
            """
with recursive docs_t as (select doc_id, string_split(text,' ') toks from documents),
sh as (select doc_id, unnest(list_distinct(
         [toks[i]||' '||toks[i+1]||' '||toks[i+2] for i in range(1, len(toks)-1)])) as shingle
       from docs_t where len(toks) >= 3),
sizes as (select doc_id, count(*) sz from sh group by doc_id),
inter as (select a.doc_id doc_a, b.doc_id doc_b, count(*) n_inter
          from sh a join sh b using (shingle) where a.doc_id < b.doc_id
          group by 1, 2),
pairs as (select doc_a, doc_b
          from inter
          join sizes sa on sa.doc_id = doc_a
          join sizes sb on sb.doc_id = doc_b
          where round(n_inter::double / (sa.sz + sb.sz - n_inter), 6) >= 0.7),
und as (select doc_a u, doc_b v from pairs union select doc_b, doc_a from pairs),
nodes as (select distinct u from und),
reach(u, v) as (
  select u, u from nodes
  union
  select r.u, e.v from reach r join und e on r.v = e.u
)
select u doc_id, min(v) component from reach group by u
"""
        ).fetchall()
    }
    assert got == want
    assert len(got) > 0  # corpus has planted near-dup pairs


def test_survivors_one_per_component_and_isolated_docs_kept(docs):
    pairs = dedup.minhash_lsh_pairs(docs)
    surv = dedup_survivors(docs, pairs).toPandas()
    assert len(surv) == docs.count()
    # exactly one survivor per component, and it is the component min
    by_comp = surv.groupby("component")
    assert (by_comp["survivor"].sum() == 1).all()
    mins = by_comp["doc_id"].min().sort_index()
    kept = surv[surv.survivor].set_index("component")["doc_id"].sort_index()
    assert (mins == kept).all()
    # docs in no pair are their own singleton component
    paired = set(surv[surv.component != surv.doc_id].doc_id)
    comp_ids = set(surv.component)
    assert paired.isdisjoint(comp_ids - set(surv[surv.survivor].doc_id))


# ---------------------------------------------------------------------------
# duplicated n-gram spans
# ---------------------------------------------------------------------------
DUP_SPAN_SQL = """
with t as (select doc_id, string_split(text,' ') toks from documents),
w as (select doc_id, u.pos pos, u.gram gram from (
   select doc_id, unnest([{'pos': i-1,
                           'gram': cast(('0x' || substr(md5(array_to_string(toks[i:i+%(k)d-1], ' ')), 1, 15)) as ubigint)::bigint}
                          for i in range(1, len(toks)-%(k)d+2)]) u
   from t where len(toks) >= %(k)d)),
d as (select *, count(*) over (partition by gram) c from w),
f as (select doc_id, pos from d where c >= 2),
g as (select doc_id, pos,
             case when pos - lag(pos) over (partition by doc_id order by pos) > %(k)d
                  then 1 else 0 end brk from f),
s as (select doc_id, pos,
             sum(brk) over (partition by doc_id order by pos rows unbounded preceding) grp
      from g)
select doc_id, min(pos)::bigint start_tok, (max(pos)+%(k)d-1)::bigint end_tok,
       count(*)::bigint n_windows
from s group by doc_id, grp
"""


def test_duplicate_ngram_spans_matches_duckdb(docs, duck):
    k = dedup.DUP_SPAN_K
    got = {
        tuple(r)
        for r in dedup.duplicate_ngram_spans(docs, k=k).collect()
    }
    want = {tuple(r) for r in duck.execute(DUP_SPAN_SQL % {"k": k}).fetchall()}
    assert got == want
    assert len(got) > 0  # planted near-dups share long exact substrings


def test_duplicate_ngram_spans_literal_spark(spark):
    """Hand-checked fixture: shared 4-gram across two docs + an internal
    repeat inside one doc; overlapping windows merge into one span."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),          # shares a b c d e with doc 2
            (2, "z a b c d e q r"),
            (3, "p q r s p q r s p q r s"),  # internal repetition only
            (4, "lone words only here now"),
        ],
        "doc_id long, text string",
    )
    got = {
        tuple(r)
        for r in dedup.duplicate_ngram_spans(docs, k=4).collect()
    }
    # doc1: windows at pos 0,1 ("a b c d", "b c d e") duplicated in doc2
    #   (pos 1,2) -> doc1 span [0,4], doc2 span [1,5]
    # doc3: "p q r s" occurs at pos 0,4,8 -> windows 0..8 every pos where
    #   gram "p q r s"/"q r s p"/... all repeat -> one span [0,11]
    assert (1, 0, 4, 2) in got
    assert (2, 1, 5, 2) in got
    d3 = [g for g in got if g[0] == 3]
    assert d3 == [(3, 0, 11, 9)]
    assert not [g for g in got if g[0] == 4]


# ---------------------------------------------------------------------------
# repetition stats
# ---------------------------------------------------------------------------
REPETITION_SQL = """
with t as (select doc_id, string_split(text,' ') toks from documents),
g2 as (select doc_id, unnest([cast(('0x' || substr(md5(toks[i]||' '||toks[i+1]), 1, 15)) as ubigint)::bigint
                              for i in range(1, len(toks))]) gram
       from t where len(toks) >= 2),
c2 as (select doc_id, gram, count(*) c from g2 group by doc_id, gram),
top as (select doc_id, round(max(c)::double / sum(c), 6) top_ngram_frac from c2 group by doc_id),
g5 as (select doc_id, unnest([cast(('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15)) as ubigint)::bigint
                              for i in range(1, len(toks)-3)]) gram
       from t where len(toks) >= 5),
c5 as (select doc_id, gram, count(*) c from g5 group by doc_id, gram),
dup as (select doc_id,
               round(coalesce(sum(c) filter (where c > 1), 0)::double / sum(c), 6) dup_ngram_frac
        from c5 group by doc_id)
select t.doc_id, coalesce(top_ngram_frac, 0.0) top_ngram_frac,
       coalesce(dup_ngram_frac, 0.0) dup_ngram_frac
from t left join top on top.doc_id = t.doc_id
       left join dup on dup.doc_id = t.doc_id
"""


def test_repetition_stats_matches_duckdb(docs, duck):
    got = {
        (r.doc_id, r.top_ngram_frac, r.dup_ngram_frac)
        for r in textstats.repetition_stats(docs).collect()
    }
    want = {tuple(r) for r in duck.execute(REPETITION_SQL).fetchall()}
    assert got == want


def test_repetition_stats_literal(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in textstats.repetition_stats(docs).collect()}
    # doc1 bigrams: "a b" x3, "b a" x2 -> top 3/5; 5-grams: "a b a b a",
    # "b a b a b" each once -> dup 0
    assert rows[1].top_ngram_frac == 0.6
    assert rows[1].dup_ngram_frac == 0.0
    # doc2 too short for any gram -> both 0
    assert rows[2].top_ngram_frac == 0.0
    assert rows[2].dup_ngram_frac == 0.0


# ---------------------------------------------------------------------------
# url canonicalization + dedup
# ---------------------------------------------------------------------------
CANON_CASES = [
    ("HTTP://Example.COM:80/a/b/?utm_source=x&q=1#frag", "http://example.com/a/b?q=1"),
    ("https://Site.org:443/", "https://site.org/"),
    ("https://site.org:8443/x", "https://site.org:8443/x"),  # non-default port kept
    ("http://h.com/p?utm_a=1&utm_b=2", "http://h.com/p"),
    ("http://h.com/p?gclid=abc&keep=1&fbclid=z", "http://h.com/p?keep=1"),
    ("http://h.com/CasePath/Q?X=Y", "http://h.com/CasePath/Q?X=Y"),  # path/query case kept
    ("http://h.com/a/", "http://h.com/a"),
    ("http://h.com/", "http://h.com/"),  # root slash kept
]


def test_canonical_url_literals(spark):
    df = spark.createDataFrame([(u,) for u, _ in CANON_CASES], "url string")
    got = [r.c for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in CANON_CASES]


def test_canonical_url_idempotent(spark):
    """Canonical form is a fixed point: applying the contract twice
    changes nothing (required for canonical keys to be join-stable)."""
    us = [u for u, _ in CANON_CASES] + [want for _, want in CANON_CASES]
    df = spark.createDataFrame([(u,) for u in us], "url string")
    got = df.select(
        canonical_url(F.col("url")).alias("c")
    ).select("c", canonical_url(F.col("c")).alias("c2")).collect()
    assert all(r.c == r.c2 for r in got)


def test_url_dedup_keeps_latest_snapshot(spark):
    rows = [
        ("HTTP://Example.COM:80/a?utm_source=x", 100),
        ("http://example.com/a", 300),
        ("http://example.com/a#frag", 200),
        ("http://other.com/b", 50),
    ]
    pages = spark.createDataFrame(rows, "url string, warc_ts long").withColumn(
        "warc_ts", F.timestamp_seconds("warc_ts")
    )
    out = {r.canonical_url: r for r in url_dedup(pages).collect()}
    assert set(out) == {"http://example.com/a", "http://other.com/b"}
    a = out["http://example.com/a"]
    assert a.n_snapshots == 3
    assert a.kept_url == "http://example.com/a"
    assert a.kept_ts.timestamp() == 300
    # full-row form agrees and carries the original columns
    rows = {r.canonical_url: r for r in url_dedup_rows(pages).collect()}
    assert set(rows) == set(out)
    for c, r in rows.items():
        assert (r.url, r.warc_ts, r.n_snapshots) == (
            out[c].kept_url, out[c].kept_ts, out[c].n_snapshots)


def _long_lineage_pairs(spark):
    """(pairs DataFrame, python edge list) for a 300-node clique, a
    30-node path and five stars, with the pairs built by a shuffled,
    multi-stage upstream (repartition, self-joins, a groupBy) rather than
    ``createDataFrame`` — the shape ``dedup_components`` sees after
    url-dedup -> extract -> MinHash. Doc ids are scrambled so component
    minima are not the first member of each group."""
    ids = iter((i * 7919) % 100_003 for i in range(1, 10_000))
    clique = [next(ids) for _ in range(300)]
    path = [next(ids) for _ in range(30)]
    stars = [[next(ids) for _ in range(8)] for _ in range(5)]
    members = (  # (doc_id, grp, kind, pos)
        [(d, 0, "clique", p) for p, d in enumerate(clique)]
        + [(d, 1, "path", p) for p, d in enumerate(path)]
        + [(d, 2 + g, "star", p) for g, s in enumerate(stars) for p, d in enumerate(s)]
    )
    edges = (
        [(a, b) for i, a in enumerate(clique) for b in clique[i + 1:]]
        + list(zip(path, path[1:]))
        + [(min(s), d) for s in stars for d in s if d != min(s)]
    )

    m = spark.createDataFrame(
        members, "doc_id long, grp long, kind string, pos long"
    ).repartition(7, "doc_id")
    a, b = m.alias("a"), m.alias("b")
    same = F.col("a.grp") == F.col("b.grp")
    clique = a.join(b, same & (F.col("a.doc_id") < F.col("b.doc_id"))).filter(
        F.col("a.kind") == "clique"
    )
    path = a.join(b, same & (F.col("b.pos") == F.col("a.pos") + 1)).filter(
        F.col("a.kind") == "path"
    )
    hubs = m.filter(F.col("kind") == "star").groupBy("grp").agg(
        F.min("doc_id").alias("hub")
    )
    star = (
        m.join(hubs, "grp")
        .filter(F.col("doc_id") != F.col("hub"))
        .select(F.col("hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    pairs = (
        clique.select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .union(path.select(F.col("b.doc_id").alias("doc_a"), F.col("a.doc_id").alias("doc_b")))
        .union(star)
    )
    return pairs, edges


@pytest.mark.parametrize("reliable", [False, True], ids=["local", "reliable"])
def test_components_reliable_checkpoint_path(spark, tmp_path, reliable):
    """Both plan-truncation branches — localCheckpoint (no checkpoint
    dir) and RELIABLE checkpoint (a checkpoint dir, the cluster
    deployment shape) — converge to union-find labels on pairs that
    arrive with a long shuffled lineage."""
    sc = spark.sparkContext
    assert not sc._jsc.sc().getCheckpointDir().isDefined()
    if reliable:
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        pairs, edges = _long_lineage_pairs(spark)
        got = dict(dedup_components(pairs).collect())
        assert got == _union_find(edges)
        assert len(set(got.values())) == 7
    finally:
        # restore: the local-checkpoint branch is the default elsewhere
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )


def test_components_release_superseded_checkpoints(spark):
    """Repeated calls in one session keep at most two persistent RDDs
    each (the final round and the roots checkpoint the result reads);
    every superseded round checkpoint and the entry one are freed."""
    sc = spark.sparkContext
    edges = [(i, i + 1) for i in range(25)] + [(100, 103), (103, 99)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    held = [len(sc._jsc.getPersistentRDDs())]
    results = []
    for _ in range(3):
        results.append(dedup_components(pairs))
        held.append(len(sc._jsc.getPersistentRDDs()))
    assert all(b - a <= 2 for a, b in zip(held, held[1:])), held
    # the retained checkpoints are the ones the results read
    for r in results:
        assert dict(r.collect()) == _union_find(edges)


# ---------------------------------------------------------------------------
# winnowing fingerprints
# ---------------------------------------------------------------------------
def _winnow_ref(text, k, w):
    """Plain-Python winnowing reference: md5-prefix gram hashes, min per
    window, rightmost tie, distinct (pos, hash)."""
    import hashlib

    toks = text.split(" ")
    if len(toks) < k:
        return set()
    h = [
        int(hashlib.md5(" ".join(toks[i:i + k]).encode()).hexdigest()[:15], 16)
        for i in range(len(toks) - k + 1)
    ]
    L = min(w, len(h))
    out = set()
    for s in range(max(len(h) - w, 0) + 1):
        win = h[s:s + L]
        m = min(win)
        pos = s + L - 1 - win[::-1].index(m)
        out.add((pos, m))
    return out


def test_winnowing_matches_reference_literal(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "x y"), (3, "p q r s t"),
         (4, "a a a a a a a a")],  # all-equal hashes: rightmost tie rule
        "doc_id long, text string",
    )
    got = {}
    for r in textstats.winnowing_fingerprints(docs, k=3, w=4).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.hash))
    for did, text in [(1, "a b c d e f g h i j"), (2, "x y"),
                      (3, "p q r s t"), (4, "a a a a a a a a")]:
        assert got.get(did, set()) == _winnow_ref(text, 3, 4), did


def test_winnowing_matches_duckdb(docs, duck):
    k, w = 5, 4
    got = {
        tuple(r) for r in textstats.winnowing_fingerprints(docs, k=k, w=w).collect()
    }
    want = {
        tuple(r)
        for r in duck.execute(f"""
with t as (select doc_id, string_split(text,' ') toks from documents),
g as (select doc_id,
             [cast(('0x'||substr(md5(array_to_string(toks[i:i+{k}-1],' ')),1,15)) as ubigint)::bigint
              for i in range(1, len(toks)-{k}+2)] h
      from t where len(toks) >= {k}),
wn as (select doc_id, h, len(h) n from g where len(h) > 0),
f as (select doc_id, unnest([
        {{'pos': s + least({w}, n)
                 - list_position(list_reverse(h[s+1:s+least({w}, n)]),
                                 list_min(h[s+1:s+least({w}, n)])),
          'h': list_min(h[s+1:s+least({w}, n)])}}
        for s in range(0, greatest(n-{w}, 0)+1)]) u
      from wn)
select distinct doc_id, u.pos::bigint pos, u.h hash from f
""").fetchall()
    }
    assert got == want
    assert len(got) > 0


def test_winnowing_coverage_guarantee(spark):
    """Every length-(w+k-1) token stretch must contain >= 1 selected
    fingerprint position (the winnowing guarantee)."""
    import random

    rng = random.Random(7)
    words = [f"w{rng.randrange(40)}" for _ in range(300)]
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    k, w = 4, 5
    pos = sorted(r.pos for r in textstats.winnowing_fingerprints(docs, k=k, w=w).collect())
    n_grams = len(words) - k + 1
    for s in range(n_grams - w + 1):
        assert any(s <= p < s + w for p in pos), s
