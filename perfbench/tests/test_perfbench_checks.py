"""The output checks behind docs_failed_frac: a correct output passes, and
a planted missing, duplicated or wrong document makes it non-zero."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen


@pytest.fixture(scope="module")
def dedup_snap():
    hot = gen.HOT_GROUP
    gen.HOT_GROUP = 6
    try:
        return gen.dedup_snapshot(seed=3, n_urls=60)
    finally:
        gen.HOT_GROUP = hot


def write_corpus(out, rows, lineage_docs=None):
    os.makedirs(out / "extracted")
    os.makedirs(out / "lineage")
    urls, texts = [r[0] for r in rows], [r[1] for r in rows]
    pq.write_table(pa.table({"url": urls, "extracted_text": texts}),
                   out / "extracted" / "part-0.parquet")
    n = len(rows) if lineage_docs is None else lineage_docs
    pq.write_table(pa.table({"doc_count": [n]}), out / "lineage" / "part-0.parquet")
    return str(out)


def correct_rows(snap):
    rows = list(snap.texts.items())
    rows += [(members[0], text) for members, text in snap.groups]
    return rows


def test_dedup_snapshot_plants_recrawls_and_groups(dedup_snap):
    s = dedup_snap.stats
    assert s["recrawled_urls"] > 0 and s["older_snapshots"] >= s["recrawled_urls"]
    assert len(dedup_snap.groups) == s["exact_groups"]
    assert max(len(members) for members, _ in dedup_snap.groups) == 6  # the hot group
    assert s["expected_output_docs"] == len(correct_rows(dedup_snap))
    assert sum(dedup_snap.rows_of.values()) == dedup_snap.pages.num_rows


def test_snapshots_are_seeded(monkeypatch):
    monkeypatch.setattr(gen, "HOT_GROUP", 6)
    a, b, c = (gen.dedup_snapshot(seed, 60).pages for seed in (3, 3, 4))
    assert a.equals(b) and not a.equals(c)
    assert gen.distinct_snapshot(1, 5).pages.equals(gen.distinct_snapshot(1, 5).pages)


def test_dedup_correct_output_passes(dedup_snap, tmp_path):
    assert checks.check_corpus_dedup(dedup_snap, write_corpus(tmp_path, correct_rows(dedup_snap))) == 0


def recrawled(snap):
    return next(u for u, n in snap.rows_of.items() if n > 1 and u in snap.texts)


@pytest.mark.parametrize("plant", ["missing", "duplicate", "wrong_text", "older_snapshot",
                                   "two_group_members", "no_group_member", "lineage"])
def test_dedup_planted_fault_fails_documents(dedup_snap, tmp_path, plant):
    rows = correct_rows(dedup_snap)
    lineage = None
    url, text = rows[0]
    if plant == "missing":
        rows = rows[1:]
    elif plant == "duplicate":
        rows.append(rows[0])
    elif plant == "wrong_text":
        rows[0] = (url, text + " ")
    elif plant == "older_snapshot":
        u = recrawled(dedup_snap)
        older = next(t for v, t in zip(dedup_snap.pages.column("url").to_pylist(),
                                       dedup_snap.pages.column("text").to_pylist())
                     if gen.canonical(v) == u and t != dedup_snap.texts[u])
        rows = [(v, older if v == u else t) for v, t in rows]
    elif plant == "two_group_members":
        members, gtext = dedup_snap.groups[0]
        rows.append((members[1], gtext))
    elif plant == "no_group_member":
        members, _ = dedup_snap.groups[0]
        rows = [r for r in rows if r[0] != members[0]]
    else:
        lineage = len(rows) - 1
    failed = checks.check_corpus_dedup(dedup_snap, write_corpus(tmp_path, rows, lineage))
    assert failed > 0


@pytest.fixture(scope="module")
def seg():
    snap = gen.distinct_snapshot(seed=7, n=6)
    return snap, checks.segment_truth(snap, seed=7)


def write_clusters(path, truth, extra=()):
    urls, ids = [], []
    for u, cl in truth.items():
        for c in sorted(cl, key=sorted):
            urls.append(u)
            ids.append(sorted(c))
    for u, c in extra:
        urls.append(u)
        ids.append(c)
    os.makedirs(path)
    pq.write_table(pa.table({"url": urls, "node_ids": ids}), os.path.join(path, "part-0.parquet"))
    return str(path)


def test_segment_truth_matches_and_planted_faults_fail(seg, tmp_path):
    snap, truth = seg
    assert set(truth) == set(snap.texts)  # a sample this small is every document
    assert checks.check_segment(snap, truth, write_clusters(tmp_path / "ok", truth)) == 0

    url = next(u for u, cl in truth.items() if any(len(c) > 1 for c in cl))
    split = dict(truth)
    big = next(c for c in truth[url] if len(c) > 1)
    first = sorted(big)[0]
    split[url] = (truth[url] - {big}) | {frozenset([first]), big - {first}}
    assert checks.check_segment(snap, truth, write_clusters(tmp_path / "split", split)) == 1

    missing = {u: cl for u, cl in truth.items() if u != url}
    assert checks.check_segment(snap, truth, write_clusters(tmp_path / "missing", missing)) == 1

    dup = write_clusters(tmp_path / "dup", truth, extra=[(url, [first])])
    assert checks.check_segment(snap, truth, dup) == 1


@pytest.mark.parametrize("output", ["absent", "empty", "not_parquet"])
def test_missing_output_fails_every_document(seg, dedup_snap, tmp_path, output):
    out = tmp_path / "out"
    if output != "absent":
        for sub in ("", "extracted", "lineage"):
            os.makedirs(out / sub, exist_ok=True)
    if output == "not_parquet":
        for sub in ("", "extracted", "lineage"):
            (out / sub / "part-0.parquet").write_text("not parquet")
    snap, truth = seg
    assert checks.check("segment", snap, truth, str(out)) == snap.pages.num_rows
    assert checks.check("corpus_dedup", dedup_snap, None, str(out)) == dedup_snap.pages.num_rows
