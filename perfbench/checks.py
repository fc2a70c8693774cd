"""Output checks behind ``docs_failed_frac``.

Each check reads what one workload run wrote and returns how many input
documents (pages rows) have output that is missing, duplicated or wrong.
A url that should not be in the output at all, or that is not in the
input, counts once more. Output that is missing or unreadable fails
every input document (:func:`check`).
"""

from __future__ import annotations

import os
import random
import sys
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.gen import Snapshot, canonical

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEGMENT_SAMPLE = 500  # documents whose clusters are compared with the truth


def _texts_by_url(out_dir: str) -> dict[str, list[str]]:
    """canonical url -> the texts output for it"""
    t = pq.read_table(os.path.join(out_dir, "extracted"), columns=["url", "extracted_text"])
    got: dict[str, list[str]] = defaultdict(list)
    for u, text in zip(t.column("url").to_pylist(), t.column("extracted_text").to_pylist()):
        got[canonical(u)].append(text)
    return got


def _lineage_matches(out_dir: str, got: dict[str, list[str]]) -> bool:
    lin = pq.read_table(os.path.join(out_dir, "lineage"), columns=["doc_count"])
    return sum(lin.column("doc_count").to_pylist()) == sum(map(len, got.values()))


def check_corpus_dedup(snap: Snapshot, out_dir: str) -> int:
    """No url twice, each re-crawled url with its latest snapshot, one
    member per exact-copy group, every kept text equal to its source.
    Failures count every input row behind the url (or group)."""
    got = _texts_by_url(out_dir)
    if not _lineage_matches(out_dir, got):
        return snap.pages.num_rows
    failed = sum(snap.rows_of[u] for u, want in snap.texts.items() if got.get(u) != [want])
    expected = set(snap.texts)
    for members, text in snap.groups:
        expected |= set(members)
        kept = [got[u] for u in members if u in got]
        if kept != [[text]]:
            failed += sum(snap.rows_of[u] for u in members)
    return failed + sum(u not in expected for u in got)


def segment_truth(snap: Snapshot, seed: int) -> dict[str, set[frozenset]]:
    """url -> clusters for a seeded sample of documents, built the way
    ``tools/make_truth.py`` builds its cluster truth: regions from
    ``synth.plan_doc``, line-of-sight edges from ``doc_edges_truth``,
    same-label links joined by ``components``."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_truth import components, doc_edges_truth

    from transkribusdu_spark.synth import plan_doc

    docs = random.Random(seed).sample(snap.docs, min(SEGMENT_SAMPLE, len(snap.docs)))
    truth = {}
    for doc_id, text, lang in docs:
        plan = plan_doc(doc_id, text, lang)
        regions = [
            {"node_id": b["node_id"], "label": b["label"], "page_num": pg["pnum"],
             "x1": float(b["x1"]), "y1": float(b["y1"]),
             "x2": float(b["x2"]), "y2": float(b["y2"])}
            for pg in plan["pages"] for b in pg["regions"]
        ]
        label = {r["node_id"]: r["label"] for r in regions}
        links = [(s, d) for _, s, d in doc_edges_truth(regions, "g1") if label[s] == label[d]]
        truth[plan["url"]] = {frozenset(c) for c in components(list(label), links)}
    return truth


def check_segment(snap: Snapshot, truth: dict[str, set[frozenset]], out_dir: str) -> int:
    """Every input url has clusters, no node sits in two clusters, and the
    sampled documents' clusters equal the truth."""
    t = pq.read_table(out_dir, columns=["url", "node_ids"])
    got: dict[str, list[frozenset]] = defaultdict(list)
    for u, ids in zip(t.column("url").to_pylist(), t.column("node_ids").to_pylist()):
        got[u].append(frozenset(ids))
    failed = 0
    for u in snap.texts:
        cl = got.get(u, [])
        if not cl or sum(map(len, cl)) != len(frozenset().union(*cl)):
            failed += 1
        elif u in truth and set(cl) != truth[u]:
            failed += 1
    return failed + sum(u not in snap.texts for u in got)


def check(workload: str, snap: Snapshot, truth: dict[str, set[frozenset]] | None,
          out_dir: str) -> int:
    """The workload's check; output that is missing or cannot be read
    fails every input document."""
    try:
        if workload == "segment":
            return check_segment(snap, truth, out_dir)
        return check_corpus_dedup(snap, out_dir)
    except (OSError, pa.ArrowException) as e:
        print(f"perfbench: unreadable output under {out_dir}: {e}", file=sys.stderr)
        return snap.pages.num_rows
