"""Seeded input snapshots for the benchmark workloads.

Every document text is drawn from a per-seed random vocabulary, so two
documents share shingles only where a duplicate is planted on purpose;
``synth.render_doc`` turns each text into the PageXML ``html`` the
pipeline parses. The same ``(workload, seed, n)`` always yields the same
pages table, byte for byte.

The ``corpus_dedup`` snapshot carries an explicit duplicate structure,
recorded in :attr:`Snapshot.stats`:

- re-crawled urls: a url seen again with an older ``warc_ts`` and a
  different text (half of the older copies spell the host in upper case,
  which ``canonical_url`` folds); the job must keep the latest snapshot;
- exact-copy groups: one text under 2-5 distinct urls, plus one hot
  group of :data:`HOT_GROUP` urls whose MinHash bands all land in the
  same buckets (the quadratic band-join case); the job must keep exactly
  one member per group.
"""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from transkribusdu_spark.synth import render_doc

VOCAB_SIZE = 6000
LANGS = ("en", "de", "fr", "es", "zh")
MIN_WORDS, MAX_WORDS = 20, 120
SNAPSHOT_FILES = 16
HOT_GROUP = 300
GROUP_SHARE = 0.06  # share of urls in small exact-copy groups
RECRAWL_SHARE = 0.08  # share of single urls crawled 2-3 times
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

PAGES_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


@dataclass
class Snapshot:
    """A pages table plus what a correct run must output for it.

    ``texts``: url -> the one text the output must carry for that url.
    ``groups``: (urls, text) of each exact-copy group, of which exactly
    one url must be output (``corpus_dedup`` only). ``rows_of``: url -> input
    rows behind it, so a wrong url fails every input row it stands for.
    ``docs``: (doc_id, text, lang) of every distinct document, the
    input of the segmentation truth.
    """

    pages: pa.Table
    texts: dict[str, str]
    docs: list[tuple[int, str, str]]
    groups: list[tuple[list[str], str]] = field(default_factory=list)
    rows_of: dict[str, int] = field(default_factory=dict)
    stats: dict = field(default_factory=dict)


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(3, 10))
        words.add("".join(chr(97 + c) for c in rng.integers(0, 26, n)))
    return np.array(sorted(words))


def _texts(rng: np.random.Generator, vocab: np.ndarray, n: int) -> list[str]:
    lens = rng.integers(MIN_WORDS, MAX_WORDS + 1, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    out, off = [], 0
    for k in lens:
        out.append(" ".join(words[off:off + k]))
        off += k
    return out


def canonical(url: str) -> str:
    """Canonical form of a generated url (scheme and host lower-cased;
    generated urls carry no port, query, fragment or trailing slash)."""
    head, sep, path = url.partition("/doc/")
    return head.lower() + sep + path


def _table(rows: list[tuple], rng: np.random.Generator) -> pa.Table:
    """rows of (doc_id, text, lang, ts_offset_s, upper_host) -> pages,
    in a seeded random order so duplicates spread across files."""
    urls, tss, htmls, texts, langs = [], [], [], [], []
    for i in rng.permutation(len(rows)):
        doc_id, text, lang, ts_off, upper = rows[i]
        url, _, html = render_doc(doc_id, text, lang)
        if upper:
            url = url.replace("https://host", "https://HOST", 1)
        urls.append(url)
        tss.append(EPOCH + dt.timedelta(seconds=ts_off))
        htmls.append(html)
        texts.append(text)
        langs.append(lang)
    return pa.table([urls, tss, htmls, texts, langs], schema=PAGES_ARROW)


def _base(seed: int, n: int):
    rng = np.random.default_rng([20261016, seed])
    vocab = _vocabulary(rng)
    # doc ids move with the seed, so page layouts (drawn per doc id by
    # synth.plan_doc) differ between seeds as well as the texts
    first_id = 1 + (seed % 1000) * 100_000
    ids = list(range(first_id, first_id + n))
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), n)]
    return rng, vocab, ids, langs


def distinct_snapshot(seed: int, n: int) -> Snapshot:
    """``n`` distinct documents under ``n`` distinct urls (``extract``
    and ``segment``)."""
    rng, vocab, ids, langs = _base(seed, n)
    texts = _texts(rng, vocab, n)
    rows = [(d, t, l, 37 * k, False) for k, (d, t, l) in enumerate(zip(ids, texts, langs))]
    pages = _table(rows, rng)
    return Snapshot(
        pages=pages,
        texts=dict(zip(pages.column("url").to_pylist(), pages.column("text").to_pylist())),
        docs=list(zip(ids, texts, langs)),
        stats={"docs": n, "urls": n},
    )


def dedup_snapshot(seed: int, n_urls: int) -> Snapshot:
    """``n_urls`` distinct urls with planted re-crawls and exact-copy
    groups (``corpus_dedup``); see the module docstring."""
    if n_urls < 4 * HOT_GROUP:
        raise ValueError(f"corpus_dedup needs at least {4 * HOT_GROUP} urls")
    rng, vocab, ids, langs = _base(seed, n_urls)
    sizes = [HOT_GROUP]
    in_groups = HOT_GROUP
    while in_groups < HOT_GROUP + GROUP_SHARE * n_urls:
        sizes.append(int(rng.integers(2, 6)))
        in_groups += sizes[-1]
    n_single = n_urls - in_groups
    n_recrawl = int(RECRAWL_SHARE * n_single)
    texts = _texts(rng, vocab, n_single + len(sizes))
    extra = rng.integers(1, 3, n_recrawl)  # older snapshots per re-crawled url
    old_texts = iter(_texts(rng, vocab, int(extra.sum())))

    rows: list[tuple] = []
    want: dict[int, str] = {}
    groups: list[tuple[list[int], str]] = []
    for k in range(n_single):
        d, t, l = ids[k], texts[k], langs[k]
        # the kept snapshot is the newest; older ones sit days earlier
        rows.append((d, t, l, 37 * k + 86_400 * 10, False))
        want[d] = t
        if k < n_recrawl:
            for j in range(int(extra[k])):
                rows.append((d, next(old_texts), l, 37 * k + 86_400 * j, j % 2 == 0))
    pos = n_single
    for g, size in enumerate(sizes):
        members, text = ids[pos:pos + size], texts[n_single + g]
        for d in members:
            rows.append((d, text, langs[pos], 37 * pos, False))
        groups.append((members, text))
        pos += size
    pages = _table(rows, rng)

    urls = [canonical(u) for u in pages.column("url").to_pylist()]
    url_of = {int(u.rsplit("/", 1)[1]): u for u in urls}
    return Snapshot(
        pages=pages,
        texts={url_of[d]: t for d, t in want.items()},
        docs=[],
        groups=[([url_of[d] for d in m], t) for m, t in groups],
        rows_of=Counter(urls),
        stats={
            "rows": pages.num_rows,
            "urls": n_urls,
            "recrawled_urls": n_recrawl,
            "older_snapshots": int(extra.sum()),
            "recrawl_row_share": round(int(extra.sum()) / pages.num_rows, 4),
            "exact_groups": len(sizes),
            "exact_group_sizes": {str(s): sizes.count(s) for s in sorted(set(sizes))},
            "hot_group": HOT_GROUP,
            "exact_copy_row_share": round(in_groups / pages.num_rows, 4),
            "expected_output_docs": n_single + len(sizes),
        },
    )


def write_pages(table: pa.Table, out_dir: str) -> None:
    """The pages table as ``SNAPSHOT_FILES`` parquet files under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // SNAPSHOT_FILES)
    for i in range(SNAPSHOT_FILES):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))
