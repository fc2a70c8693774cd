"""Text-analysis operators for large-scale training-data pipelines:
token counting, language ID, quality scoring, document fingerprinting.

All operators are pure built-in-function column expressions (JVM-side,
whole-stage codegen; no Python) with deterministic semantics that a SQL
oracle can reproduce exactly. Floats are rounded to 6 decimals at the
output boundary so cross-engine comparison is stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Deterministic marker-token sets for the n-gram/stopword language
# heuristic. Tie-break: max count, then lexicographic language code.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "ist"),
    "en": ("the", "a", "of", "and"),
    "fi": ("ja", "on", "ei", "se"),
    "fr": ("le", "la", "et", "les"),
}

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def language_id(docs: DataFrame) -> DataFrame:
    """Marker-token language heuristic with deterministic tie-break
    (the ``pred_lang``/``marker_hits`` columns of :func:`all_stats`)."""
    return all_stats(docs).select("doc_id", "pred_lang", "marker_hits")


def quality_score(docs: DataFrame) -> DataFrame:
    """Deterministic quality heuristics: length, mean token length,
    type-token ratio, stopword fraction, and a composite score (the
    quality columns of :func:`all_stats`)."""
    return all_stats(docs).select(
        "doc_id", "n_tokens", "mean_token_len", "type_token_ratio", "stopword_frac", "quality"
    )


def _gram_hashes(toks: F.Column, n: int) -> F.Column:
    """The pinned 60-bit md5-prefix hash of every ``n``-token gram of
    ``toks``, in order (empty below ``n`` tokens): the first 15 hex
    digits of the md5 of the space-joined gram, as a long, so a SQL
    engine reproduces it bit-for-bit."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.conv(
                F.substring(F.md5(F.array_join(F.slice(toks, i + 1, n), " ")), 1, 15),
                16, 10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))


def repetition_stats(docs: DataFrame, top_n: int = 2, dup_n: int = 5) -> DataFrame:
    """Gopher-style within-document repetition filters (Rae et al. 2021):

    - ``top_ngram_frac``: fraction of all ``top_n``-gram occurrences
      taken by the single most frequent ``top_n``-gram of the doc
      (boilerplate/listicle detector);
    - ``dup_ngram_frac``: fraction of ``dup_n``-gram occurrences whose
      gram occurs more than once within the doc (internal duplication).

    Docs with fewer than ``max(top_n, dup_n)`` tokens get 0.0 for the
    undefined fraction. Per-doc groupBys only — the grouping key is
    (doc_id, gram), so the shuffle is partitioned by document content
    and no corpus-wide hot key exists; both fractions round to 6
    decimals at the output boundary for cross-engine stability. Grams
    shuffle as the pinned 60-bit md5-prefix hash (8-byte keys, not
    n-token strings; only counts are consumed downstream, and the
    DuckDB oracle computes the identical hash so a within-doc collision
    appears on both sides).
    """
    toks = F.split(F.col("text"), " ")
    top = (
        docs.select("doc_id", F.explode(_gram_hashes(toks, top_n)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.round(F.max("c") / F.sum("c"), 6).alias("top_ngram_frac"))
    )
    dup = (
        docs.select("doc_id", F.explode(_gram_hashes(toks, dup_n)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0))
                / F.sum("c"),
                6,
            ).alias("dup_ngram_frac")
        )
    )
    return (
        docs.select("doc_id")
        .join(top, "doc_id", "left")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("top_ngram_frac", F.lit(0.0)).alias("top_ngram_frac"),
            F.coalesce("dup_ngram_frac", F.lit(0.0)).alias("dup_ngram_frac"),
        )
    )


def winnowing_fingerprints(docs: DataFrame, k: int = 5, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the MOSS
    scheme): hash every k-token gram (the pinned 60-bit md5-prefix hash,
    so a SQL engine reproduces the selection bit-for-bit), then from
    each window of ``w`` consecutive gram hashes select the minimum —
    rightmost position on ties — and emit the distinct selected
    ``(doc_id, pos, hash)`` triples. Guarantees every length-(w+k-1)
    token stretch contributes a fingerprint, at ~2/(w+1) sample rate —
    the local-similarity fingerprint set that the full-text md5 of
    :func:`all_stats` cannot give.

    All built-in array expressions (transform over sequence + array_min
    + reverse/array_position for the rightmost tie), map-only until the
    final distinct, whose shuffle key is (doc_id, pos, 8-byte hash).
    Docs with fewer than ``k`` tokens emit nothing; with fewer than
    ``k + w - 1`` tokens the single window spans every gram."""
    h = _gram_hashes(F.split(F.col("text"), " "), k)
    n = F.size(h)
    L = F.least(F.lit(w), n)
    wins = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), F.greatest(n - w, F.lit(0))),
            lambda s: F.struct(
                (
                    s + L - F.array_position(
                        F.reverse(F.slice(h, s + 1, L)),
                        F.array_min(F.slice(h, s + 1, L)),
                    )
                ).cast("long").alias("pos"),
                F.array_min(F.slice(h, s + 1, L)).alias("hash"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:long,hash:long>>"))
    return (
        docs.select("doc_id", F.explode(wins).alias("fp"))
        .select("doc_id", F.col("fp.pos").alias("pos"), F.col("fp.hash").alias("hash"))
        .distinct()
    )


def all_stats(docs: DataFrame) -> DataFrame:
    """Every per-document textstats column in ONE map-only select (one
    scan of the documents table, no joins, no shuffle): token counts
    (whitespace tokens, a 4-char-chunk subword proxy, characters), the
    marker-token language ID, the quality heuristics, and the full-text
    and normalized (sorted unique tokens) md5 fingerprints. Each
    statistic is written only here; :func:`language_id` and
    :func:`quality_score` select their columns. The column order is the
    one the DuckDB oracle's 4-table join form produces.
    """
    toks = F.split(F.col("text"), " ")
    # token counts
    n_sub = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.ceil(F.length(t) / F.lit(4.0)).cast("int")
    )
    # language ID: argmax with lexicographic tiebreak (strictly greater
    # wins; ties keep the lexicographically smaller language)
    best = None
    for lang in sorted(LANG_MARKERS):
        markers = LANG_MARKERS[lang]
        cnt = F.size(F.filter(toks, lambda t: t.isin(*markers)))
        cand = F.struct(cnt.alias("s"), F.lit(lang).alias("lang"))
        best = cand if best is None else F.when(cand["s"] > best["s"], cand).otherwise(best)
    # quality
    n = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    mean_len = F.round(
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double") / n, 6
    )
    # Composite as a single integer-rational division (0.3*min(n,100)/100
    # + 0.3*ttr + 0.4*stop with common denominator 1000n): one double op,
    # so both engines see the identical IEEE value before rounding —
    # summing *rounded* components instead lands exactly on .5e-6
    # boundaries where engine rounding modes disagree.
    num = (F.lit(3) * F.least(n, F.lit(100)) * n + F.lit(300) * n_distinct + F.lit(400) * n_stop)
    score = F.round(num.cast("double") / (F.lit(1000.0) * n), 6)
    # fingerprint
    norm = F.array_join(F.array_sort(F.array_distinct(toks)), " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        n_sub.cast("long").alias("n_subwords"),
        F.length("text").cast("long").alias("n_chars_seen"),
        best["lang"].alias("pred_lang"),
        best["s"].cast("long").alias("marker_hits"),
        mean_len.alias("mean_token_len"),
        F.round(n_distinct.cast("double") / n, 6).alias("type_token_ratio"),
        F.round(n_stop.cast("double") / n, 6).alias("stopword_frac"),
        score.alias("quality"),
        F.md5(F.col("text")).alias("md5_text"),
        F.md5(norm).alias("md5_normalized"),
    )

