"""Corpus-cleaning operators for training-data pipelines: PII detection /
redaction, benchmark decontamination, and repetition (boilerplate) metrics.

All pure built-in Column expressions — regexp and array math stay inside
whole-stage codegen; there is no Python in the loop, so every operator here
scans linearly over the corpus and scales to arbitrary document counts.

Semantics reference: these extend the reference engine's sanitize /
validation tier (input_validator.cpp sanitizeString, string_utils.hpp) from
field-level hygiene to corpus-level hygiene — the operations a 100 TB
pre-training pipeline runs between raw scrape and tokenizer.

Scale notes per operator:

- ``pii_scrub``: per-row regexp chain, no shuffle at all; the plan is a
  single Project over the scan.
- ``decontaminate``: the benchmark/eval side is tiny (MBs) and is
  broadcast; the training corpus never shuffles — one posting explode, a
  broadcast hash join, and a partial-aggregated count per doc.
- ``repetition_metrics``: one window + one groupBy, both partitioned by
  doc_id (high cardinality, no skew); word-level stats are per-row array
  math with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rclabsapi_spark.llm.dedup import shingle_posting
from rclabsapi_spark.llm.text import tokens

# PII patterns, deliberately RE2-compatible (no lookaround, no backrefs) so
# the DuckDB oracles run the *same* pattern text. Order matters for
# redaction: emails first (their local part can contain digits), then IPs
# (dotted quads are not phone-shaped), then phones (3-3-4) before SSNs
# (3-2-4) — the two digit shapes cannot match the same span.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
)


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category PII hit counts (``n_email`` ...), all regexp_count —
    one codegen'd pass per pattern, no Python."""
    return {
        f"n_{name}": F.regexp_count(text, F.lit(pat)).cast("long")
        for name, pat in PII_PATTERNS
    }


def pii_redact(text: Column) -> Column:
    """Replace every PII span with a typed placeholder (``<EMAIL>`` ...).
    Replacement order follows PII_PATTERNS (see note there)."""
    out = text
    for name, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def pii_scrub(docs: DataFrame) -> DataFrame:
    """(key, n_email, n_ipv4, n_phone, n_ssn, clean_text): detection counts
    plus the redacted text. Single narrow Project — no shuffle."""
    text = F.col("text")
    counts = pii_counts(text)
    return docs.select(
        F.col("doc_id"),
        *[c.alias(name) for name, c in counts.items()],
        pii_redact(text).alias("clean_text"),
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    *,
    n: int = 3,
    min_overlap: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ≥ ``min_overlap``
    distinct word ``n``-grams with the eval/benchmark corpus.

    (key, total_ngrams, overlap_ngrams, contamination_ratio, contaminated).
    Docs too short to produce an n-gram report 0/0/0.0/false.

    Physical plan: the eval n-gram set is distinct'd and **broadcast** (eval
    suites are MBs against a 100 TB corpus); the training side explodes to
    a (doc, ngram) posting once, semi-counts against the broadcast set, and
    aggregates per doc — the corpus itself never shuffles, and the
    per-doc groupBy partial-aggregates map-side.
    """
    eval_grams = (
        shingle_posting(eval_docs, n=n)
        .select("shingle")
        .distinct()
    )
    # hit flag via broadcast left join: one posting pass feeds both counts.
    # The posting is already hash-partitioned by doc key (shingle_posting's
    # repartition survives the broadcast join), so BOTH groupBys below are
    # satisfied by the existing partitioning — per-doc dedup + counts add
    # zero exchanges on the corpus side.
    hits = shingle_posting(train, n=n).join(
        F.broadcast(eval_grams.withColumn("hit", F.lit(True))),
        "shingle",
        "left",
    )
    per_doc = (
        hits.groupBy("doc_id", "shingle")
        .agg(F.max("hit").alias("hit"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("total_ngrams"),
            F.count(F.when(F.col("hit"), True)).alias("overlap_ngrams"),
        )
    )
    return (
        train.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce("total_ngrams", F.lit(0)).alias("total_ngrams"),
            F.coalesce("overlap_ngrams", F.lit(0)).alias("overlap_ngrams"),
            F.round(
                F.coalesce(
                    F.col("overlap_ngrams") / F.col("total_ngrams"), F.lit(0.0)
                ),
                6,
            ).alias("contamination_ratio"),
            (F.coalesce("overlap_ngrams", F.lit(0)) >= min_overlap).alias(
                "contaminated"
            ),
        )
    )


def _bigram_stats(
    docs: DataFrame, *, text_col: str, key_col: str
) -> DataFrame:
    """Per-doc bigram aggregates: (key, total_bigrams, distinct_bigrams,
    top_bigram, top_bigram_count). Ties on the top bigram break
    lexicographically (deterministic across engines). One doc-partitioned
    window + one groupBy."""
    bigrams = shingle_posting(docs, text_col=text_col, key_col=key_col, n=2)
    counts = bigrams.groupBy(key_col, "shingle").agg(
        F.count("*").alias("cnt")
    )
    # the top bigram is an ARGMIN over (−cnt, shingle) — struct
    # comparison is field-lexicographic, so min picks exactly the old
    # rank-window's rn=1 row (cnt desc, shingle asc tie-break) without
    # the window's per-partition SORT; both aggregates ride the
    # shingle_posting exchange (hashpartitioning(key) clusters every
    # superset grouping)
    top = F.min(
        F.struct(
            (-F.col("cnt")).alias("neg_cnt"), F.col("shingle").alias("s")
        )
    )
    return (
        counts.groupBy(key_col)
        .agg(
            F.sum("cnt").alias("total_bigrams"),
            F.count("*").alias("distinct_bigrams"),
            top.alias("__top"),
        )
        .select(
            key_col,
            "total_bigrams",
            "distinct_bigrams",
            F.col("__top.s").alias("top_bigram"),
            (-F.col("__top.neg_cnt")).alias("top_bigram_count"),
        )
    )


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition features:

    (key, n_words, distinct_word_ratio, top_bigram, top_bigram_count,
    top_bigram_frac, dup_bigram_frac).

    Word-level ratios are per-row array math (no shuffle); the bigram
    stats cost one doc-partitioned window + one groupBy.
    """
    text = F.col("text")
    t = tokens(text)
    word_stats = docs.select(
        F.col("doc_id"),
        F.size(t).alias("n_words"),
        F.round(F.size(F.array_distinct(t)) / F.size(t), 6).alias(
            "distinct_word_ratio"
        ),
    )
    per_doc = _bigram_stats(docs, text_col="text", key_col="doc_id")
    return (
        word_stats.join(per_doc, "doc_id", "left")
        .select(
            F.col("doc_id"),
            "n_words",
            "distinct_word_ratio",
            F.coalesce("top_bigram", F.lit("")).alias("top_bigram"),
            F.coalesce("top_bigram_count", F.lit(0)).alias(
                "top_bigram_count"
            ),
            F.round(
                F.coalesce(
                    F.col("top_bigram_count") / F.col("total_bigrams"),
                    F.lit(0.0),
                ),
                6,
            ).alias("top_bigram_frac"),
            F.round(
                F.coalesce(
                    1 - F.col("distinct_bigrams") / F.col("total_bigrams"),
                    F.lit(0.0),
                ),
                6,
            ).alias("dup_bigram_frac"),
        )
    )


def corpus_filter(
    docs: DataFrame,
    *,
    min_chars: int = 100,
    max_chars: int = 500,
    min_distinct_word_ratio: float = 0.45,
) -> DataFrame:
    """C4/Gopher-style keep/drop decision per doc: length bounds plus
    repetition caps. Returns ``docs`` columns + boolean ``keep`` +
    ``drop_reason`` (first failing rule, '' when kept) — the shape a
    cleaning pipeline audits before materializing the kept corpus.

    Word-level stats are computed inline on the doc scan (not via
    ``repetition_metrics``) so the plan reads ``docs`` twice (doc scan +
    bigram posting), not three times."""
    text = F.col("text")
    t = tokens(text)
    per_doc = _bigram_stats(docs, text_col="text", key_col="doc_id")
    joined = (
        docs.withColumn(
            "distinct_word_ratio",
            F.round(F.size(F.array_distinct(t)) / F.size(t), 6),
        )
        .join(per_doc, "doc_id", "left")
        .withColumn(
            "top_bigram_frac",
            F.round(
                F.coalesce(
                    F.col("top_bigram_count") / F.col("total_bigrams"),
                    F.lit(0.0),
                ),
                6,
            ),
        )
        .withColumn("top_bigram", F.coalesce("top_bigram", F.lit("")))
        .withColumn(
            "top_bigram_count", F.coalesce("top_bigram_count", F.lit(0))
        )
        .withColumn(
            "dup_bigram_frac",
            F.round(
                F.coalesce(
                    1 - F.col("distinct_bigrams") / F.col("total_bigrams"),
                    F.lit(0.0),
                ),
                6,
            ),
        )
        .drop("total_bigrams", "distinct_bigrams")
    )
    n_chars = F.length(F.col("text"))
    reason = (
        F.when(n_chars < min_chars, "too_short")
        .when(n_chars > max_chars, "too_long")
        .when(
            F.col("distinct_word_ratio") < min_distinct_word_ratio,
            "low_lexical_diversity",
        )
        .when(
            F.col("top_bigram_frac") > 0.12,
            "repeated_bigram",
        )
        .otherwise("")
    )
    return joined.withColumn("drop_reason", reason).withColumn(
        "keep", F.col("drop_reason") == ""
    )


def boilerplate_ngrams(
    docs: DataFrame,
    *,
    n: int = 5,
    min_docs: int = 2,
    k: int = 20,
) -> DataFrame:
    """Boilerplate span mining: the word n-grams repeated across the
    most documents (headers, footers, license blurbs, navigation text —
    the spans a training-data cleaner strips before dedup, since they
    inflate near-dup similarity between unrelated pages).

    Built on the codegen shingle path (llm/dedup.py::shingle_posting —
    posexplode + window leads; the array-lambda ``shingles()`` variant
    falls back to interpreted eval and measured 7× slower here at
    sf0.1), then one gram aggregate with map-side combine and a
    TakeOrdered top-k with full tie-break. Same shingle construction as
    the Jaccard index, so a later "strip these spans" pass composes
    with the dedup tiering."""
    from rclabsapi_spark.llm.dedup import shingle_posting

    posting = shingle_posting(
        docs, n=n
    ).select(F.col("doc_id").alias("doc"), F.col("shingle").alias("gram"))
    # two-level grouped counts instead of COUNT(DISTINCT doc): the
    # (gram, doc) pre-aggregate rides the posting's doc-key exchange
    # (superset clustering → zero new shuffle), and the gram rollup
    # then partial-combines tiny (gram, n, cnt) rows — the distinct
    # aggregate planned a second full expand/exchange pass over the
    # posting. n_docs = #(gram, doc) groups, n_occurrences = Σ their
    # counts: same exact integers.
    per_doc = posting.groupBy("gram", "doc").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per_doc.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("cnt").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occurrences").desc(), "gram"
        )
        .limit(k)
    )


# URL canonicalization (web-corpus hygiene) ---------------------------------

# Tracking parameters dropped during canonicalization: the utm_* family
# by prefix, plus the common click-id / session params. RE2-compatible,
# mirrored verbatim in the DuckDB oracles.
URL_DROP_PARAMS: tuple[str, ...] = ("fbclid", "gclid", "ref", "sessionid")

_URL_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
_URL_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?]+)"
_URL_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?]+([^?]*)"


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL — the normalization a
    web corpus applies BEFORE URL-level exact dedup, so case/tracking
    variants of one page collapse to one key (public crawl practice,
    e.g. the URL normalizations described for Common Crawl dedup):

    - scheme and host lowercased; a leading ``www.`` stripped
    - default ports dropped (``:443`` for https, ``:80`` for http);
      non-default ports kept
    - fragment removed
    - trailing slashes stripped from the path (empty path → ``/``)
    - query params: the ``utm_*`` family and ``URL_DROP_PARAMS``
      removed, the survivors SORTED (param order never distinguishes
      pages); an emptied query string drops its ``?``

    String/regexp/array expressions — no UDF, no shuffle. The input is
    bound ONCE via ``let`` (the composed expression references it ~15
    times; callers additionally nest this inside the PSL domain chain,
    and the unbound r9 shape multiplied those copies into 47 MB task
    binaries — see functions/scalars.py::let); the bound subtree leaves
    whole-stage codegen but the per-row regex cost dominates either
    way."""
    from rclabsapi_spark.functions.scalars import let

    return let(url, _canonicalize_of)


def _canonicalize_of(url: Column) -> Column:
    no_frag = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, _URL_SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(no_frag, _URL_HOST_RE, 1))
    host = F.regexp_replace(
        F.regexp_replace(hostport, ":[0-9]+$", ""), r"^www\.", ""
    )
    port = F.regexp_extract(hostport, ":([0-9]+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "https") & (port == "443"))
        | ((scheme == "http") & (port == "80"))
    )
    portpart = F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(
        F.lit("")
    )
    rawpath = F.regexp_extract(no_frag, _URL_PATH_RE, 1)
    stripped = F.regexp_replace(rawpath, "/+$", "")
    path = F.when(stripped == "", F.lit("/")).otherwise(stripped)
    qs = F.regexp_extract(no_frag, r"\?(.*)$", 1)

    def _keep(p: Column) -> Column:
        name = F.substring_index(p, "=", 1)
        dropped = name.startswith("utm_")
        for d in URL_DROP_PARAMS:
            dropped = dropped | (name == d)
        return (p != "") & ~dropped

    kept = F.array_sort(F.filter(F.split(qs, "&"), _keep))
    qpart = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, portpart, path, qpart)


def url_registrable_domain(canon_url: Column) -> Column:
    """Registrable domain (eTLD+1) of a CANONICAL URL, resolved
    against the Public Suffix List subset in ``llm/psl.py`` — so
    ``news.bbc.co.uk`` rolls up to ``bbc.co.uk``, not ``co.uk`` (the
    r9 last-two-labels simplification mis-rolled every
    ccTLD-second-level site). The lookup is a map-literal chain with
    let-bound subtrees, so this stays a single exchange-free Project;
    the domain is the rollup key for per-site corpus accounting and
    crawl budgeting."""
    from rclabsapi_spark.llm.psl import registrable_domain

    host = F.regexp_replace(
        F.regexp_extract(canon_url, _URL_HOST_RE, 1), ":[0-9]+$", ""
    )
    return registrable_domain(host)
