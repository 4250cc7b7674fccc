"""Text analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All built-in Column expressions — these run inside whole-stage codegen
over billions of documents with no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rclabsapi_spark.layout import spread_by

from rclabsapi_spark.functions.scalars import round_half_up

# Function-word-profile language ID: marker-token hit counts per language,
# deterministic argmax. Profiles are the ~30 highest-frequency function
# words per language (public frequency-list knowledge — the signal real
# stopword-profile identifiers key on); amounts to a unigram
# Naive-Bayes-lite with uniform weights. The DuckDB oracle is GENERATED
# from this dict (suites/llm.py), so there is one source of truth.
# Swap in trained n-gram profiles for higher accuracy; the operator shape
# (per-language codegen'd score -> argmax) is unchanged by profile size.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": (
        "the", "of", "and", "to", "in", "is", "that", "for", "it", "as",
        "was", "with", "be", "by", "on", "not", "this", "are", "or",
        "his", "from", "at", "which", "but", "have", "an", "they",
        "you", "were", "their",
    ),
    "de": (
        "der", "die", "und", "den", "von", "zu", "das", "mit", "sich",
        "des", "auf", "ist", "im", "dem", "nicht", "ein", "eine",
        "als", "auch", "werden", "aus", "hat", "dass", "sie", "nach",
        "wird", "bei", "einer", "um", "sind",
    ),
    "es": (
        "de", "la", "que", "el", "en", "los", "del", "se", "las",
        "por", "un", "para", "con", "una", "su", "al", "lo", "como",
        "más", "pero", "sus", "le", "ya", "este", "porque", "esta",
        "entre", "cuando", "sin", "sobre",
    ),
    "fr": (
        "de", "la", "le", "et", "les", "des", "en", "un", "du", "une",
        "que", "est", "pour", "qui", "dans", "par", "plus", "pas",
        "au", "sur", "ne", "se", "ce", "il", "sont", "aux", "avec",
        "son", "cette", "mais",
    ),
    "zh": (
        "的", "是", "了", "在", "我", "有", "和", "就", "不", "人",
        "都", "一", "个", "上", "也", "很", "到", "说", "要", "去",
        "你", "会", "着", "没有", "看", "好", "这", "那", "他", "们",
    ),
}

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

# BPE-ish subword segmentation regex: words, numbers, or single
# non-space symbols (the shape GPT-2's pre-tokenizer uses).
BPE_ISH_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def bpe_ish_count(text: Column) -> Column:
    """Subword-ish token count via regexp — a cheap len(tokenize(text))
    proxy that needs no vocab file."""
    return F.regexp_count(text, F.lit(BPE_ISH_RE)).cast("long")


def stopword_ratio(text: Column) -> Column:
    t = tokens(text)
    stops = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    return round_half_up(stops / F.size(t), 6)


def mean_token_len(text: Column) -> Column:
    t = tokens(text)
    return round_half_up(
        F.length(F.replace(text, F.lit(" "), F.lit(""))) / F.size(t), 6
    )


def quality_features(
    docs: DataFrame,
    *,
    carry: tuple[Column, ...] = (),
) -> DataFrame:
    """Length / token / stopword / punctuation features + a composite
    quality score in [0,1] (clamped-term mean, the A13 shape applied to
    text quality). ``carry`` columns (already aliased) ride along the
    same single scan — so a caller composing quality with another
    per-doc derivation (e.g. the registrable domain for a per-domain
    quality prior) never self-joins the corpus on the doc key."""
    text = F.col("text")
    t = tokens(text)
    n_tok = F.size(t)
    char_len = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    out = docs.select(
        F.col("doc_id"),
        *carry,
        char_len.cast("long").alias("char_len"),
        n_tok.cast("long").alias("n_tokens"),
        mean_token_len(text).alias("mean_token_len"),
        stopword_ratio(text).alias("stopword_ratio"),
        round_half_up(punct / char_len, 6).alias("punct_ratio"),
    )
    score = (
        F.least(F.lit(1.0), F.col("n_tokens") / 50.0)
        + (1.0 - F.least(F.lit(1.0), F.col("punct_ratio") * 10.0))
        + F.least(F.lit(1.0), F.col("mean_token_len") / 8.0)
    ) / 3.0
    # round_half_up throughout (not F.round): every rounded ratio is a
    # representable-half-tie hazard vs the DuckDB oracle — quality_score
    # 0.8466495 actually diverged at sf0.1 before this.
    return out.withColumn("quality_score", round_half_up(score, 6))


def _isin_filter(markers: tuple[str, ...]):
    return lambda x: x.isin(*markers)


def lang_scores(text: Column) -> dict[str, Column]:
    t = tokens(text)
    return {
        lang: F.size(F.filter(t, _isin_filter(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_pred_expr(text: Column) -> Column:
    """The predicted-language Column alone (the ``lang_id`` argmax as a
    composable expression): lets a caller stamp the prediction onto an
    existing single scan instead of joining ``lang_id``'s output back on
    the doc key — same iterated-CASE argmax, ties resolve in
    LANG_MARKERS declaration order."""
    scores = lang_scores(text)
    langs = list(scores)
    best = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        is_better = scores[lang] > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, scores[lang]).otherwise(best_score)
    return best


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-token language ID with a deterministic argmax (ties resolve
    in LANG_MARKERS declaration order)."""
    scores = lang_scores(F.col("text"))
    langs = list(scores)
    # argmax via iterated CASE: lang L wins if its score >= all later langs
    # and > all earlier langs (strict ties keep the earliest).
    out_cols = [F.col("doc_id")]
    for lang in langs:
        out_cols.append(scores[lang].alias(f"score_{lang}"))
    out_cols.append(lang_pred_expr(F.col("text")).alias("predicted_lang"))
    return docs.select(*out_cols)


def chunk_documents(
    docs: DataFrame,
    *,
    chunk_tokens: int,
    stride: int,
) -> DataFrame:
    """Sliding-window chunking: split each document's whitespace tokens
    into chunks of ``chunk_tokens`` starting every ``stride`` tokens
    (stride < chunk_tokens ⇒ overlapping context windows; the final
    chunks may be short). Returns
    (key, chunk_idx, chunk_text, chunk_len).

    Scale: zero shuffle — chunk starts are a per-row ``sequence`` +
    ``posexplode`` and each chunk is a ``slice`` of the token array, all
    inside whole-stage codegen. Output rows ≈ tokens/stride per doc;
    partitioning follows the input scan."""
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride)
    )
    exploded = docs.select(
        F.col("doc_id"),
        toks.alias("_toks"),
        F.posexplode(starts).alias("chunk_idx", "_start"),
    )
    chunk = F.slice(F.col("_toks"), F.col("_start"), chunk_tokens)
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.size(chunk).cast("long").alias("chunk_len"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Normalized-content fingerprint: md5 over lowercased,
    whitespace-collapsed text (the rolling-hash shape, engine-portable)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select(
        F.col("doc_id"),
        F.md5(norm).alias("fingerprint"),
    )


def pmi_collocations(
    docs: DataFrame,
    *,
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information:
    PMI(a,b) = ln(p(ab) / (p(a)·p(b))) with unigram probabilities from
    the token stream and bigram probabilities from the adjacent-pair
    stream. The standard corpus-analysis signal for multiword
    expressions ("new york") the tokenizer/vocab steps should keep
    intact.

    One shuffle on the doc key (posexplode + the adjacency lead window
    share it), then counts partial-aggregate to vocabulary size; corpus
    totals ride along as a broadcast 1-row relation. PMI is per-row
    arithmetic on exact integer counts — the multiplication order is
    pinned left-associative so both engines produce bit-identical
    doubles — and the top-k breaks ties lexicographically."""
    # the token posting feeds three consumers (adjacency pairs, unigram
    # counts, corpus totals) — CACHE it instead of re-running the
    # scan+explode per consumer, and derive
    # the corpus totals from the already-reduced count relations
    # (Σ n_w ≡ token count, Σ n_ab ≡ bigram count — exact integers), so
    # neither total re-walks a corpus-sized stream.
    # Measured trade (r17, re-examining the r16 ADVICE note): dropping
    # this cache (cache only uni/bi_counts) read +20.6% on interleaved
    # A/B minima — the double scan+posexplode costs more here than the
    # cache write, unlike the bigram-LM case. The cache IS corpus-token
    # sized: at 100 TB prefer eviction (it degrades to recompute) over
    # removal, and note the entry lives until the session drops the
    # returned plan — the bench clears caches between runs.
    toks = (
        spread_by(docs, "doc_id")
        .select(
            F.col("doc_id").alias("doc"),
            F.posexplode(tokens(F.col("text"))).alias("pos", "w"),
        )
        .cache()
    )
    w_doc = Window.partitionBy("doc").orderBy("pos")
    bi = toks.select(
        F.col("w").alias("w1"), F.lead("w").over(w_doc).alias("w2")
    ).filter(F.col("w2").isNotNull())
    uni = (
        toks.groupBy(F.col("w"))
        .agg(F.count(F.lit(1)).alias("n_w"))
        .cache()
    )
    bi_counts = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .cache()
    )
    totals = uni.agg(
        F.sum("n_w").cast("double").alias("n_uni")
    ).crossJoin(bi_counts.agg(F.sum("n_ab").cast("double").alias("n_bi")))
    ua = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b"))
    pmi = F.log(
        (F.col("n_ab").cast("double") * F.col("n_uni") * F.col("n_uni"))
        / (F.col("n_bi") * F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return (
        bi_counts.filter(F.col("n_ab") >= min_count)
        .join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_ab",
            "n_a",
            "n_b",
            round_half_up(pmi).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(k)
    )


def zipf_fit(docs: DataFrame, *, max_rank: int = 10000) -> DataFrame:
    """Zipf-law fit of the corpus token distribution: least-squares
    slope of log(freq) on log(rank) over the top ``max_rank`` types —
    natural corpora fit α ≈ −1; a corpus of templated/generated text
    skews shallow, heavy boilerplate skews steep, making the exponent a
    one-number corpus-health audit.

    One token aggregate to the vocabulary, a two-phase global rank over
    the type relation (operators/rank.py — a parallel range exchange,
    not a single-partition sort, so an open-vocabulary corpus can't
    funnel through one task), and the regression reduces to the five
    classic sums — a single aggregate, no driver math beyond the
    closed form."""
    from rclabsapi_spark.operators.rank import global_row_number

    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        global_row_number(
            vocab,
            [F.col("n").desc(), F.col("w")],
            out_col="rank",
            bucket_key=-F.col("n"),  # desc order → negated bucket key
        )
        .filter(F.col("rank") <= max_rank)
        .select(
            F.log(F.col("rank").cast("double")).alias("x"),
            F.log(F.col("n").cast("double")).alias("y"),
        )
    )
    n = F.count(F.lit(1)).cast("double")
    agg = ranked.agg(
        n.alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("k")
    return agg.select(
        F.col("k").cast("long").alias("n_types"),
        round_half_up(slope, 6).alias("zipf_alpha"),
        round_half_up(intercept, 6).alias("log_c"),
    )


def lang_id_evaluation(docs: DataFrame) -> DataFrame:
    """Evaluate the marker-token language identifier against labeled
    ground truth: the (true, predicted, n) confusion matrix with
    per-true-language recall — the audit that decides whether the
    heuristic is good enough to gate corpus routing, and which language
    pairs it confuses when it isn't.

    One scan scores and predicts; the confusion matrix is a
    |langs|²-sized aggregate with the recall share divided from exact
    counts."""
    pred = lang_id(docs).select(
        "doc_id", "predicted_lang"
    )
    joined = docs.select("doc_id", F.col("lang").alias("true_lang")).join(
        pred, "doc_id"
    )
    cm = joined.groupBy("true_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_true = Window.partitionBy("true_lang")
    return cm.select(
        "true_lang",
        "predicted_lang",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w_true).cast("double"))
        .alias("share_of_true"),
    )
