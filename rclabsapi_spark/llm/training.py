"""Training-run preparation operators: sequence packing, unigram-LM
scoring, tokenizer-vocab coverage, cross-source leakage audit.

These are the steps between "cleaned corpus" and "tensors": pack documents
into fixed-token context windows, score documents against a corpus-trained
unigram language model, measure how much of the corpus a candidate
tokenizer vocabulary covers, and audit identical content leaking across
source domains (a train/eval-split hazard).

All pure DataFrame/Catalyst expressions — no Python in the row path. Each
operator's scale posture is documented on the function.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rclabsapi_spark.layout import spread_by

from rclabsapi_spark.llm.text import token_count


def pack_bins(
    docs: DataFrame,
    *,
    budget: int,
    max_docs_per_task: int | None = None,
) -> DataFrame:
    """Greedy contiguous sequence packing: within each shard, documents in
    deterministic ``doc_id`` order fill fixed ``budget``-token bins; a
    document whose tokens straddle a boundary belongs to the bin where it
    started (first-fit along the shard order, the streaming-packer
    semantics).

    Returns (key, shard, n_tokens, bin_id).

    Scale: one window per shard partition — the shuffle is a single
    hash-partition on ``source``, and shards are processed
    independently, so 10⁵ shards spread over the cluster with no global
    sort. The running sum is the only state; no iteration, no driver.

    That holds while shard cardinality ≫ cores and shard sizes are
    bounded. A single giant shard serializes into ONE window task —
    ``max_docs_per_task`` is the escape hatch: range-partition the shard
    order into runs of roughly that many docs, run the prefix-sum window
    per run, and stitch with each run's token offset (a tiny per-shard
    aggregate over #runs rows). ``bin_id`` is a pure function of the
    shard-global token prefix sum, and a prefix sum decomposes exactly as
    run-offset + within-run prefix, so the salted output is bit-identical
    to the serial pass — not an approximation."""
    tok = token_count(F.col("text"))
    with_tok = docs.select(
        F.col("doc_id"), F.col("source"), tok.alias("n_tokens")
    )

    if max_docs_per_task is None:
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = F.sum("n_tokens").over(w)
        bin_id = F.floor(
            (cum - F.col("n_tokens")) / float(budget)
        ).cast("long")
        return with_tok.withColumn("bin_id", bin_id)

    # Salted path. Range-partition on (shard, key): partition ids are then
    # monotone in shard order, so spark_partition_id() is a valid run id
    # (which run a doc lands in varies with the range sampler; the final
    # bin_id does not — the prefix-sum decomposition is split-invariant).
    n_runs = max(
        32, math.ceil(with_tok.count() / max_docs_per_task)
    )
    ranged = with_tok.repartitionByRange(
        n_runs, F.col("source"), F.col("doc_id")
    ).withColumn("run_id", F.spark_partition_id())

    w_run = (
        Window.partitionBy("source", "run_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_run = F.sum("n_tokens").over(w_run)

    run_totals = ranged.groupBy("source", "run_id").agg(
        F.sum("n_tokens").alias("run_tokens")
    )
    w_off = (
        Window.partitionBy("source")
        .orderBy("run_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = run_totals.select(
        "source",
        "run_id",
        F.coalesce(F.sum("run_tokens").over(w_off), F.lit(0)).alias(
            "run_offset"
        ),
    )

    start = F.col("run_offset") + F.col("cum_run") - F.col("n_tokens")
    return (
        ranged.withColumn("cum_run", cum_run)
        .join(F.broadcast(offsets), ["source", "run_id"])
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.floor(start / float(budget)).cast("long").alias("bin_id"),
        )
    )


def corpus_words(
    docs: DataFrame, *, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Explode whitespace tokens, dropping empties — the word relation the
    unigram LM and vocab-coverage operators share. At scale this is the
    expensive relation (tokens ≫ docs); both consumers aggregate it with
    map-side partial combine before any join."""
    cols = [F.col(c) for c in extra_cols]
    return docs.select(
        *cols, F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")


def unigram_score(docs: DataFrame) -> DataFrame:
    """Per-document average unigram log-probability — the cheap
    perplexity-proxy quality score (docs of common words score high,
    gibberish scores low).

    Returns (key, n_words, avg_logprob).

    Scale: the model is the vocab relation; it broadcasts when small
    (natural-language vocabularies are ≤10⁷ rows ≈ a few hundred MB) —
    beyond that drop the hint and let the word⋈vocab join shuffle on the
    word key, which partial-combined word counts already co-partition."""
    from rclabsapi_spark.functions.scalars import round_half_up

    words = corpus_words(docs, extra_cols=("doc_id",))
    # cache the VOCAB-sized model relation, not a doc-level tf index:
    # without it the corpus totals and the scoring join each re-derived
    # the vocab aggregate (and its corpus explode) — but materializing a
    # (doc, word, tf) index measured 66% SLOWER at sf0.1 (interleaved
    # A/B, min-of-4): the index's cache write costs more than the one
    # explode it saves, while the word-count relation is tiny
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
        .cache()
    )
    total = vocab.agg(F.sum("cnt").alias("total"))
    model = vocab.join(F.broadcast(total))
    scored = words.join(F.broadcast(model), "word")
    # Per-word log-probs are bit-identical across engines (same parquet
    # doubles, same ln), so summing them on a 9dp integer grid makes the
    # per-doc mean accumulation-order-independent — a raw AVG(double)
    # over the join output is ordered by the join's row order, which no
    # engine pins (the dedup_minhash_calibration one-ulp lesson).
    lp_nano = F.floor(
        F.log(F.col("cnt") / F.col("total")) * 1000000000.0 + F.lit(0.5)
    ).cast("long")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        round_half_up(
            F.sum(lp_nano).cast("double")
            / (F.count(F.lit(1)) * 1000000000.0),
            6,
        ).alias("avg_logprob"),
    )


def doc_bigrams(docs: DataFrame) -> DataFrame:
    """Per-document adjacent word pairs — (key, w1, w2), one row per
    bigram occurrence. Adjacency is over the empty-filtered token
    sequence (consecutive spaces collapse), so 'a  b' yields ('a','b').
    Docs with <2 words contribute no rows. One explode, no shuffle.

    The token array is bound ONCE per row via ``let`` and the pair list
    is a zip of two slices — O(len) per document. (The previous
    indexed-transform shape re-evaluated the split+filter subtree for
    every element_at inside the lambda — HOF lambdas are interpreted,
    no common-subexpression elimination — i.e. O(len²) string work per
    doc; the rewrite took the sf0.1 bigram-LM score from ~3.5 s to
    ~0.95 s with bit-identical output.)"""
    from rclabsapi_spark.functions.scalars import let

    w0 = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    pairs = let(
        w0,
        lambda w: F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    )
    return (
        docs.filter(F.size(w0) >= 2)
        .select(F.col("doc_id"), F.explode(pairs).alias("b"))
        .select("doc_id", "b.w1", "b.w2")
    )


def bigram_score(docs: DataFrame) -> DataFrame:
    """Per-document average bigram conditional log-probability — the
    CCNet-style n-gram LM quality filter one order up from
    ``unigram_score``: fluent word-order scores high, shuffled bags of
    common words (which fool the unigram proxy) score low. MLE model,
    ln(c(w1,w2)/c(w1)); every scored bigram is in the training corpus by
    construction, so no smoothing term is needed.

    Returns (key, n_bigrams, avg_logprob); <2-word docs drop out.

    Scale: the bigram model can be ~100× the unigram vocab, so it is NOT
    broadcast — the doc-bigram posting joins it ON the (w1,w2) key,
    co-partitioned with the model aggregate's own shuffle (one exchange
    per side, partial-combined). The context totals c(w1) re-aggregate
    the already-reduced model relation (vocab-sized → broadcast back)."""
    from rclabsapi_spark.functions.scalars import round_half_up

    bg = doc_bigrams(docs)
    # deliberately UN-materialized: the bigram explode behind c12 runs
    # once per consumer (context totals + scoring join), and that
    # recompute measured CHEAPER at sf0.1 than materializing either a
    # doc-level (doc, w1, w2, tf) index (+107%, interleaved A/B) or the
    # model aggregate itself (+56%) — codegen explode+partial-aggregate
    # is the cheap currency, cache writes are not (lsh_candidate_pairs
    # re-shingles each pair side rather than cache its sets)
    c12 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("cnt12")
    )
    c1 = c12.groupBy("w1").agg(F.sum("cnt12").alias("cnt1"))
    model = c12.join(F.broadcast(c1), "w1")
    scored = bg.join(model, ["w1", "w2"])
    # 9dp-integer-grid sum: per-bigram log-probs are bit-identical
    # across engines, the post-join row order is not — see
    # unigram_score for the full rationale.
    lp_nano = F.floor(
        F.log(F.col("cnt12") / F.col("cnt1")) * 1000000000.0 + F.lit(0.5)
    ).cast("long")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        round_half_up(
            F.sum(lp_nano).cast("double")
            / (F.count(F.lit(1)) * 1000000000.0),
            6,
        ).alias("avg_logprob"),
    )


def vocab_topk(words: DataFrame, *, k: int) -> DataFrame:
    """Top-k words by frequency (ties break on the word itself, so the
    boundary of the vocabulary is deterministic across engines)."""
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(k)
    )


def vocab_coverage(docs: DataFrame, *, k: int) -> DataFrame:
    """Tokenizer-vocabulary coverage per group: what fraction of running
    words a top-k vocabulary covers (1 − OOV rate) — the audit run before
    freezing a tokenizer.

    Scale: the vocab is k rows → broadcast; the word relation aggregates
    per group with partial combine. One wide scan, one tiny broadcast."""
    words = corpus_words(docs, extra_cols=("source",))
    vocab = vocab_topk(words, k=k).select("word", F.lit(1).alias("in_vocab"))
    tagged = words.join(F.broadcast(vocab), "word", "left")
    return tagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.coalesce(F.col("in_vocab"), F.lit(0))).alias("n_in_vocab"),
        F.round(
            F.sum(F.coalesce(F.col("in_vocab"), F.lit(0))) / F.count(F.lit(1)),
            6,
        ).alias("coverage"),
    )


def _norm_fingerprint(text_col: str) -> Column:
    # same normalization as llm.text.fingerprint — lowercase, collapse
    # whitespace — so the two operators agree on "identical content".
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return F.md5(norm)


def cross_source_leakage(docs: DataFrame) -> DataFrame:
    """Per-source leakage audit: how many of a source's documents have
    normalized content that also appears under ANOTHER source — the
    train/eval-split hazard exact dedup alone doesn't surface (it keeps
    one copy but doesn't tell you which domains collide).

    Returns (source, n_docs, n_leaked, leak_ratio).

    Scale: fingerprints (32 B) shuffle, never bodies. Two reductions on
    the fingerprint key — the per-fingerprint source count reuses the
    same hash partitioning as the join back (one exchange under AQE)."""
    fps = docs.select(
        F.col("source").alias("source"),
        _norm_fingerprint("text").alias("fp"),
    )
    fp_src = fps.groupBy("fp").agg(
        F.count_distinct("source").alias("n_src")
    )
    tagged = fps.join(fp_src, "fp")
    leaked = F.when(F.col("n_src") > 1, 1).otherwise(0)
    return tagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(leaked).alias("n_leaked"),
        F.round(F.sum(leaked) / F.count(F.lit(1)), 6).alias("leak_ratio"),
    )


def span_corruption(
    docs: DataFrame,
    *,
    span_len: int = 3,
    start_rate: float = 0.05,
    sentinel: str = "<X>",
    salt: str = "span:",
) -> DataFrame:
    """T5-style span corruption: deterministically mask contiguous token
    spans and emit (masked input, target spans) pairs — the denoising
    pretraining objective's data side.

    Span STARTS are hash-chosen positions (md5(salt, key, pos) below the
    rate threshold — a pure function of the key, so every engine, run,
    and partitioning corrupts identically); a token is masked when any
    start falls within the trailing ``span_len`` window, which is a
    windowed MAX over the start indicator — whole-stage codegen, no
    per-row Python, no array lambdas. Consecutive masked tokens collapse
    to ONE sentinel in the input (run-length via lag); targets carry
    (span_id, span_text). One doc-key shuffle; collect_list reassembles
    under the same partitioning.

    Contract: a doc where no span start fires returns ``targets = []``
    (an empty array, not NULL) with the input text unchanged — pinned
    by tests/test_pack_bins.py::test_span_corruption_spanless_doc_contract."""
    toks = spread_by(docs, "doc_id").select(
        F.col("doc_id").alias("doc"),
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    thr = format(int(65536 * start_rate), "04x")
    is_start = (
        F.substring(
            F.md5(
                F.concat(
                    F.lit(salt),
                    F.col("doc").cast("string"),
                    F.lit(":"),
                    F.col("pos").cast("string"),
                )
            ),
            1,
            4,
        )
        < thr
    ).cast("int")
    w = Window.partitionBy("doc").orderBy("pos")
    w_span = w.rowsBetween(-(span_len - 1), Window.currentRow)
    flagged = toks.select(
        "doc",
        "pos",
        "tok",
        F.max(is_start).over(w_span).alias("masked"),
    )
    runs = flagged.select(
        "doc",
        "pos",
        "tok",
        "masked",
        (
            (F.col("masked") == 1)
            & (F.coalesce(F.lag("masked").over(w), F.lit(0)) == 0)
        ).cast("int").alias("span_begin"),
    ).withColumn(
        "span_id",
        F.when(
            F.col("masked") == 1,
            F.sum("span_begin").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        ),
    )
    # masked input: keep visible tokens; emit ONE sentinel per span
    input_tok = F.when(F.col("masked") == 0, F.col("tok")).when(
        F.col("span_begin") == 1, F.lit(sentinel)
    )
    # ONE grouped pass produces all four outputs. The previous shape
    # branched `runs` into an inputs aggregate and a two-level targets
    # aggregate and joined them back — the explode + window chain ran
    # once PER BRANCH. collect_list skips NULLs, so both token streams
    # filter inside the single aggregate; the per-span regroup the
    # (doc, span_id) groupBy used to do is a left-to-right fold over
    # the pos-sorted masked tokens (span ids are non-decreasing in
    # pos), appending to the open span or starting a new one —
    # identical (span_id, span_text) structs in identical span order.
    # n_spans = Σ span_begin (each span begins exactly once) and
    # n_masked_tokens = Σ masked replace the old COUNT/SUM over the
    # span relation with the same exact integers.
    masked_structs = F.array_sort(
        F.collect_list(
            F.when(F.col("masked") == 1, F.struct("pos", "span_id", "tok"))
        )
    )
    targets_col = F.aggregate(
        masked_structs,
        F.array().cast("array<struct<span_id:bigint,span_text:string>>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1)["span_id"] == x["span_id"]),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(
                    F.struct(
                        x["span_id"].alias("span_id"),
                        F.concat_ws(
                            " ",
                            F.element_at(acc, -1)["span_text"],
                            x["tok"],
                        ).alias("span_text"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        x["span_id"].alias("span_id"),
                        x["tok"].alias("span_text"),
                    )
                ),
            )
        ),
    )
    return (
        runs.withColumn("itok", input_tok)
        .groupBy("doc")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("itok").isNotNull(),
                                F.struct("pos", "itok"),
                            )
                        )
                    ),
                    lambda s: s["itok"],
                ),
                " ",
            ).alias("masked_input"),
            F.sum("span_begin").cast("long").alias("n_spans"),
            F.sum("masked").cast("long").alias("n_masked_tokens"),
            targets_col.alias("targets"),
        )
        .select(
            F.col("doc").alias("doc_id"),
            "masked_input",
            "n_spans",
            "n_masked_tokens",
            "targets",
        )
    )


def shuffle_shards(df: DataFrame, *, key_col: str, n_shards: int) -> DataFrame:
    """Deterministic global corpus shuffle into exactly-even shards —
    the data-order randomization every training run needs, made
    reproducible: rank keys by md5("shuf:"‖key), assign round-robin
    (shard = rank mod N → shard sizes differ by at most 1, unlike the
    ±√n jitter of md5-mod-N), position-in-shard = rank div N. A resumed
    or re-run pipeline re-derives the identical order.

    The rank is the percentile-threshold two-phase global row number
    (operators/rank.py) — bucketed parallel windows plus a ≤B-row
    offset join, never a single-partition sort; the md5 rank key is
    uniform by construction, so the threshold buckets are balanced."""
    from rclabsapi_spark.operators.rank import global_row_number

    h = F.md5(F.concat(F.lit("shuf:"), F.col(key_col).cast("string")))
    ranked = global_row_number(
        df.select(F.col(key_col)),
        [h, F.col(key_col)],
        out_col="__shuf_rn",
        # md5 is fixed-length lowercase hex: lexicographic ≡ numeric, so
        # a 13-hex (52-bit, double-exact) prefix is a monotone bucket key
        bucket_key=F.conv(F.substring(h, 1, 13), 16, 10).cast("long"),
    )
    rn = F.col("__shuf_rn") - 1  # already long (rank.py overflow contract)
    return ranked.select(
        F.col(key_col),
        (rn % n_shards).cast("int").alias("shard"),
        F.floor(rn / n_shards).cast("int").alias("pos_in_shard"),
    )
