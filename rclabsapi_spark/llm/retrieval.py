"""Ranked keyword retrieval over the document corpus: TF-IDF and Okapi
BM25 top-k search.

The reference stops at boolean keyword search — substring (P12,
log_file_manager.hpp:236-300) and regex (P13) filters over log messages.
A training-data corpus needs the ranked version of the same operation:
score every document against a small bag of query terms and return the
best k. Both scoring functions here are the standard public formulations
(Robertson & Spärck Jones; Robertson et al., TREC-3) over the same
whitespace token relation the unigram LM uses (``corpus_words``).

Scale shape (the part that matters at 100 TB):

- the token explode is the only corpus-sized relation, and it
  partial-aggregates map-side into (doc, term, tf) immediately; for
  TF-IDF the ``term IN (...)`` filter lands *before* the aggregation, so
  only postings for the query terms ever shuffle.
- the postings relation is **materialized once** (``cache()``) and every
  derived statistic — document frequency, dl, avgdl — re-aggregates the
  cached index instead of re-running the corpus explode (the plan-audit
  diamond: without the cache, Spark recomputes the explode per consumer
  and the corpus is scanned 3-5×). This is the inverted-index pattern:
  build the index one pass, serve every statistic from it.
- corpus size N is a count-only scan (zero columns read — parquet
  row-group counts answer it without touching data pages); it reaches
  the scoring join as a 1-row broadcast.
- top-k is ``orderBy(...).limit(k)`` ⇒ TakeOrderedAndProject: each
  partition keeps a k-heap and the driver merges k·p rows, never a full
  sort.

Cross-engine determinism: tf/df/N/dl are integer-valued doubles (exact);
``ln`` agrees with DuckDB to the last ulp in practice (precedent: the
green ``train_unigram_lm`` row); the per-document sum over ≤|terms|
products is rounded with :func:`round_half_up` before the rank order, and
ties break on doc_id.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rclabsapi_spark.functions.scalars import round_half_up
from rclabsapi_spark.layout import spread_by
from rclabsapi_spark.llm.training import corpus_words


def term_postings(
    docs: DataFrame,
    terms: Sequence[str],
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """(key, word, tf) postings restricted to ``terms``.

    The filter sits between the explode and the aggregate, so the
    groupBy's map-side combine only ever sees query-term tokens — the
    shuffled relation is |matching docs| × |terms| rows, not the corpus.

    The corpus spreads by the doc key BEFORE the tokenize/explode (r17):
    a fixture parquet is one unsplittable file, so the explode — the
    only corpus-sized work here — ran as a single serial task; the
    narrow (key, text) exchange fans it out, and the postings aggregate
    clusters on a superset of the key so it reuses that partitioning
    instead of adding its own exchange."""
    words = corpus_words(
        spread_by(docs.select(key_col, text_col), key_col),
        text_col=text_col,
        extra_cols=(key_col,),
    )
    return (
        words.filter(F.col("word").isin(*terms))
        .groupBy(key_col, "word")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .cache()  # df re-aggregates this; don't re-run the corpus explode
    )


def _doc_freq(postings: DataFrame) -> DataFrame:
    """(word, df) — one row per posting doc, so a plain count. Re-aggregates
    the already-reduced postings relation (a few rows per term)."""
    return postings.groupBy("word").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )


def _corpus_size(docs: DataFrame) -> DataFrame:
    return docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))


def tfidf_topk(
    docs: DataFrame,
    terms: Sequence[str],
    *,
    k: int = 15,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents by TF-IDF: score(d) = Σ_t tf(t,d) · ln(N/df(t)).

    Returns (key, score, n_terms) ordered by (score desc, key). df and N
    broadcast; the only shuffle of consequence is the postings aggregate."""
    return (
        tfidf_scores(docs, terms, text_col=text_col, key_col=key_col)
        .orderBy(F.col("score").desc(), key_col)
        .limit(k)
    )


def tfidf_scores(
    docs: DataFrame,
    terms: Sequence[str],
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Unranked TF-IDF score relation (key, score, n_terms) over every
    document containing ≥1 query term — the full posting-scored relation
    `tfidf_topk` heap-selects from, exposed for scorer-agreement audits
    that need the whole distribution, not the top of it."""
    postings = term_postings(docs, terms, text_col=text_col, key_col=key_col)
    scored = postings.join(F.broadcast(_doc_freq(postings)), "word").join(
        F.broadcast(_corpus_size(docs))
    )
    weight = F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
    # 9dp-integer-grid sum (order-independent): the rounded score feeds
    # a top-k ORDER, so a raw-sum accumulation ulp at a 6dp boundary
    # would flip rank membership, not just one cell
    w_nano = F.floor(weight * 1000000000.0 + F.lit(0.5)).cast("long")
    return scored.groupBy(key_col).agg(
        round_half_up(
            F.sum(w_nano).cast("double") / 1000000000.0
        ).alias("score"),
        F.count(F.lit(1)).alias("n_terms"),
    )


def _bm25_weight(k1: float, b: float) -> Column:
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_sat = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return idf * tf_sat


def bm25_topk(
    docs: DataFrame,
    terms: Sequence[str],
    *,
    k: int = 15,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents by Okapi BM25 (k1/b are the TREC defaults).

    Unlike TF-IDF, BM25 needs every document's token length dl and the
    corpus mean avgdl, so the full-vocabulary (doc, term, tf) index is
    materialized once (one corpus explode+combine, cached) and every
    consumer re-aggregates it: dl per doc, the query postings filter, df,
    and the avgdl scalar. dl joins postings on the doc key
    (co-partitioned: both sides are outputs of aggregates keyed on doc)."""
    return (
        bm25_scores(docs, terms, k1=k1, b=b, text_col=text_col, key_col=key_col)
        .orderBy(F.col("score").desc(), key_col)
        .limit(k)
    )


def bm25_scores(
    docs: DataFrame,
    terms: Sequence[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Unranked BM25 score relation (key, score, n_terms) — see
    `bm25_topk` for the physical shape; this is the same relation
    without the TakeOrdered heap, for whole-distribution consumers."""
    # ONE fact exchange for the whole pipeline (r17): the corpus spreads
    # by the doc key BEFORE the tokenize/explode (a fixture parquet is
    # one unsplittable file → the explode ran serially; the old shape's
    # first exchange shipped (doc, word, tf) partial aggregates — this
    # one ships (doc, text), comparable bytes), and every downstream
    # reduction clusters on a superset of the key, so the tf index, dl,
    # the postings filter, the dl⋈postings join, and the final per-doc
    # score ALL reuse that single partitioning — the plan drops from
    # four data exchanges (tf index, dl, dl-for-avgdl, the join) to one
    # plus the tiny per-term df aggregate.
    words = corpus_words(
        spread_by(docs.select(key_col, text_col), key_col),
        text_col=text_col,
        extra_cols=(key_col,),
    )
    tf_all = words.groupBy(key_col, "word").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    ).cache()
    dl = tf_all.groupBy(key_col).agg(F.sum("tf").alias("dl"))
    postings = tf_all.filter(F.col("word").isin(*terms))
    # avgdl re-aggregates the CACHED tf index (vocab-sized, map-side
    # partial, rides the key partitioning) — the old shape re-ran dl's
    # aggregate through its own exchange just to average it
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    scored = (
        postings.join(dl, key_col)
        .join(F.broadcast(_doc_freq(postings)), "word")
        .join(F.broadcast(_corpus_size(docs)))
        .join(F.broadcast(avgdl))
    )
    # same grid rationale as tfidf_scores — and here the dl join
    # SHUFFLES a doc's posting rows, so the raw-sum order is not even
    # partition-local
    bw_nano = F.floor(
        _bm25_weight(k1, b) * 1000000000.0 + F.lit(0.5)
    ).cast("long")
    return scored.groupBy(key_col).agg(
        round_half_up(
            F.sum(bw_nano).cast("double") / 1000000000.0
        ).alias("score"),
        F.count(F.lit(1)).alias("n_terms"),
    )


def mmr_rerank(
    candidates,
    *,
    lambda_relevance: float = 0.7,
    k: int = 10,
) -> list:
    """Maximal-marginal-relevance re-ranking of a COLLECTED candidate
    list: greedily pick argmax λ·rel(d) − (1−λ)·max_sim(d, chosen).
    Driver-side by design — the input is the retrieval tier's top-N
    (N ≈ 100 rows), not a corpus; Spark's job ended when the candidates
    were scored. ``candidates`` is [(id, relevance, vector)]; returns
    the re-ranked id list.

    The standard diversity fix for near-duplicate-heavy corpora: pure
    relevance top-k returns ten copies of the same boilerplate page;
    MMR trades a little relevance for coverage."""
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return d / (na * nb)

    remaining = {cid: (rel, vec) for cid, rel, vec in candidates}
    chosen: list = []
    chosen_vecs: dict = {}
    while remaining and len(chosen) < k:
        best, best_score = None, None
        for cid in sorted(remaining):
            rel, vec = remaining[cid]
            penalty = max(
                (cos(vec, cv) for cv in chosen_vecs.values()), default=0.0
            )
            score = lambda_relevance * rel - (1 - lambda_relevance) * penalty
            if best_score is None or score > best_score:
                best, best_score = cid, score
        chosen.append(best)
        chosen_vecs[best] = remaining[best][1]
        del remaining[best]
    return chosen


def mmr_rerank_df(
    candidates: DataFrame,
    *,
    key_col: str,
    rel_col: str,
    vec_col: str,
    lambda_relevance: float = 0.7,
    k: int = 5,
    materialize: bool = True,
) -> DataFrame:
    """Distributed MMR re-ranking — the DataFrame upgrade of
    :func:`mmr_rerank` (which collects): k greedy rounds, each a 1-row
    argmax of λ·rel − (1−λ)·penalty over the remaining candidates and
    an incremental penalty update
    ``pen ← max(pen, cos(v, last_chosen))`` via a 1-row broadcast —
    never a |chosen|×|remaining| join, no driver collect, so the
    candidate relation can be a full retrieval tier, not a 100-row
    sample. Returns (mmr_rank, key, relevance, mmr_score).

    Determinism: penalties round at 9dp before the max and scores
    derive from bit-identical folds, so every engine picks the same
    sequence (ties break on the key). Each round references the
    remaining relation twice; ``materialize=True`` checkpoints per
    round to truncate the doubling lineage (as bpe_merges and
    dedup_clusters do), ``materialize=False`` keeps the plan
    inspectable."""
    from rclabsapi_spark.llm.similarity import _as_double, cosine

    lam = float(lambda_relevance)
    # penalty sentinel: cosines live in [-1, 1], so -2.0 marks "no
    # chosen neighbor yet" — the reference's empty-set penalty is 0.0,
    # and a plain max-with-0.0 seed would wrongly CLAMP negative
    # cosines (a chosen vector pointing away must REDUCE the penalty)
    remaining = candidates.select(
        F.col(key_col).alias("__k"),
        F.col(rel_col).cast("double").alias("__rel"),
        _as_double(F.col(vec_col)).alias("__v"),
        F.lit(-2.0).alias("__pen"),
    )
    pen_eff = F.when(F.col("__pen") < -1.5, F.lit(0.0)).otherwise(
        F.col("__pen")
    )
    picks = []
    for rank in range(1, k + 1):
        score = (lam * F.col("__rel") - (1.0 - lam) * pen_eff).alias(
            "__score"
        )
        best = (
            remaining.select("__k", "__rel", "__v", "__pen", score)
            .orderBy(F.col("__score").desc(), F.col("__k"))
            .limit(1)
        )
        picks.append(
            best.select(
                F.lit(rank).alias("mmr_rank"),
                F.col("__k").alias(key_col),
                F.col("__rel").alias("relevance"),
                round_half_up(F.col("__score"), 6).alias("mmr_score"),
            )
        )
        bsel = best.select(
            F.col("__k").alias("__bk"), F.col("__v").alias("__bv")
        )
        remaining = (
            remaining.crossJoin(F.broadcast(bsel))
            .filter(F.col("__k") != F.col("__bk"))
            .select(
                "__k",
                "__rel",
                "__v",
                F.greatest(
                    F.col("__pen"),
                    F.round(cosine(F.col("__v"), F.col("__bv")), 9),
                ).alias("__pen"),
            )
        )
        if materialize:
            remaining = remaining.localCheckpoint(eager=True)
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out
