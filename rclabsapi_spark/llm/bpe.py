"""Distributed BPE merge training (Sennrich et al. 2016, public
literature): learn the first ``n_merges`` byte-pair-encoding merges of a
corpus as pure DataFrame aggregations — the tokenizer-induction step a
training-data pipeline runs before token counting and packing.

Algorithm, per merge round, entirely declarative (no driver collect):

1. The working vocabulary is (repr, n): each word type's current symbol
   sequence as a space-joined, space-sentineled string
   (`' h e l l o '`), with its corpus frequency.
2. Adjacent-pair counts: explode each word's symbol pairs and sum the
   word frequencies — one |vocab|-sized aggregate, never a corpus
   re-scan (the corpus reduces to word counts ONCE, up front).
3. The best pair is the 1-row argmax (count desc, then lexicographic —
   deterministic across engines); it BROADCAST-joins back and the merge
   applies as a left-to-right FOLD over the symbol array
   (``aggregate`` in Spark, ``list_reduce`` in DuckDB): if the
   accumulator's last symbol is ``l`` and the next is ``r``, they fuse,
   else append. This is exactly canonical leftmost-first greedy BPE —
   equivalent to Sennrich's zero-width-boundary regex. (A naive
   ``replace(' l r ', ' lr ')`` CONSUMES the shared boundary space and
   misses consecutive occurrences: 'a n a n a' would yield
   [an, a, n, a] instead of [an, an, a].)
4. Each round eagerly localCheckpoints the small vocabulary relation
   (``materialize=True``): a round references its input twice (pair
   counts + the carried repr), so the un-truncated logical plan doubles
   per round — the same lineage cut dedup_clusters makes per round.
   ``materialize=False`` keeps the full lineage inspectable for plan
   pins.

Scale posture: the corpus is scanned once (word-count reduction); every
round after that runs on the |word types| relation — millions of rows,
not corpus-sized — with one small shuffle (pair aggregate) and one
1-row broadcast per round. End-of-word markers are omitted
(documented simplification: merges never cross the space sentinels, so
word boundaries are already hard).

No end-of-round driver loop state exists beyond the loop index, so a
resumed run re-derives identical merges. Reference parity: extends the
reference's transform-rule compiler family (SURVEY §2.10) with a
corpus-derived rule table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def apply_merge(syms: Column, left: Column, right: Column) -> Column:
    """Apply ONE BPE merge (left, right) to a symbol array as a
    left-to-right fold: fuse whenever the accumulator's tail is
    ``left`` and the incoming symbol is ``right``, else append.

    This is canonical greedy leftmost-first application (Sennrich et
    al. 2016's ``(?<!\\S)l r(?!\\S)`` regex, whose boundary assertions
    are zero-width): consecutive occurrences all merge in one pass —
    'a n a n a' → [an, an, a] — and a token produced by the fuse can
    only seed another fuse if it textually equals ``left`` again,
    matching the regex's scan-continues-after-the-match behavior."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == left)
            & (x == right),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.concat(left, x)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_merges(
    docs: DataFrame,
    *,
    n_merges: int = 5,
    materialize: bool = True,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges of the corpus. Returns
    (merge_rank, left, right, merged, pair_count) — one row per round,
    rank 1 = most frequent pair. Deterministic: ties break
    lexicographically on (left, right) in both engines."""
    words = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    vocab = wc.select(
        F.concat(
            F.lit(" "),
            F.array_join(F.expr("regexp_extract_all(w, '.', 0)"), " "),
            F.lit(" "),
        ).alias("repr"),
        "n",
    )
    if materialize:
        # round 1 reads vocab twice (pair counts + the carried repr);
        # without this the corpus word-count explode runs once per
        # consumer — the only corpus-sized pass happens exactly once
        vocab = vocab.localCheckpoint(eager=True)
    merge_rows = []
    for rank in range(1, n_merges + 1):
        syms = F.split(F.trim(F.col("repr")), " ")
        pairs = (
            vocab.select("n", syms.alias("s"))
            .select(
                "n",
                F.explode(
                    F.expr(
                        "transform(slice(s, 1, size(s) - 1),"
                        " (x, i) -> struct(x AS l, element_at(s, i + 2) AS r))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").alias("pair_count"))
        )
        best = pairs.orderBy(
            F.col("pair_count").desc(), F.col("l"), F.col("r")
        ).limit(1)
        if materialize:
            # the 1-row argmax feeds two consumers (the output row and
            # the broadcast replace-merge); materialized eagerly, the
            # |vocab|-sized pair aggregate behind it runs ONCE per
            # round — previously it re-ran when the output union
            # executed, doubling every round's dominant aggregate
            best = best.localCheckpoint(eager=True)
        merge_rows.append(
            best.select(
                F.lit(rank).alias("merge_rank"),
                F.col("l").alias("left"),
                F.col("r").alias("right"),
                F.concat(F.col("l"), F.col("r")).alias("merged"),
                "pair_count",
            )
        )
        vocab = (
            vocab.crossJoin(F.broadcast(best))
            .select(
                F.concat(
                    F.lit(" "),
                    F.array_join(
                        apply_merge(
                            F.split(F.trim(F.col("repr")), " "),
                            F.col("l"),
                            F.col("r"),
                        ),
                        " ",
                    ),
                    F.lit(" "),
                ).alias("repr"),
                "n",
            )
        )
        if materialize:
            # truncate lineage: each round reads its input twice, so the
            # un-checkpointed plan doubles per round (the CC lesson)
            vocab = vocab.localCheckpoint(eager=True)
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionAll(m)
    return out


def bpe_segment(docs: DataFrame, merges: DataFrame) -> DataFrame:
    """Apply a learned merge table to the corpus: returns
    (key, n_tokens_char, n_tokens_bpe) — the compression audit that
    says what the learned merges buy. The merge table is collected
    driver-side (it is n_merges rows — tokenizer-sized metadata, the
    K×dim centroid-pull pattern) and applied as a chain of
    ``apply_merge`` folds in merge-rank order — each merge is one
    exhaustive canonical (leftmost-greedy) pass, so application over
    the training corpus reproduces training exactly. On UNSEEN words
    this rank-ordered one-pass-per-merge chain equals canonical
    priority-loop BPE whenever each merge's pair cannot be re-created
    by a LATER merge (tested against the reference implementation on a
    held-out word list in tests/test_bpe.py)."""
    ordered = sorted(
        merges.select("merge_rank", "left", "right").collect(),
        key=lambda r: r["merge_rank"],
    )
    per_word = docs.select(
        F.col("doc_id"),
        F.explode(F.split(F.col("text"), " ")).alias("w"),
    ).filter(F.col("w") != "")
    seg = F.expr("regexp_extract_all(w, '.', 0)")
    for r in ordered:
        seg = apply_merge(seg, F.lit(r["left"]), F.lit(r["right"]))
    return (
        per_word.select(
            F.col("doc_id"),
            F.length("w").alias("n_char"),
            F.size(seg).alias("n_bpe"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("n_char").alias("n_tokens_char"),
            F.sum("n_bpe").alias("n_tokens_bpe"),
        )
    )
