"""Training-preparation queries: sequence packing, unigram-LM scoring,
vocab coverage, cross-source leakage, corpus length histogram, embedding
norm audit — the steps between a cleaned corpus and a training run.

Determinism notes: packing bins are integer arithmetic over BIGINT token
counts (exact in doubles ≪ 2⁵³); unigram/vocab ties break on the word
itself; the embedding norm fold is sequential in both engines (Spark
``aggregate`` and DuckDB ``list_reduce`` are left folds over the same
array order) so norms are bit-identical before the final rounded
aggregates.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rclabsapi_spark.catalog import load_table
from rclabsapi_spark.functions.scalars import sql_round_half_up
from rclabsapi_spark.llm.training import (
    bigram_score,
    cross_source_leakage,
    pack_bins,
    unigram_score,
    vocab_coverage,
)
from rclabsapi_spark.registry import query

_PACK_BUDGET = 2000

_PACK_ORACLE = f"""
WITH t AS (
    SELECT source, doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tokens
    FROM documents
),
c AS (
    SELECT source, doc_id, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
    FROM t
)
SELECT source,
       CAST(FLOOR((cum - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT) AS bin_id,
       COUNT(*)::BIGINT AS n_docs,
       SUM(n_tokens)::BIGINT AS bin_tokens,
       ROUND(SUM(n_tokens) / {_PACK_BUDGET}.0, 6) AS fill_ratio
FROM c GROUP BY source, bin_id
"""


@query("train_pack_sequences", _PACK_ORACLE, bench=True)
def q_pack(spark, sf_dir):
    """Greedy contiguous packing of each source's documents into
    2000-token context-window bins (first-fit along doc_id order;
    straddling docs stay in the bin where they started), reported as
    per-bin fill stats. One shuffle on the shard key; the window runs
    per-shard with no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    assigned = pack_bins(docs, budget=_PACK_BUDGET)
    return assigned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.round(F.sum("n_tokens") / float(_PACK_BUDGET), 6).alias(
            "fill_ratio"
        ),
    )


_UNIGRAM_ORACLE = """
WITH w AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
words AS (SELECT doc_id, word FROM w WHERE word <> ''),
vocab AS (
    SELECT word, COUNT(*)::DOUBLE AS cnt FROM words GROUP BY word
),
tot AS (SELECT SUM(cnt) AS total FROM vocab)
SELECT d.doc_id, COUNT(*)::BIGINT AS n_words,
       -- 9dp-integer-grid sum: per-word ln values are bit-identical
       -- across engines, the post-join accumulation order is not
       FLOOR((SUM(CAST(FLOOR(ln(v.cnt / t.total) * 1000000000.0 + 0.5)
                       AS BIGINT))::DOUBLE
              / (COUNT(*) * 1000000000.0)) * 1000000.0 + 0.5) / 1000000.0
           AS avg_logprob
FROM words d JOIN vocab v USING (word) CROSS JOIN tot t
GROUP BY d.doc_id
"""


@query("train_unigram_lm_score", _UNIGRAM_ORACLE, bench=True)
def q_unigram(spark, sf_dir):
    """Unigram-LM document scoring (perplexity proxy): train word
    log-probabilities from the corpus itself, score each doc by mean
    log-prob of its words. The model broadcasts (vocab ≪ corpus); the
    word relation partial-combines before every aggregate."""
    return unigram_score(load_table(spark, sf_dir, "documents"))


_BIGRAM_ORACLE = """
WITH arr AS (
    SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS w
    FROM documents
),
bg AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w)),
                  i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b
    FROM arr WHERE len(w) >= 2
),
bge AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
c12 AS (
    SELECT w1, w2, COUNT(*)::DOUBLE AS cnt12 FROM bge GROUP BY w1, w2
),
c1 AS (SELECT w1, SUM(cnt12) AS cnt1 FROM c12 GROUP BY w1)
SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
       -- 9dp-integer-grid sum (see the unigram oracle note)
       FLOOR((SUM(CAST(FLOOR(ln(cnt12 / cnt1) * 1000000000.0 + 0.5)
                       AS BIGINT))::DOUBLE
              / (COUNT(*) * 1000000000.0)) * 1000000.0 + 0.5) / 1000000.0
           AS avg_logprob
FROM bge JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
GROUP BY doc_id
"""


@query("train_bigram_lm_score", _BIGRAM_ORACLE, bench=True)
def q_bigram(spark, sf_dir):
    """Bigram-LM document scoring — the CCNet-style fluency filter one
    order above ``train_unigram_lm_score``: MLE conditional log-prob
    ln(c(w1,w2)/c(w1)) averaged over each doc's adjacent word pairs, so
    word ORDER matters (shuffled bags of common words stop scoring
    high). The bigram model is shuffle-joined on its own (w1,w2)
    partitioning — bigram vocab is ~100× unigram and must not broadcast;
    context totals are vocab-sized and broadcast back. Reference
    semantics: corpus-statistics quality gates
    (log_processor.hpp:231-247) raised to conditional n-gram form."""
    return bigram_score(load_table(spark, sf_dir, "documents"))


_VOCAB_K = 50

_VOCAB_ORACLE = f"""
WITH w AS (
    SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
),
words AS (SELECT source, word FROM w WHERE word <> ''),
vocab AS (
    SELECT word FROM (
        SELECT word, COUNT(*) AS cnt FROM words GROUP BY word
        ORDER BY cnt DESC, word LIMIT {_VOCAB_K}
    )
)
SELECT source, COUNT(*)::BIGINT AS n_words,
       SUM(CASE WHEN word IN (SELECT word FROM vocab)
                THEN 1 ELSE 0 END)::BIGINT AS n_in_vocab,
       ROUND(SUM(CASE WHEN word IN (SELECT word FROM vocab)
                      THEN 1 ELSE 0 END) / (COUNT(*) * 1.0), 6) AS coverage
FROM words GROUP BY source
"""


@query("train_vocab_coverage", _VOCAB_ORACLE)
def q_vocab_coverage(spark, sf_dir):
    """Tokenizer-vocab coverage per source: fraction of running words a
    top-50 frequency vocabulary covers (1 − OOV rate). The candidate
    vocab is k rows → broadcast; ties at the boundary break on the word
    so the vocabulary is deterministic."""
    return vocab_coverage(
        load_table(spark, sf_dir, "documents"), k=_VOCAB_K
    )


_LEAK_ORACLE = """
WITH fps AS (
    SELECT source,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
    FROM documents
),
fp_src AS (
    SELECT fp, COUNT(DISTINCT source) AS n_src FROM fps GROUP BY fp
)
SELECT f.source, COUNT(*)::BIGINT AS n_docs,
       SUM(CASE WHEN s.n_src > 1 THEN 1 ELSE 0 END)::BIGINT AS n_leaked,
       ROUND(SUM(CASE WHEN s.n_src > 1 THEN 1 ELSE 0 END)
             / (COUNT(*) * 1.0), 6) AS leak_ratio
FROM fps f JOIN fp_src s USING (fp)
GROUP BY f.source
"""


@query("train_cross_source_leakage", _LEAK_ORACLE)
def q_leakage(spark, sf_dir):
    """Cross-source content leakage: per source, how many documents'
    normalized content also appears under another source (train/eval
    split hazard). Fingerprints shuffle, bodies never do."""
    return cross_source_leakage(load_table(spark, sf_dir, "documents"))


_LENGTH_HIST_ORACLE = """
WITH t AS (
    SELECT lang, len(string_split(text, ' '))::BIGINT AS n_tokens
    FROM documents
)
SELECT lang,
       CAST(POWER(2, FLOOR(LOG2(n_tokens))) AS BIGINT) AS bucket_lo,
       COUNT(*)::BIGINT AS n_docs,
       -- AVG of BIGINTs is exact (integer sums); the half-up floor
       -- form replaces ROUND, which tie-breaks differently per engine
       FLOOR(AVG(n_tokens) * 100.0 + 0.5) / 100.0 AS avg_tokens
FROM t WHERE n_tokens >= 1
GROUP BY lang, bucket_lo
"""


@query("train_length_histogram", _LENGTH_HIST_ORACLE)
def q_length_hist(spark, sf_dir):
    """Token-length histogram in power-of-two buckets × language — the
    sizing view for context-window and packing-budget choices. Single
    scan, tiny group-by. avg_tokens is an exact integer-sum ratio
    (raw-AVG exempt); the final round uses the half-up floor form
    (F.round vs ROUND tie-break differently per engine)."""
    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.llm.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    bucket = F.pow(F.lit(2.0), F.floor(F.log2(n_tok))).cast("long")
    return (
        docs.select(
            "lang", n_tok.alias("n_tokens"), bucket.alias("bucket_lo")
        )
        .filter(F.col("n_tokens") >= 1)
        .groupBy("lang", "bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            round_half_up(F.avg("n_tokens"), 2).alias("avg_tokens"),
        )
    )


_SQ_SQL = (
    "list_reduce(list_transform(range(1, len({e}) + 1),"
    " i -> {e}[i] * {e}[i]), (acc, x) -> acc + x)"
)

_EMB_NORM_ORACLE = f"""
WITH n AS (
    SELECT label,
           sqrt({_SQ_SQL.format(e="(embedding::DOUBLE[])")}) AS norm
    FROM embeddings
)
SELECT label, COUNT(*)::BIGINT AS n_vecs,
       -- 9dp-integer-grid mean (order-independent); MIN/MAX are exact
       -- selections, so only the tie-portable final round matters
       FLOOR((SUM(CAST(FLOOR(norm * 1000000000.0 + 0.5) AS HUGEINT))::DOUBLE
              / (COUNT(*) * 1000000000.0)) * 1000000.0 + 0.5)
           / 1000000.0 AS avg_norm,
       FLOOR(MIN(norm) * 1000000.0 + 0.5) / 1000000.0 AS min_norm,
       FLOOR(MAX(norm) * 1000000.0 + 0.5) / 1000000.0 AS max_norm
FROM n GROUP BY label
"""


@query("train_emb_norm_stats", _EMB_NORM_ORACLE)
def q_emb_norms(spark, sf_dir):
    """Embedding L2-norm audit per label — the pre-ANN sanity check
    (unnormalized vectors break cosine-vs-dot assumptions). The squared
    fold is sequential in both engines → norms are bit-identical; the
    mean sums 9dp-integer-grid norms (order-independent), MIN/MAX are
    exact selections, and every final round uses the half-up floor
    form."""
    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.llm.similarity import norm

    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norms = emb.select("label", norm(v).alias("norm"))
    norm_nano = F.floor(
        F.col("norm") * 1000000000.0 + F.lit(0.5)
    ).cast("decimal(38,0)")
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        round_half_up(
            F.sum(norm_nano).cast("double")
            / (F.count(F.lit(1)) * 1000000000.0),
            6,
        ).alias("avg_norm"),
        round_half_up(F.min("norm"), 6).alias("min_norm"),
        round_half_up(F.max("norm"), 6).alias("max_norm"),
    )


_CHUNK_ORACLE = """
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
s AS (
    SELECT doc_id, toks,
           UNNEST(generate_series(1, GREATEST(len(toks), 1), 64)) AS start
    FROM t
)
SELECT doc_id,
       ((start - 1) / 64)::BIGINT AS chunk_idx,
       array_to_string(list_slice(toks, start, start + 127), ' ')
           AS chunk_text,
       len(list_slice(toks, start, start + 127))::BIGINT AS chunk_len
FROM s
"""


@query("train_chunk_sliding", _CHUNK_ORACLE, bench=True)
def q_chunk_sliding(spark, sf_dir):
    """Sliding-window context chunking (128-token windows, stride 64 —
    50% overlap): per-row sequence/posexplode/slice, zero shuffle, all
    whole-stage codegen. chunk_idx = start ordinal, so the oracle's
    (start-1)/stride reproduces posexplode's position exactly."""
    from rclabsapi_spark.llm.text import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"),
        chunk_tokens=128,
        stride=64,
    )


_SPLIT_ORACLE = """
SELECT doc_id, source,
       CASE
         WHEN substring(md5('split1' || CAST(doc_id AS VARCHAR)), 1, 4)
              < '0ccc' THEN 'val'
         WHEN substring(md5('split1' || CAST(doc_id AS VARCHAR)), 1, 4)
              < '1999' THEN 'test'
         ELSE 'train'
       END AS split
FROM documents
"""


@query("train_split_assign", _SPLIT_ORACLE)
def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment (5% val, 5% test) — split
    membership is a pure function of (salt, doc_id), so re-runs,
    repartitionings, and corpus growth never move an existing row across
    splits. Pure Project, no shuffle; thresholds are the same 16-bit md5
    bucket the samplers use (0.05*65536=3276=0x0ccc, 0.10*65536=0x1999)."""
    from rclabsapi_spark.llm.sampling import split_assign

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return split_assign(
        docs, key_col="doc_id", val_pct=5.0, test_pct=5.0, salt="split1"
    )


_SPLIT_LEAK_ORACLE = """
WITH assigned AS (
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           CASE
             WHEN substring(md5('split1' || CAST(doc_id AS VARCHAR)), 1, 4)
                  < '0ccc' THEN 'val'
             WHEN substring(md5('split1' || CAST(doc_id AS VARCHAR)), 1, 4)
                  < '1999' THEN 'test'
             ELSE 'train'
           END AS split
    FROM documents
),
fps AS (
    SELECT fp,
           COUNT(DISTINCT split)::BIGINT AS n_splits,
           COUNT(*)::BIGINT AS n_docs
    FROM assigned GROUP BY fp
)
SELECT a.split,
       COUNT(*)::BIGINT AS n_docs,
       CAST(SUM(CASE WHEN f.n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_leaked,
       ROUND(SUM(CASE WHEN f.n_splits > 1 THEN 1 ELSE 0 END)
             / COUNT(*), 6) AS leak_ratio
FROM assigned a JOIN fps f USING (fp)
GROUP BY a.split
"""


@query("train_split_contamination", _SPLIT_LEAK_ORACLE, bench=True)
def q_split_contamination(spark, sf_dir):
    """Split-contamination audit: per split, how many documents share a
    normalized content fingerprint with ANOTHER split — the eval-leakage
    hazard hash-based splitting by doc_id cannot prevent when the same
    content appears under different ids (dedupe before splitting, or
    split by content fingerprint instead). Fingerprints shuffle (32 B),
    bodies never; two reductions on the fingerprint key share one
    partitioning — the cross_source_leakage shape applied to splits."""
    from rclabsapi_spark.llm.sampling import split_assign
    from rclabsapi_spark.llm.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    fps = fingerprint(docs)  # (doc_id, fingerprint)
    assigned = split_assign(
        docs.select("doc_id"), key_col="doc_id",
        val_pct=5.0, test_pct=5.0, salt="split1",
    ).join(fps, "doc_id")
    per_fp = assigned.groupBy("fingerprint").agg(
        F.count_distinct("split").alias("n_splits")
    )
    tagged = assigned.join(per_fp, "fingerprint")
    leaked = F.when(F.col("n_splits") > 1, 1).otherwise(0)
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(leaked).cast("long").alias("n_leaked"),
        F.round(F.sum(leaked) / F.count(F.lit(1)), 6).alias("leak_ratio"),
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization audit
# ---------------------------------------------------------------------------

_QUANT_ORACLE = """
WITH flat AS (
    SELECT unnest(range(1, len(embedding) + 1)) AS dim,
           unnest(embedding)::DOUBLE AS v
    FROM embeddings
),
bounds AS (
    SELECT dim, MIN(v) AS lo, MAX(v) AS hi FROM flat GROUP BY 1
),
coded AS (
    SELECT f.dim, b.lo, b.hi,
           ABS(f.v - (b.lo + FLOOR((f.v - b.lo) / (b.hi - b.lo) * 255.0 + 0.5)
                             * (b.hi - b.lo) / 255.0)) AS err
    FROM flat f JOIN bounds b ON f.dim = b.dim
)
SELECT dim, MIN(lo) AS lo, MAX(hi) AS hi,
       FLOOR((SUM(CAST(FLOOR(err * 1000000000.0 + 0.5) AS HUGEINT))::DOUBLE
              / (COUNT(*) * 1000000000.0)) * 1000000.0 + 0.5)
           / 1000000.0 AS mae,
       FLOOR(MAX(err) * 1000000.0 + 0.5) / 1000000.0 AS max_err
FROM coded GROUP BY 1
"""


@query("emb_quantize_error", _QUANT_ORACLE, bench=True)
def q_emb_quantize(spark, sf_dir):
    """Per-dimension int8 scalar-quantization audit over the embedding
    table: affine min/max codes, dequantize, report mean/max absolute
    reconstruction error — the go/no-go check before shipping 4×-smaller
    vectors to the ANN tier. Per-dim bounds broadcast back; code/dequant
    is per-row arithmetic with identical expression trees on both
    engines. llm/similarity.py::quantize_embeddings_error."""
    from rclabsapi_spark.llm.similarity import quantize_embeddings_error

    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_embeddings_error(emb, bits=8)


# ---------------------------------------------------------------------------
# T5-style span corruption (denoising objective data prep)
# ---------------------------------------------------------------------------

_SPAN_ORACLE = """
WITH toks AS (
    SELECT doc_id AS doc, r.pos - 1 AS pos, arr[r.pos] AS tok
    FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
         UNNEST(range(1, len(arr) + 1)) AS r(pos)
    WHERE arr[r.pos] <> ''
),
flagged AS (
    SELECT doc, pos, tok,
           MAX(CASE WHEN substring(md5('span:' || CAST(doc AS VARCHAR)
                        || ':' || CAST(pos AS VARCHAR)), 1, 4) < '0ccc'
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc ORDER BY pos
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS masked
    FROM toks
),
runs AS (
    SELECT doc, pos, tok, masked,
           CASE WHEN masked = 1 AND COALESCE(
                    LAG(masked) OVER (PARTITION BY doc ORDER BY pos), 0) = 0
                THEN 1 ELSE 0 END AS span_begin
    FROM flagged
),
inputs AS (
    SELECT doc,
           string_agg(
               CASE WHEN masked = 0 THEN tok
                    WHEN span_begin = 1 THEN '<X>' END,
               ' ' ORDER BY pos) AS masked_input
    FROM runs
    WHERE masked = 0 OR span_begin = 1
    GROUP BY doc
),
spans AS (
    SELECT doc, SUM(span_begin)::BIGINT AS n_spans,
           SUM(masked)::BIGINT AS n_masked_tokens
    FROM runs GROUP BY doc
)
SELECT i.doc AS doc_id, i.masked_input,
       COALESCE(s.n_spans, 0)::BIGINT AS n_spans,
       COALESCE(s.n_masked_tokens, 0)::BIGINT AS n_masked_tokens
FROM inputs i LEFT JOIN spans s ON s.doc = i.doc
"""


@query("train_span_corruption", _SPAN_ORACLE, bench=True)
def q_span_corruption(spark, sf_dir):
    """T5-style span corruption over documents (span_len=3, 5% start
    rate): hash-chosen span starts (pure function of doc/pos — every
    engine and partitioning corrupts identically), masked flag via a
    trailing windowed MAX, run-length sentinel collapse, ordered
    reassembly — whole-stage codegen, one doc-key shuffle, no Python.
    llm/training.py::span_corruption."""
    from rclabsapi_spark.llm.training import span_corruption

    docs = load_table(spark, sf_dir, "documents")
    out = span_corruption(
        docs, span_len=3, start_rate=0.05, sentinel="<X>", salt="span:"
    )
    return out.select(
        "doc_id", "masked_input", "n_spans", "n_masked_tokens"
    )


# ---------------------------------------------------------------------------
# Deterministic shard shuffle (training data-order randomization)
# ---------------------------------------------------------------------------

_SHARD_ORACLE = """
WITH ranked AS (
    SELECT doc_id,
           ROW_NUMBER() OVER (
               ORDER BY md5('shuf:' || CAST(doc_id AS VARCHAR)), doc_id
           ) - 1 AS rn
    FROM documents
)
SELECT doc_id, CAST(rn % 8 AS INT) AS shard,
       CAST(rn // 8 AS INT) AS pos_in_shard
FROM ranked
"""


@query("train_shard_shuffle", _SHARD_ORACLE)
def q_shard_shuffle(spark, sf_dir):
    """Deterministic global corpus shuffle into 8 exactly-even shards:
    md5-rank the keys, shard = rank mod 8, position = rank div 8 — the
    reproducible data-order randomization a resumable training run
    needs. The rank is the percentile-threshold two-phase global row
    number (operators/rank.py), never a single-partition sort.
    llm/training.py::shuffle_shards."""
    from rclabsapi_spark.llm.training import shuffle_shards

    docs = load_table(spark, sf_dir, "documents")
    return shuffle_shards(docs, key_col="doc_id", n_shards=8)


# ---------------------------------------------------------------------------
# Distributed BPE merge training (tokenizer induction)
# ---------------------------------------------------------------------------

def _bpe_fold_sql(inner: str, b: str) -> str:
    """DuckDB fold applying one BPE merge (b.l, b.r) to a sentineled
    symbol string — list_reduce has no initial-value arg in DuckDB
    1.0, so a prepended ' ' seeds the accumulator (the empty
    sentineled string); each step fuses when the accumulator ends
    with ' l ' and the next symbol is r (canonical leftmost-greedy —
    consecutive occurrences all merge, unlike a boundary-consuming
    replace(' l r ', ' lr '))."""
    return (
        f"list_reduce(list_prepend(' ', string_split(trim({inner}), ' ')),"
        f" (acc, x) -> CASE WHEN x = {b}.r"
        f" AND ends_with(acc, ' ' || {b}.l || ' ')"
        f" THEN left(acc, length(acc) - length({b}.l) - 1)"
        f" || {b}.l || x || ' '"
        f" ELSE acc || x || ' ' END)"
    )


def _bpe_round_sql(r: int) -> str:
    prev = f"v{r - 1}"
    return f"""
p{r} AS (
    SELECT l, r, SUM(n)::BIGINT AS pair_count FROM (
        SELECT n, s[i] AS l, s[i + 1] AS r
        FROM (SELECT string_split(trim(repr), ' ') AS s, n FROM {prev}),
             UNNEST(range(1, len(s))) AS t(i)
    ) GROUP BY l, r
),
b{r} AS (
    SELECT l, r, pair_count FROM p{r}
    ORDER BY pair_count DESC, l, r LIMIT 1
),
v{r} AS (
    SELECT {_bpe_fold_sql("repr", "b")} AS repr, n
    FROM {prev}, b{r} b
)"""


_BPE_N_MERGES = 5

_BPE_ORACLE = (
    """
WITH wc AS (
    SELECT w, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE w <> '' GROUP BY w
),
v0 AS (
    SELECT ' ' || array_to_string(regexp_extract_all(w, '.'), ' ') || ' '
               AS repr, n
    FROM wc
),"""
    + ",".join(_bpe_round_sql(r) for r in range(1, _BPE_N_MERGES + 1))
    + "\n"
    + "\nUNION ALL ".join(
        f'SELECT {r} AS merge_rank, l AS "left", r AS "right",'
        f" l || r AS merged, pair_count FROM b{r}"
        for r in range(1, _BPE_N_MERGES + 1)
    )
)


@query("train_bpe_merges", _BPE_ORACLE, bench=True)
def q_bpe_merges(spark, sf_dir, *, materialize=True):
    """First 5 BPE merges of the corpus (Sennrich et al. 2016) learned
    as pure DataFrame rounds: the corpus reduces to word counts once;
    each round is one |vocab|-sized pair aggregate, a deterministic
    1-row argmax (count desc, lexicographic), and a broadcast
    replace-merge — no driver collect in the loop. The oracle unrolls
    the same 5 rounds as CTEs (the dedup_semantic k-means pattern).
    ``materialize=False`` keeps the full per-round lineage inspectable.
    llm/bpe.py::bpe_merges."""
    from rclabsapi_spark.llm.bpe import bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merges(
        docs, n_merges=_BPE_N_MERGES, materialize=materialize
    )


_seg_fold = "' ' || array_to_string(regexp_extract_all(w, '.'), ' ') || ' '"
for _r in range(1, _BPE_N_MERGES + 1):
    _seg_fold = _bpe_fold_sql(_seg_fold, f"b{_r}")

_BPE_SEGMENT_ORACLE = (
    _BPE_ORACLE.split("\nSELECT 1 AS merge_rank")[0].rstrip()
    + f"""
, pw AS (
    SELECT doc_id, w
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents)
    WHERE w <> ''
),
seg AS (
    SELECT doc_id, length(w) AS n_char,
           len(string_split(trim({_seg_fold}), ' ')) AS n_bpe
    FROM pw, b1, b2, b3, b4, b5
)
SELECT doc_id, SUM(n_char)::BIGINT AS n_tokens_char,
       SUM(n_bpe)::BIGINT AS n_tokens_bpe
FROM seg GROUP BY doc_id
"""
)


@query("train_bpe_segment", _BPE_SEGMENT_ORACLE)
def q_bpe_segment(spark, sf_dir, *, materialize=True):
    """Apply the 5 learned BPE merges back to the corpus: per-doc char
    vs BPE token counts — the compression audit that says what the
    merges buy (and the driver-verified proof that training and
    application agree end-to-end; the oracle re-learns the merges in
    its CTEs and applies them as the same nested leftmost-greedy
    folds). llm/bpe.py::bpe_segment."""
    from rclabsapi_spark.llm.bpe import bpe_merges, bpe_segment

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_merges(
        docs, n_merges=_BPE_N_MERGES, materialize=materialize
    )
    return bpe_segment(docs, merges)


_BPE_FERTILITY_ORACLE = f"""
WITH seg AS ({_BPE_SEGMENT_ORACLE})
SELECT d.lang, COUNT(*)::BIGINT AS n_docs,
       SUM(s.n_tokens_char)::BIGINT AS n_tokens_char,
       SUM(s.n_tokens_bpe)::BIGINT AS n_tokens_bpe,
       {sql_round_half_up(
           "SUM(s.n_tokens_char)::DOUBLE / SUM(s.n_tokens_bpe)::DOUBLE", 6
       )} AS chars_per_token
FROM seg s JOIN documents d USING (doc_id)
GROUP BY d.lang
"""


@query("train_bpe_fertility", _BPE_FERTILITY_ORACLE)
def q_bpe_fertility(spark, sf_dir, *, materialize=True):
    """Per-language BPE compression (tokenizer-fairness audit): merges
    learned on the whole corpus compress the dominant language best —
    chars-per-token by language quantifies the disparity that drives
    per-language token budgets and fertility-aware sampling (public
    multilingual-tokenizer literature). Integer sums divided once, so
    the ratio is bit-identical across engines.
    llm/bpe.py::bpe_segment."""
    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.llm.bpe import bpe_merges, bpe_segment

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_merges(
        docs, n_merges=_BPE_N_MERGES, materialize=materialize
    )
    seg = bpe_segment(docs, merges)
    return (
        seg.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens_char").alias("n_tokens_char"),
            F.sum("n_tokens_bpe").alias("n_tokens_bpe"),
        )
        .select(
            "lang",
            "n_docs",
            "n_tokens_char",
            "n_tokens_bpe",
            round_half_up(
                F.col("n_tokens_char").cast("double")
                / F.col("n_tokens_bpe").cast("double"),
                6,
            ).alias("chars_per_token"),
        )
    )


# ---------------------------------------------------------------------------
# Epoch-mixture schedule audit (temperature mixing × token budget)
# ---------------------------------------------------------------------------

_EPOCH_TAU = 0.5
_EPOCH_BUDGET_MULT = 2.0

_EPOCH_MIXTURE_ORACLE = f"""
WITH t AS (
    SELECT source,
           SUM(len(regexp_extract_all(
               text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')))::BIGINT
               AS n_tokens
    FROM documents GROUP BY source
),
z AS (
    -- Z = Σ n^τ on the 9dp integer grid (HUGEINT ≙ DECIMAL(38,0)):
    -- order-independent, mirroring epoch_mixture_schedule
    SELECT SUM(CAST(FLOOR(pow(n_tokens::DOUBLE, {_EPOCH_TAU})
                          * 1000000000.0 + 0.5) AS HUGEINT))::DOUBLE
               / 1000000000.0 AS z,
           SUM(n_tokens)::BIGINT AS total
    FROM t
),
sched AS (
    SELECT t.source, t.n_tokens,
           t.n_tokens::DOUBLE / z.total::DOUBLE AS share_raw,
           pow(t.n_tokens::DOUBLE, {_EPOCH_TAU}) / z.z AS w_raw,
           CAST(floor({_EPOCH_BUDGET_MULT} * z.total::DOUBLE
                      * pow(t.n_tokens::DOUBLE, {_EPOCH_TAU}) / z.z)
                AS BIGINT) AS target_tokens
    FROM t, z
)
SELECT source, n_tokens,
       {sql_round_half_up("share_raw", 6)} AS token_share,
       {sql_round_half_up("w_raw", 6)} AS w_temp,
       target_tokens,
       {sql_round_half_up(
           "target_tokens::DOUBLE / n_tokens::DOUBLE", 6
       )} AS epochs
FROM sched
"""


@query("train_epoch_mixture", _EPOCH_MIXTURE_ORACLE)
def q_epoch_mixture(spark, sf_dir):
    """Epoch-mixture schedule audit: per-source available tokens vs the
    tokens a temperature-flattened mix (τ=0.5) consumes at a 2× total
    budget — epochs>1 quantifies how often each low-resource source
    repeats (the multi-epoch budgeting check of public temperature-
    mixing / repeated-data scaling literature). One corpus aggregate;
    everything after runs on the |sources| relation with a gridded
    DECIMAL(38,0) normalizer, so the doubles are bit-identical across
    engines in any accumulation order.
    llm/sampling.py::epoch_mixture_schedule."""
    from rclabsapi_spark.llm.sampling import epoch_mixture_schedule
    from rclabsapi_spark.llm.text import bpe_ish_count

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.sum(bpe_ish_count(F.col("text"))).alias("n_tokens")
    )
    return epoch_mixture_schedule(
        counts,
        strat_col="source",
        tokens_col="n_tokens",
        tau=_EPOCH_TAU,
        budget_multiplier=_EPOCH_BUDGET_MULT,
    )


from rclabsapi_spark.suites.llm import _QUALITY_ORACLE as _QUALITY_SQL

_QUALITY_VS_LM_ORACLE = f"""
WITH quality AS ({_QUALITY_SQL}),
uni AS ({_UNIGRAM_ORACLE.strip()}),
bi AS ({_BIGRAM_ORACLE.strip()}),
j AS (
    SELECT LEAST(FLOOR(q.quality_score * 10), 9)::BIGINT AS quality_decile,
           u.avg_logprob AS uni_lp, b.avg_logprob AS bi_lp
    FROM quality q
    JOIN uni u USING (doc_id)
    JOIN bi b USING (doc_id)
)
SELECT quality_decile, COUNT(*)::BIGINT AS n_docs,
       -- per-doc log-probs arrive 6dp-rounded, so micro-int sums are
       -- exact and order-independent (raw AVG of doubles is
       -- accumulation-ordered — the calibration lesson)
       FLOOR((SUM(CAST(ROUND(uni_lp * 1000000.0, 0) AS BIGINT))::DOUBLE
              / (COUNT(*) * 1000000.0)) * 1000000.0 + 0.5) / 1000000.0
           AS mean_unigram_lp,
       FLOOR((SUM(CAST(ROUND(bi_lp * 1000000.0, 0) AS BIGINT))::DOUBLE
              / (COUNT(*) * 1000000.0)) * 1000000.0 + 0.5) / 1000000.0
           AS mean_bigram_lp
FROM j GROUP BY quality_decile
"""


@query("text_quality_vs_lm", _QUALITY_VS_LM_ORACLE)
def q_quality_vs_lm(spark, sf_dir):
    """Filter-validation audit: per heuristic quality-score decile, the
    mean unigram and bigram LM log-probs — the cross-check that the
    cheap length/punct/stopword quality gate and the LM fluency filters
    rank documents consistently before a 100 TB pass trusts either one
    alone (a decile where they diverge is where human review goes).
    Three per-doc derivations (quality, unigram, bigram) reduce the
    corpus to doc-count-sized score relations (~16 B/row) before any
    join; the joins co-partition on doc_id and the final rollup is 10
    rows. Decile = floor(quality*10) on the 6dp-rounded score — the
    same double on both engines, so bucketing is bit-identical."""
    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.llm.text import quality_features

    docs = load_table(spark, sf_dir, "documents")
    qf = quality_features(docs).select("doc_id", "quality_score")
    uni = unigram_score(docs).select(
        "doc_id", F.col("avg_logprob").alias("uni_lp")
    )
    bi = bigram_score(docs).select(
        "doc_id", F.col("avg_logprob").alias("bi_lp")
    )
    j = qf.join(uni, "doc_id").join(bi, "doc_id")
    decile = F.least(F.floor(F.col("quality_score") * 10), F.lit(9)).cast(
        "long"
    )
    # exact micro-int sums over the 6dp-rounded per-doc log-probs — see
    # oracle note (raw AVG of doubles is accumulation-ordered)
    u_micro = F.round(F.col("uni_lp") * 1000000.0, 0).cast("long")
    b_micro = F.round(F.col("bi_lp") * 1000000.0, 0).cast("long")
    return j.groupBy(decile.alias("quality_decile")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        round_half_up(
            F.sum(u_micro).cast("double") / (F.count(F.lit(1)) * 1000000.0),
            6,
        ).alias("mean_unigram_lp"),
        round_half_up(
            F.sum(b_micro).cast("double") / (F.count(F.lit(1)) * 1000000.0),
            6,
        ).alias("mean_bigram_lp"),
    )


# ---------------------------------------------------------------------------
# Per-source dataset card (the "datasheet" rollup)
# ---------------------------------------------------------------------------

_DATASET_CARD_ORACLE = f"""
WITH quality AS ({_QUALITY_SQL}),
base AS (
    SELECT d.doc_id, d.source, d.lang,
           md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) AS fp,
           q.char_len,
           len(regexp_extract_all(d.text,
               '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))::BIGINT AS n_tok_bpe,
           q.quality_score
    FROM documents d JOIN quality q USING (doc_id)
),
per_src AS (
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(n_tok_bpe)::BIGINT AS n_tokens,
           SUM(char_len)::BIGINT AS n_chars,
           FLOOR((CAST(SUM(CAST(ROUND(quality_score * 1000000, 0) AS BIGINT))
                       AS DOUBLE) / (COUNT(*) * 1000000.0))
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_quality,
           FLOOR(((COUNT(*) - COUNT(DISTINCT fp)) / COUNT(*)::DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS exact_dup_rate
    FROM base GROUP BY source
),
lc AS (SELECT source, lang, COUNT(*)::BIGINT AS c FROM base GROUP BY 1, 2),
lt AS (SELECT source, SUM(c)::BIGINT AS n FROM lc GROUP BY 1),
terms AS (
    SELECT lc.source, lc.lang,
           (lc.c::DOUBLE / lt.n::DOUBLE) * ln(lc.c::DOUBLE / lt.n::DOUBLE)
               AS term
    FROM lc JOIN lt USING (source)
),
ent AS (
    SELECT source,
           FLOOR((-(list_reduce(list(term ORDER BY lang), (a, b) -> a + b)))
                 * 1000000.0 + 0.5) / 1000000.0 AS lang_entropy
    FROM terms GROUP BY source
)
SELECT p.source, p.n_docs, p.n_tokens, p.n_chars, p.mean_quality,
       p.exact_dup_rate, e.lang_entropy
FROM per_src p JOIN ent e USING (source)
"""


@query("train_dataset_card", _DATASET_CARD_ORACLE)
def q_dataset_card(spark, sf_dir):
    """Per-source dataset card — the datasheet row a curation pipeline
    publishes per corpus slice (Datasheets for Datasets, Gebru et al.):
    doc/token/char volume, mean heuristic quality, exact-duplicate rate
    (normalized-fingerprint distinct), and the Shannon entropy of the
    language mix. Pure composition of verified pieces on ONE corpus
    scan: fingerprint, BPE-ish token count, and (source, lang) ride the
    quality scan via ``carry``; the card is two source-keyed aggregates
    (stats + lang counts) joined on the |sources| relation. Float
    posture: mean quality sums exact micro ints, dup rate is an integer
    ratio, and the entropy folds per-lang terms in lang order (sorted
    fold — each term is per-row IEEE arithmetic on integer ratios).
    llm/text.py::quality_features + llm/training.py fingerprint norm."""
    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.llm.text import bpe_ish_count, quality_features

    docs = load_table(spark, sf_dir, "documents")
    base = quality_features(
        docs,
        carry=(
            F.col("source"),
            F.col("lang"),
            F.md5(
                F.regexp_replace(
                    F.lower(F.trim(F.col("text"))), r"\s+", " "
                )
            ).alias("fp"),
            bpe_ish_count(F.col("text")).alias("n_tok_bpe"),
        ),
    ).select(
        "source", "lang", "fp", "char_len", "n_tok_bpe", "quality_score"
    )
    per_src = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok_bpe").alias("n_tokens"),
        F.sum("char_len").alias("n_chars"),
        round_half_up(
            F.sum(
                F.round(F.col("quality_score") * 1000000, 0).cast("long")
            ).cast("double")
            / (F.count(F.lit(1)) * 1000000.0),
            6,
        ).alias("mean_quality"),
        round_half_up(
            (F.count(F.lit(1)) - F.countDistinct("fp"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("exact_dup_rate"),
    )
    lc = base.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    lt = lc.groupBy("source").agg(F.sum("c").alias("n"))
    ratio = F.col("c").cast("double") / F.col("n").cast("double")
    terms = lc.join(lt, "source").select(
        "source", "lang", (ratio * F.log(ratio)).alias("term")
    )
    ent = terms.groupBy("source").agg(
        round_half_up(
            -F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("lang").alias("l"),
                            F.col("term").alias("t"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda a, x: a + x["t"],
            ),
            6,
        ).alias("lang_entropy")
    )
    return per_src.join(ent, "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        "mean_quality",
        "exact_dup_rate",
        "lang_entropy",
    )


# ---------------------------------------------------------------------------
# Incremental dataset card (the datasheet delta a daily ingest publishes)
# ---------------------------------------------------------------------------

# Same deterministic pseudo-snapshots as dq_snapshot_diff (the operator
# under test is the DELTA, not the synthesis): yesterday lacked the
# doc_id%17==0 docs, today dropped the %19==0 docs, and the %13==0 docs
# carried an older revision (' rev0' suffix) yesterday.

_INC_CARD_SQL = """
    SELECT d.source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(len(regexp_extract_all(d.text,
               '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))::BIGINT)::BIGINT
               AS n_tokens,
           SUM(CAST(ROUND(q.quality_score * 1000000, 0) AS BIGINT))
               AS q_micro
    FROM {d} d JOIN {q} q USING (doc_id) GROUP BY d.source
"""

_INC_CARD_ORACLE = f"""
WITH docs_old AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 13 = 0 THEN text || ' rev0'
                ELSE text END AS text
    FROM documents WHERE doc_id % 17 <> 0
),
docs_new AS (
    SELECT doc_id, source, text FROM documents WHERE doc_id % 19 <> 0
),
q_old AS ({_QUALITY_SQL.replace("FROM documents", "FROM docs_old")}),
q_new AS ({_QUALITY_SQL.replace("FROM documents", "FROM docs_new")}),
card_old AS ({_INC_CARD_SQL.format(d="docs_old", q="q_old")}),
card_new AS ({_INC_CARD_SQL.format(d="docs_new", q="q_new")}),
diffrows AS (
    SELECT COALESCE(n.source, o.source) AS source,
           CASE WHEN o.fp IS NULL OR n.fp IS NULL OR o.fp <> n.fp
                THEN 1 ELSE 0 END AS moved
    FROM (SELECT doc_id, source, md5(text) AS fp FROM docs_old) o
    FULL OUTER JOIN
         (SELECT doc_id, source, md5(text) AS fp FROM docs_new) n
    USING (doc_id)
),
churn AS (
    SELECT source,
           FLOOR((SUM(moved)::DOUBLE / COUNT(*)::DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS churn_rate
    FROM diffrows GROUP BY source
),
cards AS (
    SELECT o.source,
           o.n_docs AS n_docs_old,
           n.n_docs AS n_docs_new,
           (n.n_docs - o.n_docs)::BIGINT AS delta_docs,
           (n.n_tokens - o.n_tokens)::BIGINT AS delta_tokens,
           FLOOR((o.q_micro::DOUBLE / (o.n_docs * 1000000.0))
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_quality_old,
           FLOOR((n.q_micro::DOUBLE / (n.n_docs * 1000000.0))
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_quality_new
    FROM card_old o JOIN card_new n USING (source)
)
SELECT source, n_docs_old, n_docs_new, delta_docs, delta_tokens,
       mean_quality_old, mean_quality_new,
       FLOOR((mean_quality_new - mean_quality_old) * 1000000.0 + 0.5)
           / 1000000.0 AS delta_mean_quality,
       churn_rate
FROM cards JOIN churn USING (source)
"""


@query("train_incremental_card", _INC_CARD_ORACLE)
def q_incremental_card(spark, sf_dir):
    """Incremental dataset card: the per-source datasheet DELTA between
    two corpus snapshots — doc/token volume change, mean-quality drift,
    and row-level churn — i.e. what a daily ingest actually publishes
    next to the full card (train_dataset_card) when a snapshot is
    promoted. Composes two verified operators: the reduced card (one
    quality-carry scan per snapshot → per-source sums) and
    maintenance.snapshot_diff (fingerprint full-outer join → churn).

    Physical shape at 100 TB: the two snapshots are genuinely different
    relations (here synthesized from the one fixture, the
    dq_snapshot_diff precedent), each reduced map-side to a |sources|
    card; the diff shuffles 32-B md5 digests, never bodies; the final
    three-way join runs on |sources|-sized relations. Float posture:
    mean quality sums exact micro-ints per side, the delta re-rounds
    the difference of two 6dp-rounded doubles (bit-identical inputs →
    bit-identical delta), churn is an integer ratio. A source present
    in only one snapshot is out of delta scope by contract (the diff
    query itself reports fully-added/removed groups).
    llm/text.py::quality_features + maintenance.py::snapshot_diff."""
    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.llm.text import bpe_ish_count, quality_features
    from rclabsapi_spark.maintenance import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.col("text"), F.lit(" rev0")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    new = docs.filter(F.col("doc_id") % 19 != 0).select(
        "doc_id", "source", "text"
    )

    def card(d):
        base = quality_features(
            d,
            carry=(
                F.col("source"),
                bpe_ish_count(F.col("text")).alias("n_tok"),
            ),
        )
        return base.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(
                F.round(F.col("quality_score") * 1000000, 0).cast("long")
            ).alias("q_micro"),
        )

    co = card(old)
    cn = card(new)
    diff = snapshot_diff(
        old.select("doc_id", "source", F.md5("text").alias("fp")),
        new.select("doc_id", "source", F.md5("text").alias("fp")),
    ).select("source", "churn_rate")
    j = (
        co.alias("o")
        .join(cn.alias("n"), "source")
        .select(
            "source",
            F.col("o.n_docs").alias("n_docs_old"),
            F.col("n.n_docs").alias("n_docs_new"),
            (F.col("n.n_docs") - F.col("o.n_docs")).alias("delta_docs"),
            (F.col("n.n_tokens") - F.col("o.n_tokens")).alias(
                "delta_tokens"
            ),
            round_half_up(
                F.col("o.q_micro").cast("double")
                / (F.col("o.n_docs") * 1000000.0),
                6,
            ).alias("mean_quality_old"),
            round_half_up(
                F.col("n.q_micro").cast("double")
                / (F.col("n.n_docs") * 1000000.0),
                6,
            ).alias("mean_quality_new"),
        )
    )
    return j.select(
        "*",
        round_half_up(
            F.col("mean_quality_new") - F.col("mean_quality_old"), 6
        ).alias("delta_mean_quality"),
    ).join(diff, "source")
