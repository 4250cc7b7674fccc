"""Training-data pipeline suite: dedup, similarity search, text analysis,
multimodal plumbing over the ``documents`` / ``embeddings`` fixtures.

Oracle parity strategy: all hashing is md5 (identical hex in both
engines); vector math folds left-to-right in both (Spark ``aggregate`` ≙
DuckDB ``list_reduce``), so even cosine scores are bit-identical before
rounding.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rclabsapi_spark.catalog import load_table
from rclabsapi_spark.functions.scalars import sql_grid_sum as _gsum
from rclabsapi_spark.functions.scalars import sql_round_half_up as _rhu
from rclabsapi_spark.llm.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash16,
)
from rclabsapi_spark.llm.multimodal import (
    attach_binary,
    extract_binary_meta,
    map_binary_batches,
)
from rclabsapi_spark.llm.similarity import (
    cosine_topk,
    lsh_bucket_stats,
    lsh_bucketed_topk,
)
from rclabsapi_spark.llm.text import (
    bpe_ish_count,
    fingerprint,
    lang_id,
    quality_features,
    token_count,
)
from rclabsapi_spark.registry import query

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    "SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_doc_id,"
    " COUNT(*)::BIGINT AS dup_count FROM documents GROUP BY md5(text)",
    bench=True,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup via hash-groupBy; shuffles 32-byte digests, not bodies."""
    return exact_dedup(load_table(spark, sf_dir, "documents"))


_TOKEN_SAVINGS_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source,
           len(string_split(text, ' '))::BIGINT AS n_tok,
           md5(text) AS h
    FROM documents
),
k AS (
    SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS keeper_id FROM t
)
SELECT source,
       COUNT(*)::BIGINT AS n_docs,
       SUM(CASE WHEN doc_id <> keeper_id THEN 1 ELSE 0 END)::BIGINT
           AS n_dup_docs,
       SUM(n_tok)::BIGINT AS tokens_total,
       SUM(CASE WHEN doc_id <> keeper_id THEN n_tok ELSE 0 END)::BIGINT
           AS tokens_dropped,
       SUM(CASE WHEN doc_id = keeper_id THEN n_tok ELSE 0 END)::BIGINT
           AS tokens_kept,
       {_rhu("SUM(CASE WHEN doc_id <> keeper_id THEN n_tok ELSE 0 END)"
             " / SUM(n_tok)::DOUBLE", 6)} AS savings_rate
FROM k
GROUP BY source
"""


@query("dedup_token_savings", _TOKEN_SAVINGS_ORACLE)
def q_dedup_token_savings(spark, sf_dir):
    """Token-budget savings report: what exact dedup buys, per source —
    the table a curation owner reads to decide which feeds are worth
    their crawl budget in TOKENS, not documents (a feed can be 5% dup
    by doc count but 40% by tokens if its duplicates are the long
    ones). Composes two verified operators: exact-dedup keeper
    selection (min doc_id per md5(text) group — same rule as
    ``dedup_exact``, so the keeper sets agree row-for-row) and
    whitespace token counting (``text_token_stats``). Keeper
    resolution is a window MIN over the 32-byte digest — ONE shuffle
    on the hash, no self-join, and document bodies never move (the
    windowed relation carries only id/source/count/digest). All five
    emitted measures are exact integer counts/sums (order-independent
    in any engine); the single rate divides two of them. At 100 TB
    this is corpus-linear with one digest-keyed exchange plus a
    |sources|-sized rollup. Reference parity: the hash-digest
    deduplication the reference gates log archiving on
    (log_file_manager.hpp:195-197, ``enableDeduplication`` +
    SHA256 integrity digests), extended to the per-source
    token-budget accounting a training-data curator needs."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    from rclabsapi_spark.functions.scalars import round_half_up

    t = docs.select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("n_tok"),
        F.md5(F.col("text")).alias("h"),
    )
    k = t.withColumn(
        "keeper_id", F.min("doc_id").over(Window.partitionBy("h"))
    )
    dup = F.col("doc_id") != F.col("keeper_id")
    return (
        k.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(dup.cast("int")).cast("long").alias("n_dup_docs"),
            F.sum("n_tok").cast("long").alias("tokens_total"),
            F.sum(F.when(dup, F.col("n_tok")).otherwise(F.lit(0)))
            .cast("long")
            .alias("tokens_dropped"),
            F.sum(F.when(dup, F.lit(0)).otherwise(F.col("n_tok")))
            .cast("long")
            .alias("tokens_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            "tokens_total",
            "tokens_dropped",
            "tokens_kept",
            round_half_up(
                F.col("tokens_dropped") / F.col("tokens_total").cast("double"),
                6,
            ).alias("savings_rate"),
        )
    )


# Shared SQL fragment: distinct word-3-gram shingles (mirrors
# llm.dedup.shingles exactly, including the short-doc guard).
_SHINGLES_SQL = """
    SELECT doc_id,
           list_distinct(
               list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                   i -> string_split(text, ' ')[i] || ' '
                        || string_split(text, ' ')[i+1] || ' '
                        || string_split(text, ' ')[i+2])
           ) AS shingle_set
    FROM documents
"""

# One-permutation MinHash: md5 each shingle once, slice the 32-hex digest
# into eight 4-char lanes, min per lane (mirrors llm.dedup.minhash_signatures).
_MINHASH_SQL = (
    "SELECT doc_id, shingle_set, "
    + ", ".join(
        "list_aggregate(list_transform(shingle_set,"
        f" s -> substring(md5(s), {4 * i + 1}, 4)), 'min') AS mh_{i}"
        for i in range(8)
    )
    + f" FROM ({_SHINGLES_SQL}) AS sh_t WHERE len(shingle_set) > 0"
)

_BANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT doc_id, shingle_set, {b} AS band_id,"
    f" mh_{2*b} || '|' || mh_{2*b+1} AS band_key FROM sigs"
    for b in range(4)
)

_MINHASH_ORACLE = f"""
WITH sigs AS ({_MINHASH_SQL}),
banded AS ({_BANDS_SQL}),
bsz AS (
    SELECT band_id, band_key, COUNT(*) AS bucket_size
    FROM banded GROUP BY band_id, band_key
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    JOIN bsz s
      ON s.band_id = a.band_id AND s.band_key = a.band_key
    WHERE s.bucket_size <= 50
)
SELECT p.doc_a, p.doc_b,
       {_rhu("len(list_intersect(sa.shingle_set, sb.shingle_set)) / (len(sa.shingle_set) + len(sb.shingle_set) - len(list_intersect(sa.shingle_set, sb.shingle_set)))", 6)} AS jaccard
FROM pairs p
JOIN sigs sa ON sa.doc_id = p.doc_a
JOIN sigs sb ON sb.doc_id = p.doc_b
"""


@query("dedup_minhash_lsh", _MINHASH_ORACLE, bench=True)
def q_minhash(spark, sf_dir):
    """MinHash (8 md5 lanes) + 4-band LSH bucket pair-gen (signatures only
    through the band shuffle, hot buckets > 50 dropped) + exact-Jaccard
    verification: each pair side joins the corpus for its text, and the
    projection shingles both and intersects the sets."""
    return lsh_candidate_pairs(
        load_table(spark, sf_dir, "documents"),
        num_hashes=8,
        bands=4,
        max_bucket_size=50,
    )


_JACCARD_ORACLE = f"""
WITH sh AS ({_SHINGLES_SQL}),
sh2 AS (SELECT doc_id, shingle_set FROM sh WHERE len(shingle_set) > 0),
posting AS (SELECT doc_id, UNNEST(shingle_set) AS shingle FROM sh2),
sdf AS (SELECT shingle, COUNT(*) AS df FROM posting GROUP BY shingle),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS common
    FROM posting a JOIN posting b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    JOIN sdf d ON d.shingle = a.shingle
    WHERE d.df <= 100
    GROUP BY a.doc_id, b.doc_id
),
sizes AS (SELECT doc_id, len(shingle_set) AS sz FROM sh2)
SELECT doc_a, doc_b, common,
       {_rhu("common / (sa.sz + sb.sz - common)", 6)} AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE {_rhu("common / (sa.sz + sb.sz - common)", 6)} >= 0.2
"""


@query("dedup_ngram_jaccard", _JACCARD_ORACLE, bench=True)
def q_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard pairs ≥ 0.2 via inverted shingle index;
    shingles with document frequency > 100 dropped (boilerplate guard)."""
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.2,
        max_shingle_df=100,
    )


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE thr AS (
    SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE}) AS mh WHERE jaccard >= 0.5
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM thr
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM thr
),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
)
SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
FROM reach GROUP BY src
"""


@query("dedup_clusters", _CLUSTERS_ORACLE)
def q_dedup_clusters(spark, sf_dir):
    """Cluster resolution: connected components over verified near-dup
    pairs (jaccard ≥ 0.5), cluster id = min doc id (the keeper).
    Large-star/small-star alternation with an exact star-forest stop,
    O(log n) rounds over the edge relation only; the oracle's recursive
    transitive closure is the semantic spec. llm/dedup.py::dedup_clusters."""
    from rclabsapi_spark.llm.dedup import dedup_clusters

    pairs = lsh_candidate_pairs(
        load_table(spark, sf_dir, "documents"),
        num_hashes=8,
        bands=4,
        max_bucket_size=50,
    ).filter(F.col("jaccard") >= 0.5)
    return dedup_clusters(pairs)


@query("dedup_clusters_star", _CLUSTERS_ORACLE, bench=True)
def q_dedup_clusters_star(spark, sf_dir):
    """The `dedup_clusters` resolution kept under its benchmarked name:
    the same operator (one large-star/small-star implementation, which
    raises instead of mislabelling at its round cap —
    tests/test_cc_star.py) and the same oracle."""
    return q_dedup_clusters(spark, sf_dir)


# historical corpus = src0-src9 (their fingerprint store), new batch =
# src10-src19 — the daily-merge shape on the fixture.
_HIST_SRCS = ", ".join(f"'src{i}'" for i in range(10))

_INCR_DEDUP_ORACLE = f"""
WITH hist AS (
    SELECT DISTINCT md5(text) AS fp FROM documents
    WHERE source IN ({_HIST_SRCS})
),
batch AS (
    SELECT doc_id, md5(text) AS text_hash FROM documents
    WHERE source NOT IN ({_HIST_SRCS})
),
ranked AS (
    SELECT doc_id, text_hash,
           MIN(doc_id) OVER (PARTITION BY text_hash) AS keeper
    FROM batch
)
SELECT doc_id, text_hash,
       CASE WHEN text_hash IN (SELECT fp FROM hist) THEN 'seen_before'
            WHEN doc_id != keeper THEN 'dup_in_batch'
            ELSE 'kept'
       END AS status
FROM ranked
"""


@query("dedup_incremental", _INCR_DEDUP_ORACLE, bench=True)
def q_dedup_incremental(spark, sf_dir):
    """Incremental exact dedup: the new batch (sources src10-19) against
    the fingerprint store of the already-ingested corpus (src0-9) —
    seen_before beats dup_in_batch beats kept. One shuffle on the
    32-byte hash; the store side ships fingerprints, never bodies."""
    from rclabsapi_spark.llm.dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    hist_srcs = [f"src{i}" for i in range(10)]
    hist_fps = (
        docs.filter(F.col("source").isin(hist_srcs))
        .select(F.md5("text").alias("fp"))
    )
    batch = docs.filter(~F.col("source").isin(hist_srcs))
    return incremental_dedup(batch, hist_fps, fp_col="fp")


_INCR_LSH_ORACLE = f"""
WITH sigs AS ({_MINHASH_SQL}),
banded AS ({_BANDS_SQL}),
nb AS (
    SELECT b.doc_id, b.band_id, b.band_key FROM banded b
    JOIN documents d USING (doc_id)
    WHERE d.source NOT IN ({_HIST_SRCS})
),
cb AS (
    SELECT b.doc_id, b.band_id, b.band_key FROM banded b
    JOIN documents d USING (doc_id)
    WHERE d.source IN ({_HIST_SRCS})
),
bsz AS (
    SELECT band_id, band_key, COUNT(*) AS bucket_size
    FROM (SELECT band_id, band_key FROM nb
          UNION ALL SELECT band_id, band_key FROM cb)
    GROUP BY band_id, band_key
),
pairs AS (
    SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS corpus_doc
    FROM nb n JOIN cb c
      ON n.band_id = c.band_id AND n.band_key = c.band_key
    JOIN bsz z ON z.band_id = n.band_id AND z.band_key = n.band_key
    WHERE z.bucket_size <= 50
)
SELECT p.new_doc, p.corpus_doc,
       {{_j}} AS jaccard
FROM pairs p
JOIN sigs sa ON sa.doc_id = p.new_doc
JOIN sigs sb ON sb.doc_id = p.corpus_doc
""".replace(
    "{_j}",
    _rhu(
        "len(list_intersect(sa.shingle_set, sb.shingle_set))"
        " / (len(sa.shingle_set) + len(sb.shingle_set)"
        " - len(list_intersect(sa.shingle_set, sb.shingle_set)))",
        6,
    ),
)


@query("dedup_incremental_lsh", _INCR_LSH_ORACLE, bench=True)
def q_incremental_lsh(spark, sf_dir, *, materialize=True):
    """Incremental NEAR-dup tier of the daily-merge contract
    (etl_job_manager.cpp:371-407): the new batch (src10-19) banded
    against the already-ingested corpus's signature store (src0-9) —
    only new×store band keys join (never store×store), combined hot
    buckets > 50 dropped, exact-Jaccard verification on survivors only.
    ``materialize=False`` exposes the pre-checkpoint plan.
    llm/dedup.py::incremental_lsh_pairs."""
    from rclabsapi_spark.llm.dedup import incremental_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    hist_srcs = [f"src{i}" for i in range(10)]
    corpus = docs.filter(F.col("source").isin(hist_srcs))
    new = docs.filter(~F.col("source").isin(hist_srcs))
    return incremental_lsh_pairs(
        new,
        corpus,
        num_hashes=8,
        bands=4,
        max_bucket_size=50,
        materialize=materialize,
    )


@query(
    "sample_hash",
    "SELECT doc_id, lang, source FROM documents"
    " WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'",
)
def q_sample_hash(spark, sf_dir):
    """Deterministic 25% sample: membership is a pure function of the
    key (md5 bucket < threshold) — reproducible across runs, engines,
    and repartitionings, stable as the corpus grows."""
    from rclabsapi_spark.llm.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    return hash_sample(docs, key_col="doc_id", pct=25)


@query(
    "sample_stratified",
    """
    SELECT doc_id, lang, source FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
          CASE WHEN lang = 'en' THEN '8000'
               WHEN lang = 'de' THEN '4000'
               ELSE '1999' END
    """,
)
def q_sample_stratified(spark, sf_dir):
    """Training-mix stratified sampling: 50% of en, 25% of de, 10% of
    everything else — per-stratum thresholds compile to a CASE chain
    (no rates-table join, no shuffle)."""
    from rclabsapi_spark.llm.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    return stratified_hash_sample(
        docs,
        key_col="doc_id",
        strat_col="lang",
        fractions={"en": 50.0, "de": 25.0},
        default_pct=10.0,
    )


_SIMHASH_ORACLE = (
    """
WITH tok AS (
    SELECT doc_id, md5(UNNEST(string_split(text, ' '))) AS h FROM documents
),
votes AS (
    SELECT doc_id, """
    + ", ".join(
        "SUM(CASE WHEN substring(h, {p}, 1) IN"
        " ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v{j}".format(
            p=j + 1, j=j
        )
        for j in range(16)
    )
    + """
    FROM tok GROUP BY doc_id
)
SELECT doc_id, CAST("""
    + " + ".join(f"CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END" for j in range(16))
    + """ AS BIGINT) AS simhash
FROM votes
"""
)


@query("dedup_simhash", _SIMHASH_ORACLE)
def q_simhash(spark, sf_dir):
    """16-bit SimHash fingerprints (token bit votes from md5)."""
    return simhash16(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_DOT_SQL = (
    "list_reduce(list_transform(range(1, len({a}) + 1),"
    " i -> {a}[i] * {b}[i]), (acc, x) -> acc + x)"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT_SQL.format(a=a, b=b)} / "
        f"(sqrt({_DOT_SQL.format(a=a, b=a)}) * sqrt({_DOT_SQL.format(a=b, b=b)}))"
    )


_TOPK_ORACLE = f"""
WITH q AS (
    SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0
),
scored AS (
    SELECT e.vec_id,
           ROUND({_cos_sql("(e.embedding::DOUBLE[])", "q.qvec")}, 6)
               AS cosine_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
)
SELECT vec_id, cosine_sim FROM scored
ORDER BY cosine_sim DESC, vec_id LIMIT 10
"""


@query("sim_bruteforce_topk", _TOPK_ORACLE, bench=True)
def q_topk(spark, sf_dir):
    """Brute-force exact cosine top-10 vs vec_id=0 (broadcast query row +
    distributed TakeOrdered)."""
    return cosine_topk(load_table(spark, sf_dir, "embeddings"), 0, k=10)


_BUCKET_SQL = "concat(" + ", ".join(
    f"CASE WHEN embedding[{i+1}] >= 0 THEN '1' ELSE '0' END" for i in range(8)
) + ")"


@query(
    "sim_lsh_bucket_stats",
    f"SELECT {_BUCKET_SQL} AS bucket, COUNT(*)::BIGINT AS cnt"
    " FROM embeddings GROUP BY 1",
)
def q_buckets(spark, sf_dir):
    """Sign-LSH bucket histogram — the ANN index layout."""
    return lsh_bucket_stats(load_table(spark, sf_dir, "embeddings"), num_bits=8)


_LSH_TOPK_ORACLE = f"""
WITH b AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           concat({", ".join(f"CASE WHEN embedding[{i+1}] >= 0 THEN '1' ELSE '0' END" for i in range(4))})
               AS bucket
    FROM embeddings
),
q AS (SELECT bucket AS qbucket, v AS qvec FROM b WHERE vec_id = 0),
scored AS (
    SELECT b.vec_id, b.bucket,
           ROUND({_cos_sql("b.v", "q.qvec")}, 6) AS cosine_sim
    FROM b, q
    WHERE b.vec_id <> 0 AND b.bucket = q.qbucket
)
SELECT vec_id, bucket, cosine_sim FROM scored
ORDER BY cosine_sim DESC, vec_id LIMIT 10
"""


@query("sim_lsh_bucketed_topk", _LSH_TOPK_ORACLE)
def q_lsh_topk(spark, sf_dir):
    """ANN top-10: probe only the query's sign bucket."""
    return lsh_bucketed_topk(
        load_table(spark, sf_dir, "embeddings"), 0, k=10, num_bits=4
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_token_stats",
    """
    SELECT doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))::BIGINT
               AS n_bpe_ish
    FROM documents
    """,
)
def q_tokens(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex segmentation."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_count(F.col("text")).alias("n_bpe_ish"),
    )


# every rounded ratio goes through the floor-form (sql_round_half_up)
# like the Spark side — ROUND diverges at representable half-ties
# (quality_score 0.8466495 actually flipped at sf0.1 under ROUND).

_QUALITY_ORACLE = f"""
WITH feat AS (
    SELECT doc_id,
           length(text)::BIGINT AS char_len,
           len(string_split(text, ' '))::BIGINT AS n_tokens,
           {_rhu("length(replace(text, ' ', '')) / len(string_split(text, ' '))", 6)} AS mean_token_len,
           {_rhu("len(list_filter(string_split(text, ' '), x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) / len(string_split(text, ' '))", 6)} AS stopword_ratio,
           {_rhu("length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / length(text)", 6)} AS punct_ratio
    FROM documents
)
SELECT *,
       {_rhu("(LEAST(1.0, n_tokens / 50.0) + (1.0 - LEAST(1.0, punct_ratio * 10.0)) + LEAST(1.0, mean_token_len / 8.0)) / 3.0", 6)} AS quality_score
FROM feat
"""


@query("text_quality_features", _QUALITY_ORACLE, bench=True)
def q_quality(spark, sf_dir):
    """Quality scoring: length/token/stopword/punctuation features +
    clamped composite score."""
    return quality_features(load_table(spark, sf_dir, "documents"))


# Oracle GENERATED from llm.text.LANG_MARKERS — one source of truth for
# the profiles; earliest-declared language wins score ties, exactly like
# the Spark-side iterated-CASE argmax.
def _langid_oracle() -> str:
    from rclabsapi_spark.llm.text import LANG_MARKERS

    langs = list(LANG_MARKERS)
    score_sql = {
        lang: (
            "len(list_filter(string_split(text, ' '),"
            " x -> x IN ({})))::INT".format(
                ", ".join(f"'{m}'" for m in markers)
            )
        )
        for lang, markers in LANG_MARKERS.items()
    }
    score_cols = ",\n           ".join(
        f"{score_sql[lang]} AS score_{lang}" for lang in langs
    )
    case_lines = "\n         ".join(
        "WHEN score_{l} >= GREATEST({rest}) THEN '{l}'".format(
            l=lang,
            rest=", ".join(f"score_{r}" for r in langs[i:]),
        )
        for i, lang in enumerate(langs[:-1])
    )
    return f"""
WITH scores AS (
    SELECT doc_id,
           {score_cols}
    FROM documents
)
SELECT *,
       CASE
         {case_lines}
         ELSE '{langs[-1]}'
       END AS predicted_lang
FROM scores
"""


_LANGID_ORACLE = _langid_oracle()


@query("text_lang_id", _LANGID_ORACLE)
def q_langid(spark, sf_dir):
    """Marker-token language ID with first-max tie resolution."""
    return lang_id(load_table(spark, sf_dir, "documents"))


@query(
    "text_fingerprint",
    "SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"
    " AS fingerprint FROM documents",
)
def q_fingerprint(spark, sf_dir):
    """Normalized-content md5 fingerprint."""
    return fingerprint(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@query(
    "mm_binary_metadata",
    """
    SELECT doc_id,
           octet_length(encode(text))::BIGINT AS byte_len,
           lower(substring(hex(encode(text)), 1, 8)) AS magic_hex,
           'application/octet-stream' AS media_type
    FROM documents
    """,
)
def q_mm_meta(spark, sf_dir):
    """Binary-column metadata extraction (no Python in the loop)."""
    docs = attach_binary(load_table(spark, sf_dir, "documents"))
    return extract_binary_meta(docs)


@query(
    "mm_decoded_features",
    """
    SELECT doc_id,
           octet_length(encode(text))::BIGINT % 640 AS width,
           (CASE WHEN octet_length(encode(text)) = 0 THEN 0
                 ELSE ascii(substring(text, 1, 1)) END * 4)::BIGINT AS height,
           octet_length(encode(text))::BIGINT AS n_bytes
    FROM documents
    """,
)
def q_mm_decode(spark, sf_dir):
    """mapInPandas decode harness with the deterministic fake decoder
    (real decoder is stubbed — no imaging libs in this container)."""
    docs = attach_binary(load_table(spark, sf_dir, "documents"))
    return map_binary_batches(
        docs, "doc_id long, width long, height long, n_bytes long"
    )


# 60-bit simhash for the near-dup tier (wider fingerprint => 20-bit
# pigeonhole bands => tiny blocking buckets; see llm.dedup.simhash_bits).
_HEX_BIT_SQL = {
    k: ", ".join(
        f"'{c}'" for c in "0123456789abcdef" if (int(c, 16) >> k) & 1
    )
    for k in range(4)
}

_SIMHASH60_SQL = (
    """
WITH tok AS (
    SELECT doc_id, md5(UNNEST(string_split(text, ' '))) AS h FROM documents
),
votes AS (
    SELECT doc_id, """
    + ", ".join(
        "SUM(CASE WHEN substring(h, {p}, 1) IN ({cs})"
        " THEN 1 ELSE -1 END) AS v{j}".format(
            p=j // 4 + 1, cs=_HEX_BIT_SQL[j % 4], j=j
        )
        for j in range(60)
    )
    + """
    FROM tok GROUP BY doc_id
)
SELECT doc_id, CAST("""
    + " + ".join(f"CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END" for j in range(60))
    + """ AS BIGINT) AS simhash
FROM votes
"""
)

_SIMHASH_PAIRS_ORACLE = (
    "WITH fp AS ("
    + _SIMHASH60_SQL
    + """
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
"""
)


@query("dedup_simhash_near_dup", _SIMHASH_PAIRS_ORACLE, bench=True)
def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (hamming ≤ 2) via pigeonhole bit-banding —
    the oracle's O(n²) self-join is the semantic spec; the engine's banded
    blocking finds the identical pair set with bucket-local compares."""
    from rclabsapi_spark.llm.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=2, bits=60
    )


# SimHash threshold-selection sweep: the hamming sibling of the cosine
# sweep — pair/doc counts at every candidate hamming cutoff from ONE
# banded candidate pass at the WIDEST cutoff (pigeonhole banding at
# max_hamming=6 has 100% recall for every tighter threshold, so the
# tighter tiers are pure filters over the cached pair relation).
_HAMMING_SWEEP_MAX = 6

_HAMMING_SWEEP_ORACLE = (
    "WITH fp AS ("
    + _SIMHASH60_SQL
    + f"""
),
pr AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash))::INT AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_SWEEP_MAX}
),
th AS (SELECT UNNEST(range(0, {_HAMMING_SWEEP_MAX + 1})) AS max_hamming),
sw AS (
    SELECT th.max_hamming, pr.doc_a, pr.doc_b
    FROM th JOIN pr ON pr.hamming <= th.max_hamming
),
pa AS (
    SELECT max_hamming, COUNT(*)::BIGINT AS n_pairs FROM sw GROUP BY 1
),
ids AS (
    SELECT max_hamming, COUNT(DISTINCT d)::BIGINT AS n_docs
    FROM (SELECT max_hamming, doc_a AS d FROM sw
          UNION ALL SELECT max_hamming, doc_b FROM sw) u
    GROUP BY 1
)
SELECT th.max_hamming,
       COALESCE(pa.n_pairs, 0)::BIGINT AS n_pairs,
       COALESCE(ids.n_docs, 0)::BIGINT AS n_docs
FROM th LEFT JOIN pa USING (max_hamming) LEFT JOIN ids USING (max_hamming)
"""
)


@query("dedup_simhash_hamming_sweep", _HAMMING_SWEEP_ORACLE)
def q_simhash_hamming_sweep(spark, sf_dir):
    """SimHash band-width selection curve: near-dup pair and affected-doc
    counts at every hamming cutoff 0..6, from ONE pigeonhole-banded
    candidate pass at the widest cutoff — banding at max_hamming=6 is
    100%-recall for every tighter threshold (any pair within k ≤ 6 bits
    shares one of the 7 bands), so each tier is a filter over the cached
    pair relation, not a re-index. The curve is what sizes the
    production cutoff/band count before a 100 TB pass commits to one
    (too-wide bands blow up bucket pair generation; too-tight cutoffs
    leave near-dups in). The 7-row spine keeps empty tiers visible.
    llm/dedup.py::simhash_near_dup_pairs."""
    from rclabsapi_spark.llm.dedup import simhash_near_dup_pairs

    pairs = (
        simhash_near_dup_pairs(
            load_table(spark, sf_dir, "documents"),
            max_hamming=_HAMMING_SWEEP_MAX,
            bits=60,
        )
        .select("doc_a", "doc_b", "hamming")
        .cache()
    )
    ks = F.array(
        *[F.lit(k).cast("long") for k in range(_HAMMING_SWEEP_MAX + 1)]
    )
    sw = pairs.select(
        "doc_a", "doc_b", "hamming", F.explode(ks).alias("max_hamming")
    ).filter(F.col("hamming") <= F.col("max_hamming"))
    pa = sw.groupBy("max_hamming").agg(F.count(F.lit(1)).alias("n_pairs"))
    ids = (
        sw.select(
            "max_hamming", F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .groupBy("max_hamming")
        .agg(F.countDistinct("d").alias("n_docs"))
    )
    spine = spark.range(1).select(F.explode(ks).alias("max_hamming"))
    return (
        spine.join(pa, "max_hamming", "left")
        .join(ids, "max_hamming", "left")
        .select(
            "max_hamming",
            F.coalesce(F.col("n_pairs"), F.lit(0).cast("long")).alias(
                "n_pairs"
            ),
            F.coalesce(F.col("n_docs"), F.lit(0).cast("long")).alias(
                "n_docs"
            ),
        )
    )


# Dedup-tier agreement audit: MinHash-LSH (shingle-set Jaccard) vs
# SimHash (token-hash hamming) candidate pair sets, per threshold tier.
_AGREE_J_TIERS = (0.5, 0.7, 0.9)

_TIER_AGREEMENT_ORACLE = f"""
WITH mh AS ({_MINHASH_ORACLE}),
fp AS ({_SIMHASH60_SQL}),
sh AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash))::INT AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_SWEEP_MAX}
),
u AS (
    SELECT COALESCE(mh.doc_a, sh.doc_a) AS doc_a,
           COALESCE(mh.doc_b, sh.doc_b) AS doc_b,
           mh.jaccard, sh.hamming
    FROM mh FULL OUTER JOIN sh
      ON mh.doc_a = sh.doc_a AND mh.doc_b = sh.doc_b
),
spine AS (
    SELECT jt.j_threshold, ht.max_hamming
    FROM (VALUES ({"), (".join(f"{j}::DOUBLE" for j in _AGREE_J_TIERS)}))
         jt(j_threshold)
    CROSS JOIN (SELECT UNNEST(range(0, {_HAMMING_SWEEP_MAX + 1}))::BIGINT
                    AS max_hamming) ht
),
flags AS (
    SELECT s.j_threshold, s.max_hamming,
           CASE WHEN u.jaccard >= s.j_threshold THEN 1 ELSE 0 END AS in_mh,
           CASE WHEN u.hamming <= s.max_hamming THEN 1 ELSE 0 END AS in_sh
    FROM spine s, u
),
agg AS (
    SELECT j_threshold, max_hamming,
           SUM(in_mh)::BIGINT AS n_minhash,
           SUM(in_sh)::BIGINT AS n_simhash,
           SUM(in_mh * in_sh)::BIGINT AS n_both
    FROM flags GROUP BY 1, 2
)
SELECT s.j_threshold, s.max_hamming,
       COALESCE(a.n_minhash, 0)::BIGINT AS n_minhash,
       COALESCE(a.n_simhash, 0)::BIGINT AS n_simhash,
       COALESCE(a.n_both, 0)::BIGINT AS n_both,
       CASE WHEN COALESCE(a.n_minhash, 0) + COALESCE(a.n_simhash, 0)
                 - COALESCE(a.n_both, 0) > 0
            THEN FLOOR((a.n_both::DOUBLE
                        / (a.n_minhash + a.n_simhash - a.n_both)::DOUBLE)
                       * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS pair_jaccard
FROM spine s LEFT JOIN agg a USING (j_threshold, max_hamming)
"""


@query("dedup_tier_agreement", _TIER_AGREEMENT_ORACLE)
def q_dedup_tier_agreement(spark, sf_dir):
    """Dedup-tier agreement audit: how much do the two near-dup
    definitions — MinHash-LSH candidates thresholded on exact
    shingle-set Jaccard, and SimHash pairs cut on fingerprint hamming
    distance — agree about WHICH pairs are duplicates, per threshold
    tier? For every (jaccard_threshold × hamming_cutoff) cell the audit
    reports each tier's pair count, the pairs both tiers flag, and the
    Jaccard of the two PAIR SETS — the evidence a pipeline owner reads
    before picking one tier (or requiring consensus) for a 100 TB
    dedup pass; a cell where the sets barely overlap means the two
    sketches are catching different duplicate phenomena, not tuning
    variants of the same one.

    Physical shape: both pair relations come from their verified banded
    passes (LSH bucket pair-gen with caps; pigeonhole banding at the
    widest hamming cutoff) — each is tiny next to the corpus. ONE
    full-outer equi-join on the pair key aligns them, every (tier,
    cutoff) cell derives from a literal-array explode of that joined
    relation (the cosine-sweep pattern — no per-tier re-index, no
    BNLJ), and a {len(_AGREE_J_TIERS) * (_HAMMING_SWEEP_MAX + 1)}-row
    literal spine keeps empty cells visible. pair_jaccard is an
    integer ratio — bit-identical across engines.
    llm/dedup.py::lsh_candidate_pairs + simhash_near_dup_pairs."""
    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.llm.dedup import (
        lsh_candidate_pairs,
        simhash_near_dup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    mh = lsh_candidate_pairs(
        docs, num_hashes=8, bands=4, max_bucket_size=50
    ).select("doc_a", "doc_b", "jaccard")
    sh = simhash_near_dup_pairs(
        docs, max_hamming=_HAMMING_SWEEP_MAX, bits=60
    ).select("doc_a", "doc_b", "hamming")
    u = mh.join(sh, ["doc_a", "doc_b"], "full_outer")

    tiers = F.array(
        *[
            F.struct(
                F.lit(jt).alias("j_threshold"),
                F.lit(h).cast("long").alias("max_hamming"),
            )
            for jt in _AGREE_J_TIERS
            for h in range(_HAMMING_SWEEP_MAX + 1)
        ]
    )
    flags = u.select(
        F.explode(tiers).alias("t"), "jaccard", "hamming"
    ).select(
        F.col("t.j_threshold").alias("j_threshold"),
        F.col("t.max_hamming").alias("max_hamming"),
        F.coalesce(
            (F.col("jaccard") >= F.col("t.j_threshold")).cast("int"),
            F.lit(0),
        ).alias("in_mh"),
        F.coalesce(
            (F.col("hamming") <= F.col("t.max_hamming")).cast("int"),
            F.lit(0),
        ).alias("in_sh"),
    )
    agg = flags.groupBy("j_threshold", "max_hamming").agg(
        F.sum("in_mh").cast("long").alias("n_minhash"),
        F.sum("in_sh").cast("long").alias("n_simhash"),
        F.sum(F.col("in_mh") * F.col("in_sh")).cast("long").alias("n_both"),
    )
    spine = spark.range(1).select(F.explode(tiers).alias("t")).select(
        "t.j_threshold", "t.max_hamming"
    )
    union_sz = (
        F.col("n_minhash") + F.col("n_simhash") - F.col("n_both")
    )
    return (
        spine.join(agg, ["j_threshold", "max_hamming"], "left")
        .select(
            "j_threshold",
            "max_hamming",
            F.coalesce("n_minhash", F.lit(0).cast("long")).alias(
                "n_minhash"
            ),
            F.coalesce("n_simhash", F.lit(0).cast("long")).alias(
                "n_simhash"
            ),
            F.coalesce("n_both", F.lit(0).cast("long")).alias("n_both"),
        )
        .select(
            "j_threshold",
            "max_hamming",
            "n_minhash",
            "n_simhash",
            "n_both",
            F.when(
                union_sz > 0,
                round_half_up(
                    F.col("n_both").cast("double")
                    / union_sz.cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("pair_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# IVF ANN (the scale path beyond sign-LSH: coarse quantize → probe lists)
# ---------------------------------------------------------------------------

_IVF_ASSIGN_SQL = f"""
    SELECT e.vec_id, c.centroid_id
    FROM embeddings e
    CROSS JOIN (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
                FROM embeddings WHERE vec_id < 8) c
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY ROUND({_cos_sql("(e.embedding::DOUBLE[])", "(c.cvec)")}, 9) DESC,
                 c.centroid_id) = 1
"""


@query(
    "sim_ivf_assignments",
    f"""
    WITH assign AS ({_IVF_ASSIGN_SQL})
    SELECT centroid_id, COUNT(*)::BIGINT AS cnt
    FROM assign GROUP BY centroid_id
    """,
)
def q_ivf_assign(spark, sf_dir):
    """IVF build pass: nearest-centroid assignment histogram (the inverted
    list sizes — the layout a bucketed/partitioned ANN index writes)."""
    from rclabsapi_spark.llm.similarity import ivf_assign

    a = ivf_assign(load_table(spark, sf_dir, "embeddings"), n_centroids=8)
    return a.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("cnt"))


_IVF_TOPK_ORACLE = f"""
WITH assign AS ({_IVF_ASSIGN_SQL}),
q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
probe AS (
    SELECT c.centroid_id
    FROM (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
          FROM embeddings WHERE vec_id < 8) c, q
    ORDER BY ROUND({_cos_sql("(c.cvec)", "(q.qvec)")}, 9) DESC, c.centroid_id
    LIMIT 2
),
cand AS (
    SELECT a.vec_id, a.centroid_id FROM assign a
    JOIN probe p ON p.centroid_id = a.centroid_id
    WHERE a.vec_id <> 0
)
SELECT cand.vec_id, cand.centroid_id,
       ROUND({_cos_sql("(e.embedding::DOUBLE[])", "(q.qvec)")}, 6) AS cosine_sim
FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id, q
ORDER BY cosine_sim DESC, cand.vec_id
LIMIT 10
"""


@query("sim_ivf_topk", _IVF_TOPK_ORACLE, bench=True)
def q_ivf_topk(spark, sf_dir, *, materialize=True):
    """IVF ANN top-10: probe the 2 nearest inverted lists only.
    ``materialize=False`` exposes the pre-checkpoint probe plan."""
    from rclabsapi_spark.llm.similarity import ivf_topk

    return ivf_topk(
        load_table(spark, sf_dir, "embeddings"),
        0,
        k=10,
        n_centroids=8,
        nprobe=2,
        materialize=materialize,
    )


# IVF recall@10: grade the nprobe-pruned tier against exact top-k for
# the same 3 queries the sign-LSH recall row uses — together the two
# rows compare the tiers' quality gates side by side.
_IVF_RECALL_ORACLE = f"""
WITH b AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cents AS (
    SELECT vec_id::INT AS centroid_id, v AS cvec FROM b WHERE vec_id < 8
),
assign AS ({_IVF_ASSIGN_SQL}),
q AS (
    SELECT vec_id AS query_id, v AS qvec FROM b WHERE vec_id IN (1, 5, 9)
),
probe AS (
    SELECT q.query_id, c.centroid_id
    FROM q, cents c
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY ROUND({_cos_sql("(c.cvec)", "(q.qvec)")}, 9) DESC,
                 c.centroid_id) <= 2
),
tt AS (
    SELECT q.query_id, b.vec_id
    FROM b, q
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY {_DOT_SQL.format(a="b.v", b="q.qvec")} DESC, b.vec_id
    ) <= 10
),
ct AS (
    SELECT p.query_id, a.vec_id
    FROM probe p
    JOIN assign a ON a.centroid_id = p.centroid_id
    JOIN b ON b.vec_id = a.vec_id
    JOIN q ON q.query_id = p.query_id
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY p.query_id
        ORDER BY {_DOT_SQL.format(a="b.v", b="q.qvec")} DESC, b.vec_id
    ) <= 10
),
pq AS (
    SELECT tt.query_id,
           SUM(CASE WHEN ct.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS hits
    FROM tt LEFT JOIN ct
      ON ct.query_id = tt.query_id AND ct.vec_id = tt.vec_id
    GROUP BY tt.query_id
),
unioned AS (
    SELECT query_id, hits / 10.0 AS recall_at_k FROM pq
    UNION ALL
    SELECT NULL::BIGINT, SUM(hits)::DOUBLE / (COUNT(*) * 10.0) FROM pq
)
SELECT query_id, {_rhu("recall_at_k", 6)} AS recall_at_k FROM unioned
"""


@query("sim_ivf_recall", _IVF_RECALL_ORACLE)
def q_ivf_recall(spark, sf_dir):
    """Recall@10 of the nprobe=2 IVF tier against exact dot-product
    top-10 for queries {1, 5, 9}, plus the macro average (query_id
    NULL) — the IVF sibling of ``sim_ann_recall``, so the two
    approximate tiers' quality gates read side by side before one
    replaces the exact path at 100 TB. The probe relation (3 queries ×
    2 lists) broadcasts onto the assignment table (the partitioned
    index artifact at scale — a probe reads only those partitions);
    candidate vectors join back on the vector key; truth is the 3-row
    query broadcast over one corpus pass. Macro recall derives from
    exact integer hit counts (order-independent).
    llm/similarity.py::ivf_assign + ann_recall_at_k."""
    from pyspark.sql import Window

    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.llm.similarity import (
        _as_double,
        ann_recall_at_k,
        cosine,
        dot,
        ivf_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    v = _as_double(F.col("embedding"))
    # one cached (key, vector) scan feeds every consumer — centroid
    # seed, query rows, assignment, truth (the ivf_topk pattern,
    # standing in for the persisted index of the production layout)
    base = emb.select("vec_id", v.alias("v")).cache()
    cents = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("v").alias("cvec"),
    )
    assign = ivf_assign(base, vec_col="v", n_centroids=8, centroids=cents)
    q = base.filter(F.col("vec_id").isin(1, 5, 9)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qvec")
    )
    qc = q.crossJoin(F.broadcast(cents))
    w = Window.partitionBy("query_id").orderBy(
        F.round(cosine(F.col("qvec"), F.col("cvec")), 9).desc(),
        F.col("centroid_id"),
    )
    probe = (
        qc.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= 2)
        .select("query_id", "centroid_id", "qvec")
    )
    # ivf_assign's output already carries each vector (vec_id,
    # centroid_id, v) — the persisted-index row shape, no fetch join
    cand = assign.join(F.broadcast(probe), "centroid_id").select(
        "query_id", "vec_id", dot(F.col("v"), F.col("qvec")).alias("score")
    )
    truth = base.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id", dot(F.col("v"), F.col("qvec")).alias("score")
    )
    rec = ann_recall_at_k(
        cand, truth, query_col="query_id", item_col="vec_id", k=10
    )
    return rec.select(
        "query_id",
        round_half_up(F.col("recall_at_k"), 6).alias("recall_at_k"),
    )



_IVF_INC_CHURN_ORACLE = f"""
WITH b AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
old AS (SELECT * FROM b WHERE vec_id % 10 <> 7),
nw  AS (SELECT * FROM b WHERE vec_id % 10 = 7),
cents AS (
    SELECT vec_id::INT AS centroid_id, v AS cvec FROM old WHERE vec_id < 8
),
ao AS (
    SELECT o.vec_id, c.centroid_id
    FROM old o CROSS JOIN cents c
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o.vec_id
        ORDER BY ROUND({_cos_sql("(o.v)", "(c.cvec)")}, 9) DESC,
                 c.centroid_id) = 1
),
an AS (
    SELECT w.vec_id, c.centroid_id
    FROM nw w CROSS JOIN cents c
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY w.vec_id
        ORDER BY ROUND({_cos_sql("(w.v)", "(c.cvec)")}, 9) DESC,
                 c.centroid_id) = 1
)
SELECT c.centroid_id,
       COALESCE(o.n_base, 0)::BIGINT AS n_base,
       COALESCE(n.n_new, 0)::BIGINT AS n_new,
       (COALESCE(o.n_base, 0) + COALESCE(n.n_new, 0))::BIGINT AS n_total,
       CASE WHEN COALESCE(o.n_base, 0) + COALESCE(n.n_new, 0) > 0
            THEN {_rhu("COALESCE(n.n_new, 0)"
                       " / (COALESCE(o.n_base, 0)"
                       "    + COALESCE(n.n_new, 0))::DOUBLE", 6)}
            ELSE 0.0 END AS new_share
FROM cents c
LEFT JOIN (SELECT centroid_id, COUNT(*)::BIGINT AS n_base
           FROM ao GROUP BY 1) o USING (centroid_id)
LEFT JOIN (SELECT centroid_id, COUNT(*)::BIGINT AS n_new
           FROM an GROUP BY 1) n USING (centroid_id)
"""


@query("sim_ivf_incremental_churn", _IVF_INC_CHURN_ORACLE)
def q_ivf_incremental_churn(spark, sf_dir):
    """Incremental ANN index maintenance, part 1 — assignment churn: a
    new vector batch (vec_id % 10 == 7, the day's embeddings) is merged
    into the EXISTING IVF index by assigning it to the index's frozen
    centroids (seeded from the base corpus, which lacks vec 7 — so 7
    lists). Per centroid: base list size, new arrivals, merged size,
    and the new-arrival share — the table that tells an index owner
    which partitions to rewrite and which lists are drifting toward a
    retrain. The centroid relation broadcasts twice (base pass + batch
    pass); each pass is one argmax-cosine scan (the ivf_assign shape),
    and everything after is |centroids|-sized. new_share divides exact
    integer counts. llm/similarity.py::ivf_assign."""
    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.llm.similarity import _as_double, ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    v = _as_double(F.col("embedding"))
    base = emb.select("vec_id", v.alias("v")).cache()
    old = base.filter(F.col("vec_id") % 10 != 7)
    new = base.filter(F.col("vec_id") % 10 == 7)
    cents = old.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("v").alias("cvec"),
    )
    n_base = (
        ivf_assign(old, vec_col="v", centroids=cents)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_base"))
    )
    n_new = (
        ivf_assign(new, vec_col="v", centroids=cents)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    merged = (
        cents.select("centroid_id")
        .join(n_base, "centroid_id", "left")
        .join(n_new, "centroid_id", "left")
        .select(
            "centroid_id",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    total = F.col("n_base") + F.col("n_new")
    return merged.select(
        "centroid_id",
        "n_base",
        "n_new",
        total.alias("n_total"),
        F.when(
            total > 0,
            round_half_up(F.col("n_new") / total.cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("new_share"),
    )


_IVF_INC_RECALL_ORACLE = f"""
WITH b AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
old AS (SELECT * FROM b WHERE vec_id % 10 <> 7),
c7 AS (SELECT vec_id::INT AS centroid_id, v AS cvec FROM old WHERE vec_id < 8),
c8 AS (SELECT vec_id::INT AS centroid_id, v AS cvec FROM b WHERE vec_id < 8),
a7 AS (
    SELECT e.vec_id, c.centroid_id
    FROM b e CROSS JOIN c7 c
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY ROUND({_cos_sql("(e.v)", "(c.cvec)")}, 9) DESC,
                 c.centroid_id) = 1
),
a8 AS (
    SELECT e.vec_id, c.centroid_id
    FROM b e CROSS JOIN c8 c
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY ROUND({_cos_sql("(e.v)", "(c.cvec)")}, 9) DESC,
                 c.centroid_id) = 1
),
q AS (
    SELECT vec_id AS query_id, v AS qvec FROM b WHERE vec_id IN (1, 5, 9)
),
p7 AS (
    SELECT q.query_id, c.centroid_id
    FROM q, c7 c
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY ROUND({_cos_sql("(c.cvec)", "(q.qvec)")}, 9) DESC,
                 c.centroid_id) <= 2
),
p8 AS (
    SELECT q.query_id, c.centroid_id
    FROM q, c8 c
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY ROUND({_cos_sql("(c.cvec)", "(q.qvec)")}, 9) DESC,
                 c.centroid_id) <= 2
),
tt AS (
    SELECT q.query_id, b.vec_id
    FROM b, q
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY {_DOT_SQL.format(a="b.v", b="q.qvec")} DESC, b.vec_id
    ) <= 10
),
ct7 AS (
    SELECT p.query_id, a.vec_id
    FROM p7 p
    JOIN a7 a ON a.centroid_id = p.centroid_id
    JOIN b ON b.vec_id = a.vec_id
    JOIN q ON q.query_id = p.query_id
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY p.query_id
        ORDER BY {_DOT_SQL.format(a="b.v", b="q.qvec")} DESC, b.vec_id
    ) <= 10
),
ct8 AS (
    SELECT p.query_id, a.vec_id
    FROM p8 p
    JOIN a8 a ON a.centroid_id = p.centroid_id
    JOIN b ON b.vec_id = a.vec_id
    JOIN q ON q.query_id = p.query_id
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY p.query_id
        ORDER BY {_DOT_SQL.format(a="b.v", b="q.qvec")} DESC, b.vec_id
    ) <= 10
),
h7 AS (
    SELECT tt.query_id,
           SUM(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS hits
    FROM tt LEFT JOIN ct7 c
      ON c.query_id = tt.query_id AND c.vec_id = tt.vec_id
    GROUP BY tt.query_id
),
h8 AS (
    SELECT tt.query_id,
           SUM(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS hits
    FROM tt LEFT JOIN ct8 c
      ON c.query_id = tt.query_id AND c.vec_id = tt.vec_id
    GROUP BY tt.query_id
),
unioned AS (
    SELECT h7.query_id,
           h7.hits / 10.0 AS r_inc,
           h8.hits / 10.0 AS r_full
    FROM h7 JOIN h8 USING (query_id)
    UNION ALL
    SELECT NULL::BIGINT,
           (SELECT SUM(hits)::DOUBLE / (COUNT(*) * 10.0) FROM h7),
           (SELECT SUM(hits)::DOUBLE / (COUNT(*) * 10.0) FROM h8)
)
SELECT query_id,
       {_rhu("r_inc", 6)} AS recall_incremental,
       {_rhu("r_full", 6)} AS recall_rebuild,
       {_rhu("r_inc - r_full", 6)} AS recall_delta
FROM unioned
"""


@query("sim_ivf_incremental_recall", _IVF_INC_RECALL_ORACLE)
def q_ivf_incremental_recall(spark, sf_dir):
    """Incremental ANN index maintenance, part 2 — the quality gate: is
    the incrementally-maintained index (new batch assigned to the
    FROZEN 7-centroid base index — no retrain) still close enough to a
    full rebuild (8 centroids re-seeded from the merged corpus)?
    Recall@10 at nprobe=2 for the same three query rows as
    sim_ivf_recall, both tiers against the same exact top-10 truth,
    plus the macro row (query_id NULL) — the number that decides when
    assignment churn justifies paying for the rebuild. One cached
    vector scan feeds centroids, both assignment passes, probes, and
    truth; every recall derives from exact integer hit counts, and the
    delta subtracts identically-rounded doubles.
    llm/similarity.py::ivf_assign + ann_recall_at_k."""
    from pyspark.sql import Window

    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.llm.similarity import (
        _as_double,
        ann_recall_at_k,
        cosine,
        dot,
        ivf_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    v = _as_double(F.col("embedding"))
    base = emb.select("vec_id", v.alias("v")).cache()
    c7 = (
        base.filter((F.col("vec_id") < 8) & (F.col("vec_id") % 10 != 7))
        .select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            F.col("v").alias("cvec"),
        )
    )
    c8 = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("v").alias("cvec"),
    )
    q = base.filter(F.col("vec_id").isin(1, 5, 9)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qvec")
    )

    def tier_candidates(cents):
        assign = ivf_assign(base, vec_col="v", centroids=cents)
        qc = q.crossJoin(F.broadcast(cents))
        w = Window.partitionBy("query_id").orderBy(
            F.round(cosine(F.col("qvec"), F.col("cvec")), 9).desc(),
            F.col("centroid_id"),
        )
        probe = (
            qc.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= 2)
            .select("query_id", "centroid_id", "qvec")
        )
        return assign.join(F.broadcast(probe), "centroid_id").select(
            "query_id",
            "vec_id",
            dot(F.col("v"), F.col("qvec")).alias("score"),
        )

    truth = base.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id", dot(F.col("v"), F.col("qvec")).alias("score")
    )
    r_inc = ann_recall_at_k(
        tier_candidates(c7), truth, query_col="query_id",
        item_col="vec_id", k=10,
    ).withColumnRenamed("recall_at_k", "r_inc")
    r_full = ann_recall_at_k(
        tier_candidates(c8), truth, query_col="query_id",
        item_col="vec_id", k=10,
    ).withColumnRenamed("recall_at_k", "r_full")
    j = (
        r_inc.alias("ri")
        .join(
            r_full.alias("rf"),
            F.col("ri.query_id").eqNullSafe(F.col("rf.query_id")),
        )
        .select(
            F.col("ri.query_id").alias("query_id"),
            F.col("r_inc"),
            F.col("r_full"),
        )
    )
    return j.select(
        "query_id",
        round_half_up(F.col("r_inc"), 6).alias("recall_incremental"),
        round_half_up(F.col("r_full"), 6).alias("recall_rebuild"),
        round_half_up(F.col("r_inc") - F.col("r_full"), 6).alias(
            "recall_delta"
        ),
    )


_IVF_PERSISTED_ORACLE = f"""
WITH q AS (
    SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0
),
scored AS (
    SELECT e.vec_id,
           {_rhu(_cos_sql("(e.embedding::DOUBLE[])", "q.qvec"), 6)}
               AS cos_sim
    FROM embeddings e, q
)
SELECT vec_id, cos_sim FROM scored
ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


@query("sim_ivf_persisted", _IVF_PERSISTED_ORACLE)
def q_ivf_persisted(spark, sf_dir):
    """Persisted-IVF lifecycle, driver-verified end-to-end: train
    k-means centroids, write the index with vectors PARTITIONED BY
    centroid assignment (save_ivf_index), then search it at FULL probe
    width — exhaustive over the partitioned layout, so the result must
    equal brute-force cosine top-10 exactly (the tests/test_ivf.py
    recall contract; partition PRUNING at nprobe<K is pinned there).
    The index is built once per fixture into /tmp and reused — the
    "write once, search many" cost model the layout exists for.
    llm/similarity.py::save_ivf_index/search_ivf_index."""
    import hashlib
    import os

    from rclabsapi_spark.llm.similarity import (
        save_ivf_index,
        search_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # cache tag fingerprints the DATA, not just the path: regenerated
    # fixture parquet at the same sf_dir must rebuild the index, never
    # silently search a stale one
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    tag = hashlib.md5(
        f"{sf_dir}:{st.st_size}:{st.st_mtime_ns}".encode()
    ).hexdigest()[:12]
    path = f"/tmp/rclabs_ivf_index_{tag}"
    if not os.path.exists(f"{path}/vectors/_SUCCESS"):
        save_ivf_index(emb, path, n_centroids=4, kmeans_iters=3)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    out = search_ivf_index(spark, path, qvec, k=10, nprobe=4)
    from rclabsapi_spark.functions.scalars import round_half_up

    return out.select(
        "vec_id", round_half_up(F.col("cos_sim"), 6).alias("cos_sim")
    )


@query(
    "mm_frame_sample",
    """
    WITH f AS (
        SELECT doc_id, encode(text) AS payload,
               CAST(CEIL(octet_length(encode(text)) / 64.0) AS INT) AS n_frames
        FROM documents
    )
    SELECT doc_id, CAST(i AS INT) AS frame_idx,
           upper(substring(hex(payload), i * 128 + 1, 128)) AS frame_hex
    FROM f, UNNEST(range(0, n_frames, 2)) AS t(i)
    """,
    bench=True,
)
def q_mm_frames(spark, sf_dir):
    """Frame sampling via mapInPandas fan-out (1 row → N frame rows);
    64-byte frames, every 2nd kept."""
    from rclabsapi_spark.llm.multimodal import attach_binary, frame_sample

    docs = attach_binary(load_table(spark, sf_dir, "documents"))
    return frame_sample(docs, frame_bytes=64, every_n=2)


@query(
    "mm_resize_meta",
    """
    SELECT doc_id, 32 AS width, 32 AS height,
           md5(upper(substring(hex(encode(text)), 1, 2048))) AS thumb_md5
    FROM documents
    """,
)
def q_mm_resize(spark, sf_dir):
    """Resize harness: geometry + content digest through mapInPandas (the
    pixel resample is the stubbed library call)."""
    from rclabsapi_spark.llm.multimodal import attach_binary, resize_meta

    docs = attach_binary(load_table(spark, sf_dir, "documents"))
    return resize_meta(docs, target_w=32, target_h=32)


# ---------------------------------------------------------------------------
# Quality-curriculum sampling: quartile-bucket the composite quality score,
# then keep-rate per bucket (10/25/50/100%) — downweight the low-quality
# tail, keep all of the top quartile. Membership stays a pure function of
# (salt, doc_id), so the curriculum is reproducible.
# ---------------------------------------------------------------------------

_CURRICULUM_ORACLE = f"""
WITH q AS ({_QUALITY_ORACLE}),
s AS (SELECT doc_id, quality_score FROM q),
b AS (
    SELECT quantile_cont(quality_score, 0.25) AS b1,
           quantile_cont(quality_score, 0.5)  AS b2,
           quantile_cont(quality_score, 0.75) AS b3
    FROM s
),
t AS (
    SELECT s.doc_id, s.quality_score,
           CASE WHEN s.quality_score < b.b1 THEN 'q1'
                WHEN s.quality_score < b.b2 THEN 'q2'
                WHEN s.quality_score < b.b3 THEN 'q3'
                ELSE 'q4' END AS bucket
    FROM s CROSS JOIN b
)
SELECT doc_id, quality_score, bucket FROM t
WHERE substring(md5('curr' || CAST(doc_id AS VARCHAR)), 1, 4) <
      CASE bucket WHEN 'q1' THEN '1999'
                  WHEN 'q2' THEN '4000'
                  WHEN 'q3' THEN '8000'
                  ELSE 'g000' END
"""


@query("sample_quality_curriculum", _CURRICULUM_ORACLE, bench=True)
def q_quality_curriculum(spark, sf_dir):
    """Quality-curriculum sample: quartile-bucket the composite quality
    score (exact interpolated percentiles — both engines use the same
    (n-1)·p rule on the same rounded scores, so boundaries are
    bit-identical), then the samplers' md5-bucket keep rates per
    quartile: 10% of q1 up to 100% of q4. The boundary relation is one
    tiny aggregate broadcast back onto the scan; membership is a pure
    function of (salt, doc_id). At 100 TB swap the exact percentile for
    the GK sketch (approx_quantile_bound) — same plan shape."""
    from rclabsapi_spark.llm.sampling import hash_bucket

    feats = quality_features(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "quality_score"
    )
    bounds = feats.agg(
        F.expr("percentile(quality_score, 0.25)").alias("b1"),
        F.expr("percentile(quality_score, 0.5)").alias("b2"),
        F.expr("percentile(quality_score, 0.75)").alias("b3"),
    )
    j = feats.join(F.broadcast(bounds))
    bucket = (
        F.when(F.col("quality_score") < F.col("b1"), "q1")
        .when(F.col("quality_score") < F.col("b2"), "q2")
        .when(F.col("quality_score") < F.col("b3"), "q3")
        .otherwise("q4")
    )
    thr = (
        F.when(F.col("bucket") == "q1", "1999")
        .when(F.col("bucket") == "q2", "4000")
        .when(F.col("bucket") == "q3", "8000")
        .otherwise("g000")
    )
    return (
        j.withColumn("bucket", bucket)
        .filter(hash_bucket(F.col("doc_id"), salt="curr") < thr)
        .select("doc_id", "quality_score", "bucket")
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023) — cluster-then-prune
# ---------------------------------------------------------------------------


def _semantic_oracle() -> str:
    """Unrolls semantic_dedup's 2 deterministic k-means iterations
    (first-8 init, round(cos,9) argmax with lowest-id ties, per-dim AVG
    means, empty-cluster fallback) plus the final assignment and the
    in-cluster lowest-key prune as CTEs — the
    graph_pagerank_transitions treatment, upgrading this query from
    rows-only to hash-verified."""
    dim = 64

    def assign(name: str, cents: str) -> str:
        cos = _cos_sql("(b.v)", "(c.cvec)")
        return f"""
{name} AS (
    SELECT b.vec_id, c.cid, b.v
    FROM base b CROSS JOIN {cents} c
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY b.vec_id
        ORDER BY ROUND({cos}, 9) DESC, c.cid) = 1
)"""

    def means(name: str, frm: str, prev: str) -> str:
        return f"""
{name}_m AS (
    SELECT cid, list(mval ORDER BY pos) AS cvec
    FROM (
        -- 9dp-integer-grid mean (order-independent; feeds the next
        -- iteration's ROUND(cos, 9) argmax — see kmeans_centroids)
        SELECT a.cid, r.pos,
               SUM(CAST(FLOOR(a.v[r.pos] * 1000000000.0 + 0.5)
                        AS HUGEINT))::DOUBLE
                   / (COUNT(*) * 1000000000.0) AS mval
        FROM {frm} a, UNNEST(range(1, {dim + 1})) AS r(pos)
        GROUP BY a.cid, r.pos
    ) GROUP BY cid
),
{name} AS (
    SELECT p.cid, COALESCE(m.cvec, p.cvec) AS cvec
    FROM {prev} p LEFT JOIN {name}_m m ON m.cid = p.cid
)"""

    pair_cos = _cos_sql("(x.v)", "(y.v)")
    return f"""
WITH base AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
c0 AS (SELECT vec_id::INT AS cid, v AS cvec FROM base WHERE vec_id < 8),
{assign("a1", "c0")},
{means("c1", "a1", "c0")},
{assign("a2", "c1")},
{means("c2", "a2", "c1")},
{assign("af", "c2")},
drops AS (
    SELECT DISTINCT y.vec_id
    FROM af x JOIN af y ON x.cid = y.cid AND x.vec_id < y.vec_id
    WHERE ROUND({pair_cos}, 9) >= 0.35::DOUBLE
)
SELECT af.vec_id, af.cid AS centroid_id,
       CASE WHEN d.vec_id IS NOT NULL THEN 'dropped' ELSE 'kept' END
           AS status
FROM af LEFT JOIN drops d ON d.vec_id = af.vec_id
"""


_SEMANTIC_ORACLE = _semantic_oracle()


@query("dedup_semantic", _SEMANTIC_ORACLE)
def q_semantic_dedup(spark, sf_dir):
    """SemDeDup over the embeddings fixture: k-means (k=8, 2 iters,
    deterministic first-k init) then in-cluster cosine pruning at 0.35,
    keeping the lowest-keyed member of each near-dup pair. The oracle
    unrolls both k-means iterations + the prune as CTEs (the
    graph_pagerank_transitions pattern); tests/test_semantic_dedup.py
    additionally brute-force-verifies the prune against numpy
    all-pairs. Sixth dedup tier (exact / MinHash / SimHash / n-gram /
    embedding-LSH / semantic), llm/similarity.py::semantic_dedup."""
    from rclabsapi_spark.llm.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, k=8, iters=2, threshold=0.35)


_K_PER_GROUP_ORACLE = """
SELECT event_id, event_type, sample_rank FROM (
    SELECT event_id, event_type,
           ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY md5('kpg:' || event_id::VARCHAR), event_id
           ) AS sample_rank
    FROM events
) WHERE sample_rank <= 5
"""


@query("sample_k_per_group", _K_PER_GROUP_ORACLE)
def q_sample_k_per_group(spark, sf_dir):
    """Uniform 5-per-type event sample — the deterministic distributed
    equivalent of per-group reservoir sampling: rank by md5(salt||key)
    inside each group, keep rank ≤ k. Identical subset on every engine,
    run, and partitioning. llm/sampling.py::sample_k_per_group."""
    from rclabsapi_spark.llm.sampling import sample_k_per_group

    ev = load_table(spark, sf_dir, "events")
    return sample_k_per_group(
        ev, group_col="event_type", key_col="event_id", k=5, salt="kpg:"
    ).select("event_id", "event_type", "sample_rank")


_WEIGHTED_ORACLE = """
WITH scored AS (
    SELECT o_orderkey, o_orderstatus,
           ROW_NUMBER() OVER (
               PARTITION BY o_orderstatus
               ORDER BY -LN((('0x' || substring(md5('wsk:' || o_orderkey::VARCHAR), 1, 8))::BIGINT::DOUBLE + 1.0) / 4294967296.0)
                        / o_totalprice ASC,
                        o_orderkey
           ) AS sample_rank
    FROM orders
)
SELECT o_orderkey, o_orderstatus, sample_rank
FROM scored WHERE sample_rank <= 10
"""


@query("sample_weighted_ares", _WEIGHTED_ORACLE)
def q_sample_weighted(spark, sf_dir):
    """Weighted sampling without replacement (10 orders per status,
    inclusion probability ∝ o_totalprice) via the Efraimidis–Spirakis
    exponential race: u drawn deterministically from md5(key), score
    −ln(u)/w, smallest k win. Identical subset on every engine, run,
    and partitioning; one ranking window per group.
    llm/sampling.py::weighted_sample_k."""
    from rclabsapi_spark.llm.sampling import weighted_sample_k

    orders = load_table(spark, sf_dir, "orders")
    return weighted_sample_k(
        orders,
        key_col="o_orderkey",
        weight_col="o_totalprice",
        k=10,
        group_col="o_orderstatus",
        salt="wsk:",
    ).select("o_orderkey", "o_orderstatus", "sample_rank")


_ENTROPY_ORACLE = f"""
WITH counts AS (
    SELECT lang AS grp, source AS cat, COUNT(*)::BIGINT AS n
    FROM documents GROUP BY 1, 2
),
shares AS (
    SELECT grp, n,
           n::DOUBLE / (SUM(n) OVER (PARTITION BY grp))::DOUBLE AS p
    FROM counts
)
SELECT grp AS lang, SUM(n)::BIGINT AS n_rows,
       COUNT(*)::BIGINT AS n_categories,
       {_gsum('-(p * LN(p))', 6)} AS entropy
FROM shares GROUP BY 1
"""


@query("text_source_entropy", _ENTROPY_ORACLE)
def q_source_entropy(spark, sf_dir):
    """Shannon entropy of the source mix per language — the corpus
    diversity audit (a language whose tokens come from one source is a
    biased slice, whatever its size). One (lang, source) aggregate;
    entropy folds over the tiny share relation.
    operators/analytics.py::entropy_by_group."""
    from rclabsapi_spark.operators.analytics import entropy_by_group

    docs = load_table(spark, sf_dir, "documents")
    return entropy_by_group(docs, group_col="lang", cat_col="source")


# ---------------------------------------------------------------------------
# Corpus-health: Zipf exponent + language-ID confusion matrix
# ---------------------------------------------------------------------------

_ZIPF_ORACLE = f"""
WITH toks AS (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
vocab AS (
    SELECT w, COUNT(*) AS n FROM toks WHERE w <> '' GROUP BY w
),
ranked AS (
    SELECT ln(rank::DOUBLE) AS x, ln(n::DOUBLE) AS y
    FROM (
        SELECT n, w, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rank
        FROM vocab
    ) WHERE rank <= 10000
),
sums AS (
    SELECT COUNT(*)::DOUBLE AS k, SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * x) AS sxx, SUM(x * y) AS sxy
    FROM ranked
)
SELECT k::BIGINT AS n_types,
       {_rhu("(k * sxy - sx * sy) / (k * sxx - sx * sx)", 6)} AS zipf_alpha,
       {_rhu("(sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k", 6)}
           AS log_c
FROM sums
"""


@query("text_zipf_fit", _ZIPF_ORACLE)
def q_zipf_fit(spark, sf_dir):
    """Zipf-law fit of the corpus token distribution: least-squares
    slope of log(freq) on log(rank) over the top-10k types — natural
    corpora fit α ≈ −1; templated text skews shallow, boilerplate
    steep. One vocab aggregate + one tiny ranking window + the five
    regression sums. llm/text.py::zipf_fit."""
    from rclabsapi_spark.llm.text import zipf_fit

    return zipf_fit(load_table(spark, sf_dir, "documents"), max_rank=10000)


_LANGID_CONFUSION_ORACLE = f"""
WITH pred AS ({_LANGID_ORACLE}),
cm AS (
    SELECT d.lang AS true_lang, p.predicted_lang, COUNT(*)::BIGINT AS n
    FROM documents d JOIN pred p USING (doc_id)
    GROUP BY 1, 2
)
SELECT true_lang, predicted_lang, n,
       n::DOUBLE / (SUM(n) OVER (PARTITION BY true_lang))::DOUBLE
           AS share_of_true
FROM cm
"""


@query("text_langid_confusion", _LANGID_CONFUSION_ORACLE)
def q_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix against the labeled lang column:
    (true, predicted, n, per-true-language recall share) — the audit
    that decides whether the marker-token heuristic may gate corpus
    routing, and which language pairs it confuses. One scoring scan +
    one |langs|² aggregate; the share is exact-count division
    (bit-identical doubles). llm/text.py::lang_id_evaluation."""
    from rclabsapi_spark.llm.text import lang_id_evaluation

    return lang_id_evaluation(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Cluster-quality audit: the weakest-link exposure before deletion
# ---------------------------------------------------------------------------

_CLUSTER_AUDIT_ORACLE = f"""
WITH thr AS (
    SELECT doc_a, doc_b, jaccard
    FROM ({_MINHASH_ORACLE}) AS mh WHERE jaccard >= 0.5
),
cl AS ({_CLUSTERS_ORACLE}),
tagged AS (
    SELECT CASE WHEN ca.cluster_id = cb.cluster_id
                THEN ca.cluster_id END AS cluster_id,
           t.jaccard
    FROM thr t
    JOIN cl ca ON ca.doc_id = t.doc_a
    JOIN cl cb ON cb.doc_id = t.doc_b
),
ps AS (
    SELECT cluster_id, COUNT(*)::BIGINT AS n_pairs,
           {_rhu("SUM(CAST(FLOOR(jaccard * 1000000000.0 + 0.5) AS HUGEINT))::DOUBLE"
                 " / (COUNT(*) * 1000000000.0)", 6)} AS mean_sim,
           {_rhu("MIN(jaccard)", 6)} AS weakest_link
    FROM tagged GROUP BY cluster_id
),
sizes AS (
    SELECT cluster_id, COUNT(*)::BIGINT AS n_members FROM cl GROUP BY 1
)
SELECT ps.cluster_id,
       COALESCE(s.n_members, 0)::BIGINT AS n_members,
       ps.n_pairs, ps.mean_sim, ps.weakest_link
FROM ps LEFT JOIN sizes s ON s.cluster_id = ps.cluster_id
"""


@query("dedup_cluster_audit", _CLUSTER_AUDIT_ORACLE, bench=True)
def q_cluster_audit(spark, sf_dir):
    """Near-dup cluster audit against the pair evidence that built the
    clusters: per cluster the member count, in-cluster pair count, mean
    similarity, and the WEAKEST in-cluster link — the chain-collapse
    exposure read before a dedup pass deletes on transitive faith.
    Cross-cluster pairs report under cluster_id NULL. Two equi-joins
    (AQE picks the strategy — the cluster map is corpus-sized at scale,
    never force-broadcast). llm/dedup.py::cluster_quality_audit."""
    from rclabsapi_spark.llm.dedup import cluster_quality_audit, dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    # The verified pair relation feeds TWO consumers (the CC edge build
    # and the audit spine); without a checkpoint each re-runs the whole
    # LSH chain, banding and the per-pair text joins and shingling.
    # Pair-sized, so an eager localCheckpoint is cheap and both
    # consumers read the materialized relation (the pagerank pattern).
    pairs = (
        lsh_candidate_pairs(docs, num_hashes=8, bands=4, max_bucket_size=50)
        .filter(F.col("jaccard") >= 0.5)
        .localCheckpoint(eager=True)
    )
    clusters = dedup_clusters(pairs)
    return cluster_quality_audit(pairs, clusters, sim_col="jaccard")


# ---------------------------------------------------------------------------
# ANN recall@k: sign-LSH tier graded against exact ground truth
# ---------------------------------------------------------------------------

_RECALL_BUCKET6 = "concat(" + ", ".join(
    f"CASE WHEN v[{i+1}] >= 0 THEN '1' ELSE '0' END" for i in range(6)
) + ")"

_ANN_RECALL_ORACLE = f"""
WITH b AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
bb AS (SELECT vec_id, v, {_RECALL_BUCKET6} AS bucket FROM b),
q AS (
    SELECT vec_id AS query_id, v AS qvec, bucket AS qbucket
    FROM bb WHERE vec_id IN (1, 5, 9)
),
tt AS (
    SELECT q.query_id, bb.vec_id
    FROM bb, q
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY {_DOT_SQL.format(a="bb.v", b="q.qvec")} DESC, bb.vec_id
    ) <= 10
),
ct AS (
    SELECT q.query_id, bb.vec_id
    FROM bb JOIN q ON bb.bucket = q.qbucket
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY {_DOT_SQL.format(a="bb.v", b="q.qvec")} DESC, bb.vec_id
    ) <= 10
),
pq AS (
    SELECT tt.query_id,
           SUM(CASE WHEN ct.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS hits
    FROM tt LEFT JOIN ct
      ON ct.query_id = tt.query_id AND ct.vec_id = tt.vec_id
    GROUP BY tt.query_id
),
unioned AS (
    SELECT query_id, hits / 10.0 AS recall_at_k FROM pq
    UNION ALL
    -- macro from exact integer hits (order-independent integer ratio)
    SELECT NULL::BIGINT, SUM(hits)::DOUBLE / (COUNT(*) * 10.0) FROM pq
)
SELECT query_id, {_rhu("recall_at_k", 6)} AS recall_at_k FROM unioned
"""


@query("sim_ann_recall", _ANN_RECALL_ORACLE)
def q_ann_recall(spark, sf_dir):
    """Recall@10 of the 6-bit sign-LSH tier against exact dot-product
    top-10 for queries {1, 5, 9}, plus the macro average (query_id
    NULL) — the quality gate an approximate tier reports before it
    replaces the exact path. One 3-row broadcast of the query relation;
    one ranking window per side. llm/similarity.py::ann_recall_at_k."""
    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.llm.similarity import (
        _as_double,
        ann_recall_at_k,
        dot,
        sign_bucket,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    v = _as_double(F.col("embedding"))
    base = emb.select("vec_id", v.alias("v"), sign_bucket(v, 6).alias("bucket"))
    q = base.filter(F.col("vec_id").isin(1, 5, 9)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qvec"),
        F.col("bucket").alias("qbucket"),
    )
    score = dot(F.col("v"), F.col("qvec")).alias("score")
    truth = base.crossJoin(F.broadcast(q)).select("query_id", "vec_id", score)
    cand = base.join(F.broadcast(q), F.col("bucket") == F.col("qbucket")).select(
        "query_id", "vec_id", score
    )
    rec = ann_recall_at_k(cand, truth, query_col="query_id", item_col="vec_id", k=10)
    return rec.select(
        "query_id", round_half_up(F.col("recall_at_k"), 6).alias("recall_at_k")
    )


# ---------------------------------------------------------------------------
# Product quantization: train (1 k-means iter) → encode → ADC score
# ---------------------------------------------------------------------------


def _pq_oracle() -> str:
    """Unrolls pq_train(n_subspaces=4, codebook_size=4, iters=1) +
    pq_encode + the ADC scoring chain as CTEs — the
    graph_pagerank_transitions treatment for the deterministic
    (first-k init) k-means. Per subspace m over dims [16m+1, 16m+16]:
    init = docs 0-3's slices, one assign (round(cos,9) argmax, lowest
    id tie), per-dim AVG means with empty-cluster fallback; encode =
    argmax of (dot − ‖c‖²/2) with the same left-to-right fold as the
    Spark literal chain; ADC = Σ_m table_m[code_m] in subspace order."""
    sub = 16
    parts = ["WITH"]
    for m in range(4):
        a, b = m * sub + 1, (m + 1) * sub
        sv = f"(embedding[{a}:{b}])::DOUBLE[]"
        cos = _cos_sql("(s.sv)", "(c.cvec)")
        hn = (
            "list_reduce(list_transform(bk.cvec, c -> c * c),"
            " (acc, x) -> acc + x) / 2.0"
        )
        score = f"{_DOT_SQL.format(a='(s.sv)', b='(bk.cvec)')} - {hn}"
        parts.append(f"""
sub{m} AS (SELECT vec_id, {sv} AS sv FROM embeddings),
cents{m} AS (
    SELECT vec_id::INT AS cid, sv AS cvec FROM sub{m} WHERE vec_id < 4
),
assign{m} AS (
    SELECT s.vec_id, c.cid, s.sv
    FROM sub{m} s CROSS JOIN cents{m} c
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY s.vec_id
        ORDER BY ROUND({cos}, 9) DESC, c.cid) = 1
),
mean{m} AS (
    SELECT cid, list(mval ORDER BY pos) AS cvec
    FROM (
        -- 9dp-integer-grid mean (order-independent, kmeans mirror)
        SELECT a.cid, r.pos,
               SUM(CAST(FLOOR(a.sv[r.pos] * 1000000000.0 + 0.5)
                        AS HUGEINT))::DOUBLE
                   / (COUNT(*) * 1000000000.0) AS mval
        FROM assign{m} a, UNNEST(range(1, {sub + 1})) AS r(pos)
        GROUP BY a.cid, r.pos
    ) GROUP BY cid
),
book{m} AS (
    SELECT c0.cid, COALESCE(mn.cvec, c0.cvec) AS cvec
    FROM cents{m} c0 LEFT JOIN mean{m} mn ON mn.cid = c0.cid
),
enc{m} AS (
    SELECT s.vec_id, bk.cid AS code_{m}
    FROM sub{m} s CROSS JOIN book{m} bk
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY s.vec_id
        ORDER BY {score} DESC, bk.cid) = 1
),
qs{m} AS (SELECT {sv} AS qv FROM embeddings WHERE vec_id = 0),
tbl{m} AS (
    SELECT bk.cid, {_DOT_SQL.format(a='(q.qv)', b='(bk.cvec)')} AS t
    FROM book{m} bk, qs{m} q
),""")
    joins = " ".join(
        f"JOIN enc{m} ON enc{m}.vec_id = enc0.vec_id" for m in range(1, 4)
    )
    lookups = " ".join(
        f"JOIN tbl{m} ON tbl{m}.cid = enc{m}.code_{m}" for m in range(4)
    )
    body = f"""
scored AS (
    SELECT enc0.vec_id,
           tbl0.t + tbl1.t + tbl2.t + tbl3.t AS adc_score
    FROM enc0 {joins} {lookups}
)
SELECT vec_id, {_rhu("adc_score", 6)} AS adc_score FROM scored
"""
    return "\n".join(parts) + body


_PQ_ORACLE = _pq_oracle()


@query("sim_pq_adc", _PQ_ORACLE, bench=True)
def q_pq_adc(spark, sf_dir):
    """Product quantization end-to-end: train 4 subspace codebooks
    (k=4, 1 k-means iteration, deterministic first-k init), encode
    every vector to 4 small codes, and ADC-score the whole corpus
    against vec_id 0's full-precision query — the 100 TB ANN shape
    where the scan reads m bytes per vector instead of dim·4. Codebooks
    and lookup tables are driver-sized literals compiled into the plan:
    no join, no decode on the scan side.
    llm/similarity.py::pq_train/pq_encode/pq_adc_topk."""
    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.llm.similarity import pq_adc_topk, pq_encode, pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    # query vector first: its length is the vector dim, so pq_train
    # skips its probing first() job (one fewer driver round trip)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    books = pq_train(
        emb, n_subspaces=4, codebook_size=4, iters=1, dim=len(qvec)
    )
    codes = pq_encode(emb, books)
    out = pq_adc_topk(codes, books, qvec, k=10_000_000)
    return out.select(
        "vec_id", round_half_up(F.col("adc_score"), 6).alias("adc_score")
    )


# ---------------------------------------------------------------------------
# Exact duplicate-span detection (ExactSubstr tier, Lee et al. 2022)
# ---------------------------------------------------------------------------

_DUP_SPANS_ORACLE = """
WITH t AS (
    SELECT doc_id, text, string_split(text, ' ') AS l FROM documents
),
w AS (
    SELECT doc_id, text,
           CASE WHEN i = 1 THEN 0
                ELSE length(array_to_string(l[1:i - 1], ' ')) + 1
           END AS off
    FROM t, UNNEST(range(1, len(l) + 1)) AS u(i)
),
spans AS (
    SELECT doc_id, substring(text, off + 1, 40) AS span
    FROM w WHERE length(text) - off >= 40
)
SELECT span, COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
       COUNT(*)::BIGINT AS n_occurrences
FROM spans GROUP BY span
HAVING COUNT(DISTINCT doc_id) >= 2
"""


@query("dedup_duplicate_spans", _DUP_SPANS_ORACLE, bench=True)
def q_duplicate_spans(spark, sf_dir):
    """Exact duplicate 40-char spans anchored at word starts, appearing
    in ≥2 distinct documents — the ExactSubstr tier (Lee et al. 2022)
    that catches boilerplate/quotation regions document-level dedup
    cannot see. Word-boundary anchoring makes detection
    shift-invariant (a stride-sampled variant misses regions at
    offsets incongruent mod the stride); one regex pass per document +
    one grouped aggregate. llm/dedup.py::duplicate_spans."""
    from rclabsapi_spark.llm.dedup import duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_spans(docs, span_len=40, min_docs=2)


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive training pairs)
# ---------------------------------------------------------------------------

# derived bucket width: smallest b with 2^b buckets of ~64 expected
# members, clamped [4,16] — integer ceil-div + bit-length, identical to
# llm/similarity.py::derive_num_bits (never float log2)
_HARDNEG_CAP = 32
_HARDNEG_CORE = f"""
nbd AS (
    SELECT least(greatest(length(bin(
               greatest((n + 63) // 64, 1) - 1)), 4), 16) AS b
    FROM (SELECT COUNT(*)::BIGINT AS n FROM embeddings)
),
b AS (
    SELECT e.vec_id, d.lang, e.embedding::DOUBLE[] AS v,
           array_to_string([CASE WHEN e.embedding[i + 1] >= 0
                                 THEN '1' ELSE '0' END
                            FOR i IN range(nbd.b)], '') AS bucket
    FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id, nbd
),
capped AS (
    SELECT * FROM b
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY bucket
        ORDER BY md5('hncap:' || CAST(vec_id AS VARCHAR)), vec_id
    ) <= {_HARDNEG_CAP}
),
scored AS (
    SELECT a.vec_id AS anchor_id, a.lang AS anchor_label,
           n.vec_id AS negative_id, n.lang AS neg_label,
           ROUND({_cos_sql("a.v", "n.v")}, 6) AS cosine_sim
    FROM b a JOIN capped n
      ON a.bucket = n.bucket AND a.vec_id <> n.vec_id
     AND a.lang <> n.lang
)"""

_HARDNEG_ORACLE = f"""
WITH {_HARDNEG_CORE}
SELECT anchor_id, anchor_label, negative_id, neg_label, cosine_sim
FROM scored
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY anchor_id ORDER BY cosine_sim DESC, negative_id) = 1
"""


@query("sim_hard_negatives", _HARDNEG_ORACLE, bench=True)
def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: per anchor, the
    most-cosine-similar vector with a DIFFERENT language, blocked by a
    CORPUS-SIZED sign-LSH bucket (bits ≈ log2(n/64), so bucket
    population stays ~constant as the corpus grows) with a
    deterministic 32-candidate per-bucket cap on the negative side
    (md5-ranked, the max_shingle_df pattern) — join work ≤ n·32,
    linear, never the Σ bucket² blow-up of fixed-width uncapped
    blocking. Ranking on the ROUNDED cosine keeps the winner identical
    across engines. llm/similarity.py::hard_negative_mining."""
    from rclabsapi_spark.llm.similarity import hard_negative_mining

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    return hard_negative_mining(
        emb,
        docs,
        label_key_col="doc_id",
        label_col="lang",
        num_bits=None,
        target_bucket_size=64,
        max_bucket_candidates=_HARDNEG_CAP,
    )


_HARDNEG_COVERAGE_ORACLE = f"""
WITH {_HARDNEG_CORE},
mined AS (
    SELECT anchor_id, anchor_label FROM scored
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY anchor_id ORDER BY cosine_sim DESC, negative_id) = 1
),
anchors AS (
    SELECT lang AS anchor_label, COUNT(*)::BIGINT AS n_anchors
    FROM b GROUP BY lang
),
covered AS (
    SELECT anchor_label, COUNT(*)::BIGINT AS n_covered
    FROM mined GROUP BY anchor_label
)
SELECT a.anchor_label, a.n_anchors,
       COALESCE(c.n_covered, 0)::BIGINT AS n_covered,
       {_rhu(
           "COALESCE(c.n_covered, 0)::DOUBLE / a.n_anchors::DOUBLE", 6
       )} AS coverage_rate
FROM anchors a LEFT JOIN covered c USING (anchor_label)
"""


@query("sim_hard_negative_coverage", _HARDNEG_COVERAGE_ORACLE)
def q_hard_negative_coverage(spark, sf_dir):
    """Coverage audit for the blocked hard-negative miner: per label,
    the fraction of anchors whose (capped) bucket held a cross-label
    negative — the quality gate that says when the 1-bit multi-probe
    fallback (probe_bits>0) is needed. Same blocking parameters as
    sim_hard_negatives, one extra n-row aggregate per side.
    llm/similarity.py::hard_negative_coverage."""
    from rclabsapi_spark.llm.similarity import hard_negative_coverage

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    return hard_negative_coverage(
        emb,
        docs,
        label_key_col="doc_id",
        label_col="lang",
        num_bits=None,
        target_bucket_size=64,
        max_bucket_candidates=_HARDNEG_CAP,
    )


# ---------------------------------------------------------------------------
# Multimodal frame-level dedup + embedding truncation audit
# ---------------------------------------------------------------------------

_FRAME_DEDUP_ORACLE = """
WITH f AS (
    SELECT doc_id, encode(text) AS payload,
           CAST(CEIL(octet_length(encode(text)) / 64.0) AS INT) AS n_frames
    FROM documents
),
frames AS (
    SELECT doc_id,
           upper(substring(hex(payload), i * 128 + 1, 128)) AS frame_hex
    FROM f, UNNEST(range(0, n_frames, 2)) AS t(i)
)
SELECT md5(frame_hex) AS frame_hash,
       COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
       COUNT(*)::BIGINT AS n_occurrences
FROM frames GROUP BY md5(frame_hex)
HAVING COUNT(DISTINCT doc_id) >= 2
"""


@query("mm_frame_dedup", _FRAME_DEDUP_ORACLE, bench=True)
def q_mm_frame_dedup(spark, sf_dir):
    """Cross-document duplicate FRAMES: the perceptual-dedup plumbing
    for image/video corpora — mapInPandas frame fan-out (the decode
    stand-in), then a corpus-wide aggregate on the 32-byte frame
    digest (never the frame bytes). A real deployment swaps the byte
    chunker for a codec and the md5 for a perceptual hash; schema,
    batching, and the digest-shuffle shape are what this verifies.
    llm/multimodal.py::frame_sample."""
    from rclabsapi_spark.llm.multimodal import attach_binary, frame_sample

    docs = attach_binary(load_table(spark, sf_dir, "documents"))
    frames = frame_sample(docs, frame_bytes=64, every_n=2)
    return (
        frames.groupBy(F.md5("frame_hex").alias("frame_hash"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


_TRUNC_ORACLE = f"""
WITH r AS (
    SELECT
        {_DOT_SQL.format(a="(embedding::DOUBLE[])[1:8]",
                         b="(embedding::DOUBLE[])[1:8]")}
            / {_DOT_SQL.format(a="(embedding::DOUBLE[])",
                               b="(embedding::DOUBLE[])")} AS r8,
        {_DOT_SQL.format(a="(embedding::DOUBLE[])[1:16]",
                         b="(embedding::DOUBLE[])[1:16]")}
            / {_DOT_SQL.format(a="(embedding::DOUBLE[])",
                               b="(embedding::DOUBLE[])")} AS r16,
        {_DOT_SQL.format(a="(embedding::DOUBLE[])[1:32]",
                         b="(embedding::DOUBLE[])[1:32]")}
            / {_DOT_SQL.format(a="(embedding::DOUBLE[])",
                               b="(embedding::DOUBLE[])")} AS r32
    FROM embeddings
)
SELECT 8 AS trunc_dim,
       {_rhu("SUM(CAST(FLOOR(r8 * 1000000000.0 + 0.5) AS HUGEINT))::DOUBLE"
             " / (COUNT(*) * 1000000000.0)", 6)} AS mean_energy,
       {_rhu("MIN(r8)", 6)} AS min_energy FROM r
UNION ALL
SELECT 16,
       {_rhu("SUM(CAST(FLOOR(r16 * 1000000000.0 + 0.5) AS HUGEINT))::DOUBLE"
             " / (COUNT(*) * 1000000000.0)", 6)},
       {_rhu("MIN(r16)", 6)} FROM r
UNION ALL
SELECT 32,
       {_rhu("SUM(CAST(FLOOR(r32 * 1000000000.0 + 0.5) AS HUGEINT))::DOUBLE"
             " / (COUNT(*) * 1000000000.0)", 6)},
       {_rhu("MIN(r32)", 6)} FROM r
"""


@query("emb_truncation_energy", _TRUNC_ORACLE)
def q_truncation_energy(spark, sf_dir):
    """Matryoshka truncation audit: mean/min fraction of embedding
    energy surviving truncation to the first 8/16/32 of 64 dims — the
    check before serving shortened vectors from a full-dimension index.
    One scan, per-row sliced-fold ratios, a 1-row aggregate.
    llm/similarity.py::truncation_energy_audit."""
    from rclabsapi_spark.llm.similarity import truncation_energy_audit

    emb = load_table(spark, sf_dir, "embeddings")
    return truncation_energy_audit(emb, dims=(8, 16, 32))


# ---------------------------------------------------------------------------
# Distributed MMR re-ranking (diversity-aware retrieval)
# ---------------------------------------------------------------------------

def _mmr_round_sql(r: int) -> str:
    prev = "cand" if r == 1 else f"rem{r - 1}"
    cos_bv = _cos_sql("c.v", "b.v")
    return f"""
s{r} AS (
    SELECT *, 0.7 * rel - 0.3 *
           (CASE WHEN pen < -1.5 THEN 0.0 ELSE pen END) AS score
    FROM {prev}
),
b{r} AS (SELECT * FROM s{r} ORDER BY score DESC, vec_id LIMIT 1),
rem{r} AS (
    SELECT c.vec_id, c.rel, c.v,
           GREATEST(c.pen, ROUND({cos_bv}, 9)) AS pen
    FROM {prev} c, b{r} b WHERE c.vec_id <> b.vec_id
)"""


_MMR_K = 5

_MMR_ORACLE = (
    f"""
WITH q AS (
    SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0
),
cand AS (
    SELECT vec_id, rel, v, -2.0 AS pen FROM (
        SELECT e.vec_id,
               ROUND({_cos_sql("(e.embedding::DOUBLE[])", "q.qvec")}, 6)
                   AS rel,
               e.embedding::DOUBLE[] AS v
        FROM embeddings e, q WHERE e.vec_id <> 0
    ) ORDER BY rel DESC, vec_id LIMIT 20
),"""
    + ",".join(_mmr_round_sql(r) for r in range(1, _MMR_K + 1))
    + "\n"
    + "\nUNION ALL ".join(
        f"SELECT {r} AS mmr_rank, vec_id, rel AS relevance,"
        f" {_rhu('score', 6)} AS mmr_score FROM b{r}"
        for r in range(1, _MMR_K + 1)
    )
)


@query("retr_mmr_rerank", _MMR_ORACLE)
def q_mmr_rerank(spark, sf_dir, *, materialize=True):
    """Distributed MMR re-rank of the brute-force top-20 (query =
    vec 0, λ=0.7, k=5): greedy argmax of λ·rel − (1−λ)·max-sim-to-
    chosen, run as 5 DataFrame rounds with 1-row argmax broadcasts and
    incremental penalty maxes — no driver collect, so the candidate
    tier can be arbitrarily large. The oracle unrolls the same 5 greedy
    rounds as CTEs. llm/retrieval.py::mmr_rerank_df."""
    from rclabsapi_spark.llm.retrieval import mmr_rerank_df
    from rclabsapi_spark.llm.similarity import _as_double, cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cand = cosine_topk(emb, 0, k=20).join(
        emb.select("vec_id", _as_double(F.col("embedding")).alias("v")),
        "vec_id",
    )
    return mmr_rerank_df(
        cand,
        key_col="vec_id",
        rel_col="cosine_sim",
        vec_col="v",
        lambda_relevance=0.7,
        k=_MMR_K,
        materialize=materialize,
    )


# ---------------------------------------------------------------------------
# Cross-split NEAR-duplicate leakage (LSH tier x split assignment)
# ---------------------------------------------------------------------------


def _split_case_sql(idc: str) -> str:
    h = f"substring(md5('split1' || CAST({idc} AS VARCHAR)), 1, 4)"
    return (
        f"CASE WHEN {h} < '0ccc' THEN 'val'"
        f" WHEN {h} < '1999' THEN 'test'"
        f" ELSE 'train' END"
    )


_XSPLIT_LEAK_ORACLE = f"""
WITH lsh AS ({_MINHASH_ORACLE}),
sp AS (
    SELECT l.jaccard,
           {_split_case_sql("l.doc_a")} AS split_a,
           {_split_case_sql("l.doc_b")} AS split_b
    FROM lsh l WHERE l.jaccard >= 0.5
)
SELECT least(split_a, split_b) AS split_lo,
       greatest(split_a, split_b) AS split_hi,
       COUNT(*)::BIGINT AS n_pairs,
       MAX(jaccard) AS max_jaccard
FROM sp WHERE split_a <> split_b
GROUP BY split_lo, split_hi
"""


@query("dedup_cross_split_leakage", _XSPLIT_LEAK_ORACLE)
def q_cross_split_leakage(spark, sf_dir):
    """Cross-split NEAR-duplicate leakage: verified LSH pairs (Jaccard
    ≥ 0.5) whose endpoints land in DIFFERENT train/val/test splits —
    the contamination hash-splitting by id cannot prevent and exact
    fingerprint auditing (train_split_contamination) cannot see. Split
    labels are pure md5 functions of the ids, applied directly to the
    pair relation — no join against an assignment table; MAX over
    rounded jaccards keeps the summary order-insensitive.
    llm/dedup.py::lsh_candidate_pairs + llm/sampling.py::split_assign
    thresholds."""
    from rclabsapi_spark.llm.sampling import hash_bucket, pct_threshold

    def split_of(idcol):
        b = hash_bucket(idcol, salt="split1")
        return (
            F.when(b < pct_threshold(5.0), F.lit("val"))
            .when(b < pct_threshold(10.0), F.lit("test"))
            .otherwise(F.lit("train"))
        )

    pairs = lsh_candidate_pairs(
        load_table(spark, sf_dir, "documents"),
        num_hashes=8,
        bands=4,
        max_bucket_size=50,
    ).filter(F.col("jaccard") >= 0.5)
    sp = pairs.select(
        "jaccard",
        split_of(F.col("doc_a")).alias("split_a"),
        split_of(F.col("doc_b")).alias("split_b"),
    ).filter(F.col("split_a") != F.col("split_b"))
    return sp.groupBy(
        F.least("split_a", "split_b").alias("split_lo"),
        F.greatest("split_a", "split_b").alias("split_hi"),
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.max("jaccard").alias("max_jaccard"),
    )


_HARDNEG_PROBED_ORACLE = f"""
WITH {_HARDNEG_CORE.replace(
    "scored AS (",
    '''probed AS (
    SELECT vec_id, lang, v, bucket FROM b
    UNION ALL
    SELECT vec_id, lang, v,
           (CASE WHEN substring(bucket, 1, 1) = '1' THEN '0' ELSE '1' END)
               || substring(bucket, 2) AS bucket
    FROM b
),
scored AS (''',
).replace("FROM b a JOIN capped n", "FROM probed a JOIN capped n")}
SELECT anchor_id, anchor_label, negative_id, neg_label, cosine_sim
FROM scored
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY anchor_id ORDER BY cosine_sim DESC, negative_id) = 1
"""


@query("sim_hard_negatives_probed", _HARDNEG_PROBED_ORACLE)
def q_hard_negatives_probed(spark, sf_dir):
    """Multi-probe hard-negative mining (probe_bits=1): every anchor
    additionally probes the bucket with its FIRST sign bit flipped —
    the standard sign-LSH probe that rescues anchors whose home bucket
    has no cross-label member. Work bound doubles to ≤ 2·n·C, still
    linear; the probed anchor relation is a union of two bucket
    stampings of one scan. Rescued-anchor coverage is the delta vs
    sim_hard_negative_coverage.
    llm/similarity.py::hard_negative_mining(probe_bits=1)."""
    from rclabsapi_spark.llm.similarity import hard_negative_mining

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    return hard_negative_mining(
        emb,
        docs,
        label_key_col="doc_id",
        label_col="lang",
        num_bits=None,
        target_bucket_size=64,
        max_bucket_candidates=_HARDNEG_CAP,
        probe_bits=1,
    )


# ---------------------------------------------------------------------------
# Semantic decontamination (embedding-cosine eval leakage)
# ---------------------------------------------------------------------------

# eval split as a pure md5 function of the key — stamped identically on
# both engines (the dedup_cross_split_leakage precedent); 1/8 of vectors
_SD_EVAL_SQL = (
    "substring(md5('evalsplit:' || CAST(vec_id AS VARCHAR)), 1, 1) < '2'"
)
_SD_CAP = 64
_SD_THRESHOLD = 0.3  # fixture-tuned: random-ish synthetic embeddings
# rarely exceed cosine 0.5; a production corpus with a real embedding
# model runs ~0.9+. 39 flagged at sf0.01, 378 at sf0.1.

_SEMANTIC_DECONTAM_ORACLE = f"""
WITH nbd AS (
    SELECT least(greatest(length(bin(
               greatest((n + 15) // 16, 1) - 1)), 4), 16) AS b
    FROM (SELECT COUNT(*)::BIGINT AS n FROM embeddings
          WHERE {_SD_EVAL_SQL})
),
base AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           {_SD_EVAL_SQL} AS is_eval,
           array_to_string([CASE WHEN embedding[i + 1] >= 0
                                 THEN '1' ELSE '0' END
                            FOR i IN range(nbd.b)], '') AS bucket
    FROM embeddings, nbd
),
ev AS (
    SELECT vec_id AS eval_id, v, bucket FROM base WHERE is_eval
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY bucket
        ORDER BY md5('sdcap:' || CAST(eval_id AS VARCHAR)), eval_id
    ) <= {_SD_CAP}
),
tr AS (
    SELECT vec_id AS train_id, v, bucket FROM base WHERE NOT is_eval
    UNION ALL
    SELECT vec_id, v,
           (CASE WHEN substring(bucket, 1, 1) = '1' THEN '0' ELSE '1' END)
               || substring(bucket, 2) AS bucket
    FROM base WHERE NOT is_eval
),
scored AS (
    SELECT t.train_id, e.eval_id,
           ROUND({_cos_sql("t.v", "e.v")}, 6) AS cosine_sim
    FROM tr t JOIN ev e ON t.bucket = e.bucket
)
SELECT train_id, eval_id, cosine_sim FROM scored
WHERE cosine_sim >= {_SD_THRESHOLD}
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY train_id ORDER BY cosine_sim DESC, eval_id) = 1
"""


@query("clean_semantic_decontaminate", _SEMANTIC_DECONTAM_ORACLE,
       bench=True)
def q_semantic_decontaminate(spark, sf_dir):
    """Semantic eval-set decontamination: training vectors whose best
    same-bucket eval neighbor has rounded cosine >= threshold — the
    paraphrase-level leakage the n-gram tier (clean_decontaminate)
    cannot see. The asymmetry does the scale work: the bucketed,
    per-bucket-capped eval relation is BROADCAST (eval suites are MBs
    against a TB corpus), so the corpus never shuffles; bucket width
    derives from the EVAL count so per-train candidate work stays
    constant; probe_bits=1 rescues Hamming-1 misses at 2x in-stage
    compute, zero extra shuffle.
    llm/similarity.py::semantic_decontaminate."""
    from rclabsapi_spark.llm.similarity import semantic_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    is_eval = (
        F.substring(
            F.md5(F.concat(F.lit("evalsplit:"),
                           F.col("vec_id").cast("string"))), 1, 1
        ) < "2"
    )
    out = semantic_decontaminate(
        emb.filter(~is_eval),
        emb.filter(is_eval),
        num_bits=None,
        target_bucket_size=16,
        threshold=_SD_THRESHOLD,
        max_eval_bucket=_SD_CAP,
        probe_bits=1,
    )
    return out.select(
        F.col("train_id"), F.col("eval_id"), F.col("cosine_sim")
    )


_SPAN_EXPOSURE_ORACLE = """
WITH t AS (
    SELECT doc_id, text, string_split(text, ' ') AS l FROM documents
),
w AS (
    SELECT doc_id, text,
           CASE WHEN i = 1 THEN 0
                ELSE length(array_to_string(l[1:i - 1], ' ')) + 1
           END AS off
    FROM t, UNNEST(range(1, len(l) + 1)) AS u(i)
),
spans AS (
    SELECT doc_id, substring(text, off + 1, 40) AS span
    FROM w WHERE length(text) - off >= 40
),
freq AS (
    SELECT span FROM spans GROUP BY span
    HAVING COUNT(DISTINCT doc_id) >= 2
),
per_doc AS (
    SELECT s.doc_id, COUNT(*)::BIGINT AS n_spans,
           COUNT(f.span)::BIGINT AS n_flagged
    FROM spans s LEFT JOIN freq f USING (span)
    GROUP BY s.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_spans, 0)::BIGINT AS n_spans,
       COALESCE(p.n_flagged, 0)::BIGINT AS n_flagged,
       ROUND(CASE WHEN COALESCE(p.n_spans, 0) > 0
                  THEN p.n_flagged / p.n_spans::DOUBLE
                  ELSE 0.0 END, 6) AS flagged_frac
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


@query("dedup_span_exposure", _SPAN_EXPOSURE_ORACLE, bench=True)
def q_span_exposure(spark, sf_dir):
    """The APPLY step of ExactSubstr dedup: per document, the fraction
    of its word-start 40-char spans that are corpus-duplicated
    (appear in >= 2 distinct docs) — the evidence relation a drop or
    strip policy reads, extending the detection tier
    (dedup_duplicate_spans) the way dedup_cluster_audit extends CC.
    Two posting passes (detection aggregate + exposure stamp), the
    flagged-boilerplate set broadcasts, ONE per-doc aggregate.
    llm/dedup.py::duplicate_span_exposure."""
    from rclabsapi_spark.llm.dedup import duplicate_span_exposure

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_span_exposure(docs, span_len=40, min_docs=2)


_XSOURCE_ORACLE = f"""
WITH lsh AS ({_MINHASH_ORACLE}),
sp AS (
    SELECT l.jaccard, da.source AS source_a, db.source AS source_b
    FROM lsh l
    JOIN documents da ON da.doc_id = l.doc_a
    JOIN documents db ON db.doc_id = l.doc_b
    WHERE l.jaccard >= 0.5
)
SELECT least(source_a, source_b) AS source_lo,
       greatest(source_a, source_b) AS source_hi,
       COUNT(*)::BIGINT AS n_pairs,
       MAX(jaccard) AS max_jaccard
FROM sp WHERE source_a <> source_b
GROUP BY source_lo, source_hi
"""


@query("dedup_cross_source_syndication", _XSOURCE_ORACLE)
def q_cross_source_syndication(spark, sf_dir):
    """Cross-SOURCE near-duplicate matrix: verified LSH pairs (Jaccard
    >= 0.5) whose endpoints come from different sources — the
    syndication/mirror structure that tells a curation pipeline which
    source pairs double-count content (and which source to keep when
    a dedup keeper policy dedupes across feeds). Unlike the split
    labels (pure md5 functions), source is a real attribute, so the
    TINY verified-pair relation is BROADCAST against the corpus for
    each endpoint stamp — the corpus streams, never shuffles; MAX over
    rounded jaccards keeps the summary order-insensitive.
    llm/dedup.py::lsh_candidate_pairs + the dedup_cross_split_leakage
    pattern."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs,
        num_hashes=8,
        bands=4,
        max_bucket_size=50,
    ).filter(F.col("jaccard") >= 0.5).select("doc_a", "doc_b", "jaccard")
    src = docs.select("doc_id", "source")
    stamped = (
        src.withColumnRenamed("source", "source_a")
        .join(F.broadcast(pairs), F.col("doc_id") == F.col("doc_a"))
        .drop("doc_id")
    )
    stamped = (
        src.withColumnRenamed("source", "source_b")
        .join(F.broadcast(stamped), F.col("doc_id") == F.col("doc_b"))
        .drop("doc_id")
    )
    sp = stamped.filter(F.col("source_a") != F.col("source_b"))
    return sp.groupBy(
        F.least("source_a", "source_b").alias("source_lo"),
        F.greatest("source_a", "source_b").alias("source_hi"),
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.max("jaccard").alias("max_jaccard"),
    )


_QUALITY_KEEPER_ORACLE = f"""
WITH RECURSIVE thr AS (
    SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE}) AS mh WHERE jaccard >= 0.5
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM thr
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM thr
),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
),
clusters AS (
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
    FROM reach GROUP BY src
),
quality AS ({_QUALITY_ORACLE}),
memb AS (
    SELECT c.cluster_id, c.doc_id, q.quality_score
    FROM clusters c JOIN quality q USING (doc_id)
),
-- window formulation (vs Spark's one-pass max_by aggregate): keeper =
-- highest quality, smallest doc id on rounded-score ties
win AS (
    SELECT cluster_id, doc_id, quality_score,
           ROW_NUMBER() OVER (PARTITION BY cluster_id
               ORDER BY quality_score DESC, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
           MAX(CASE WHEN doc_id = cluster_id THEN quality_score END)
               OVER (PARTITION BY cluster_id) AS minid_quality
    FROM memb
)
SELECT cluster_id, n_members::BIGINT AS n_members,
       doc_id AS keeper_doc_id,
       quality_score AS keeper_quality,
       minid_quality,
       ROUND(quality_score - minid_quality, 6) AS quality_gain
FROM win WHERE rn = 1
"""


@query("dedup_quality_keeper", _QUALITY_KEEPER_ORACLE)
def q_quality_keeper(spark, sf_dir):
    """Quality-aware keeper selection per near-dup cluster: instead of
    the min-doc-id keeper the CC tier defaults to, keep the HIGHEST-
    quality member (rounded-score tie -> smallest id) and report the
    quality gained over the min-id policy — the curation decision a
    real pipeline makes when syndicated copies differ in OCR/boiler-
    plate quality. Composes three verified operators (LSH pairs ->
    CC clusters -> quality features): the small clustered relation
    broadcasts onto the quality scan, then ONE aggregate per cluster
    computes members, max_by keeper (tie-broken via struct(quality,
    -doc_id) — unique, so engine tie behavior never matters), and the
    min-id member's quality. llm/dedup.py::dedup_clusters +
    llm/text.py::quality_features."""
    from rclabsapi_spark.llm.dedup import dedup_clusters
    from rclabsapi_spark.llm.text import quality_features

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs, num_hashes=8, bands=4, max_bucket_size=50
    ).filter(F.col("jaccard") >= 0.5)
    clusters = dedup_clusters(pairs)
    qf = quality_features(docs).select("doc_id", "quality_score")
    memb = qf.join(F.broadcast(clusters), "doc_id")
    agg = memb.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max_by(
            F.col("doc_id"),
            F.struct(F.col("quality_score"), (-F.col("doc_id")).alias("nid")),
        ).alias("keeper_doc_id"),
        F.max("quality_score").alias("keeper_quality"),
        F.max(
            F.when(
                F.col("doc_id") == F.col("cluster_id"),
                F.col("quality_score"),
            )
        ).alias("minid_quality"),
    )
    return agg.select(
        "cluster_id",
        "n_members",
        "keeper_doc_id",
        "keeper_quality",
        "minid_quality",
        F.round(
            F.col("keeper_quality") - F.col("minid_quality"), 6
        ).alias("quality_gain"),
    )


# ---------------------------------------------------------------------------
# MinHash estimator calibration + cluster-aware splitting + centroid drift
# ---------------------------------------------------------------------------

_CALIBRATION_ORACLE = f"""
WITH cal AS (
    SELECT p.doc_a, p.doc_b, p.jaccard,
           ({" + ".join(f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END"
                        for i in range(8))}) AS est_lanes
    FROM ({_MINHASH_ORACLE}) p
    JOIN ({_MINHASH_SQL}) sa ON sa.doc_id = p.doc_a
    JOIN ({_MINHASH_SQL}) sb ON sb.doc_id = p.doc_b
)
-- means via exact integer-nano sums: per-pair jaccard doubles are
-- bit-identical across engines, so rounding each to a 9dp grid and
-- summing BIGINTs is accumulation-order-independent (a raw AVG
-- diverged one ulp at a 6dp boundary in the 50-pair lanes=7 bucket
-- at sf0.1: 0.951167 vs 0.951168)
SELECT est_lanes::BIGINT AS est_lanes,
       est_lanes / 8.0 AS est_jaccard,
       COUNT(*)::BIGINT AS n_pairs,
       FLOOR((SUM(CAST(FLOOR(jaccard * 1000000000.0 + 0.5) AS HUGEINT))::DOUBLE
              / (COUNT(*) * 1000000000.0)) * 1000000.0 + 0.5)
           / 1000000.0 AS mean_exact,
       FLOOR((SUM(CAST(FLOOR(ABS(est_lanes / 8.0 - jaccard)
                             * 1000000000.0 + 0.5) AS HUGEINT))::DOUBLE
              / (COUNT(*) * 1000000000.0)) * 1000000.0 + 0.5)
           / 1000000.0 AS mean_abs_err
FROM cal GROUP BY est_lanes
"""


@query("dedup_minhash_calibration", _CALIBRATION_ORACLE)
def q_minhash_calibration(spark, sf_dir):
    """MinHash estimator calibration: for every LSH candidate pair,
    compare the signature-level Jaccard estimate (fraction of the 8
    one-permutation lanes that agree) against the exact shingle-set
    Jaccard, bucketed by lane-agreement count — the diagnostic that
    tells you whether num_hashes/bands are sized right BEFORE burning a
    100 TB pass on a mis-tuned index (estimator bias shows up as
    mean_exact diverging from est_jaccard; variance as mean_abs_err).
    The candidate-pair relation is tiny next to the corpus, so it
    broadcasts onto the signature relation twice (doc_a, doc_b stamps);
    signatures are 8×4 hex chars/doc — bodies never move. Same
    sketch-verification posture as llm/dedup.py::lsh_candidate_pairs."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=8)
    pairs = lsh_candidate_pairs(
        docs, num_hashes=8, bands=4, max_bucket_size=50
    )
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(8)],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(8)],
    )
    stamped = a.join(F.broadcast(pairs), "doc_a")
    stamped = b.join(F.broadcast(stamped), "doc_b")
    est_lanes = sum(
        (F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int") for i in range(8)
    ).cast("long")
    from rclabsapi_spark.functions.scalars import round_half_up

    cal = stamped.select(
        "jaccard", est_lanes.alias("est_lanes")
    )
    # exact integer-nano sums (order-independent) — see oracle note
    j_nano = F.floor(F.col("jaccard") * 1000000000.0 + F.lit(0.5)).cast("decimal(38,0)")
    err_nano = F.floor(
        F.abs(F.col("est_lanes") / F.lit(8.0) - F.col("jaccard"))
        * 1000000000.0
        + F.lit(0.5)
    ).cast("decimal(38,0)")
    return cal.groupBy("est_lanes").agg(
        (F.col("est_lanes") / F.lit(8.0)).alias("est_jaccard"),
        F.count(F.lit(1)).alias("n_pairs"),
        round_half_up(
            F.sum(j_nano).cast("double")
            / (F.count(F.lit(1)) * 1000000000.0),
            6,
        ).alias("mean_exact"),
        round_half_up(
            F.sum(err_nano).cast("double")
            / (F.count(F.lit(1)) * 1000000000.0),
            6,
        ).alias("mean_abs_err"),
    )


_CLUSTER_SPLIT_ORACLE = f"""
WITH RECURSIVE thr AS (
    SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE}) AS mh WHERE jaccard >= 0.5
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM thr
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM thr
),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
),
clusters AS (
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
    FROM reach GROUP BY src
),
base AS (
    SELECT d.doc_id, c.cluster_id,
           COALESCE(c.cluster_id, d.doc_id) AS root
    FROM documents d LEFT JOIN clusters c USING (doc_id)
),
lab AS (
    SELECT doc_id, cluster_id,
           CASE WHEN substring(md5('clsplit' || CAST(root AS VARCHAR)), 1, 4)
                     < '0ccc' THEN 'val'
                WHEN substring(md5('clsplit' || CAST(root AS VARCHAR)), 1, 4)
                     < '1999' THEN 'test'
                ELSE 'train' END AS split,
           CASE WHEN substring(md5('clsplit' || CAST(doc_id AS VARCHAR)), 1, 4)
                     < '0ccc' THEN 'val'
                WHEN substring(md5('clsplit' || CAST(doc_id AS VARCHAR)), 1, 4)
                     < '1999' THEN 'test'
                ELSE 'train' END AS naive_split
    FROM base
)
SELECT split, COUNT(*)::BIGINT AS n_docs,
       SUM(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_clustered_docs,
       SUM(CASE WHEN split <> naive_split THEN 1 ELSE 0 END)::BIGINT
           AS n_moved
FROM lab GROUP BY split
"""


@query("train_cluster_split", _CLUSTER_SPLIT_ORACLE)
def q_cluster_split(spark, sf_dir):
    """Cluster-aware train/val/test splitting: hash the near-dup CLUSTER
    root instead of the doc id, so every member of a near-duplicate
    cluster lands in the same split BY CONSTRUCTION — the leakage-proof
    splitter that `train_split_contamination` audits for (and hash-by-id
    splitting cannot give). Per split: doc count, how many docs are
    near-dup cluster members, and how many the cluster policy MOVED
    relative to naive id-hash splitting (the correction applied).
    Composes the verified LSH->CC cluster relation (tiny — broadcast
    left onto the corpus scan) with the pure-Project split_assign
    bucketing; split membership stays a pure function of (salt, root),
    so corpus growth never moves an existing cluster across splits.
    llm/dedup.py::dedup_clusters + llm/sampling.py::split_assign."""
    from rclabsapi_spark.llm.dedup import dedup_clusters
    from rclabsapi_spark.llm.sampling import hash_bucket, pct_threshold

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs, num_hashes=8, bands=4, max_bucket_size=50
    ).filter(F.col("jaccard") >= 0.5)
    clusters = dedup_clusters(pairs)
    base = docs.select("doc_id").join(F.broadcast(clusters), "doc_id", "left")

    def split_of(key):
        b = hash_bucket(key, salt="clsplit")
        return (
            F.when(b < F.lit(pct_threshold(5.0)), F.lit("val"))
            .when(b < F.lit(pct_threshold(10.0)), F.lit("test"))
            .otherwise(F.lit("train"))
        )

    lab = base.select(
        "cluster_id",
        split_of(F.coalesce("cluster_id", "doc_id")).alias("split"),
        split_of(F.col("doc_id")).alias("naive_split"),
    )
    return lab.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("cluster_id").isNotNull().cast("int"))
        .cast("long")
        .alias("n_clustered_docs"),
        F.sum((F.col("split") != F.col("naive_split")).cast("int"))
        .cast("long")
        .alias("n_moved"),
    )


# centroid components and the norm/cosine sums all accumulate as exact
# integers (9dp grid for per-row components, the 6dp-rounded components
# as micro ints for the second level) — a raw AVG/SUM of doubles is
# accumulation-ordered and only boundary-lucky (the calibration lesson)
_CENTROID_ORACLE = """
WITH flat AS (
    SELECT label,
           unnest(range(1, len(embedding) + 1)) AS pos,
           unnest(embedding)::DOUBLE AS x
    FROM embeddings
),
per AS (
    SELECT label, pos,
           FLOOR((SUM(CAST(FLOOR(x * 1000000000.0 + 0.5) AS HUGEINT))::DOUBLE
                  / (COUNT(*) * 1000000000.0)) * 1000000.0 + 0.5)
               / 1000000.0 AS c,
           COUNT(*)::BIGINT AS n
    FROM flat GROUP BY label, pos
),
gctr AS (
    SELECT pos,
           FLOOR((SUM(CAST(FLOOR(x * 1000000000.0 + 0.5) AS HUGEINT))::DOUBLE
                  / (COUNT(*) * 1000000000.0)) * 1000000.0 + 0.5)
               / 1000000.0 AS g
    FROM flat GROUP BY pos
),
micro AS (
    SELECT label, n,
           CAST(ROUND(c * 1000000.0, 0) AS BIGINT) AS cm,
           CAST(ROUND(g * 1000000.0, 0) AS BIGINT) AS gm
    FROM per JOIN gctr USING (pos)
)
SELECT label, MAX(n) AS n_vecs,
       FLOOR((sqrt(SUM(cm * cm)::DOUBLE) / 1000000.0) * 1000000.0 + 0.5)
           / 1000000.0 AS centroid_norm,
       FLOOR((SUM(cm * gm)::DOUBLE
              / (sqrt(SUM(cm * cm)::DOUBLE) * sqrt(SUM(gm * gm)::DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS cosine_to_global
FROM micro
GROUP BY label
"""


@query("sim_centroid_drift", _CENTROID_ORACLE, bench=True)
def q_centroid_drift(spark, sf_dir):
    """Per-label embedding centroid drift: each label's mean vector,
    its norm, and its cosine to the GLOBAL centroid — the data-mixture
    diagnostic that flags an embedding subpopulation drifting away from
    the corpus (stale encoder, shifted domain) before it poisons the
    ANN tier. Shape: one posexplode to (label, pos, x) rows, then two
    partial-combining aggregates share the pass — per-(label,pos) means
    and per-pos global means; only |labels|x|dim| and |dim| rows survive
    the exchange (at 100 TB the n x dim explode combines map-side, so
    shuffle bytes are centroid-sized, never corpus-sized). The |dim|-row
    global centroid broadcasts back onto the per-label components.
    Centroid components round to 6 on both engines before the cosine so
    the second-level sums fold identical doubles; the final cosine/norm
    round absorbs accumulation order. llm/similarity.py cosine
    conventions."""
    from rclabsapi_spark.functions.scalars import round_half_up

    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).withColumn("x", F.col("x").cast("double"))
    # exact integer-nano component sums + micro-int second level — see
    # oracle note (raw double AVG/SUM is accumulation-ordered)
    x_nano = F.floor(F.col("x") * 1000000000.0 + F.lit(0.5)).cast("decimal(38,0)")
    mean_c = round_half_up(
        F.sum(x_nano).cast("double") / (F.count(F.lit(1)) * 1000000000.0), 6
    )
    per = comp.groupBy("label", "pos").agg(
        mean_c.alias("c"), F.count(F.lit(1)).alias("n")
    )
    glob = comp.groupBy("pos").agg(mean_c.alias("g"))
    j = per.join(F.broadcast(glob), "pos").select(
        "label",
        "n",
        F.round(F.col("c") * 1000000.0, 0).cast("long").alias("cm"),
        F.round(F.col("g") * 1000000.0, 0).cast("long").alias("gm"),
    )
    cc = F.sum(F.col("cm") * F.col("cm")).cast("double")
    gg = F.sum(F.col("gm") * F.col("gm")).cast("double")
    cg = F.sum(F.col("cm") * F.col("gm")).cast("double")
    return j.groupBy("label").agg(
        F.max("n").alias("n_vecs"),
        round_half_up(F.sqrt(cc) / 1000000.0, 6).alias("centroid_norm"),
        round_half_up(cg / (F.sqrt(cc) * F.sqrt(gg)), 6).alias(
            "cosine_to_global"
        ),
    )


# ---------------------------------------------------------------------------
# Policy-selection compositions (r13): dedup-policy savings card and the
# drift-gated retrain trigger — tables a curation / index owner reads to
# pick a policy, composed entirely from r12-verified operators.
# ---------------------------------------------------------------------------

_POLICY_SAVINGS_ORACLE = f"""
WITH RECURSIVE t AS (
    SELECT doc_id, source,
           len(string_split(text, ' '))::BIGINT AS n_tok,
           md5(text) AS h
    FROM documents
),
k AS (
    SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS keeper_id FROM t
),
base AS (
    SELECT source, COUNT(*)::BIGINT AS n_docs,
           SUM(n_tok)::BIGINT AS tokens_total,
           SUM(CASE WHEN doc_id <> keeper_id THEN n_tok ELSE 0 END)::BIGINT
               AS saved_exact
    FROM k GROUP BY source
),
thr AS (
    SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE}) AS mh WHERE jaccard >= 0.5
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM thr
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM thr
),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
),
clusters AS (
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
    FROM reach GROUP BY src
),
quality AS ({_QUALITY_ORACLE}),
-- near-dup tier applies AFTER exact dedup: only exact keepers remain
memb AS (
    SELECT c.cluster_id, k.doc_id, k.source, k.n_tok, q.quality_score
    FROM clusters c
    JOIN k ON k.doc_id = c.doc_id AND k.doc_id = k.keeper_id
    JOIN quality q ON q.doc_id = c.doc_id
),
flagged AS (
    SELECT *, COUNT(*) OVER (PARTITION BY cluster_id) AS m,
           MIN(doc_id) OVER (PARTITION BY cluster_id) AS minid,
           FIRST_VALUE(doc_id) OVER (PARTITION BY cluster_id
               ORDER BY quality_score DESC, doc_id) AS qk
    FROM memb
),
extra AS (
    SELECT source,
           SUM(CASE WHEN m >= 2 AND doc_id <> minid THEN n_tok ELSE 0 END)
               ::BIGINT AS extra_minid,
           SUM(CASE WHEN m >= 2 AND doc_id <> qk THEN n_tok ELSE 0 END)
               ::BIGINT AS extra_quality
    FROM flagged GROUP BY source
)
SELECT b.source, n_docs, tokens_total,
       saved_exact AS tokens_saved_exact,
       (saved_exact + COALESCE(extra_minid, 0))::BIGINT
           AS tokens_saved_neardup,
       (saved_exact + COALESCE(extra_quality, 0))::BIGINT
           AS tokens_saved_quality,
       {_rhu("saved_exact / tokens_total::DOUBLE", 6)} AS rate_exact,
       {_rhu("(saved_exact + COALESCE(extra_minid, 0))"
             " / tokens_total::DOUBLE", 6)} AS rate_neardup,
       {_rhu("(saved_exact + COALESCE(extra_quality, 0))"
             " / tokens_total::DOUBLE", 6)} AS rate_quality
FROM base b LEFT JOIN extra e ON e.source = b.source
"""


@query("dedup_policy_savings", _POLICY_SAVINGS_ORACLE)
def q_dedup_policy_savings(spark, sf_dir):
    """Dedup-POLICY savings card: per source, the token budget each of
    three escalating policies frees — (1) exact dedup only, (2) exact +
    near-dup clusters keeping the min-id member, (3) exact + near-dup
    keeping the HIGHEST-QUALITY member — the one table a curation owner
    reads to pick a policy (is the near-dup tier worth its LSH cost on
    this feed? does quality-keeper change the budget or only the kept
    bytes?). Composes three r12-verified components on their exact
    keeper rules: ``dedup_token_savings``' window-MIN exact tier,
    ``dedup_minhash_lsh``→``dedup_clusters_star``'s near-dup clusters
    (jaccard ≥ 0.5), and ``dedup_quality_keeper``'s max-quality/min-id
    keeper. The near-dup tier applies AFTER exact dedup (members that
    lost tier 1 can't be saved twice), every savings column is an exact
    integer token sum attributed to the dropped doc's own source, and
    the three rates divide those integers. Scale: one digest-keyed
    window exchange (bodies never move), the LSH band shuffle (capped),
    and cluster-sized windows — the cluster relation broadcasts onto
    the keeper scan, so nothing corpus-sized meets anything
    corpus-sized. llm/dedup.py::exact keeper + dedup_clusters;
    llm/text.py::quality_features."""
    from pyspark.sql import Window

    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.llm.dedup import dedup_clusters
    from rclabsapi_spark.llm.text import quality_features

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("n_tok"),
        F.md5(F.col("text")).alias("h"),
    )
    k = t.withColumn(
        "keeper_id", F.min("doc_id").over(Window.partitionBy("h"))
    )
    dup = F.col("doc_id") != F.col("keeper_id")
    base = k.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("tokens_total"),
        F.sum(F.when(dup, F.col("n_tok")).otherwise(F.lit(0)))
        .cast("long")
        .alias("saved_exact"),
    )
    pairs = lsh_candidate_pairs(
        docs, num_hashes=8, bands=4, max_bucket_size=50
    ).filter(F.col("jaccard") >= 0.5)
    clusters = dedup_clusters(pairs)
    qf = quality_features(docs).select("doc_id", "quality_score")
    q_memb = qf.join(F.broadcast(clusters.select("doc_id")), "doc_id")
    memb = (
        k.filter(~dup)
        .select("doc_id", "source", "n_tok")
        .join(F.broadcast(clusters), "doc_id")
        .join(F.broadcast(q_memb), "doc_id")
    )
    w_c = Window.partitionBy("cluster_id")
    qk = F.max(
        F.struct(
            F.col("quality_score").alias("q"),
            (-F.col("doc_id")).alias("nid"),
            F.col("doc_id").alias("id"),
        )
    ).over(w_c)["id"]
    flagged = (
        memb.withColumn("m", F.count(F.lit(1)).over(w_c))
        .withColumn("minid", F.min("doc_id").over(w_c))
        .withColumn("qk", qk)
    )
    in_tier = F.col("m") >= 2
    extra = flagged.groupBy("source").agg(
        F.sum(
            F.when(
                in_tier & (F.col("doc_id") != F.col("minid")), F.col("n_tok")
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("extra_minid"),
        F.sum(
            F.when(
                in_tier & (F.col("doc_id") != F.col("qk")), F.col("n_tok")
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("extra_quality"),
    )
    j = base.join(F.broadcast(extra), "source", "left")
    neardup = F.col("saved_exact") + F.coalesce("extra_minid", F.lit(0))
    qual = F.col("saved_exact") + F.coalesce("extra_quality", F.lit(0))
    tot = F.col("tokens_total").cast("double")
    return j.select(
        "source",
        "n_docs",
        "tokens_total",
        F.col("saved_exact").alias("tokens_saved_exact"),
        neardup.cast("long").alias("tokens_saved_neardup"),
        qual.cast("long").alias("tokens_saved_quality"),
        round_half_up(F.col("saved_exact") / tot, 6).alias("rate_exact"),
        round_half_up(neardup / tot, 6).alias("rate_neardup"),
        round_half_up(qual / tot, 6).alias("rate_quality"),
    )


_DRIFT_GATE_ORACLE = f"""
WITH rec AS (
    SELECT recall_incremental, recall_rebuild, recall_delta
    FROM ({_IVF_INC_RECALL_ORACLE}) AS r WHERE query_id IS NULL
),
flat AS (
    SELECT label, vec_id % 10 = 7 AS is_new,
           unnest(range(1, len(embedding) + 1)) AS pos,
           unnest(embedding)::DOUBLE AS x
    FROM embeddings
),
per AS (
    SELECT label, pos,
           FLOOR((SUM(CASE WHEN NOT is_new
                           THEN CAST(FLOOR(x * 1000000000.0 + 0.5) AS HUGEINT)
                      END)::DOUBLE
                  / (SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END)
                     * 1000000000.0)) * 1000000.0 + 0.5) / 1000000.0 AS cb,
           FLOOR((SUM(CASE WHEN is_new
                           THEN CAST(FLOOR(x * 1000000000.0 + 0.5) AS HUGEINT)
                      END)::DOUBLE
                  / (SUM(CASE WHEN is_new THEN 1 ELSE 0 END)
                     * 1000000000.0)) * 1000000.0 + 0.5) / 1000000.0 AS cn,
           SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END)::BIGINT AS nb,
           SUM(CASE WHEN is_new THEN 1 ELSE 0 END)::BIGINT AS nn
    FROM flat GROUP BY label, pos
),
micro AS (
    SELECT label, nb, nn,
           CAST(ROUND(cb * 1000000.0, 0) AS BIGINT) AS bm,
           CAST(ROUND(cn * 1000000.0, 0) AS BIGINT) AS nm
    FROM per
),
g AS (
    SELECT label, MAX(nb) AS n_base, MAX(nn) AS n_new,
           FLOOR((SUM(bm * nm)::DOUBLE
                  / (sqrt(SUM(bm * bm)::DOUBLE)
                     * sqrt(SUM(nm * nm)::DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS cos_base_new
    FROM micro GROUP BY label
)
SELECT g.label, n_base, n_new,
       {_rhu("n_new / (n_base + n_new)::DOUBLE", 6)} AS new_share,
       cos_base_new,
       rec.recall_incremental, rec.recall_rebuild, rec.recall_delta,
       rec.recall_delta <= -0.05 AS retrain
FROM g CROSS JOIN rec
"""


@query("sim_drift_retrain_gate", _DRIFT_GATE_ORACLE)
def q_drift_retrain_gate(spark, sf_dir):
    """Drift-gated retrain trigger — closes the ANN-maintenance loop
    opened by the r12 incremental-index pair: per LABEL, how far the
    new batch's centroid (vec_id % 10 == 7, the same batch split as
    ``sim_ivf_incremental_churn``) has drifted from the label's base
    centroid (cosine on the gridded 6dp centroid components — the
    ``sim_centroid_drift`` construction, conditional on batch side so
    ONE explode pass computes both centroids), joined against the
    index-level verdict: the macro recall delta of the incrementally-
    maintained index vs a full rebuild (the ``sim_ivf_incremental_
    recall`` composition, macro row). Reading the table: labels sort by
    cos_base_new ascending = most-drifted first — the labels whose
    batch drift predicts the recall loss — and ``retrain`` is the gate
    bit (delta ≤ −0.05 ⇒ pay for the rebuild). Scale: the explode
    combines map-side to |labels|×|dim| rows; the recall side is the
    verified broadcast construction; the 1-row macro verdict cross-
    joins under the reviewed 1-row-broadcast whitelist.
    llm/similarity.py::ivf_assign + ann_recall_at_k."""
    from rclabsapi_spark.functions.scalars import round_half_up

    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        (F.col("vec_id") % 10 == 7).alias("is_new"),
        F.posexplode("embedding").alias("pos", "x"),
    ).withColumn("x", F.col("x").cast("double"))
    x_nano = F.floor(F.col("x") * 1000000000.0 + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    new = F.col("is_new")
    per = comp.groupBy("label", "pos").agg(
        F.sum(F.when(~new, x_nano)).alias("sb"),
        F.sum(F.when(~new, 1).otherwise(0)).alias("nb"),
        F.sum(F.when(new, x_nano)).alias("sn"),
        F.sum(F.when(new, 1).otherwise(0)).alias("nn"),
    )
    cb = round_half_up(
        F.col("sb").cast("double") / (F.col("nb") * 1000000000.0), 6
    )
    cn = round_half_up(
        F.col("sn").cast("double") / (F.col("nn") * 1000000000.0), 6
    )
    micro = per.select(
        "label",
        "nb",
        "nn",
        F.round(cb * 1000000.0, 0).cast("long").alias("bm"),
        F.round(cn * 1000000.0, 0).cast("long").alias("nm"),
    )
    bn = F.sum(F.col("bm") * F.col("nm")).cast("double")
    bb = F.sum(F.col("bm") * F.col("bm")).cast("double")
    nn2 = F.sum(F.col("nm") * F.col("nm")).cast("double")
    g = micro.groupBy("label").agg(
        F.max("nb").alias("n_base"),
        F.max("nn").alias("n_new"),
        round_half_up(bn / (F.sqrt(bb) * F.sqrt(nn2)), 6).alias(
            "cos_base_new"
        ),
    )
    rec = (
        q_ivf_incremental_recall(spark, sf_dir)
        .filter(F.col("query_id").isNull())
        .select("recall_incremental", "recall_rebuild", "recall_delta")
    )
    share = F.col("n_new") / (F.col("n_base") + F.col("n_new")).cast(
        "double"
    )
    return g.crossJoin(F.broadcast(rec)).select(
        "label",
        "n_base",
        "n_new",
        round_half_up(share, 6).alias("new_share"),
        "cos_base_new",
        "recall_incremental",
        "recall_rebuild",
        "recall_delta",
        (F.col("recall_delta") <= -0.05).alias("retrain"),
    )


# ---------------------------------------------------------------------------
# Perceptual frame near-dup (r16): average-hash over the real PPM decode
# ---------------------------------------------------------------------------

_PHASH_CELLS = 64  # 8×8 grid
_PHASH_FRAMES = 2
_PHASH_MAX_HAMMING = 3  # 4 bands × 16 bits


def _phash_oracle() -> str:
    """O(n²) spec of the banded perceptual near-dup: re-derive each
    (doc, frame) heatmap CELL COUNT with the same integer md5-bucket
    arithmetic the fixture adapter renders into pixels, threshold each
    cell against the frame mean (integer cross-multiply), pack 16-bit
    bands, and self-join on exact Hamming. The engine's pigeonhole
    band-blocking must find the identical pair set."""
    hv = (
        "((strpos('0123456789abcdef', substring(md5(toks[i+1]), 1, 1)) - 1)"
        " * 16 +"
        " (strpos('0123456789abcdef', substring(md5(toks[i+1]), 2, 1)) - 1))"
        f" % {_PHASH_CELLS}"
    )
    counts = ",\n           ".join(
        f"LEAST(SUM(CASE WHEN cell = {i} THEN 1 ELSE 0 END), 255) AS c{i}"
        for i in range(_PHASH_CELLS)
    )
    coalesced = ", ".join(f"COALESCE(c{i}, 0) AS c{i}" for i in range(_PHASH_CELLS))
    total = " + ".join(f"c{i}" for i in range(_PHASH_CELLS))
    bands = ",\n           ".join(
        "CAST("
        + " + ".join(
            f"CASE WHEN {_PHASH_CELLS} * c{16 * b + j} > total"
            f" THEN {1 << j} ELSE 0 END"
            for j in range(16)
        )
        + f" AS INT) AS b{b}"
        for b in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a.b{b}, b.b{b}))" for b in range(4))
    return f"""
WITH ts AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
tok AS (
    SELECT doc_id, CAST(i % {_PHASH_FRAMES} AS INT) AS frame_idx,
           {hv} AS cell
    FROM ts, UNNEST(range(0, len(toks))) AS u(i)
),
units AS (
    SELECT doc_id, CAST(u.f AS INT) AS frame_idx
    FROM documents, UNNEST(range(0, {_PHASH_FRAMES})) AS u(f)
),
cnt AS (
    SELECT doc_id, frame_idx,
           {counts}
    FROM tok GROUP BY doc_id, frame_idx
),
g AS (
    SELECT u.doc_id, u.frame_idx, {coalesced}
    FROM units u LEFT JOIN cnt USING (doc_id, frame_idx)
),
t AS (SELECT *, ({total}) AS total FROM g),
fp AS (
    SELECT doc_id, frame_idx,
           {bands}
    FROM t
)
SELECT a.doc_id AS doc_id_a, a.frame_idx AS frame_idx_a,
       b.doc_id AS doc_id_b, b.frame_idx AS frame_idx_b,
       CAST({ham} AS INT) AS hamming
FROM fp a JOIN fp b
  ON (a.doc_id, a.frame_idx) < (b.doc_id, b.frame_idx)
WHERE {ham} <= {_PHASH_MAX_HAMMING}
"""


_PHASH_NEARDUP_ORACLE = _phash_oracle()


@query("mm_frame_phash_neardup", _PHASH_NEARDUP_ORACLE, bench=True)
def q_mm_phash_neardup(spark, sf_dir):
    """Perceptual frame near-dup — the gap mm_frame_dedup leaves: that
    query catches only byte-identical frames (exact 32-byte digests);
    re-encoded or lightly-retouched frames need a PERCEPTUAL hash.
    Average-hash (DCT-free) over REAL decoded P6 pixels: per frame,
    NN-sample to an 8×8 gray grid, threshold each cell against the
    grid mean in exact integer math, pack 64 bits as 4×16-bit bands.
    Near-dup pairs by pigeonhole band-blocking (any pair within
    hamming ≤ 3 shares an exact band — 100% recall, bucket-local
    compares, one shuffle on the band key; the
    dedup_simhash_near_dup shape) with exact Hamming verification.
    The fixture heatmap frames make image similarity track text
    similarity, so the pair set is genuinely graded (hamming 0..3),
    not just exact dups. At 100 TB: payloads never leave the decode
    scan — only (keys, 4 ints) shuffle; the optional per-bucket cap
    bounds pathological buckets. llm/multimodal.py::
    attach_token_heatmap_frames/average_hash_bands/
    phash_near_dup_pairs; reference frame lifecycle parity as
    mm_frame_dedup (log_file_manager.hpp digest gate)."""
    from rclabsapi_spark.llm.multimodal import (
        attach_token_heatmap_frames,
        average_hash_bands,
        phash_near_dup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    frames = attach_token_heatmap_frames(docs, n_frames=_PHASH_FRAMES)
    hashed = average_hash_bands(frames)
    return phash_near_dup_pairs(hashed, max_hamming=_PHASH_MAX_HAMMING)
