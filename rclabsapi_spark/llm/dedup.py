"""Deduplication operators for training-data pipelines.

Four tiers, all pure DataFrame ops (no UDFs, no driver loops):

- exact:          hash-groupBy on the normalized text
- MinHash + LSH:  shingle → md5-minhash signature → banded buckets with
                  in-bucket pair-gen (signatures only through the band
                  shuffle; each pair side joins back its text, and exact
                  Jaccard is computed in the projection)
- n-gram Jaccard: exact pairwise Jaccard over an inverted shingle index
                  (explode → bucket pair-gen → count) — verification tier
- SimHash:        bit-vote fingerprint over token hashes

Determinism/portability: all hashing is md5 (identical hex in every
engine), so the DuckDB oracle reproduces signatures bit-for-bit. md5 of a
seeded prefix is a valid random permutation for MinHash (take the
lexicographic min of hex digests).

Scale notes (100 TB): every step is embarrassingly parallel except the
band-key shuffle, which carries only (doc_id, band_key) — exactly the
LSH design goal (each bucket is tiny, and the payload is ~32 B/row).
Hot-bucket caps are ON by default: ``max_bucket_size=50`` (LSH) and
``max_shingle_df=100`` (inverted index) bound the B²/2 in-bucket pair
blowup the way web-dedup pipelines drop boilerplate; both caps are plain
bucket-size filters mirrored in the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rclabsapi_spark.functions.scalars import (
    round_half_up,
    sql_double,
    sql_ident,
)
from rclabsapi_spark.layout import spread_by
from rclabsapi_spark.llm.text import tokens
from rclabsapi_spark.operators.linkage import block_pairs


def shingle_posting(
    docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Flat (key, shingle) posting rows — the engine's shingle generator.

    Physical shape: repartition by key (fixture parquet = 1 file = 1 task
    otherwise), ``posexplode(split(text, ' ', -1)) AS (pos, tok)`` to flat
    token rows, then ``lead(tok, j) OVER (PARTITION BY key ORDER BY pos)``
    for j < n stitches the n-grams and a ``_full`` filter (the last lead
    is not null) drops the short tails. All whole-stage-codegen
    expressions: the array-lambda alternative (``transform`` +
    ``element_at``) falls back to interpreted eval and re-evaluates
    ``split(text)`` per element, which measured ~40s single-task on 5k
    docs vs ~1s for this shape. The window partitions by doc (docs are
    small), so no skew; at 100 TB the repartition spreads shingling
    across every executor. Each projection is one SQL string, so building
    it costs one py4j round trip per projection, not one per operator."""
    key = sql_ident(key_col)
    posting = spread_by(docs, key).selectExpr(
        key, f"posexplode(split({sql_ident(text_col)}, ' ', -1)) AS (pos, tok)"
    )
    leads = [
        f"lead(tok, {j}) OVER (PARTITION BY {key} ORDER BY pos)"
        for j in range(1, n)
    ]
    return (
        posting.selectExpr(
            key,
            f"concat_ws(' ', {', '.join(['tok', *leads])}) AS shingle",
            f"{leads[-1]} IS NOT NULL AS _full",
        )
        .filter("_full")
        .drop("_full")
    )


def shingles(text: str, n: int = 3) -> str:
    """Word n-gram shingles of the SQL expression ``text``, as one SQL
    expression; safe empty result for short docs. Mirrors the DuckDB
    expression in suites/llm.py exactly.

    The token array is bound ONCE per row by the ``let`` shape
    (``functions.scalars.let``) written in SQL:
    ``element_at(transform(array(split(text, ' ', -1)), t -> CASE WHEN
    size(t) >= n THEN transform(sequence(1, size(t) - (n-1)), i ->
    concat_ws(' ', element_at(t, i + 0), …)) ELSE CAST(array() AS
    array<string>) END), 1)``, so each ``element_at`` inside the inner
    lambda reads the lambda variable ``t``, a cheap leaf reference.
    Passing the raw split into the lambda would embed the split subtree
    n× per shingle — HOF lambdas are interpreted with no common-
    subexpression elimination, i.e. O(len²) string work per document.
    Per-doc cost only — but measured ~20% of dedup_ngram_jaccard."""
    words = ", ".join(f"element_at(t, i + {j})" for j in range(n))
    return (
        f"element_at(transform(array(split({text}, ' ', -1)), t -> "
        f"CASE WHEN size(t) >= {n} THEN transform(sequence(1, size(t) - "
        f"{n - 1}), i -> concat_ws(' ', {words})) "
        "ELSE CAST(array() AS array<string>) END), 1)"
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup: one group per distinct text, keeper = min key.
    Group key is md5(text) — at 100 TB you shuffle 32-byte digests, not
    document bodies."""
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_fps: DataFrame,
    *,
    fp_col: str = "text_hash",
) -> DataFrame:
    """Incremental exact dedup: a NEW batch against the fingerprint store
    of everything already ingested — the daily-merge pattern (full
    re-dedup of a 100 TB corpus per batch is a non-starter; the
    fingerprint store is 32 B/doc and append-only).

    ``seen_fps`` must carry its fingerprints in ``fp_col`` (default
    ``text_hash``, the column this function emits — so a store built
    from prior ``kept`` output round-trips). Raises if absent: silently
    joining on a positional guess against a wider store would produce
    wrong seen_before/kept verdicts.

    Returns (key, text_hash, status) for every new-batch doc:
    ``seen_before`` (hash exists in the store — wins over the in-batch
    verdict), ``dup_in_batch`` (another new doc with the same hash has a
    smaller key), or ``kept``. The caller appends the kept hashes to the
    store, keeping the operation idempotent.

    Scale: ONE shuffle on the 32-byte hash — the in-batch keeper window
    and the store join cluster on the same key; the store side shuffles
    its hashes only (never broadcastable at corpus scale, never wider
    than 32 B/row).
    """
    batch = new_docs.select(
        F.col("doc_id"), F.md5(F.col("text")).alias("text_hash")
    )
    if fp_col not in seen_fps.columns:
        raise ValueError(
            f"fingerprint store has no column {fp_col!r}; "
            f"got {seen_fps.columns}"
        )
    seen = seen_fps.select(
        F.col(fp_col).alias("text_hash")
    ).distinct().withColumn("_seen", F.lit(1))
    marked = batch.join(seen, "text_hash", "left")
    keeper = F.min("doc_id").over(Window.partitionBy("text_hash"))
    status = (
        F.when(F.col("_seen") == 1, F.lit("seen_before"))
        .when(F.col("doc_id") != keeper, F.lit("dup_in_batch"))
        .otherwise(F.lit("kept"))
    )
    return marked.select("doc_id", "text_hash", status.alias("status"))


def minhash_signatures(
    docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """Per-doc MinHash signatures — (key, mh_0..mh_{num_hashes-1}), no
    shingle payload (signatures are what the band shuffle carries; the
    texts are joined back only for surviving candidates). Null keys,
    which no consumer can pair, are dropped first, so a copy of this
    pass that a key join null-filters reuses the same spread exchange.

    One-permutation scheme: each shingle is md5'd ONCE and the 128-bit
    digest is sliced into ``num_hashes`` 16-bit lanes (4 hex chars each);
    lane i's signature is the lexicographic min over the doc's shingles.
    Compared with seeded per-lane hashing this cuts hash work ×num_hashes
    and keeps exact DuckDB parity (md5 + substring are portable).

    Physical shape: repartition docs by key (a fixture parquet is often a
    single file → single task; the shingle/hash work must spread across
    the cluster), explode shingles to flat rows (the shingle expression is
    evaluated once — not re-inlined per signature lane the way per-lane
    array exprs are), then one partial-aggregatable groupBy(key): min per
    lane combines map-side, and the repartition already hash-distributes
    by key so the groupBy adds no second shuffle. min over the
    duplicate-bearing posting equals min over the distinct set, so no
    pre-dedup pass."""
    if num_hashes > 8:
        raise ValueError("md5 has 32 hex chars = 8 four-char lanes")
    key = sql_ident(key_col)
    posting = shingle_posting(
        docs.filter(f"{key} IS NOT NULL"),
        text_col=text_col, key_col=key_col, n=n,
    ).withColumn("h", F.expr("md5(shingle)"))
    return posting.groupBy(key).agg(
        *[
            F.expr(
                f"min(substring(h, {4 * i + 1}, 4)) AS {sql_ident(f'mh_{i}')}"
            )
            for i in range(num_hashes)
        ],
    )


def doc_shingle_sets(docs: DataFrame) -> DataFrame:
    """(key, shingle_set) — the distinct per-doc sets behind
    ngram_jaccard_pairs' inverted index. Same repartition-by-key posting
    shape as the signature pass, so the groupBy collect_set adds no
    extra exchange."""
    return (
        shingle_posting(docs)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("shingle_set"))
    )


def _band_keys(
    docs: DataFrame,
    *,
    text_col: str,
    key_col: str,
    n: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(key, band_id, band_key): each doc's signature cut into ``bands``
    bands of ``num_hashes // bands`` lanes — all the band shuffle
    carries."""
    if bands < 1 or num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    rows = num_hashes // bands
    mh = minhash_signatures(
        docs, text_col=text_col, key_col=key_col, n=n, num_hashes=num_hashes
    )
    band_structs = ", ".join(
        f"struct({b} AS band_id, concat_ws('|', "
        + ", ".join(sql_ident(f"mh_{b * rows + r}") for r in range(rows))
        + ") AS band_key)"
        for b in range(bands)
    )
    key = sql_ident(key_col)
    return mh.selectExpr(
        key, f"explode(array({band_structs})) AS band"
    ).selectExpr(key, "band.band_id", "band.band_key")


def _verified_pairs(
    pairs: DataFrame,
    docs_a: DataFrame,
    docs_b: DataFrame,
    a: str,
    b: str,
    *,
    text_col: str,
    key_col: str,
    n: int,
) -> DataFrame:
    """(a, b, jaccard): exact shingle Jaccard of each deduplicated
    candidate pair. Two key joins fetch the texts (``a`` from
    ``docs_a``, ``b`` from ``docs_b``) and the projection shingles them:
    no cache, no second shingle posting, no per-pair regroup — at small
    and mid scale verification costs Spark jobs and generated code, not
    data. Keys must be unique on each side; a duplicate emits one row
    per copy.

    Scale trade: a pair side carries its text (smaller than its 3-word
    shingle set) and shingles it once per pair, so shingling CPU grows
    with the mean candidate degree 2·|pairs| / |candidate docs|, which
    the band cap bounds by bands × (max_bucket_size − 1)."""

    def text(docs: DataFrame, key: str) -> DataFrame:
        return docs.selectExpr(
            f"{sql_ident(key_col)} AS {sql_ident(key)}",
            f"{sql_ident(text_col)} AS {sql_ident(f'__t_{key}')}",
        )

    qa, qb = sql_ident(a), sql_ident(b)
    sides = pairs.join(text(docs_a, a), a).join(
        text(docs_b, b), b
    ).selectExpr(
        qa,
        qb,
        f"{shingles(sql_ident(f'__t_{a}'), n)} AS __sa",
        f"{shingles(sql_ident(f'__t_{b}'), n)} AS __sb",
    )
    # each shingle array is read twice below, so Catalyst keeps the
    # projection above instead of inlining (and re-running) the shingling;
    # array_intersect/array_union yield distinct elements
    jaccard = F.expr(
        "size(array_intersect(__sa, __sb)) / size(array_union(__sa, __sb))"
    )
    return sides.select(qa, qb, round_half_up(jaccard, 6).alias("jaccard"))


def lsh_candidate_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = 50,
) -> DataFrame:
    """Banded LSH: docs sharing any band of the signature become a
    candidate pair; exact Jaccard on the shingle sets verifies.

    Physical shape: the band shuffle carries ONLY (doc_id, band key) —
    ~32 B/row; at 10¹⁰ docs the alternative of riding each doc's ~KB
    shingle set through every band bucket is ~TBs × bands through the
    exchange. Pairs come from ``block_pairs`` over the band buckets.
    The deduplicated pairs then join the corpus's (key, text) once per
    side and Jaccard is computed in the projection (``_verified_pairs``
    states the scale trade: text per pair side, shingling CPU × the mean
    candidate degree ≤ bands × (``max_bucket_size`` − 1)). Keys must be
    unique: a duplicated key emits one verified row per copy.

    ``max_bucket_size`` (default 50) drops degenerate hot buckets
    (boilerplate near-dups) the way web-scale dedup pipelines do — a
    bucket of B docs yields B²/2 pairs, so one 10⁶-doc bucket would
    dominate the job. Pass ``None`` to disable."""
    banded = _band_keys(
        docs, text_col=text_col, key_col=key_col, n=3,
        num_hashes=num_hashes, bands=bands,
    )
    pairs = (
        block_pairs(
            banded,
            ["band_id", "band_key"],
            F.col(sql_ident(key_col)),
            max_bucket_size,
            lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
        )
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _verified_pairs(
        pairs, docs, docs, "doc_a", "doc_b",
        text_col=text_col, key_col=key_col, n=3,
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    threshold: float = 0.2,
    max_shingle_df: int | None = 100,
) -> DataFrame:
    """Exact n-gram Jaccard via an inverted shingle index: explode distinct
    shingles, self-join the postings, count common shingles per pair.

    ``max_shingle_df`` (default 100) drops shingles appearing in more than
    N docs (boilerplate guard — at web scale a shingle shared by B docs
    yields B²/2 pair increments, so hot shingles explode the pair count;
    dropping them mirrors stop-word removal in web-dedup pipelines). Pass
    ``None`` to disable.

    Physical shape: the distinct posting comes from one
    groupBy(key).collect_set over the shingle stream — the groupBy
    reuses the posting's key partitioning (no exchange), dedupes, and
    yields the per-doc set size for free (``size(set)``). The inverted
    index is ``block_pairs`` over the shingle buckets, so the shingle
    pipeline is computed once and the hot-shingle guard is its block
    cap (a shingle's bucket size IS its document frequency)."""
    sets = doc_shingle_sets(docs)
    posting = sets.select(
        F.col("doc_id"),
        F.size("shingle_set").alias("sh_size"),
        F.explode("shingle_set").alias("shingle"),
    )
    # members sorted by key (first struct field) → doc_a < doc_b.
    common = (
        block_pairs(
            posting,
            ["shingle"],
            F.struct(F.col("doc_id"), F.col("sh_size")),
            max_shingle_df,
            lambda x, y: F.struct(
                x["doc_id"].alias("doc_a"),
                y["doc_id"].alias("doc_b"),
                x["sh_size"].alias("size_a"),
                y["sh_size"].alias("size_b"),
            ),
        )
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first("p.size_a").alias("size_a"),
            F.first("p.size_b").alias("size_b"),
        )
    )
    out = common.withColumn(
        "jaccard",
        round_half_up(
            F.col("common")
            / (F.col("size_a") + F.col("size_b") - F.col("common")),
            6,
        ),
    ).filter(F.col("jaccard") >= threshold)
    return out.select("doc_a", "doc_b", "common", "jaccard")


def dedup_clusters(
    pairs: DataFrame,
    *,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iters: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Cluster resolution: connected components over the candidate-pair
    graph → (doc_id, cluster_id), where cluster_id is the MIN doc id in
    the component — the canonical keeper. This is the step between
    pair generation and dedup decisions: near-dup pairs are transitive
    in practice (A≈B, B≈C ⇒ one boilerplate family), so keep-one-per-
    cluster needs components, not pairs. Self-pairs add no edge.

    Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond"). Edges are directed child →
    parent with child > parent. Large-star rewires every node's larger
    neighbors to its neighborhood min; small-star rewires every node and
    its smaller neighbors to the min of that set. Both preserve
    connectivity, and together they contract paths by pointer doubling:
    O(log n) rounds on any graph, a long chain included, where label
    propagation needs O(diameter).

    Stop test: a round's output is a depth-1 star forest — every child
    has exactly one parent and no parent is a child. Since edges point
    from larger to smaller ids, each star is then one whole component
    rooted at its min id, so the test is exact, and the labels are the
    stars plus the roots labelling themselves. One per-node aggregate
    over the round's output computes both the test and those labels.

    Raises ``RuntimeError`` if ``max_iters`` rounds do not reach a star
    forest (at 30, ≈ log₂-safe for 2³⁰-node chains, that means a bug,
    not a big graph). ``stats``, if given, records ``{"rounds": n}``.

    Each round is a handful of shuffles over the EDGE relation only
    (never the corpus) and collects one scalar. Exact
    integer semantics — the DuckDB oracle's recursive-CTE transitive
    closure reproduces cluster ids bit-for-bit.

    Every projection, window, aggregate and filter is one SQL string:
    ``greatest``/``least`` normalise the edges, ``min(v) OVER (PARTITION
    BY u)`` is the star minimum, ``explode(array(struct(c AS u, p AS v),
    …))`` emits the rewired edges, and ``count(v)``/``count(*)`` per node
    give the stop test. A round's construction is then one py4j round
    trip per DataFrame step, not one per Column operator."""
    # checkpointed too: round 1 reads its input four times, and an uncut
    # pair-generation plan would run once per read
    src, dst = sql_ident(src_col), sql_ident(dst_col)
    stars = (
        pairs.selectExpr(
            f"greatest({src}, {dst}) AS u", f"least({src}, {dst}) AS v"
        )
        .filter("u != v")
        .localCheckpoint(eager=False)
    )
    no_parent = f"CAST(NULL AS {stars.schema['v'].dataType.simpleString()})"
    m = "min(v) OVER (PARTITION BY u)"

    def emit(*edges: tuple[str, str]) -> str:
        # one (u, v) output row per (child, parent) pair of columns
        structs = ", ".join(f"struct({c} AS u, {p} AS v)" for c, p in edges)
        return f"explode(array({structs})) AS e"

    def large_star(e: DataFrame) -> DataFrame:
        # m = min of u and all its neighbors; every larger neighbor → m
        sym = e.union(e.selectExpr("v AS u", "u AS v"))
        return (
            sym.selectExpr("u", "v", f"least(u, {m}) AS m")
            .filter("v > u")
            .selectExpr("v AS u", "m AS v")
        )

    def small_star(e: DataFrame) -> DataFrame:
        # every edge has u > v; m = min of u's smaller neighbors. Emit
        # (v → m) and (u → m); the v == m case is a self-edge, dropped.
        return (
            e.selectExpr("u", "v", f"{m} AS m")
            .selectExpr(emit(("v", "m"), ("u", "m")))
            .selectExpr("e.*")
            .filter("u != v")
            .distinct()
        )

    # localCheckpoint each round: a round references its input several
    # times, so an uncut logical plan grows geometrically and by round
    # ~8 the analyzer itself is the bottleneck. LAZY checkpoints: the
    # stop test's collect is the action that materializes both the
    # round's stars and its per-node aggregate — one action per round.
    for rounds in range(1, max_iters + 1):
        stars = small_star(large_star(stars)).localCheckpoint(eager=False)
        # per node: its (min) parent and whether it breaks the forest —
        # more than one parent, or a child that is also a parent
        roles = stars.selectExpr(
            emit(("u", "v"), ("v", no_parent))
        ).selectExpr("e.*")
        nodes = (
            roles.groupBy("u")
            .agg(
                F.expr("min(v) AS v"),
                F.expr(
                    "count(v) > 1 OR (count(v) = 1 AND count(*) > 1)"
                    " AS off_star"
                ),
            )
            .localCheckpoint(eager=False)
        )
        if nodes.agg(F.expr("count_if(off_star)")).collect()[0][0] == 0:
            break
    else:
        raise RuntimeError(
            f"star alternation did not converge in {max_iters} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return nodes.selectExpr("u AS doc_id", "coalesce(v, u) AS cluster_id")


_HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")


def simhash16(docs: DataFrame) -> DataFrame:
    """16-bit SimHash: bit j of each token's md5 = high bit of hex char j;
    tokens vote ±1 per bit; fingerprint bit = (vote sum > 0).

    Expressed as explode → one groupBy with 16 conditional sums → bit
    recombination. All integer math → exact cross-engine parity.

    Physical shape: spread by key first (a fixture parquet is one
    file = one task; the explode/md5/vote work must spread across the
    cluster — spread_by, not a count-less repartition, which AQE
    coalesces back to one partition by bytes). Repeated tokens are
    pre-counted per (key, token) — both
    groupBys reuse the key partitioning (clustering on a subset of the
    group keys ⟹ no exchange), and the md5 + per-bit vote work then runs
    once per DISTINCT token per doc (measured ~2.3× repetition on the
    fixture corpus), with each vote weighted by the count."""
    tok = (
        spread_by(docs, "doc_id")
        .select(
            F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", F.md5("tok"))
    )
    votes = [
        F.sum(
            F.when(
                F.substring("h", j + 1, 1).isin(*_HEX_HIGH), F.col("cnt")
            ).otherwise(-F.col("cnt"))
        ).alias(f"v{j}")
        for j in range(16)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    fp = None
    for j in range(16):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_bits(docs: DataFrame, *, bits: int = 60) -> DataFrame:
    """Generalized SimHash: bit j of each token's md5 = bit (j mod 4) of
    hex digit (j div 4); tokens vote ±1 per bit; fingerprint bit =
    (vote > 0). ``bits ≤ 60`` keeps the fingerprint positive in a signed
    64-bit integer on every engine. Same one-groupBy shape as
    ``simhash16``, with the same repartition-by-key spread of the
    explode/vote work.

    Physical optimization (identical semantics to the substring spec the
    DuckDB oracle runs): the first 15 hex digits of the md5 are decoded
    ONCE per token into a 60-bit integer ``t`` — hex digit ``d``
    (1-indexed) lands at value bits ``4*(15-d)..4*(15-d)+3``, so spec bit
    ``j`` (= bit ``j%4`` of digit ``j//4+1``) is value bit
    ``4*(14-j//4) + j%4`` of ``t``. The ±1 vote sum becomes a plain sum
    of extracted bits: ``vote_j > 0  ⟺  2*Σbit_j > count``. That turns
    60 per-row substring+IN probes into 60 shift-and-mask longs — pure
    codegen integer math, ~5× less CPU per token measured at sf0.1.
    Repeated tokens are pre-counted per (key, token) — the pre-count
    groupBy reuses the key partitioning (no exchange) and the md5/decode
    /shift work runs once per DISTINCT token per doc (~2.3× repetition
    on the fixture corpus), each bit weighted by the count. The spread
    uses spread_by (explicit partition count): a count-less repartition
    is an AQE coalescing target and collapses to ONE partition at bench
    scale, serializing the whole vote stage."""
    if bits > 60:
        raise ValueError("fingerprint must fit a signed 64-bit int")
    tok = (
        spread_by(docs, "doc_id")
        .select(
            F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tok_cnt"))
        .withColumn(
            "t", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
        )
    )
    # Each vote sum and the 60-term fingerprint recombination are built
    # as SQL strings (r17): composing them Column-by-Column paid ~500
    # py4j round trips per query construction (the pq_encode finding —
    # driver-side Python↔JVM chatter, not analysis). Parsed trees are
    # operator-identical: shiftright/& on longs, integer literals 2^j
    # (bigint), the same left-associative sum.
    ones = [
        F.expr(
            f"sum((shiftright(`t`, {4 * (14 - j // 4) + j % 4}) & 1)"
            f" * `tok_cnt`)"
        ).alias(f"o{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(F.sum("tok_cnt").alias("cnt"), *ones)
    fp_chain = " + ".join(
        f"(CASE WHEN `o{j}` * 2 > `cnt` THEN {2**j}L ELSE 0L END)"
        for j in range(bits)
    )
    return agg.select("doc_id", F.expr(fp_chain).cast("long").alias("simhash"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    *,
    max_hamming: int = 2,
    bits: int = 60,
) -> DataFrame:
    """SimHash near-dup pairs: fingerprints within ``max_hamming`` bits.

    Blocking by the pigeonhole principle: split the fingerprint into
    ``max_hamming + 1`` bit-bands — any pair within the distance shares
    at least one exact band, so banding finds ALL qualifying pairs (100%
    recall) while only comparing within buckets. Exact Hamming
    (``bit_count(a XOR b)``) verifies candidates. Candidates come from
    ``block_pairs`` over the band buckets, as in the MinHash path.

    ``bits`` matters for blocking quality: with 16-bit fingerprints the
    bands are 5-6 bits (≤64 distinct values), so every band bucket holds
    ~N/64 of the corpus and pair generation degenerates toward O(N²) —
    measured 8s at 5k docs. At 60 bits the bands are 20 bits wide and
    buckets stay tiny, so no bucket cap is applied."""
    n_bands = max_hamming + 1
    # near-even band widths, e.g. 60/3 → 20,20,20
    widths = [bits // n_bands + (1 if i < bits % n_bands else 0) for i in range(n_bands)]
    fp = simhash_bits(docs, bits=bits)

    band_cols = []
    shift = 0
    for b, w in enumerate(widths):
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("simhash"), shift)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("band_key"),
            )
        )
        shift += w
    banded = fp.select(
        "doc_id", "simhash", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", "simhash", "band.band_id", "band.band_key")

    pairs = (
        block_pairs(
            banded,
            ["band_id", "band_key"],
            F.struct(F.col("doc_id"), F.col("simhash")),
            None,
            lambda x, y: F.struct(
                x["doc_id"].alias("doc_a"),
                y["doc_id"].alias("doc_b"),
                x["simhash"].alias("fp_a"),
                y["simhash"].alias("fp_b"),
            ),
        )
        .select("p.doc_a", "p.doc_b", "p.fp_a", "p.fp_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return pairs.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def cluster_quality_audit(
    pairs: DataFrame,
    clusters: DataFrame,
    *,
    sim_col: str = "jaccard",
    key_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Audit near-dup clusters against the pair evidence that built
    them: per cluster, the member count, how many candidate pairs fall
    inside it, their mean similarity, and the weakest in-cluster link —
    the numbers that expose chain-collapse (a giant cluster glued
    together by a few borderline pairs) before a dedup pass deletes half
    a corpus on transitive faith.

    Two equi-joins map pair endpoints to clusters; the cluster relation
    is one row per clustered doc — unbounded at corpus scale — so the
    join strategy is left to AQE (it broadcasts when the map is actually
    small, shuffles when it isn't; a forced broadcast would OOM at ~10⁹
    near-dup docs). Aggregates run per cluster. Cross-cluster pairs
    (evidence the clustering REJECTED) are reported under
    cluster_id = NULL so reviewers see both sides."""
    key, cluster, sim = (
        sql_ident(key_col), sql_ident(cluster_col), sql_ident(sim_col)
    )
    ca = clusters.selectExpr(f"{key} AS doc_a", f"{cluster} AS __ca")
    cb = clusters.selectExpr(f"{key} AS doc_b", f"{cluster} AS __cb")
    tagged = (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("__cluster", F.expr("CASE WHEN __ca = __cb THEN __ca END"))
    )
    # mean over the 9dp integer grid: per-pair similarities are
    # bit-identical across engines, raw-AVG accumulation order is not
    grid = sql_double(1e9)
    sim_nano = (
        f"CAST(floor({sim} * {grid} + {sql_double(0.5)}) AS DECIMAL(38,0))"
    )
    pair_stats = tagged.groupBy(F.expr(f"__cluster AS {cluster}")).agg(
        F.expr("count(1) AS n_pairs"),
        round_half_up(
            F.expr(f"CAST(sum({sim_nano}) AS DOUBLE) / (count(1) * {grid})"),
            6,
        ).alias("mean_sim"),
        round_half_up(F.expr(f"min({sim})"), 6).alias("weakest_link"),
    )
    sizes = clusters.groupBy(cluster).agg(F.expr("count(1) AS n_members"))
    return pair_stats.join(sizes, cluster_col, "left").selectExpr(
        cluster,
        "coalesce(n_members, 0) AS n_members",
        "n_pairs",
        "mean_sim",
        "weakest_link",
    )


def incremental_lsh_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = 50,
    materialize: bool = True,
) -> DataFrame:
    """Incremental NEAR-dup detection: a new batch against the corpus
    already ingested — ``incremental_dedup`` one tier up (that one
    catches byte-identical text; this one catches the re-crawled page
    with a changed timestamp). Returns verified
    (new_doc, corpus_doc, jaccard) candidate pairs; a pair means the
    new doc duplicates something the corpus already has.

    Scale shape, mirroring the daily-merge contract: only NEW-side ×
    STORE-side band keys join (never store × store — the store was
    already deduped when it was ingested); the store side is the
    (key, band_id, band_key) signature relation, ~32 B/doc/band and
    append-only, so the band join shuffles the batch's signatures plus
    reads the store's — never the corpus text. Hot band keys are
    capped by their COMBINED bucket size (``max_bucket_size``), the
    same boilerplate guard as lsh_candidate_pairs. Verification
    computes exact Jaccard for the surviving pairs only: ``new_doc``
    joins ``new_docs`` and ``corpus_doc`` joins ``corpus_docs`` for
    their text, which the projection shingles (``_verified_pairs``
    states the scale trade). Keys must be unique within each input (true
    of any ingest split of one corpus): a duplicated key would emit one
    verified row per copy.

    Nothing is cached. ``materialize=True`` eagerly checkpoints the
    verified result — the triangle_count/pagerank hygiene pattern —
    while ``materialize=False`` keeps the plan inspectable for pins and
    the plan audit. Reference parity: extends the incremental-ingest
    batch loop contract (etl_job_manager.cpp:371-407) from exact
    fingerprints to near-dup signatures."""

    def banded(docs: DataFrame, key: str) -> DataFrame:
        return _band_keys(
            docs, text_col="text", key_col="doc_id", n=3,
            num_hashes=num_hashes, bands=bands,
        ).withColumnRenamed("doc_id", key)

    nb = banded(new_docs, "new_doc")
    sb = banded(corpus_docs, "corpus_doc")
    if max_bucket_size is not None:
        sizes = (
            nb.select("band_id", "band_key")
            .unionAll(sb.select("band_id", "band_key"))
            .groupBy("band_id", "band_key")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .filter(F.col("__bsz") <= max_bucket_size)
            .select("band_id", "band_key")
        )
        nb = nb.join(sizes, ["band_id", "band_key"], "leftsemi")
    pairs = (
        nb.join(sb, ["band_id", "band_key"])
        .select("new_doc", "corpus_doc")
        .dropDuplicates(["new_doc", "corpus_doc"])
    )
    out = _verified_pairs(
        pairs, new_docs, corpus_docs, "new_doc", "corpus_doc",
        text_col="text", key_col="doc_id", n=3,
    )
    # pair-sized result: materialize eagerly so repeated daily-batch
    # calls read a checkpoint, not the banding lineage
    if materialize:
        out = out.localCheckpoint(eager=True)
    return out


def span_posting(docs: DataFrame, *, span_len: int = 40) -> DataFrame:
    """(key, span) posting of every ``span_len``-char span anchored at
    a word start — ONE regex pass per document: the pattern matches
    zero-width at each word start (start-of-text or after a space) and
    CAPTURES the next ``span_len`` chars via lookahead, so overlapping
    spans fall out of a single left-to-right scan and short tails never
    match. ``(?s)`` keeps ``.`` matching newlines inside documents.
    Shared by ``duplicate_spans`` (detection) and
    ``duplicate_span_exposure`` (the per-doc apply/report step)."""
    pattern = "(?s)(?:^|(?<= ))(?=(.{%d}))" % span_len
    # spread before the regex pass: the fixture parquet is one
    # unsplittable file (1 scan task), so without the explicit
    # repartition the whole span extraction runs serially — the
    # shingle_posting pattern (equal keys stay co-located, downstream
    # doc-keyed aggregates reuse the exchange)
    return spread_by(docs.select("doc_id", "text"), "doc_id").select(
        F.col("doc_id"),
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(pattern), 1)
        ).alias("span"),
    )


def duplicate_spans(
    docs: DataFrame,
    *,
    span_len: int = 40,
    min_docs: int = 2,
    anchor_hex_prefix: str | None = None,
) -> DataFrame:
    """Exact duplicate-SPAN detection (the ExactSubstr tier of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better", public literature): fixed-length character spans anchored
    at WORD STARTS, grouped corpus-wide — a span appearing in
    ≥ ``min_docs`` distinct documents is boilerplate/quotation/template
    text that document-level dedup (exact, MinHash) cannot see, because
    the containing documents differ.

    Anchoring at word boundaries — not a fixed character stride — is
    what makes detection SHIFT-INVARIANT: a duplicated region occupies
    different character offsets in each document, so stride-sampled
    spans only collide when the offsets happen to be congruent mod the
    stride; word starts inside the shared region are at identical
    relative positions in every copy, so any duplicated region with
    ≥ ``span_len`` chars after some internal word start is caught.

    Returns (span, n_docs, n_occurrences). Posting size is |words|
    rows of ``span_len`` bytes; ``anchor_hex_prefix`` is the scale
    knob — keep only anchors whose span md5 starts with the prefix
    (e.g. ``"0"`` → 1/16 content-defined sample, still
    shift-invariant because the selection hashes the CONTENT). At
    100 TB additionally group on md5(span) instead of the span text
    (16-byte binary shuffle keys, the exact_dedup digest trick; span
    text recovered by a semi-join of the tiny frequent-hash set back
    to the postings). The fixture-sized query keeps every anchor and
    groups on the span itself so the oracle is direct.

    Plan shape: ONE regex pass per document extracts every word-start
    span — ``(?s)(?:^|(?<= ))(?=(.{N}))`` matches zero-width at each
    word start (start-of-text or after a space) and CAPTURES the next
    ``span_len`` chars via lookahead, so overlapping spans come out of
    a single left-to-right scan and spans shorter than ``span_len``
    never match (the length filter is free). Because single-space join
    inverts ``split(text, ' ')`` exactly, the captures equal
    ``substring(text, word_offset+1, span_len)`` character-for-
    character — the same spans the previous slice-the-words-array
    shape built, at ~4× less local compute (no 41-element array
    slice + join per word; measured 2.5 s → 0.65 s at sf0.1). ``(?s)``
    keeps ``.`` matching newlines inside documents. No per-doc window,
    and the explode emits only ``span_len``-byte spans: the document
    text never crosses an exchange; the only shuffle is the span-key
    aggregate."""
    spans = span_posting(docs, span_len=span_len)
    if anchor_hex_prefix is not None:
        spans = spans.filter(
            F.substring(F.md5("span"), 1, len(anchor_hex_prefix))
            == anchor_hex_prefix
        )
    return (
        spans.groupBy("span")
        .agg(
            F.countDistinct(F.col("doc_id")).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def duplicate_span_exposure(
    docs: DataFrame,
    *,
    span_len: int = 40,
    min_docs: int = 2,
) -> DataFrame:
    """The APPLY step of ExactSubstr dedup: per document, how much of
    it is corpus-duplicated boilerplate — (key, n_spans,
    n_flagged, flagged_frac) where n_flagged counts the doc's
    word-start spans that appear in ≥ ``min_docs`` distinct documents
    (i.e. ``duplicate_spans`` hits). The downstream decision is
    policy (drop the doc above a threshold, or strip the regions);
    this relation is the evidence either policy reads — the
    ``dedup_cluster_audit`` pattern applied to the span tier.

    Plan shape: the corpus is scanned twice (detection aggregate +
    exposure posting — both are the same one-regex-pass posting,
    ``span_posting``); the flagged-span relation is corpus-duplicated
    BOILERPLATE, orders smaller than the corpus, and stamps a hit flag
    back onto the posting as a broadcast left join feeding ONE per-doc
    aggregate. Docs too short for any span report 0/0/0.0
    via the left join with the doc base. flagged_frac is an integer
    ratio — bit-identical across engines before the display round."""
    # ONE posting feeds both consumers (detection aggregate + exposure
    # stamp): the lazy checkpoint materializes the regex-extract pass
    # once — recomputing it per consumer paid the whole span-extraction
    # scan twice (guide §1.2: don't compute things twice)
    posting = span_posting(
        docs, span_len=span_len
    ).localCheckpoint(eager=False)
    flagged = (
        posting.groupBy("span")
        .agg(F.countDistinct(F.col("doc_id")).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("span")
    )
    # one broadcast left join stamps the flag; ONE per-doc aggregate
    # then counts both totals (map-side partial) — never two doc-keyed
    # shuffles of the posting
    marked = posting.join(
        F.broadcast(flagged.withColumn("__hit", F.lit(1))), "span", "left"
    )
    per_doc = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.count(F.col("__hit")).alias("n_flagged"),
    )
    base = docs.select(F.col("doc_id"))
    out = base.join(per_doc, "doc_id", "left").select(
        F.col("doc_id"),
        F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
        F.coalesce(F.col("n_flagged"), F.lit(0)).alias("n_flagged"),
    )
    return out.withColumn(
        "flagged_frac",
        F.round(
            F.when(
                F.col("n_spans") > 0,
                F.col("n_flagged") / F.col("n_spans").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ),
    )
