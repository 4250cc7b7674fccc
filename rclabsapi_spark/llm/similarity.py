"""Embedding similarity search over an ``array<float>`` column.

Two tiers:

- ``cosine_topk``        — brute-force exact top-k (the baseline): one
  broadcast of the query vector, one pass, distributed TakeOrdered for the
  top-k. At 100 TB this is a full scan — correct but linear.
- ``lsh_bucketed_topk``  — sign-LSH bucketing: vectors hash to a bucket by
  the sign pattern of selected dimensions; search only probes the query's
  bucket. An IVF-style recall/latency trade controlled by ``num_bits``.

All vector math stays in Catalyst (``zip_with`` + ``aggregate`` fold over
doubles) — no Python in the hot path. The fold is sequential per vector,
which makes results bit-identical to the DuckDB oracle's ``list_reduce``
evaluation of the same expression order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rclabsapi_spark.catalog import local_df
from rclabsapi_spark.functions.scalars import sql_double
from rclabsapi_spark.layout import spread_by
from rclabsapi_spark.operators.linkage import block_pairs


def _as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Left-to-right fold of pairwise products, seeded 0.0 — matches the
    oracle's list_reduce evaluation order exactly."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
) -> DataFrame:
    """Brute-force exact top-k by cosine vs the row with ``query_vec_id``.

    The 1-row query side is broadcast; the scan is one projection + a
    distributed top-k (TakeOrderedAndProject), no shuffle of the corpus."""
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        _as_double(F.col("embedding")).alias("qvec")
    )
    scored = (
        embeddings.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id"),
            F.round(
                cosine(_as_double(F.col("embedding")), F.col("qvec")), 6
            ).alias("cosine_sim"),
        )
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col("vec_id")).limit(k)


def sign_bucket(vec: Column, num_bits: int = 8) -> Column:
    """Sign-LSH bucket id: concatenated sign bits of the first
    ``num_bits`` dimensions. Axis-aligned hyperplanes — deterministic and
    engine-portable; swap in seeded random planes for production recall."""
    bits = [
        F.when(F.element_at(vec, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(num_bits)
    ]
    return F.concat(*bits)


def lsh_bucket_stats(embeddings: DataFrame, *, num_bits: int = 8) -> DataFrame:
    """Bucket histogram — the data layout a bucketed ANN index would
    shuffle into (bucket = partition key)."""
    v = _as_double(F.col("embedding"))
    return (
        embeddings.select(sign_bucket(v, num_bits).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    *,
    num_bits: int = 4,
) -> DataFrame:
    """ANN: probe only the query's sign-bucket, exact cosine within it.
    At scale the corpus is written bucketed (bucketBy(bucket)) so the probe
    reads one bucket's files — the scan cost drops by ~2^num_bits."""
    v = _as_double(F.col("embedding"))
    bucketed = embeddings.withColumn("bucket", sign_bucket(v, num_bits))
    q = bucketed.filter(F.col("vec_id") == query_vec_id).select(
        F.col("bucket").alias("qbucket"), v.alias("qvec")
    )
    scored = (
        bucketed.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .select(
            F.col("vec_id"),
            F.col("bucket"),
            F.round(cosine(v, F.col("qvec")), 6).alias("cosine_sim"),
        )
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col("vec_id")).limit(k)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    *,
    num_bits: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the fifth dedup tier
    (alongside exact / MinHash-LSH / SimHash / n-gram Jaccard).

    Candidates come from ``block_pairs`` over the sign-LSH buckets (the
    embedding scan runs once); the vectors ride along, so exact cosine
    needs no join back. ``num_bits`` trades recall vs bucket size;
    ``max_bucket_size`` guards the B² blowup of degenerate buckets at
    corpus scale."""
    v = _as_double(F.col("embedding"))
    bucketed = spread_by(embeddings, "vec_id").select(
        F.col("vec_id"),
        v.alias("v"),
        # per-vector norm once, BEFORE pair fan-out: each of the
        # O(bucket²) pairs below then pays one interpreted fold (the
        # dot) instead of three — norm(v) here is the exact expression
        # cosine() evaluates, so dot/(na·nb) is bit-identical
        norm(v).alias("nrm"),
        sign_bucket(v, num_bits).alias("bucket"),
    )
    pairs = block_pairs(
        bucketed,
        ["bucket"],
        F.struct(F.col("vec_id"), F.col("v"), F.col("nrm")),
        max_bucket_size,
        lambda x, y: F.struct(
            x["vec_id"].alias("id_a"),
            y["vec_id"].alias("id_b"),
            x["v"].alias("va"),
            y["v"].alias("vb"),
            x["nrm"].alias("na"),
            y["nrm"].alias("nb"),
        ),
    ).select("bucket", "p.id_a", "p.id_b", "p.va", "p.vb", "p.na", "p.nb")
    out = pairs.select(
        "bucket",
        "id_a",
        "id_b",
        F.round(
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
        ).alias("cosine_sim"),
    )
    return out.filter(F.col("cosine_sim") >= threshold)


def _assign_base(base: DataFrame, cents: DataFrame, key_col: str) -> DataFrame:
    """Nearest-centroid assignment over a (key, v) relation and a small
    (centroid_id, cvec) relation (broadcast). argmax via max_by over the
    per-vector group of K centroid scores — a single partial-aggregatable
    groupBy (no rank window). Scores are rounded to 9dp before the argmax
    so ties resolve identically in the oracle; -centroid_id breaks ties
    toward the lowest id."""
    # norms once per vector / per centroid, not once per (vector ×
    # centroid) score row — dot/(nv·nc) is cosine()'s exact expression
    scored = base.withColumn("__nv", norm(F.col("v"))).join(
        F.broadcast(cents.withColumn("__nc", norm(F.col("cvec"))))
    )
    sim = dot(F.col("v"), F.col("cvec")) / (F.col("__nv") * F.col("__nc"))
    return (
        scored.withColumn("__sim", F.round(sim, 9))
        .groupBy(key_col)
        .agg(
            F.expr("max_by(centroid_id, struct(__sim, -centroid_id))").alias(
                "centroid_id"
            ),
            F.first("v").alias("v"),
        )
    )


def ivf_assign(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    n_centroids: int = 8,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid (highest cosine).

    Default centroids are the first ``n_centroids`` vectors by key —
    deterministic and oracle-reproducible; pass ``centroids`` (e.g. from
    ``kmeans_centroids``) to plug trained means in via the same broadcast
    table. One broadcast of K rows + one scan: each vector computes K
    cosines and keeps the argmax — the classic IVF build pass,
    embarrassingly parallel."""
    v = _as_double(F.col(vec_col))
    base = embeddings.select(F.col("vec_id"), v.alias("v"))
    cents = (
        centroids
        if centroids is not None
        else embeddings.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("centroid_id"), v.alias("cvec")
        )
    )
    return _assign_base(base, cents, "vec_id")


_CENTROIDS_SCHEMA = "centroid_id int, cvec array<double>"


def kmeans_centroids(
    embeddings: DataFrame,
    *,
    k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """Distributed k-means for IVF centroids, as DataFrame aggregations.

    Init = first ``k`` vectors by key (deterministic). Each iteration:
    broadcast the K centroids, argmax-cosine assign (one scan), then the
    new centroid is the element-wise mean of its members — ``posexplode``
    the vectors and a per-(centroid, dim) aggregate (one shuffle of
    (cluster, dim) partial sums, map-side combined), reassembled with a
    sorted ``collect_list``. The mean sums components on the 9dp
    integer grid (order-independent): intermediate centroids feed the
    NEXT iteration's ROUND(cos, 9) argmax, so a raw-AVG accumulation
    ulp could flip an assignment and diverge the engines from that
    iteration on. Per-iteration centroids are collected to the
    driver (K × dim doubles — the MLlib pattern) so iteration i+1's plan
    reads a literal centroid table instead of re-deriving iterations
    1..i; that table is an Arrow-backed ``LocalTableScan``
    (``catalog.local_df``), so it costs no Python-worker task, and the
    doubles round-trip exactly. The corpus relation is cached across
    iterations.

    Empty clusters keep their previous centroid (classic k-means fallback)."""
    v = _as_double(F.col("embedding"))
    base = embeddings.select(F.col("vec_id"), v.alias("v")).cache()
    spark = embeddings.sparkSession
    cents = base.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("centroid_id"), F.col("v").alias("cvec")
    )
    cent_rows = {r["centroid_id"]: list(r["cvec"]) for r in cents.collect()}
    for _ in range(iters):
        cents_df = local_df(spark, sorted(cent_rows.items()), _CENTROIDS_SCHEMA)
        assigned = _assign_base(base, cents_df, "vec_id")
        means = (
            assigned.select(
                "centroid_id", F.posexplode("v").alias("pos", "x")
            )
            .groupBy("centroid_id", "pos")
            .agg(
                (
                    F.sum(
                        F.floor(
                            F.col("x") * 1000000000.0 + F.lit(0.5)
                        ).cast("decimal(38,0)")
                    ).cast("double")
                    / (F.count(F.lit(1)) * 1000000000.0)
                ).alias("m")
            )
            .groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("m")))
                ).alias("pm")
            )
            .select(
                "centroid_id",
                F.transform("pm", lambda s: s["m"]).alias("cvec"),
            )
        )
        for r in means.collect():
            cent_rows[r["centroid_id"]] = list(r["cvec"])
    base.unpersist()
    return local_df(spark, sorted(cent_rows.items()), _CENTROIDS_SCHEMA)


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    *,
    n_centroids: int = 8,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
    materialize: bool = True,
) -> DataFrame:
    """IVF ANN: probe only the ``nprobe`` centroids nearest the query,
    exact cosine within their lists. At scale the assignment table is a
    persisted artifact written partitioned/bucketed by centroid_id so a
    probe reads only those partitions — scan cost divides by
    n_centroids/nprobe. Here the build and the probe share one query, so
    the single (key, vector) scan is cached and every consumer — centroid
    seed, query row, assignment, probe — reads the cached relation
    (the plan shows one parquet scan + InMemoryTableScans, standing in
    for the persisted index of the production layout).

    ``materialize=False`` skips the eager localCheckpoint + corpus-cache
    release so plan pins / plan audit see the real probe plan instead of
    ``Scan ExistingRDD``; the query path keeps the default."""
    base = embeddings.select(
        F.col("vec_id"), _as_double(F.col("embedding")).alias("v")
    ).cache()
    q = base.filter(F.col("vec_id") == query_vec_id).select(
        F.col("v").alias("qvec")
    )
    cents = (
        centroids
        if centroids is not None
        else base.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("centroid_id"), F.col("v").alias("cvec")
        )
    )
    assigned = _assign_base(base, cents, "vec_id")
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "centroid_id",
            F.round(cosine(F.col("cvec"), F.col("qvec")), 9).alias("__sim"),
        )
        .orderBy(F.col("__sim").desc(), F.col("centroid_id"))
        .limit(nprobe)
        .select("centroid_id")
    )
    candidates = assigned.join(F.broadcast(probe), "centroid_id").filter(
        F.col("vec_id") != query_vec_id
    )
    scored = candidates.crossJoin(F.broadcast(q)).select(
        F.col("vec_id"),
        F.col("centroid_id"),
        F.round(cosine(F.col("v"), F.col("qvec")), 6).alias("cosine_sim"),
    )
    out = scored.orderBy(F.col("cosine_sim").desc(), F.col("vec_id")).limit(k)
    # k-row result: materialize eagerly, then release the corpus cache so
    # repeated EngineAPI calls don't accumulate storage.
    if materialize:
        out = out.localCheckpoint(eager=True)
        base.unpersist()
    return out


def semantic_dedup(
    embeddings: DataFrame,
    *,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    literature): k-means-cluster the embedding space, then within each
    cluster drop every vector that has a higher-priority (lower-key)
    cluster-mate with cosine ≥ ``threshold``. Exact pairwise similarity
    is only ever computed *inside* a cluster — the clustering is what
    makes semantic dedup sub-quadratic at corpus scale.

    Returns (key, centroid_id, status) with status kept|dropped for every
    input vector.

    Keep rule (deterministic, mirrors the exact/SimHash tiers): a vector
    is dropped iff SOME lower-keyed member of its cluster is
    ``threshold``-similar — the greedy scan-by-key semantic, not
    transitive closure (near-dup *chains* stay collapsed to their
    lowest-key survivor only within a cluster; cross-cluster chains are
    by construction out of scope for SemDeDup).

    Scale shape: k-means is K×dim driver pulls per iteration (the MLlib
    pattern, see kmeans_centroids); assignment is one broadcast-join
    scan; in-cluster pairs come from ``block_pairs`` blocked on
    centroid_id. Cluster sizes are corpus/k in
    expectation — grow ``k`` with the corpus to bound the B² in-cluster
    work (the paper runs K≈10⁵ for web-scale corpora); clusters are
    not size-capped, so every in-cluster pair is compared."""
    cents = kmeans_centroids(embeddings, k=k, iters=iters)
    assigned = ivf_assign(embeddings, centroids=cents)
    # pair (x, y) with x.key < y.key — y is the drop candidate
    dropped = (
        block_pairs(
            assigned,
            ["centroid_id"],
            F.struct(F.col("vec_id"), F.col("v")),
            None,
            lambda x, y: F.struct(
                y["vec_id"].alias("dup_key"),
                F.round(cosine(x["v"], y["v"]), 9).alias("sim"),
            ),
        )
        .filter(F.col("p.sim") >= threshold)
        .select(F.col("p.dup_key").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("__d", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            F.when(F.col("__d").isNotNull(), "dropped")
            .otherwise("kept")
            .alias("status"),
        )
    )


def quantize_embeddings_error(
    embeddings: DataFrame,
    *,
    bits: int = 8,
) -> DataFrame:
    """Per-dimension scalar quantization audit: quantize each embedding
    dimension to ``bits`` (min/max affine codes), dequantize, and report
    per-dimension [lo, hi], mean and max absolute reconstruction error —
    the go/no-go check before shipping int8 vectors to the ANN index
    (4× memory cut; the error table says what recall it may cost).

    One posexplode → per-dim (64-row) bounds aggregate → broadcast back
    → per-row code/dequant arithmetic → per-dim error aggregate. The
    fact relation shuffles only (dim, value) pairs; codes never
    materialize wider than the audit needs."""
    levels = float(2**bits - 1)
    flat = embeddings.select(
        F.col("vec_id").alias("k"),
        F.posexplode(F.col("embedding")).alias("dim0", "v_f"),
    ).select(
        "k", (F.col("dim0") + 1).alias("dim"), F.col("v_f").cast("double").alias("v")
    )
    bounds = flat.groupBy("dim").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    j = flat.join(F.broadcast(bounds), "dim")
    width = F.col("hi") - F.col("lo")
    # constant dimension (width == 0): every value maps to code 0 and
    # dequantizes to lo exactly — without the guard Spark's non-ANSI
    # x/0 → NULL would poison mae/max_err for that dimension.
    code = F.when(
        width > 0, F.floor((F.col("v") - F.col("lo")) / width * levels + 0.5)
    ).otherwise(F.lit(0))
    deq = F.when(
        width > 0, F.col("lo") + code * width / levels
    ).otherwise(F.col("lo"))
    err = F.abs(F.col("v") - deq)
    # mae sums 9dp-integer-grid errors (order-independent; raw AVG of
    # doubles is accumulation-ordered); max is an exact selection
    err_nano = F.floor(err * 1000000000.0 + F.lit(0.5)).cast("decimal(38,0)")
    from rclabsapi_spark.functions.scalars import round_half_up

    return (
        j.select("dim", "lo", "hi", err.alias("err"), err_nano.alias("en"))
        .groupBy("dim")
        .agg(
            F.min("lo").alias("lo"),
            F.max("hi").alias("hi"),
            round_half_up(
                F.sum("en").cast("double")
                / (F.count(F.lit(1)) * 1000000000.0),
                6,
            ).alias("mae"),
            round_half_up(F.max("err"), 6).alias("max_err"),
        )
    )


def save_ivf_index(
    embeddings: DataFrame,
    path: str,
    *,
    n_centroids: int = 8,
    kmeans_iters: int = 5,
) -> None:
    """Persist an IVF index: trained centroids to ``<path>/centroids``
    and vectors PARTITIONED BY their centroid assignment to
    ``<path>/vectors`` — the layout that turns an nprobe search into
    partition pruning (only the probed lists' files are read; the
    parquet source skips the rest by directory). The write is the
    expensive pass; every later search is scan-pruned."""
    cents = kmeans_centroids(
        embeddings,
        k=n_centroids,
        iters=kmeans_iters,
    )
    assigned = ivf_assign(embeddings, centroids=cents)
    vecs = embeddings.join(assigned.select("vec_id", "centroid_id"), "vec_id")
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    vecs.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{path}/vectors"
    )


def search_ivf_index(
    spark,
    path: str,
    query_vec: list[float],
    *,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Top-k cosine search against a persisted IVF index: rank the K
    stored centroids against the query DRIVER-SIDE (K×dim floats — the
    MLlib centroid-pull pattern), then scan ONLY the ``nprobe`` nearest
    partitions (``centroid_id IN (...)`` prunes at the directory level —
    check ``PushedFilters``/partition count in explain) and brute-force
    the survivors. Recall/latency trades on nprobe exactly as a FAISS
    IVF index does."""
    import math

    cents = spark.read.parquet(f"{path}/centroids").collect()

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return d / (na * nb)

    ranked = sorted(
        cents, key=lambda r: -cos([float(x) for x in r["cvec"]], query_vec)
    )
    probe = [r["centroid_id"] for r in ranked[:nprobe]]
    vecs = spark.read.parquet(f"{path}/vectors").filter(
        F.col("centroid_id").isin(probe)
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    v = _as_double(F.col("embedding"))
    return (
        vecs.select(
            F.col("vec_id"),
            F.col("centroid_id"),
            cosine(v, q).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): subspace codebooks + asymmetric distance
# ---------------------------------------------------------------------------


def pq_train(
    embeddings: DataFrame,
    *,
    n_subspaces: int = 8,
    codebook_size: int = 16,
    iters: int = 3,
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split the vector into ``n_subspaces``
    contiguous blocks and k-means each block independently (the
    Jégou et al. construction). Returns
    codebooks[m][c] = centroid vector for code c of subspace m —
    n_subspaces · codebook_size · (dim/n_subspaces) floats, a
    driver-sized object (the K×dim pull pattern kmeans_centroids
    already uses).

    All ``n_subspaces`` trainings are FUSED into one pass per
    iteration: the sliced views explode into one (key, subspace,
    subvector) relation (same bytes as the source — each vector's
    slices partition it), the 128-row codebook state broadcasts, and
    each iteration is ONE assign+re-center job over every subspace at
    once. The math is identical to per-subspace ``kmeans_centroids``
    (same init, same ROUND(cos,9) argmax with min-cid ties, same
    9dp-integer-grid means, same empty-cluster carry), so the oracle's
    per-subspace mirror verifies it unchanged — the fusion exists
    because m independent trainings cost m×iters driver-scheduled
    jobs (~6 s of the old sim_pq_adc wall was 32 tiny jobs' scheduling,
    not compute); at 100 TB one wide pass per iteration is also the
    right shape."""
    # ``dim`` saves the probing job when the caller already knows the
    # vector width (e.g. it fetched the query vector first)
    if dim is None:
        dim = len(embeddings.select("embedding").first()[0])
    sub = dim // n_subspaces
    if sub * n_subspaces != dim:
        raise ValueError("n_subspaces must divide dim")
    v = _as_double(F.col("embedding"))
    slices = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(v, m * sub + 1, sub).alias("sv"),
            )
            for m in range(n_subspaces)
        ]
    )
    base = (
        embeddings.select(F.col("vec_id").alias("k"), F.explode(slices).alias("s"))
        .select("k", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
        .cache()
    )
    # Centroid state stays a DATAFRAME across iterations — collecting it
    # to the driver per round and re-shipping it via createDataFrame was
    # one extra driver round trip per iteration (the values are doubles
    # either way: a collect + re-create round-trips IEEE doubles
    # exactly, so keeping them JVM-side is bit-identical). ONE collect
    # at the end pulls the finished codebooks.
    cents = base.filter(F.col("k") < codebook_size).select(
        "m", F.col("k").cast("int").alias("cid"), F.col("sv").alias("cvec")
    )
    for _ in range(iters):
        # per-subvector / per-centroid norms before the K-way fan-out
        # (cosine()'s exact sub-expressions, so the 9dp round is
        # bit-identical); the dot is the only per-score fold left
        scored = base.withColumn("__ns", norm(F.col("sv"))).join(
            F.broadcast(cents.withColumn("__nc", norm(F.col("cvec")))), "m"
        )
        assigned = (
            scored.withColumn(
                "__sim",
                F.round(
                    dot(F.col("sv"), F.col("cvec"))
                    / (F.col("__ns") * F.col("__nc")),
                    9,
                ),
            )
            .groupBy("k", "m")
            .agg(
                F.expr("max_by(cid, struct(__sim, -cid))").alias("cid"),
                F.first("sv").alias("sv"),
            )
        )
        means = (
            assigned.select("m", "cid", F.posexplode("sv").alias("pos", "x"))
            .groupBy("m", "cid", "pos")
            .agg(
                (
                    F.sum(
                        F.floor(
                            F.col("x") * 1000000000.0 + F.lit(0.5)
                        ).cast("decimal(38,0)")
                    ).cast("double")
                    / (F.count(F.lit(1)) * 1000000000.0)
                ).alias("mv")
            )
            .groupBy("m", "cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("mv")))
                ).alias("pm")
            )
            .select(
                "m",
                "cid",
                F.transform("pm", lambda s: s["mv"]).alias("__new"),
            )
        )
        # empty-cluster carry: clusters with no assigned rows keep their
        # previous centroid (the collected-dict version updated only the
        # ids present in means — the left join + coalesce is the same
        # rule). Lazy checkpoint truncates the per-iteration lineage;
        # the next iteration's broadcast (or the final collect)
        # materializes it.
        cents = (
            cents.withColumnRenamed("cvec", "__prev")
            .join(means, ["m", "cid"], "left")
            .select(
                "m",
                "cid",
                F.coalesce("__new", "__prev").alias("cvec"),
            )
            .localCheckpoint(eager=False)
        )
    cent_rows = {
        (r["m"], r["cid"]): [float(x) for x in r["cvec"]]
        for r in cents.collect()
    }
    base.unpersist()
    seeded = {c for (_, c) in cent_rows}
    missing = sorted(set(range(codebook_size)) - seeded)
    # explicit seeding contract (the oracle mirror seeds the same way);
    # a silent shorter codebook would shift every code id after the gap
    if missing:
        raise ValueError(
            f"pq_train seeds centroids from vec_id in [0, {codebook_size});"
            f" no input rows for ids {missing}"
        )
    return [
        [cent_rows[(m, c)] for c in range(codebook_size)]
        for m in range(n_subspaces)
    ]


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """Encode every vector as n_subspaces small codes: per subspace,
    argmin L2 to the codebook entries — computed as a pure Column
    expression over broadcast-literal codebooks (argmin ‖x−c‖² =
    argmax (x·c − ‖c‖²/2); the scan stays whole-stage, no join, no
    shuffle). Output: (key, code_0 … code_{m−1}) — dim·4 bytes of
    float32 become m bytes."""
    sub = len(codebooks[0][0])
    cols = [F.col("vec_id")]
    # score_c = x_m · c − ‖c‖²/2 as a flat multiply-add chain
    # (element_at + literal floats: whole-stage codegen; the
    # array-lambda dot() here would fall back to interpreted eval,
    # and a chained-when argmin would square the expression tree).
    # Dot first, half-norm subtracted LAST: the left-to-right
    # (((x₁c₁ + x₂c₂) + …) − hn) grouping is what a list_reduce
    # dot minus hn reproduces bit-for-bit in the oracle.
    #
    # Each code column is built as ONE SQL string through F.expr (r17):
    # composing the ~16·K-term chain Column-by-Column cost one py4j
    # round trip PER OPERATOR — measured 1.4-1.5 s of pure driver-side
    # Python↔JVM chatter per sim_pq_adc run (vs 0.14 s of actual
    # analysis). The parsed tree is operator-identical: `a + b * c`
    # parses as a + (b·c), the chain stays left-associative, sql_double
    # writes exact double literals, and the CAST mirrors _as_double.
    v = "CAST(`embedding` AS ARRAY<DOUBLE>)"
    for m, book in enumerate(codebooks):
        scores = []
        for cent in book:
            half_norm = sum(c * c for c in cent) / 2.0
            acc = "0.0D"
            for j, c in enumerate(cent):
                acc = (
                    f"{acc} + element_at({v}, {m * sub + j + 1})"
                    f" * {sql_double(c)}"
                )
            scores.append(f"{acc} - {sql_double(half_norm)}")
        arr = "array(" + ", ".join(scores) + ")"
        code = f"CAST(array_position({arr}, array_max({arr})) - 1 AS INT)"
        cols.append(F.expr(code).alias(f"code_{m}"))
    return embeddings.select(*cols)


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    *,
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k by inner product: the query stays
    full-precision, each candidate scores as Σ_m table_m[code_m] where
    table_m[c] = q_m · codebook_m[c] — the m lookup tables are computed
    DRIVER-side (m·codebook_size floats) and compiled into the plan as
    map literals, so scoring a candidate is m map lookups + a sum: no
    join, no decode, no full-vector read. This is why PQ wins at
    100 TB: the scan reads m bytes per vector instead of dim·4."""
    n_subspaces = len(codebooks)
    sub = len(codebooks[0][0])
    score = None
    for m, book in enumerate(codebooks):
        q_m = query_vec[m * sub : (m + 1) * sub]
        table = [sum(q * c for q, c in zip(q_m, cent)) for cent in book]
        map_lit = F.create_map(
            *[x for c, t in enumerate(table) for x in (F.lit(c), F.lit(float(t)))]
        )
        term = map_lit[F.col(f"code_{m}")]
        score = term if score is None else score + term
    return (
        codes.select(F.col("vec_id"), score.alias("adc_score"))
        .orderBy(F.col("adc_score").desc(), "vec_id")
        .limit(k)
    )


def ann_recall_at_k(
    candidates: DataFrame,
    truth: DataFrame,
    *,
    query_col: str = "query_id",
    item_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Recall@k of an ANN tier against exact ground truth: per query,
    |top-k(candidates) ∩ top-k(truth)| / k, plus the macro average as a
    1-row summary — the quality gate every approximate tier (sign-LSH,
    IVF, PQ) reports before it replaces the exact path.

    Both inputs are (query, item, score) relations; top-k is taken by
    (score desc, item) per side so ties are deterministic. One ranking
    window per side over the query key, one equi-join on (query, item) —
    all |queries|·k sized."""

    def topk(df: DataFrame, tag: str) -> DataFrame:
        w = Window.partitionBy(query_col).orderBy(
            F.col("score").desc(), F.col(item_col)
        )
        return (
            df.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= k)
            .select(query_col, item_col, F.lit(1).alias(tag))
        )

    c = topk(candidates, "__c")
    t = topk(truth, "__t")
    hits = (
        t.join(c, [query_col, item_col], "left")
        .groupBy(query_col)
        .agg(
            F.sum(F.coalesce(F.col("__c"), F.lit(0)))
            .cast("long")
            .alias("__hits")
        )
    )
    per_query = hits.select(
        query_col, (F.col("__hits") / float(k)).alias("recall_at_k")
    )
    # macro average as the documented 1-row summary (query key NULL);
    # computed from the exact integer hit counts — Σhits/(k·|queries|)
    # is one integer-ratio division, order-independent (a raw AVG of
    # the per-query recall doubles is accumulation-ordered)
    qtype = hits.schema[query_col].dataType
    macro = hits.agg(
        F.lit(None).cast(qtype).alias(query_col),
        (
            F.sum("__hits").cast("double")
            / (F.count(F.lit(1)) * float(k))
        ).alias("recall_at_k"),
    )
    return per_query.unionByName(macro)


def derive_num_bits(n: int, *, target_bucket_size: int = 64) -> int:
    """Sign-LSH width as a function of corpus size: the smallest b with
    2^b buckets of ≈``target_bucket_size`` expected members, clamped to
    [4, 16]. Pure integer arithmetic (ceil-div + bit_length) so the
    DuckDB mirror (``length(bin(ceildiv - 1))``) is bit-identical —
    never float log2, whose ulp at exact powers of two is
    engine-dependent."""
    ceildiv = max((n + target_bucket_size - 1) // target_bucket_size, 1)
    return max(4, min(16, (ceildiv - 1).bit_length()))


def hard_negative_mining(
    embeddings: DataFrame,
    labels: DataFrame,
    *,
    label_key_col: str = "doc_id",
    label_col: str = "lang",
    num_bits: int | None = None,
    target_bucket_size: int = 64,
    max_bucket_candidates: int | None = 256,
    probe_bits: int = 0,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every anchor,
    the most-cosine-similar vector carrying a DIFFERENT label — the
    negatives that actually teach a bi-encoder, as opposed to the
    random ring negatives of sample_negatives (public literature:
    in-batch vs hard negatives, e.g. DPR/ANCE).

    Blocked by sign-LSH bucket, with BOTH scale guards every sibling
    near-dup tier carries:

    - ``num_bits=None`` (default) derives the bucket width from the
      corpus size (``derive_num_bits``: ≈log2(n/target_bucket_size),
      clamped [4, 16]) so bucket population stays ≈constant as the
      corpus grows — fixed-width blocking is Σ bucket² = n²/2^bits,
      quadratic at fixed bits. Deriving runs ONE eager count() of the
      embeddings input at plan-construction time (documented, like the
      k-row centroid pulls); pass an int to stay fully lazy.
    - ``max_bucket_candidates`` (default 256, the ``max_shingle_df``
      pattern) keeps only the first C members of each bucket as
      NEGATIVE candidates, ranked by (md5('hncap:'||key), key) — a
      deterministic uniform subsample mirrored in the DuckDB oracle.
      Join work is then ≤ n·C, linear; anchors are never dropped.

    ``probe_bits=p`` > 0 additionally probes, per anchor, the p buckets
    at Hamming distance 1 (flip bit i, i < p) — the standard sign-LSH
    multi-probe fallback that rescues anchors whose home bucket holds
    no cross-label member. Default 0 keeps the single-bucket contract;
    ``hard_negative_coverage`` measures how many anchors need it.
    Anchors whose probed buckets hold no different-label candidate
    yield no row.

    Determinism: ranking happens on the ROUNDED cosine (6dp) with the
    negative key as tie-break, so every engine picks the same winner
    even when two raw cosines differ only in accumulation-order ulps."""
    if num_bits is None:
        num_bits = derive_num_bits(
            embeddings.count(), target_bucket_size=target_bucket_size
        )
    v = _as_double(F.col("embedding"))
    lab = labels.select(
        F.col(label_key_col).alias("vec_id"), F.col(label_col).alias("__lab")
    )
    base = embeddings.join(lab, "vec_id").select(
        F.col("vec_id"),
        F.col("__lab"),
        v.alias("__v"),
        # per-ROW norm, computed once per vector before the bucket
        # join: the cosine below then costs ONE interpreted array fold
        # per candidate pair (the dot product) instead of three — the
        # two norm folds used to re-run on every one of the ≤ n·C pair
        # rows. sqrt(dot(v,v)) here is the exact expression cosine()
        # evaluates, so the quotient is bit-identical.
        norm(v).alias("__nrm"),
        sign_bucket(v, num_bits).alias("__bkt"),
    )
    a = base.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("__lab").alias("anchor_label"),
        F.col("__v").alias("av"),
        F.col("__nrm").alias("anrm"),
        F.col("__bkt").alias("bkt"),
    )
    if probe_bits > 0:
        flips = [F.col("bkt")] + [
            F.concat(
                F.substring("bkt", 1, i),
                F.when(
                    F.substring("bkt", i + 1, 1) == "1", F.lit("0")
                ).otherwise(F.lit("1")),
                F.substring("bkt", i + 2, num_bits - i - 1),
            )
            for i in range(min(probe_bits, num_bits))
        ]
        a = a.withColumn("bkt", F.explode(F.array(*flips)))
    n = base.select(
        F.col("vec_id").alias("negative_id"),
        F.col("__lab").alias("neg_label"),
        F.col("__v").alias("nv"),
        F.col("__nrm").alias("nnrm"),
        F.col("__bkt").alias("bkt"),
    )
    if max_bucket_candidates is not None:
        wc = Window.partitionBy("bkt").orderBy(
            F.md5(F.concat(F.lit("hncap:"), F.col("negative_id").cast("string"))),
            F.col("negative_id"),
        )
        n = (
            n.withColumn("__c", F.row_number().over(wc))
            .filter(F.col("__c") <= max_bucket_candidates)
            .drop("__c")
        )
    scored = (
        a.join(n, "bkt")
        .filter(
            (F.col("anchor_id") != F.col("negative_id"))
            & (F.col("anchor_label") != F.col("neg_label"))
        )
        .select(
            "anchor_id",
            "anchor_label",
            "negative_id",
            "neg_label",
            # dot/(norm·norm) with the norms precomputed per side —
            # exactly cosine()'s expression, evaluated as one fold per
            # pair instead of three
            F.round(
                dot(F.col("av"), F.col("nv"))
                / (F.col("anrm") * F.col("nnrm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine_sim").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def hard_negative_coverage(
    embeddings: DataFrame,
    labels: DataFrame,
    *,
    label_key_col: str = "doc_id",
    label_col: str = "lang",
    num_bits: int | None = None,
    target_bucket_size: int = 64,
    max_bucket_candidates: int | None = 256,
) -> DataFrame:
    """Coverage audit for blocked hard-negative mining: per anchor
    label, how many anchors found a local (in-bucket, post-cap)
    cross-label negative — the metric that says whether the blocking
    is tight enough to need the multi-probe fallback. Returns
    (anchor_label, n_anchors, n_covered, coverage_rate), rate rounded
    half-up 6dp for cross-engine hashing. Cost: the mined relation
    (≤ n·C pairs) plus one n-row aggregate per side."""
    from rclabsapi_spark.functions.scalars import round_half_up

    mined = hard_negative_mining(
        embeddings,
        labels,
        label_key_col=label_key_col,
        label_col=label_col,
        num_bits=num_bits,
        target_bucket_size=target_bucket_size,
        max_bucket_candidates=max_bucket_candidates,
    )
    lab = labels.select(
        F.col(label_key_col).alias("vec_id"), F.col(label_col).alias("__lab")
    )
    anchors = (
        embeddings.join(lab, "vec_id")
        .groupBy(F.col("__lab").alias("anchor_label"))
        .agg(F.count(F.lit(1)).alias("n_anchors"))
    )
    covered = mined.groupBy("anchor_label").agg(
        F.count(F.lit(1)).alias("n_covered")
    )
    return (
        anchors.join(covered, "anchor_label", "left")
        .select(
            "anchor_label",
            "n_anchors",
            F.coalesce(F.col("n_covered"), F.lit(0)).alias("n_covered"),
            round_half_up(
                F.coalesce(F.col("n_covered"), F.lit(0)).cast("double")
                / F.col("n_anchors").cast("double"),
                6,
            ).alias("coverage_rate"),
        )
    )


def semantic_decontaminate(
    train_emb: DataFrame,
    eval_emb: DataFrame,
    *,
    num_bits: int | None = None,
    target_bucket_size: int = 16,
    threshold: float = 0.9,
    max_eval_bucket: int | None = 64,
    probe_bits: int = 1,
) -> DataFrame:
    """Semantic eval-set decontamination: flag training documents whose
    EMBEDDING is near-identical to an eval/benchmark document — the
    paraphrase-level leakage the n-gram tier (``llm.cleaning.
    decontaminate``) cannot see, because rewording shares no 3-grams
    (public practice: embedding-similarity decontamination as used for
    open LLM training corpora, the semantic sibling of the
    exact-overlap gate).

    Per train vector, the best same-bucket eval neighbor with ROUNDED
    cosine ≥ ``threshold`` → (train key, eval key, cosine_sim); train
    docs with no flagged neighbor yield no row (the downstream action
    is "drop these", so the relation IS the drop list).

    100 TB shape — the asymmetry does the work: the eval side is MBs
    against a corpus of TBs, so the bucketed (and per-bucket capped,
    md5-ranked like every sibling tier) eval relation is
    **broadcast** — the corpus never shuffles at all; the only
    corpus-side work is one scan computing buckets + in-bucket
    cosines (≈``target_bucket_size`` candidates per row, constant).
    ``num_bits`` defaults to ``derive_num_bits`` of the EVAL count
    (one eager count of the small side, never the corpus), so
    per-train candidate work stays ≈constant as the eval suite grows.
    ``probe_bits=1`` probes the Hamming-1 bucket on the train side
    (the sign-LSH multi-probe rescue), trading 2× in-stage compute
    for recall at zero extra shuffle — a train/eval pair can match in
    at most one probed bucket (the eval doc lives in exactly one), so
    no pair dedup is needed."""
    if num_bits is None:
        num_bits = derive_num_bits(
            eval_emb.count(), target_bucket_size=target_bucket_size
        )
    v = _as_double(F.col("embedding"))
    ev = eval_emb.select(
        F.col("vec_id").alias("eval_id"),
        v.alias("ev"),
        norm(v).alias("enrm"),
        sign_bucket(v, num_bits).alias("bkt"),
    )
    if max_eval_bucket is not None:
        wc = Window.partitionBy("bkt").orderBy(
            F.md5(F.concat(F.lit("sdcap:"), F.col("eval_id").cast("string"))),
            F.col("eval_id"),
        )
        ev = (
            ev.withColumn("__c", F.row_number().over(wc))
            .filter(F.col("__c") <= max_eval_bucket)
            .drop("__c")
        )
    tr = train_emb.select(
        F.col("vec_id").alias("train_id"),
        v.alias("tv"),
        # norms once per side before the bucket join: the per-candidate
        # cosine below is then one fold (the dot), not three —
        # dot/(tnrm·enrm) is cosine()'s exact expression
        norm(v).alias("tnrm"),
        sign_bucket(v, num_bits).alias("bkt"),
    )
    if probe_bits > 0:
        flips = [F.col("bkt")] + [
            F.concat(
                F.substring("bkt", 1, i),
                F.when(
                    F.substring("bkt", i + 1, 1) == "1", F.lit("0")
                ).otherwise(F.lit("1")),
                F.substring("bkt", i + 2, num_bits - i - 1),
            )
            for i in range(min(probe_bits, num_bits))
        ]
        tr = tr.withColumn("bkt", F.explode(F.array(*flips)))
    scored = tr.join(F.broadcast(ev), "bkt").select(
        "train_id",
        "eval_id",
        F.round(
            dot(F.col("tv"), F.col("ev"))
            / (F.col("tnrm") * F.col("enrm")),
            6,
        ).alias("cosine_sim"),
    ).filter(F.col("cosine_sim") >= threshold)
    w = Window.partitionBy("train_id").orderBy(
        F.col("cosine_sim").desc(), F.col("eval_id")
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def truncation_energy_audit(
    embeddings: DataFrame,
    *,
    dims: tuple[int, ...] = (8, 16, 32),
) -> DataFrame:
    """Matryoshka-style truncation audit (public literature: MRL,
    Kusupati et al. 2022): how much of each embedding's energy (squared
    norm) survives truncation to the first k dimensions — the go/no-go
    check before serving shortened vectors (2-8× memory/latency cut)
    from an index built on full ones. Returns one row per k:
    (trunc_dim, mean_energy, min_energy), energies in [0, 1].

    One scan; per-row ratios are left-to-right folds over sliced
    arrays (bit-identical across engines); the corpus mean sums the
    ratios on the 9dp integer grid (order-independent — a raw AVG of
    doubles is accumulation-ordered), min is order-free, and both
    round half-up at 6dp."""
    from rclabsapi_spark.functions.scalars import round_half_up

    v = _as_double(F.col("embedding"))
    full = dot(v, v)
    ratios = embeddings.select(
        *[
            (dot(F.slice(v, 1, k), F.slice(v, 1, k)) / full).alias(
                f"r{k}"
            )
            for k in dims
        ]
    )

    def nano(c):
        return F.floor(c * 1000000000.0 + F.lit(0.5)).cast("decimal(38,0)")

    stats = ratios.agg(
        *[
            (
                F.sum(nano(F.col(f"r{k}"))).cast("double")
                / (F.count(F.lit(1)) * 1000000000.0)
            ).alias(f"avg{k}")
            for k in dims
        ],
        *[F.min(f"r{k}").alias(f"min{k}") for k in dims],
    )
    # one row per k via explode of the single aggregate row — a union of
    # per-k selects would recompute the scan+aggregate subtree per k
    rows = F.array(
        *[
            F.struct(
                F.lit(k).alias("trunc_dim"),
                round_half_up(F.col(f"avg{k}"), 6).alias("mean_energy"),
                round_half_up(F.col(f"min{k}"), 6).alias("min_energy"),
            )
            for k in dims
        ]
    )
    return stats.select(F.explode(rows).alias("s")).select(
        "s.trunc_dim", "s.mean_energy", "s.min_energy"
    )
