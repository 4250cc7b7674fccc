"""Unit semantics for the corpus-cleaning operators (llm/cleaning.py):
PII redaction, benchmark decontamination, repetition metrics, and the
composite keep/drop audit. The DuckDB hash-parity for the registered
queries lives in test_oracle_parity.py; these pin the operator semantics
on crafted rows where the expected answer is computable by hand."""

from __future__ import annotations

from pyspark.sql import functions as F

from rclabsapi_spark.llm.cleaning import (
    corpus_filter,
    decontaminate,
    pii_scrub,
    repetition_metrics,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pii_scrub_redacts_and_counts(spark):
    df = _docs(
        spark,
        [
            (
                1,
                "mail a@b.io and c.d-e@f.co.uk ip 10.0.0.1 "
                "call 555-123-4567 ssn 123-45-6789",
            ),
            (2, "no pii here at all"),
        ],
    )
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    r1 = out[1]
    assert (r1["n_email"], r1["n_ipv4"], r1["n_phone"], r1["n_ssn"]) == (
        2, 1, 1, 1,
    )
    assert r1["clean_text"] == (
        "mail <EMAIL> and <EMAIL> ip <IPV4> call <PHONE> ssn <SSN>"
    )
    r2 = out[2]
    assert r2["clean_text"] == "no pii here at all"
    assert (r2["n_email"], r2["n_ipv4"], r2["n_phone"], r2["n_ssn"]) == (
        0, 0, 0, 0,
    )


def test_pii_phone_and_ssn_shapes_do_not_cross_match(spark):
    # 3-3-4 is a phone, 3-2-4 is an SSN; neither pattern may fire on the
    # other's digit shape (redaction order must not matter for these).
    df = _docs(spark, [(1, "p 555-867-5309 s 123-45-6789")])
    r = pii_scrub(df).collect()[0]
    assert (r["n_phone"], r["n_ssn"]) == (1, 1)
    assert r["clean_text"] == "p <PHONE> s <SSN>"


def test_decontaminate_flags_overlapping_docs(spark):
    evald = _docs(spark, [(100, "the quick brown fox jumps high")])
    train = _docs(
        spark,
        [
            # shares 3-grams "the quick brown", "quick brown fox",
            # "brown fox jumps" with eval → 3 overlaps
            (1, "saw the quick brown fox jumps far"),
            (2, "completely different words entirely here"),
            (3, "too short"),  # no 3-gram at all
        ],
    )
    out = {
        r["doc_id"]: r
        for r in decontaminate(train, evald, n=3, min_overlap=3).collect()
    }
    assert out[1]["overlap_ngrams"] == 3
    assert out[1]["contaminated"] is True
    assert out[2]["overlap_ngrams"] == 0
    assert out[2]["contaminated"] is False
    assert out[3]["total_ngrams"] == 0
    assert out[3]["contamination_ratio"] == 0.0


def test_repetition_metrics_on_crafted_doc(spark):
    # "a b a b a" → bigrams: "a b","b a","a b","b a" → top "a b" (tie on
    # count 2 broken lexicographically), frac 2/4, dup frac 1 - 2/4.
    df = _docs(spark, [(1, "a b a b a"), (2, "x")])
    out = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    r = out[1]
    assert r["n_words"] == 5
    assert r["distinct_word_ratio"] == 0.4
    assert r["top_bigram"] == "a b"
    assert r["top_bigram_count"] == 2
    assert r["top_bigram_frac"] == 0.5
    assert r["dup_bigram_frac"] == 0.5
    # single-word doc: no bigrams, zero-safe defaults
    r2 = out[2]
    assert (r2["top_bigram"], r2["top_bigram_count"]) == ("", 0)
    assert (r2["top_bigram_frac"], r2["dup_bigram_frac"]) == (0.0, 0.0)


def test_corpus_filter_reasons_first_match_wins(spark):
    long_unique = " ".join(f"w{i}" for i in range(60))  # diverse, long
    repeated = "spam ham " * 40  # high bigram repetition, in-bounds length
    df = _docs(
        spark,
        [
            (1, "tiny"),  # too_short
            (2, long_unique + " " + long_unique),  # 459 chars → too_long
            (3, repeated.strip()),
            (4, long_unique),  # kept
        ],
    )
    out = {
        r["doc_id"]: r
        for r in corpus_filter(df, min_chars=20, max_chars=400).collect()
    }
    assert out[1]["drop_reason"] == "too_short"
    assert out[2]["drop_reason"] == "too_long"
    # "spam ham spam ham ..." repeats both bigrams; lexical diversity
    # fails before the bigram rule (first matching rule wins)
    assert out[3]["drop_reason"] == "low_lexical_diversity"
    assert out[4]["drop_reason"] == ""
    assert out[4]["keep"] is True


def test_corpus_filter_repeated_bigram_reason(spark):
    # diverse vocab but one dominating bigram: passes diversity, fails
    # the top-bigram cap
    # 30 words, "alpha beta" appears 5×: top_bigram_frac = 5/29 ≈ 0.172
    text = "alpha beta " * 5 + " ".join(f"u{i}" for i in range(20))
    df = _docs(spark, [(1, text.strip())])
    r = corpus_filter(
        df, min_chars=10, max_chars=5000, min_distinct_word_ratio=0.4
    ).collect()[0]
    assert r["drop_reason"] == "repeated_bigram"
    assert r["keep"] is False


def test_pii_scrub_streams_identically_to_batch(spark, tmp_path):
    """The cleaning tier is a stateless Project, so it composes directly
    into readStream → transform → writeStream: scrubbing a document
    stream must produce exactly the batch answer on the same input."""
    from rclabsapi_spark.catalog import load_table

    d = str(tmp_path / "docs_in")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" mail u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.org ssn 123-45-6789"),
        ).alias("text"),
    )
    docs.write.mode("overwrite").parquet(d)
    batch = {
        r["doc_id"]: (r["n_email"], r["n_ssn"], r["clean_text"])
        for r in pii_scrub(spark.read.parquet(d)).collect()
    }
    assert all(v[0] >= 1 and v[1] >= 1 for v in batch.values())

    stream = spark.readStream.schema(
        spark.read.parquet(d).schema
    ).parquet(d)
    q = (
        pii_scrub(stream)
        .writeStream.format("memory")
        .queryName("pii_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["n_email"], r["n_ssn"], r["clean_text"])
        for r in spark.sql("SELECT * FROM pii_stream").collect()
    }
    assert got == batch


def test_shingle_lambda_mirror_matches_codegen_path(spark):
    """`shingles()` (the array-lambda mirror of the oracle's
    list_transform SQL) and `shingle_posting` (the codegen path every
    operator uses) must produce the same multiset of n-grams per doc —
    the slow mirror exists to document the oracle semantics, the fast
    path to run them."""
    from pyspark.sql import functions as F

    from rclabsapi_spark.llm.dedup import shingle_posting, shingles

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    via_lambda = (
        docs.select(
            "doc_id", F.explode(F.expr(shingles("text", 5))).alias("shingle")
        )
        .groupBy("doc_id", "shingle")
        .count()
    )
    via_window = (
        shingle_posting(docs, n=5).groupBy("doc_id", "shingle").count()
    )
    assert via_lambda.exceptAll(via_window).count() == 0
    assert via_window.exceptAll(via_lambda).count() == 0


def test_lang_id_evaluation_confusion_matrix(spark):
    """The confusion matrix sums to the corpus, per-true shares sum to 1,
    diagonal recall is reported honestly, and the matrix matches a
    python recompute of the marker heuristic."""
    from collections import Counter

    from pyspark.sql import functions as F

    from rclabsapi_spark.llm.text import LANG_MARKERS, lang_id_evaluation

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = lang_id_evaluation(docs).collect()
    total = sum(r["n"] for r in rows)
    assert total == docs.count()

    shares = {}
    for r in rows:
        shares.setdefault(r["true_lang"], 0.0)
        shares[r["true_lang"]] += r["share_of_true"]
    assert all(abs(s - 1.0) < 1e-9 for s in shares.values())

    # python recompute of the same heuristic (declaration-order ties)
    langs = list(LANG_MARKERS)
    markers = {l: set(m) for l, m in LANG_MARKERS.items()}
    expect = Counter()
    for r in docs.select("lang", "text").collect():
        toks = r["text"].split(" ")
        scores = {l: sum(1 for t in toks if t in markers[l]) for l in langs}
        best = langs[0]
        for l in langs[1:]:
            if scores[l] > scores[best]:
                best = l
        expect[(r["lang"], best)] += 1
    got = {(r["true_lang"], r["predicted_lang"]): r["n"] for r in rows}
    assert got == dict(expect)


def test_canonicalize_url_rules(spark):
    """Every canonicalization rule on planted URLs: scheme/host case,
    www strip, default vs non-default ports, fragment, utm_/click-id
    param drops, param sorting, trailing-slash policy."""
    from rclabsapi_spark.llm.cleaning import (
        canonicalize_url,
        url_registrable_domain,
    )

    cases = [
        # (raw, expected_canon, expected_domain)
        ("HTTPS://WWW.Ex.COM:443/a/b/?utm_source=x&b=2&a=1#frag",
         "https://ex.com/a/b?a=1&b=2", "ex.com"),
        ("http://ex.com:80/", "http://ex.com/", "ex.com"),
        ("http://ex.com:8080/p", "http://ex.com:8080/p", "ex.com"),
        ("https://sub.news.ex.co/x?gclid=1&fbclid=2&ref=h&sessionid=9",
         "https://sub.news.ex.co/x", "ex.co"),
        ("https://ex.com", "https://ex.com/", "ex.com"),
        ("https://ex.com/?", "https://ex.com/", None),  # empty query
        ("https://ex.com/p///", "https://ex.com/p", "ex.com"),
        ("https://localhost/p?id=1", "https://localhost/p?id=1",
         "localhost"),
        ("https://ex.com/p?utm_campaign=z&utm_medium=y",
         "https://ex.com/p", "ex.com"),
    ]
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _, _) in enumerate(cases)],
        "i long, url string",
    )
    from pyspark.sql import functions as F

    got = {
        r["i"]: (r["c"], r["d"])
        for r in df.select(
            "i",
            canonicalize_url(F.col("url")).alias("c"),
            url_registrable_domain(
                canonicalize_url(F.col("url"))
            ).alias("d"),
        ).collect()
    }
    for i, (raw, want_c, want_d) in enumerate(cases):
        assert got[i][0] == want_c, (raw, got[i][0], want_c)
        if want_d is not None:
            assert got[i][1] == want_d, (raw, got[i][1], want_d)


def test_registrable_domain_psl(spark):
    """PSL semantics on the canonical textbook cases (publicsuffix.org
    algorithm): ccTLD second-levels (bbc.co.uk, NOT co.uk — the r9
    last-two-labels bug), private hosting suffixes, wildcard families,
    exception rules, unknown-TLD fallback, and suffix-only hosts."""
    from pyspark.sql import functions as F

    from rclabsapi_spark.llm.psl import registrable_domain

    cases = [
        ("news.bbc.co.uk", "bbc.co.uk"),
        ("bbc.co.uk", "bbc.co.uk"),
        ("co.uk", "co.uk"),            # host IS a public suffix
        ("www.gov.uk", "www.gov.uk"),  # direct child of gov.uk
        ("a.b.example.com", "example.com"),
        ("myblog.github.io", "myblog.github.io"),  # private suffix
        ("pages.myblog.github.io", "myblog.github.io"),
        ("anything.example.ck", "anything.example.ck"),  # *.ck wildcard
        ("example.ck", "example.ck"),  # equals a wildcard public suffix
        ("www.ck", "www.ck"),          # !www.ck exception
        ("sub.www.ck", "www.ck"),
        ("city.kawasaki.jp", "city.kawasaki.jp"),  # exception
        ("x.other.kawasaki.jp", "x.other.kawasaki.jp"),  # wildcard
        ("shop.example.com.au", "example.com.au"),
        ("foo.bar.co.jp", "bar.co.jp"),
        ("example.unknowntld", "example.unknowntld"),  # '*' default
        ("deep.example.unknowntld", "example.unknowntld"),
        ("localhost", "localhost"),
        # full-list-only rules (absent from the old curated subset):
        # a 5-label normal rule — mis-resolves under a hard-coded k<=4
        (
            "bucket.s3.dualstack.ap-south-1.amazonaws.com",
            "bucket.s3.dualstack.ap-south-1.amazonaws.com",
        ),
        (
            "x.bucket.s3.dualstack.ap-south-1.amazonaws.com",
            "bucket.s3.dualstack.ap-south-1.amazonaws.com",
        ),
        # a wildcard with a 4-label parent (5-label public suffix)
        (
            "vm.proj.compute.amazonaws.com.cn",
            "vm.proj.compute.amazonaws.com.cn",
        ),
        (
            # the wildcard matches ONE label: the suffix under a deeper
            # host is still proj.compute..., so eTLD+1 is 6 labels
            "a.vm.proj.compute.amazonaws.com.cn",
            "vm.proj.compute.amazonaws.com.cn",
        ),
        # private-section hosting suffix from the full list
        ("site.freetls.fastly.net", "site.freetls.fastly.net"),
        ("sub.site.freetls.fastly.net", "site.freetls.fastly.net"),
        # exception only in the full list
        ("city.kobe.jp", "city.kobe.jp"),
        ("ward.city.kobe.jp", "city.kobe.jp"),
        ("other.kobe.jp", "other.kobe.jp"),  # *.kobe.jp wildcard
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "i long, host string"
    )
    got = {
        r["i"]: r["d"]
        for r in df.select(
            "i", registrable_domain(F.col("host")).alias("d")
        ).collect()
    }
    for i, (host, want) in enumerate(cases):
        assert got[i] == want, (host, got[i], want)


def test_registrable_domain_psl_matches_oracle_sql(spark):
    """The DuckDB oracle re-implements the PSL matching algorithm
    independently (correlated rule lookups + CASE chain) — run both
    implementations over the same host list and require identity, so a
    shared-design bug can't hide behind a mirrored oracle (the BPE
    lesson)."""
    import duckdb
    from pyspark.sql import functions as F

    from rclabsapi_spark.llm.psl import (
        psl_match_sql,
        psl_values_sql,
        registrable_domain,
    )

    hosts = [
        "news.bbc.co.uk", "bbc.co.uk", "co.uk", "a.b.example.com",
        "myblog.github.io", "anything.example.ck", "www.ck",
        "sub.www.ck", "city.kawasaki.jp", "x.other.kawasaki.jp",
        "shop.example.com.au", "example.unknowntld", "localhost",
        "deep.a.gov.uk", "s.t.u.v.co.in", "blogspot.com",
        "me.blogspot.com",
        # full-list depths: 5-label normal rule, 4-label wildcard
        # parent, full-list-only exception and private suffixes
        "bucket.s3.dualstack.ap-south-1.amazonaws.com",
        "x.bucket.s3.dualstack.ap-south-1.amazonaws.com",
        "vm.proj.compute.amazonaws.com.cn",
        "a.vm.proj.compute.amazonaws.com.cn",
        "site.freetls.fastly.net", "sub.site.freetls.fastly.net",
        "city.kobe.jp", "ward.city.kobe.jp", "other.kobe.jp",
    ]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    spark_out = {
        r["host"]: r["d"]
        for r in df.select(
            "host", registrable_domain(F.col("host")).alias("d")
        ).collect()
    }
    con = duckdb.connect()
    host_rows = ", ".join(f"('{h}')" for h in hosts)
    frag = psl_match_sql(host="host")
    sql = f"""
    WITH hosts(host) AS (VALUES {host_rows}),
    psl AS (SELECT * FROM {psl_values_sql()}),
    spx AS (SELECT host, {frag["split"]} FROM hosts),
    cand AS (SELECT *, {frag["cands"]} FROM spx),
    typed AS (SELECT *, {frag["typed"]} FROM cand),
    pslen AS (SELECT *, {frag["pslen"]} FROM typed)
    SELECT host, {frag["domain"]} AS d
    FROM pslen
    """
    duck_out = dict(con.execute(sql).fetchall())
    assert spark_out == duck_out


def test_psl_hash_table_roundtrip_all_rules(spark):
    """The expression-level open-addressed rule table must find EVERY
    rule in the full 9.5k-entry public list with its exact type digit
    (one Spark job over the rule set itself), and absent keys must
    resolve to NULL — the empty-slot-proves-absence probe-chain
    invariant."""
    from pyspark.sql import functions as F

    from rclabsapi_spark.functions.scalars import let
    from rclabsapi_spark.llm.psl import _load_rules, _lookup, _rule_arr

    rules = _load_rules()
    arr, mp = _rule_arr()
    probes = [(r, str(t)) for r, t in rules] + [
        ("definitely-absent.example-xyz", None),
        ("x.y.z.not-a-rule", None),
        ("", None),
    ]
    df = spark.createDataFrame(
        [(i, r) for i, (r, _) in enumerate(probes)], "i long, cand string"
    )
    got = {
        row["i"]: row["t"]
        for row in df.select(
            "i",
            let(arr, lambda a: _lookup(a, mp, F.col("cand"))).alias("t"),
        ).collect()
    }
    bad = [
        (probes[i][0], got[i], want)
        for i, (_, want) in enumerate(probes)
        if got[i] != want
    ]
    assert not bad, bad[:10]


def _py_registrable_domain(host: str, rules: dict[str, int]) -> str:
    """Independent pure-Python PSL reference (publicsuffix.org spec,
    implemented from scratch for this test — list/loop style, nothing
    shared with the Spark expression chain): exception prevails (suffix
    = its parent), else the longest normal/wildcard match, else the
    implicit '*' default; registrable = suffix + one label, or the
    host itself when nothing is above the suffix."""
    labels = host.split(".")
    n = len(labels)
    ps_len = None
    # exceptions first
    for k in range(n, 0, -1):
        if rules.get(".".join(labels[n - k:])) == 3:
            ps_len = k - 1
            break
    if ps_len is None:
        best = 0
        for k in range(1, n + 1):
            cand = ".".join(labels[n - k:])
            if rules.get(cand) == 1 and k > best:
                best = k
            # wildcard parent of length k makes (k+1)-label suffixes
            if rules.get(cand) == 2 and k + 1 <= n and k + 1 > best:
                best = k + 1
        ps_len = best if best > 0 else 1  # implicit '*'
    return (
        ".".join(labels[n - ps_len - 1:]) if n > ps_len else host
    )


def test_registrable_domain_matches_python_reference(spark):
    """Cross-check the Spark expression chain against an independent
    pure-Python implementation of the PSL spec over hosts synthesized
    from the FULL rule list: every rule becomes four hosts (the rule
    itself, +1 label, +2 labels, and a www.-prefixed variant), so every
    normal/wildcard/exception path and both above/at-suffix cases are
    exercised across all 9.5k rules."""
    from pyspark.sql import functions as F

    from rclabsapi_spark.llm.psl import _load_rules, registrable_domain

    rules = dict(_load_rules())
    hosts = []
    for i, (rule, _) in enumerate(_load_rules()):
        hosts.append(rule)
        hosts.append(f"reg-{i % 97}.{rule}")
        if i % 3 == 0:
            hosts.append(f"deep.reg-{i % 97}.{rule}")
        if i % 5 == 0:
            hosts.append(f"www.{rule}")
    hosts = sorted(set(hosts))
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {
        r["host"]: r["d"]
        for r in df.select(
            "host", registrable_domain(F.col("host")).alias("d")
        ).collect()
    }
    bad = []
    for h in hosts:
        want = _py_registrable_domain(h, rules)
        if got[h] != want:
            bad.append((h, got[h], want))
    assert not bad, (len(bad), bad[:10])
