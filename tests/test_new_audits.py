"""Structural invariants for the r11 composite audits — the oracle
parity for these lives in test_oracle_parity.py; these pin the
relationships that must hold for ANY corpus, so a future edit that
keeps hash-parity by breaking both engines the same way still has to
get the mathematics right."""

from __future__ import annotations

from rclabsapi_spark.registry import registered

SF = "/root/testdata/sf0.001"


def test_tier_agreement_matrix_monotonicity(spark):
    rows = registered()["dedup_tier_agreement"].fn(spark, SF).collect()
    cells = {(r["j_threshold"], r["max_hamming"]): r for r in rows}
    js = sorted({j for j, _ in cells})
    hs = sorted({h for _, h in cells})
    assert len(cells) == len(js) * len(hs)  # full spine, empty tiers kept
    for j, h in cells:
        r = cells[(j, h)]
        assert 0 <= r["n_both"] <= min(r["n_minhash"], r["n_simhash"])
        assert 0.0 <= r["pair_jaccard"] <= 1.0
        union = r["n_minhash"] + r["n_simhash"] - r["n_both"]
        if union == 0:
            assert r["pair_jaccard"] == 0.0
    # SimHash side widens with the cutoff; MinHash side narrows with
    # the threshold; each side is constant along the other axis.
    for j in js:
        seq = [cells[(j, h)]["n_simhash"] for h in hs]
        assert seq == sorted(seq)
        assert len({cells[(j, h)]["n_minhash"] for h in hs}) >= 1
    for h in hs:
        seq = [cells[(j, h)]["n_minhash"] for j in js]
        assert seq == sorted(seq, reverse=True)
        assert len({cells[(j, h)]["n_simhash"] for j in js}) == 1


def test_incremental_card_deltas_consistent(spark):
    reg = registered()
    card = {r["source"]: r for r in reg["train_incremental_card"].fn(spark, SF).collect()}
    diff = {r["source"]: r for r in reg["dq_snapshot_diff"].fn(spark, SF).collect()}
    assert card, "no sources in the fixture card"
    for s, r in card.items():
        assert r["delta_docs"] == r["n_docs_new"] - r["n_docs_old"]
        assert 0.0 <= r["churn_rate"] <= 1.0
        got = round(r["mean_quality_new"] - r["mean_quality_old"], 6)
        assert abs(r["delta_mean_quality"] - got) < 1e-9
        # same synthesized snapshots as the diff query → same churn
        assert s in diff
        assert r["churn_rate"] == diff[s]["churn_rate"]
        # and the diff's own counts reconcile with the card's sides
        assert diff[s]["n_old"] == r["n_docs_old"]
        assert diff[s]["n_new"] == r["n_docs_new"]


def test_token_savings_reconciles_with_dedup_exact(spark):
    """The savings report and dedup_exact use the same keeper rule, so
    their totals must reconcile: Σ(n_docs - n_dup_docs) over sources =
    |dedup_exact groups|, Σ n_docs = corpus size, and per row the token
    partition and the rate's definition hold exactly."""
    reg = registered()
    rows = reg["dedup_token_savings"].fn(spark, SF).collect()
    groups = reg["dedup_exact"].fn(spark, SF).collect()
    assert rows, "no sources in the fixture"
    assert sum(r["n_docs"] - r["n_dup_docs"] for r in rows) == len(groups)
    assert sum(r["n_docs"] for r in rows) == sum(g["dup_count"] for g in groups)
    for r in rows:
        assert r["tokens_kept"] + r["tokens_dropped"] == r["tokens_total"]
        assert 0 <= r["n_dup_docs"] < r["n_docs"]
        want = int(r["tokens_dropped"] / r["tokens_total"] * 1e6 + 0.5) / 1e6
        assert r["savings_rate"] == want
