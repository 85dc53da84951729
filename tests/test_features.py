"""Unit + plan tests for operators/features.py (round-4 pipeline batch)."""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import functions as F

from es_ch_sync_spark.operators import multimodal as mm
from es_ch_sync_spark.operators.features import (
    bloom_semijoin_audit,
    chunk_documents,
    embedding_gram,
    scd2_join,
    scd2_versions,
)
from es_ch_sync_spark.queries import spark_queries


def test_chunk_covers_every_token_no_short_tails(spark):
    # 70 tokens, window 32, stride 24 → starts 0, 24, 38 (clamped from 48)
    text = " ".join(f"w{i}" for i in range(70))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, window=32, stride=24).collect(),
        key=lambda r: r.start_tok,
    )
    assert [r.start_tok for r in rows] == [0, 24, 38]
    assert all(r.n_tok == 32 for r in rows)  # clamp, never a short tail
    # last chunk ends exactly at the last token
    assert rows[-1].start_tok + rows[-1].n_tok == 70


def test_chunk_short_doc_single_whole_chunk(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    rows = chunk_documents(df, window=32, stride=24).collect()
    assert len(rows) == 1
    assert rows[0].start_tok == 0 and rows[0].n_tok == 3


def test_chunk_exact_multiple_no_duplicate_start(spark):
    # n - window divisible by stride: clamped last == regular last start
    text = " ".join(f"w{i}" for i in range(56))  # 56-32 = 24 = stride
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = chunk_documents(df, window=32, stride=24).collect()
    assert sorted(r.start_tok for r in rows) == [0, 24]


def test_chunk_plan_has_no_shuffle(spark, sf_dir):
    from es_ch_sync_spark.io.sources import read_parquet_table

    docs = read_parquet_table(spark, sf_dir, "documents")
    plan = (
        chunk_documents(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Generate" in plan


def test_bloom_no_false_negatives_and_broadcast(spark):
    build = spark.range(0, 50).select(F.col("id").alias("k"))
    probe = spark.range(0, 500).select(
        F.col("id").alias("pid"),
        (F.col("id") % 100).alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
    )
    out = bloom_semijoin_audit(
        build, probe, "k", "k", "pid", "g", m=256, k=3
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # probe-side joins broadcast the tiny occupied-set / build-key frames;
    # the final full-outer merge of two count frames may be SMJ (full outer
    # cannot broadcast) — that join moves O(groups) rows, which is fine.
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    agg = out.agg(
        F.sum("false_pos").alias("fp"),
        F.sum("exact_match").alias("ex"),
        F.sum("bloom_pass").alias("bp"),
    ).collect()[0]
    assert agg.ex == 250  # ids with k < 50: 5 of every 10
    assert agg.bp >= agg.ex  # a bloom filter never drops a true match
    assert agg.fp == agg.bp - agg.ex >= 0


def test_gram_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8)).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    ).repartition(4)
    got = {
        (r.i, r.j): r.gram
        for r in embedding_gram(df, dim=8).collect()
    }
    want = vecs.astype("float64").T @ vecs.astype("float64")
    assert len(got) == 8 * 9 // 2
    for (i, j), v in got.items():
        assert v == pytest.approx(want[i, j], abs=2e-4)


def test_scd2_versions_intervals_tile_timeline(spark):
    ev = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (1, 30, 102), (2, 15, 200)],
        "user long, t long, eid long",
    )
    v = scd2_versions(ev, "user", "t", "eid").collect()
    by_eid = {r.eid: r for r in v}
    assert by_eid[100].valid_to == 20 and by_eid[101].valid_to == 30
    assert by_eid[102].valid_to is None and by_eid[200].valid_to is None


def test_scd2_join_picks_active_version(spark):
    ev = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101)], "user long, t long, eid long"
    )
    versions = scd2_versions(ev, "user", "t", "eid")
    facts = spark.createDataFrame(
        [(1, 9, 900), (1, 10, 901), (1, 19, 902), (1, 20, 903), (1, 99, 904)],
        "user long, ft long, fid long",
    )
    out = scd2_join(facts, versions, "user", "ft").select("fid", "eid")
    got = {r.fid: r.eid for r in out.collect()}
    # fact at t=9 predates every version; boundary t=20 belongs to the new one
    assert got == {901: 100, 902: 100, 903: 101, 904: 101}


def test_zipf_slope_is_negative_on_corpus(spark, sf_dir):
    qs = spark_queries()
    row = qs["zipf_fit"](spark, sf_dir).collect()[0]
    assert 2 <= row.n_words <= 100  # synthetic corpus vocab is small
    assert row.zipf_slope < 0
    assert 0.0 <= row.r2 <= 1.0


def test_centroid_drift_zero_for_single_group(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 1.0], 0) for i in range(6)],
        "vec_id long, embedding array<float>, label int",
    )
    from es_ch_sync_spark.operators.features import centroid_drift

    rows = centroid_drift(df).collect()
    assert len(rows) == 1 and rows[0].drift == 0.0 and rows[0].n_vectors == 6


def test_winsorized_mean_within_clip_bounds(spark, sf_dir):
    from es_ch_sync_spark.io.sources import read_parquet_table
    from es_ch_sync_spark.operators.features import winsorized_stats

    ev = read_parquet_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    for r in winsorized_stats(ev, "value", ["event_type"]).collect():
        assert r.q_lo <= r.wins_mean <= r.q_hi
        assert r.wins_std >= 0


def test_scd2_upsert_equals_full_recompute(spark):
    rows = [
        # user 1: history + batch changes; user 2: history only (untouched);
        # user 3: appears only in the batch (new key)
        (1, 10, 100, 1.0), (1, 20, 101, 2.0), (1, 35, 102, 3.0),
        (2, 12, 200, 4.0),
        (3, 40, 300, 5.0),
    ]
    ev = spark.createDataFrame(rows, "user long, t long, eid long, v double")
    from es_ch_sync_spark.operators.features import scd2_upsert, scd2_versions

    hist = ev.where(F.col("t") < 30)
    batch = ev.where(F.col("t") >= 30)
    stored = scd2_versions(hist, "user", "t", "eid")
    got = scd2_upsert(stored, batch, "user", "t", "eid")
    want = scd2_versions(ev, "user", "t", "eid")
    k = lambda r: (r.user, r.eid)  # noqa: E731
    gs, ws = sorted(got.collect(), key=k), sorted(want.collect(), key=k)
    assert [
        (r.user, r.eid, r.valid_from, r.valid_to) for r in gs
    ] == [(r.user, r.eid, r.valid_from, r.valid_to) for r in ws]


def test_fingerprint_nn_identical_docs_are_mutual_neighbors(spark):
    from es_ch_sync_spark.operators.features import fingerprint_nearest_neighbor

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "zeta eta theta iota"),
            (4, "zeta eta theta kappa"),
        ],
        "doc_id long, text string",
    )
    nn = {r.doc_id: (r.nbr_id, r.sim) for r in
          fingerprint_nearest_neighbor(docs, k_terms=4).collect()}
    assert nn[1] == (2, 1.0) and nn[2] == (1, 1.0)
    assert nn[3][0] == 4 and nn[4][0] == 3
    assert nn[3][1] < 1.0


def test_fingerprint_nn_plan_no_cartesian(spark, sf_dir):
    qs = spark_queries()
    plan = (
        qs["fingerprint_nn"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # the doc×doc pair join must go through the term inverted index (an
    # equi-join on term), never an all-pairs join; the only BNLJ in the
    # plan is the broadcast-of-one-row n_docs total inside tfidf scoring.
    assert "Join [term" in plan


def test_lag_features_window_semantics(spark):
    from es_ch_sync_spark.operators.features import lag_features

    df = spark.createDataFrame(
        [(1, 100, 10, 1.0), (1, 200, 11, 3.0), (1, 300, 12, 5.0),
         (2, 150, 20, 7.0)],
        "user long, t long, eid long, v double",
    )
    rows = {r.eid: r for r in
            lag_features(df, "user", "t", "v", "eid", roll_n=3).collect()}
    assert rows[10].prev_value is None and rows[10].gap_us is None
    assert rows[11].prev_value == 1.0 and rows[11].gap_us == 100
    assert rows[12].roll_mean == 3.0 and rows[12].roll_n == 3
    assert rows[20].roll_n == 1


def test_key_skew_report_uniform_vs_hot(spark):
    from es_ch_sync_spark.operators.features import key_skew_report

    uniform = spark.range(0, 1000).select((F.col("id") % 100).alias("k"))
    hot = spark.range(0, 1000).select(
        F.when(F.col("id") < 900, F.lit(0)).otherwise(F.col("id")).alias("k")
    )
    u = key_skew_report(uniform, "k").collect()[0]
    h = key_skew_report(hot, "k").collect()[0]
    assert u.max_share == pytest.approx(0.01)
    assert h.max_share == pytest.approx(0.9)
    assert h.hhi > u.hhi  # the hot key dominates the Herfindahl index


def test_dhash_matches_formula_and_groups_identical_images(spark):
    from es_ch_sync_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [(0, "a"), (1, "b"), (256, "c")],  # 256 ≡ 0 mod 256 → same pixels as 0
        "doc_id long, text string",
    )
    media = mm.synth_media(docs, "image")
    got = {r.media_id: r.dhash for r in mm.dhash_features(media).collect()}

    def expected(mid: int) -> int:
        h = 0
        for y in range(6):
            for x in range(7):
                g1 = sum((mid + 3 * x + 5 * y + 85 * c) % 256 for c in range(3))
                g2 = sum((mid + 3 * (x + 1) + 5 * y + 85 * c) % 256 for c in range(3))
                if g1 > g2:
                    h |= 1 << (y * 7 + x)
        return h

    assert got == {m: expected(m) for m in (0, 1, 256)}
    assert got[0] == got[256]  # perceptually identical → same hash


def test_pca_top_component_matches_numpy(spark):
    """The quantized power iteration converges to numpy's top eigenvector
    of the uncentered second-moment matrix (up to sign) on a corpus with
    a planted dominant direction, and eigval approximates its
    eigenvalue."""
    import numpy as np

    from es_ch_sync_spark.operators.features import pca_top_component

    rng = np.random.RandomState(7)
    d, n = 16, 400
    direction = np.zeros(d)
    direction[3] = 1.0
    x = rng.normal(0, 0.05, size=(n, d)) + rng.normal(0, 1.0, size=(n, 1)) * direction
    rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = pca_top_component(emb, dim=d, iters=12).collect()
    v = np.zeros(d)
    for r in got:
        v[r["dim_idx"]] = r["loading"]
    # numpy ground truth on the SAME float32-cast data
    x32 = x.astype(np.float32).astype(np.float64)
    g = x32.T @ x32 / n
    evals, evecs = np.linalg.eigh(g)
    top = evecs[:, -1]
    if np.dot(top, v) < 0:
        top = -top
    assert np.allclose(v, top, atol=1e-3)
    assert abs(got[0]["eigval"] - evals[-1]) < 1e-3


def test_pca_all_zero_corpus_returns_zero_component(spark):
    """Degenerate corpus (all-zero embeddings → all-zero gram matrix): no
    principal direction exists; the quantized power iteration must return
    the zero vector with eigenvalue 0, not raise ZeroDivisionError
    (ADVICE r4: features.py _power_iterate divided by an unguarded norm)."""
    from es_ch_sync_spark.operators.features import pca_top_component

    d = 8
    rows = [(i, [0.0] * d) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = pca_top_component(emb, dim=d, iters=6).collect()
    assert len(got) == d
    assert all(r["loading"] == 0.0 and r["eigval"] == 0.0 for r in got)


def test_pca_deterministic_across_runs(spark, sf_dir):
    """Two invocations over the same corpus return identical rows (no RNG,
    no order dependence — every sum is quantized)."""
    from es_ch_sync_spark.io.sources import read_parquet_table
    from es_ch_sync_spark.operators.features import pca_top_component

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, pca_top_component(emb).collect()))
    b = sorted(map(tuple, pca_top_component(emb).collect()))
    assert a == b


def test_poisson_bootstrap_statistics(spark):
    """Replicate means center on the true mean with spread ≈ the
    analytic SE (σ/√n — Poisson bootstrap weights have unit variance),
    and the replicate set is deterministic across runs."""
    import math
    import statistics

    from es_ch_sync_spark.operators.analytics import poisson_bootstrap_means

    n = 4000
    df = spark.range(n).select(
        F.col("id").alias("rid"), (F.col("id") % 100).cast("double").alias("x")
    )
    out = {r["replicate"]: r["boot_mean"]
           for r in poisson_bootstrap_means(df, "x", "rid", replicates=32).collect()}
    assert len(out) == 32
    true_mean = (n - 1) % 100 / 2 if False else sum(i % 100 for i in range(n)) / n
    boot = list(out.values())
    assert abs(statistics.mean(boot) - true_mean) < 1.0
    sd = statistics.pstdev(boot)
    analytic_se = statistics.pstdev([i % 100 for i in range(n)]) / math.sqrt(n)
    assert 0.4 * analytic_se < sd < 2.5 * analytic_se
    again = {r["replicate"]: r["boot_mean"]
             for r in poisson_bootstrap_means(df, "x", "rid", replicates=32).collect()}
    assert again == out


def test_mcnemar_known_counts(spark):
    """b=3, c=1 -> chi2 = 4/4 = 1; all-agree panel -> NULL chi2."""
    from es_ch_sync_spark.operators.analytics import mcnemar_test

    rows = [(True, False)] * 3 + [(False, True)] + [(True, True)] * 2 + [
        (False, False)
    ]
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    r = mcnemar_test(df, "a", "b").collect()[0]
    assert (r["n"], r["n10"], r["n01"], r["chi2"]) == (7, 3, 1, 1.0)
    agree = spark.createDataFrame([(True, True), (False, False)], "a boolean, b boolean")
    assert mcnemar_test(agree, "a", "b").collect()[0]["chi2"] is None


def test_fleiss_kappa_hand_computed(spark):
    """Perfect agreement -> 1; the textbook half-split panel (every item
    rated 1/1 by 2 raters) -> kappa < 0 (worse than chance); incomplete
    panels NULL out."""
    from es_ch_sync_spark.operators.analytics import fleiss_kappa

    perfect = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y"), (2, "y")], "item long, cat string"
    )
    assert fleiss_kappa(perfect, "item", "cat", 2).collect()[0]["kappa"] == 1.0
    # 2 raters always disagreeing: P_bar = 0, P_e = 0.5 -> kappa = -1
    split = spark.createDataFrame(
        [(i, c) for i in (1, 2, 3) for c in ("x", "y")], "item long, cat string"
    )
    r = fleiss_kappa(split, "item", "cat", 2).collect()[0]
    assert (r["p_bar"], r["p_e"], r["kappa"]) == (0.0, 0.5, -1.0)
    incomplete = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y")], "item long, cat string"
    )
    assert fleiss_kappa(incomplete, "item", "cat", 2).collect()[0]["kappa"] is None


def test_ab_mde_closed_form(spark):
    """n_a=n_b=100, x_a=x_b=10 -> pooled 0.1, mde = 2.801585*sqrt(.09*.02)."""
    import math

    from es_ch_sync_spark.operators.analytics import ab_mde

    rows = [("t", 1)] * 10 + [("t", 0)] * 90 + [("c", 1)] * 10 + [("c", 0)] * 90
    df = spark.createDataFrame(rows, "arm string, converted int")
    r = ab_mde(df, "arm", "converted", "t", "c").collect()[0]
    exp = 2.801585 * math.sqrt(0.1 * 0.9 * (1 / 100 + 1 / 100))
    assert r["pooled_rate"] == 0.1 and r["mde_abs"] == round(exp, 6)
    assert r["mde_rel"] == round(exp / 0.1, 6)


def test_adjusted_rand_index_known_values(spark):
    """Identical partitions -> 1; the Hubert-Arabie worked example
    ([1,1,2,2,3,3] vs [1,2,1,2,3,3]) -> ARI = (3-7/5)/(7-7/5)... computed
    directly from the contingency table below."""
    from es_ch_sync_spark.operators.analytics import adjusted_rand_index

    la = spark.createDataFrame(
        [(i, l) for i, l in zip(range(6), ["a", "a", "b", "b", "c", "c"])],
        "id long, label_a string",
    )
    lb_same = spark.createDataFrame(
        [(i, l) for i, l in zip(range(6), ["p", "p", "q", "q", "r", "r"])],
        "id long, label_b string",
    )
    assert adjusted_rand_index(la, lb_same, "id").collect()[0]["ari"] == 1.0
    lb = spark.createDataFrame(
        [(i, l) for i, l in zip(range(6), ["p", "q", "p", "q", "r", "r"])],
        "id long, label_b string",
    )
    r = adjusted_rand_index(la, lb, "id").collect()[0]
    # contingency: rows a,b each split 1/1 across p,q; c -> r,r (2)
    # sum_ij = C(2,2)=1; sum_a = 3*C(2,2)=3; sum_b = 3*C(2,2)=3; C(6,2)=15
    # E = 9/15 = 0.6; ARI = (1-0.6)/(3-0.6) = 0.4/2.4
    assert (r["sum_comb_ij"], r["sum_comb_a"], r["sum_comb_b"]) == (1, 3, 3)
    assert r["ari"] == round(0.4 / 2.4, 6)


def test_vocab_coverage_and_entropy_rate_tiny(spark):
    """Hand corpus: coverage checkpoints cumulative by rank; a fully
    deterministic bigram chain has h_cond = 0."""
    import math

    from es_ch_sync_spark.operators.text import (
        entropy_rate_bigram,
        vocab_coverage_curve,
    )

    docs = spark.createDataFrame(
        [(1, "a a a b b c")], "doc_id long, text string"
    )
    cov = {r["vocab_size"]: r for r in
           vocab_coverage_curve(docs, checkpoints=(1, 2, 3)).collect()}
    assert [cov[v]["covered_tokens"] for v in (1, 2, 3)] == [3, 5, 6]
    assert cov[2]["coverage"] == round(5 / 6, 6)
    er = entropy_rate_bigram(
        spark.createDataFrame([(1, "a b a b a b")], "doc_id long, text string")
    ).collect()[0]
    assert er["h_cond"] == 0.0 and er["entropy_ratio"] == 0.0
    exp_left = (5 * round(math.log(5) * 1e6) - 3 * round(math.log(3) * 1e6)
                - 2 * round(math.log(2) * 1e6)) / 5e6
    assert er["h_left"] == round(exp_left, 6)


def test_pairwise_jsd_known_values(spark):
    """Identical distributions -> 0; disjoint supports -> ln 2; the
    (3/4,1/4) vs (1/4,3/4) pair matches the closed form."""
    import math

    from es_ch_sync_spark.operators.analytics import pairwise_jsd

    rows = [("x", 1, 5), ("x", 2, 5), ("y", 1, 50), ("y", 2, 50), ("z", 3, 7)]
    df = spark.createDataFrame(rows, "g string, b int, c long")
    out = {(r["g_a"], r["g_b"]): r["jsd_nats"]
           for r in pairwise_jsd(df, "g", "b", "c").collect()}
    assert out[("x", "y")] == 0.0
    assert abs(out[("x", "z")] - math.log(2)) < 1e-6
    df2 = spark.createDataFrame(
        [("p", 1, 3), ("p", 2, 1), ("q", 1, 1), ("q", 2, 3)],
        "g string, b int, c long",
    )
    r = pairwise_jsd(df2, "g", "b", "c").collect()[0]
    exp = 0.75 * math.log(1.5) + 0.25 * math.log(0.5)
    assert abs(r["jsd_nats"] - exp) < 2e-6


def test_mattr_window_and_fallbacks(spark):
    """Alternating 2-word text at window 4 -> 0.5 exactly; short doc
    falls back to plain TTR; empty doc NULLs out."""
    from es_ch_sync_spark.operators.text import mattr_diversity

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in mattr_diversity(df, window=4).collect()}
    assert out[1]["mattr"] == 0.5 and out[1]["windowed"] and out[1]["n_windows"] == 3
    assert out[2]["mattr"] == 1.0 and not out[2]["windowed"]
    assert out[3]["mattr"] is None and out[3]["n_words"] == 0


def test_gini_concentration_known_values(spark):
    """Equal weights -> 0; an extreme whale approaches (n-1)/n; the
    4-key hand case matches the rank formula."""
    from es_ch_sync_spark.operators.analytics import gini_concentration

    eq = spark.createDataFrame([(f"k{i}", 10) for i in range(5)], "k string, w long")
    assert gini_concentration(eq, "k", "w").collect()[0]["gini"] == 0.0
    whale = spark.createDataFrame(
        [("a", 0), ("b", 0), ("c", 0), ("d", 1000)], "k string, w long"
    )
    assert gini_concentration(whale, "k", "w").collect()[0]["gini"] == 0.75
    hand = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3), ("d", 4)], "k string, w long"
    )
    # G = (2*(1+4+9+16) - 5*10) / (4*10) = 10/40
    assert gini_concentration(hand, "k", "w").collect()[0]["gini"] == 0.25


def test_pairwise_jsd_tvd_exact(spark):
    """TVD companion column: disjoint supports -> 1.0; the
    (3/4,1/4)-vs-(1/4,3/4) pair -> 0.5 exactly."""
    from es_ch_sync_spark.operators.analytics import pairwise_jsd

    rows = [("x", 1, 5), ("z", 3, 7)]
    df = spark.createDataFrame(rows, "g string, b int, c long")
    assert pairwise_jsd(df, "g", "b", "c").collect()[0]["tvd"] == 1.0
    df2 = spark.createDataFrame(
        [("p", 1, 3), ("p", 2, 1), ("q", 1, 1), ("q", 2, 3)],
        "g string, b int, c long",
    )
    assert pairwise_jsd(df2, "g", "b", "c").collect()[0]["tvd"] == 0.5


def test_krippendorff_alpha_hand_computed(spark):
    """Perfect agreement -> 1; 2 raters always disagreeing on balanced
    categories -> alpha = 1 - (n-1)·O/( (m-1)·E ): with T=3, m=2, n=6,
    O = T·m² − Σn_ic² = 12−6 = 6, E = n²−Σn_c² = 36−18 = 18 →
    alpha = 1 − 5·6/(1·18) = 1 − 30/18 = −0.666667; incomplete NULLs."""
    from es_ch_sync_spark.operators.analytics import krippendorff_alpha

    perfect = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y"), (2, "y")], "item long, cat string"
    )
    assert krippendorff_alpha(perfect, "item", "cat", 2).collect()[0]["alpha"] == 1.0
    split = spark.createDataFrame(
        [(i, c) for i in (1, 2, 3) for c in ("x", "y")], "item long, cat string"
    )
    r = krippendorff_alpha(split, "item", "cat", 2).collect()[0]
    assert r["d_o"] == 1.0 and r["alpha"] == round(1 - 30 / 18, 6)
    incomplete = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y")], "item long, cat string"
    )
    assert krippendorff_alpha(incomplete, "item", "cat", 2).collect()[0]["alpha"] is None


def test_pass_at_k_closed_form(spark):
    """Two tasks, n=4: task A has c=2 correct, task B c=0.
    pass@1 = mean(1−C(2,1)/C(4,1), 0) = mean(1−2/4, 0) = 0.25;
    pass@2 = mean(1−C(2,2)/C(4,2), 0) = mean(1−1/6, 0) = 5/12;
    pass@4 = mean(1−0, 0) = 0.5.  A task with n≠4 is excluded."""
    from es_ch_sync_spark.operators.analytics import pass_at_k

    rows = (
        [("a", True), ("a", True), ("a", False), ("a", False)]
        + [("b", False)] * 4
        + [("c", True)] * 3  # n=3 ≠ 4 → excluded
    )
    df = spark.createDataFrame(rows, "task string, ok boolean")
    out = {r["k"]: r for r in pass_at_k(df, "task", "ok", n=4, ks=(1, 2, 4)).collect()}
    assert all(out[k]["n_tasks"] == 2 for k in (1, 2, 4))
    assert out[1]["pass_at_k"] == 0.25
    assert out[2]["pass_at_k"] == round((1 - 1 / 6) / 2, 6)
    assert out[4]["pass_at_k"] == 0.5


def test_retention_cohorts_hand_computed(spark):
    """Two users signing up on day 0; one returns on day 1.  The
    (cohort, offset) matrix is exact."""
    import datetime

    from es_ch_sync_spark.operators.analytics import retention_cohorts

    d0 = datetime.datetime(2024, 1, 1, 9, 0)
    d1 = datetime.datetime(2024, 1, 2, 9, 0)
    rows = [
        (1, "signup", d0), (2, "signup", d0),
        (1, "view", d1),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    out = {(str(r["cohort_day"]), r["day_offset"]): r
           for r in retention_cohorts(df).collect()}
    assert out[("2024-01-01", 0)]["n_active"] == 2
    assert out[("2024-01-01", 0)]["retention"] == 1.0
    assert out[("2024-01-01", 1)]["n_active"] == 1
    assert out[("2024-01-01", 1)]["retention"] == 0.5


def test_cochran_q_hand_computed(spark):
    """Flags ((1,1,0),(1,1,1),(1,0,0),(0,1,0)): C=(3,3,1), T=7, sumR2=15
    -> Q = 2*(3*19-49)/(3*7-15) = 16/6; all-agree panel -> NULL."""
    from es_ch_sync_spark.operators.analytics import cochran_q

    rows = [
        (True, True, False),
        (True, True, True),
        (True, False, False),
        (False, True, False),
    ]
    df = spark.createDataFrame(rows, "g1 boolean, g2 boolean, g3 boolean")
    r = cochran_q(df, "g1", "g2", "g3").collect()[0]
    assert (r["n_items"], r["n_raters"], r["total_passes"], r["df_q"]) == (
        4, 3, 7, 2,
    )
    assert r["q_stat"] == round(16 / 6, 6)
    agree = spark.createDataFrame(
        [(True, True, True), (False, False, False)],
        "g1 boolean, g2 boolean, g3 boolean",
    )
    assert cochran_q(agree, "g1", "g2", "g3").collect()[0]["q_stat"] is None


def test_nmi_vmeasure_known_values(spark):
    """Identical 2+2 partitions -> mi = h_a = h_b = ln 2, v = 1;
    independent 2x2 grid -> mi 0, v 0; single-cluster B -> completeness
    NULL (H(B)=0), v = 0."""
    from es_ch_sync_spark.operators.analytics import nmi_vmeasure

    def lab(pairs, col):
        return spark.createDataFrame(
            [(i, l) for i, l in pairs], f"id long, {col} string"
        )

    ident_a = lab(zip(range(4), ["a", "a", "b", "b"]), "label_a")
    ident_b = lab(zip(range(4), ["p", "p", "q", "q"]), "label_b")
    r = nmi_vmeasure(ident_a, ident_b, "id").collect()[0]
    assert r["mi_nats"] == r["h_a_nats"] == r["h_b_nats"] == 0.693147
    assert (r["homogeneity"], r["completeness"], r["v_measure"]) == (
        1.0, 1.0, 1.0,
    )
    indep_b = lab(zip(range(4), ["p", "q", "p", "q"]), "label_b")
    r = nmi_vmeasure(ident_a, indep_b, "id").collect()[0]
    assert (r["mi_nats"], r["v_measure"]) == (0.0, 0.0)
    one_b = lab(zip(range(4), ["z", "z", "z", "z"]), "label_b")
    r = nmi_vmeasure(ident_a, one_b, "id").collect()[0]
    assert r["h_b_nats"] == 0.0 and r["completeness"] is None
    assert r["v_measure"] == 0.0


def test_wilcoxon_signed_rank_hand_computed(spark):
    """d=(+1,+2,+3,-4): W+=6, z=(6-5)/sqrt(7.5); tie panel d=(+1,-1,+2):
    W+=4.5 (averaged ranks), var = 3.5 - 6/48; zero diffs and one-arm
    units drop out."""
    import math

    from es_ch_sync_spark.operators.analytics import wilcoxon_signed_rank

    rows = []
    for u, (x, y) in enumerate([(2.0, 1.0), (5.0, 3.0), (9.0, 6.0), (1.0, 5.0)]):
        rows += [(u, "a", x), (u, "b", y)]
    rows += [(90, "a", 7.0), (90, "b", 7.0)]   # zero diff: dropped
    rows += [(91, "a", 3.0)]                   # one-arm unit: dropped
    df = spark.createDataFrame(rows, "u long, arm string, value double")
    r = wilcoxon_signed_rank(df, "u", "arm", "value", "a", "b").collect()[0]
    assert (r["n_pairs"], r["w_plus"]) == (4, 6.0)
    assert r["z_score"] == round(1.0 / math.sqrt(7.5), 6)
    assert r["rank_biserial"] == round(4 * 6.0 / 20 - 1, 6)
    rows2 = []
    for u, (x, y) in enumerate([(2.0, 1.0), (1.0, 2.0), (4.0, 2.0)]):
        rows2 += [(u, "a", x), (u, "b", y)]
    df2 = spark.createDataFrame(rows2, "u long, arm string, value double")
    r2 = wilcoxon_signed_rank(df2, "u", "arm", "value", "a", "b").collect()[0]
    assert (r2["n_pairs"], r2["w_plus"]) == (3, 4.5)
    assert r2["z_score"] == round(1.5 / math.sqrt(3.375), 6)


def test_kruskal_wallis_hand_computed(spark):
    """a=[1,2], b=[3,4]: H = 0.6*29 - 15 = 2.4 (no ties -> corrected
    equal); all-tied panel -> H = 0, correction factor 0 -> NULL."""
    from es_ch_sync_spark.operators.analytics import kruskal_wallis

    rows = [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "g string, x double")
    r = kruskal_wallis(df, "g", "x").collect()[0]
    assert (r["n_groups"], r["n_total"], r["df_h"]) == (2, 4, 1)
    assert r["h_stat"] == 2.4 and r["h_corrected"] == 2.4
    tied = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 5.0), ("b", 5.0)], "g string, x double"
    )
    rt = kruskal_wallis(tied, "g", "x").collect()[0]
    assert rt["h_stat"] == 0.0 and rt["h_corrected"] is None


def test_brown_forsythe_hand_computed(spark):
    """a=[1,2,3] (med 2), b=[10,20,30,40] (lower med 20):
    W = 5*448/602 = 3.720930; equal-spread panel -> W = 0."""
    from es_ch_sync_spark.operators.analytics import brown_forsythe

    rows = [("a", v) for v in (1.0, 2.0, 3.0)] + [
        ("b", v) for v in (10.0, 20.0, 30.0, 40.0)
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    r = brown_forsythe(df, "g", "x").collect()[0]
    assert (r["n_groups"], r["n_total"], r["df1"], r["df2"]) == (2, 7, 1, 5)
    assert r["w_stat"] == round(5 * 448 / 602, 6)
    same = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 11.0), ("b", 13.0)], "g string, x double"
    )
    rs = brown_forsythe(same, "g", "x").collect()[0]
    assert rs["w_stat"] == 0.0


def test_theil_sen_hand_computed(spark):
    """Days 1..4 with y = (2,4,1,8): slopes {2,-0.5,2,-1.5,2,7} ->
    lower median (pos 3 of 6 sorted: -1.5,-0.5,2,2,2,7) = 2.0."""
    import datetime

    from es_ch_sync_spark.operators.analytics import theil_sen

    base = datetime.date(2024, 1, 1)
    rows = [
        ("a", base + datetime.timedelta(days=i), y)
        for i, y in enumerate([2, 4, 1, 8])
    ]
    df = spark.createDataFrame(rows, "g string, day date, y long")
    r = theil_sen(df, "g", "day", "y").collect()
    assert len(r) == 1
    assert (r[0]["g"], r[0]["n_days"], r[0]["n_pairs"], r[0]["sen_slope"]) == (
        "a", 4, 6, 2.0,
    )


def test_effect_sizes_hand_computed(spark):
    """a=[1,2,3], b=[2,4,6]: d = -2/sqrt((2+8)/4) = -1.264911;
    J = 1-3/15 = 0.8; glass = -2/2."""
    import math

    from es_ch_sync_spark.operators.analytics import effect_sizes_ab

    rows = [("a", v) for v in (1.0, 2.0, 3.0)] + [
        ("b", v) for v in (2.0, 4.0, 6.0)
    ]
    df = spark.createDataFrame(rows, "arm string, x double")
    r = effect_sizes_ab(df, "arm", "x", "a", "b").collect()[0]
    d = -2.0 / math.sqrt(10.0 / 4.0)
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert r["cohen_d"] == round(d, 6)
    assert r["hedges_g"] == round(d * 0.8, 6)
    assert r["glass_delta"] == -1.0


def test_degree_powerlaw_known_distribution(spark):
    """Star K1,4 as symmetric edges: degrees (4,1,1,1,1); at xmin=1
    alpha = 1 + 5e6/(4*ln2_m + ln8_m); xmin=2 keeps only the hub."""
    import math

    from es_ch_sync_spark.operators.graph import degree_powerlaw

    edges = []
    for leaf in ("b", "c", "d", "e"):
        edges += [("hub", leaf), (leaf, "hub")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r["xmin"]: r for r in degree_powerlaw(df, xmins=(1, 2)).collect()}
    ln2_m = round(math.log(2.0) * 1e6)
    ln8_m = round(math.log(8.0) * 1e6)
    assert out[1]["n_tail"] == 5
    assert out[1]["alpha"] == round(1.0 + 5e6 / (4 * ln2_m + ln8_m), 6)
    # xmin=2: only the hub (d=4): ln(4/1.5) = ln8 - ln3
    ln3_m = round(math.log(3.0) * 1e6)
    assert out[2]["n_tail"] == 1
    assert out[2]["alpha"] == round(1.0 + 1e6 / (ln8_m - ln3_m), 6)


def test_jackknife_group_means_hand_computed(spark):
    """a=[1,2,3], b=[10,20]: mean 7.2; loo_a = 15 (influence -7.8),
    loo_b = 2 (influence 5.2); single-group corpus -> NULL."""
    from es_ch_sync_spark.operators.analytics import jackknife_group_means

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0), ("b", 20.0)]
    df = spark.createDataFrame(rows, "g string, x double")
    out = {r["g"]: r for r in jackknife_group_means(df, "g", "x").collect()}
    assert out["a"]["n_rows"] == 3 and out["a"]["loo_mean"] == 15.0
    assert out["a"]["influence"] == -7.8
    assert out["b"]["loo_mean"] == 2.0 and out["b"]["influence"] == 5.2
    solo = spark.createDataFrame([("a", 1.0)], "g string, x double")
    r = jackknife_group_means(solo, "g", "x").collect()[0]
    assert r["loo_mean"] is None


def test_runs_test_hand_computed(spark):
    """y=(1,2,1,2,3): moves (+,-,+,+) -> 3 runs, n_up=3, n_down=1,
    z = (3-2.5)/0.5 = 1.0; monotone series -> variance 0 -> NULL z."""
    import datetime

    from es_ch_sync_spark.operators.analytics import runs_test

    base = datetime.date(2024, 3, 1)
    rows = [
        ("a", base + datetime.timedelta(days=i), y)
        for i, y in enumerate([1, 2, 1, 2, 3])
    ]
    df = spark.createDataFrame(rows, "g string, day date, y long")
    r = runs_test(df, "g", "day", "y").collect()[0]
    assert (r["n_up"], r["n_down"], r["n_runs"], r["z_score"]) == (3, 1, 3, 1.0)
    mono = spark.createDataFrame(
        [("a", base + datetime.timedelta(days=i), i) for i in range(5)],
        "g string, day date, y long",
    )
    rm = runs_test(mono, "g", "day", "y").collect()[0]
    assert (rm["n_up"], rm["n_down"], rm["n_runs"]) == (4, 0, 1)
    assert rm["z_score"] is None


def test_gumbel_block_maxima_hand_computed(spark):
    """Three weeks with maxima (4, 8, 6): mean 6, sd 2,
    beta = 2*sqrt6/pi, mu = 6 - gamma*beta."""
    import datetime

    from es_ch_sync_spark.operators.analytics import (
        EULER_GAMMA,
        GUMBEL_SQRT6_OVER_PI,
        gumbel_block_maxima,
    )

    monday = datetime.date(2024, 1, 1)  # a Monday
    rows = []
    for w, peak in enumerate([4, 8, 6]):
        rows += [
            ("a", monday + datetime.timedelta(days=7 * w), peak - 1),
            ("a", monday + datetime.timedelta(days=7 * w + 1), peak),
            ("a", monday + datetime.timedelta(days=7 * w + 2), 1),
        ]
    df = spark.createDataFrame(rows, "g string, day date, y long")
    r = gumbel_block_maxima(df, "g", "day", "y").collect()[0]
    beta = 2.0 * GUMBEL_SQRT6_OVER_PI
    assert (r["n_blocks"], r["max_mean"]) == (3, 6.0)
    assert r["gumbel_beta"] == round(beta, 6)
    assert r["gumbel_mu"] == round(6.0 - EULER_GAMMA * beta, 6)


def test_paired_permutation_test_properties(spark):
    """t_obs = 0 (perfectly balanced diffs) -> every replicate ties ->
    p = 1; 20 same-sign unit diffs -> only an all-same-sign replicate
    reaches |t_obs| -> p = 1/201 with the deterministic hash flips."""
    from es_ch_sync_spark.operators.analytics import paired_permutation_test

    rows = []
    for u in range(10):
        d = 1.0 if u % 2 == 0 else -1.0
        rows += [(u, "a", 5.0 + d), (u, "b", 5.0)]
    df = spark.createDataFrame(rows, "u long, arm string, value double")
    r = paired_permutation_test(df, "u", "arm", "value", "a", "b").collect()[0]
    assert r["n_pairs"] == 10 and r["t_obs"] == 0.0 and r["p_value"] == 1.0
    rows2 = []
    for u in range(20):
        rows2 += [(u, "a", 6.0), (u, "b", 5.0)]
    df2 = spark.createDataFrame(rows2, "u long, arm string, value double")
    r2 = paired_permutation_test(df2, "u", "arm", "value", "a", "b").collect()[0]
    assert r2["t_obs"] == 20.0
    assert r2["p_value"] == round(1.0 / 201.0, 6)


def test_ab_panel_matches_standalones(spark):
    """The one-census panel must reproduce the standalone operators'
    statistics digit for digit on the same pool."""
    from es_ch_sync_spark.operators.analytics import (
        ab_mann_whitney,
        ab_panel,
        effect_sizes_ab,
        ks_two_sample,
    )

    rows = [("a", float(v)) for v in (1, 2, 2, 3, 5, 8, 9)] + [
        ("b", float(v)) for v in (2, 3, 3, 4, 7, 7)
    ]
    df = spark.createDataFrame(rows, "arm string, x double")
    p = ab_panel(df, "arm", "x", "a", "b").collect()[0]
    mw = ab_mann_whitney(df, "arm", "x", "a", "b").collect()[0]
    ks = ks_two_sample(df, "arm", "x", "a", "b").collect()[0]
    es = effect_sizes_ab(df, "arm", "x", "a", "b").collect()[0]
    assert (p["n_a"], p["n_b"]) == (mw["n_a"], mw["n_b"]) == (7, 6)
    assert p["u_stat"] == mw["u_stat"] and p["mw_z"] == mw["z_score"]
    assert p["ks_d"] == ks["d_stat"]
    assert p["cohen_d"] == es["cohen_d"]
    assert p["welch_t"] is not None and p["welch_df"] is not None


def test_brier_decomposition_identity(spark):
    """Bin-constant scores (0.2 / 0.8 with 1-in-4 flips): brier = 0.19
    = reliability 0.0025 - resolution 0.0625 + uncertainty 0.25."""
    from es_ch_sync_spark.operators.analytics import brier_decomposition

    rows = (
        [(0, 0.2)] * 3 + [(1, 0.2)] + [(1, 0.8)] * 3 + [(0, 0.8)]
    )
    df = spark.createDataFrame(rows, "y int, p double")
    r = brier_decomposition(df, "y", "p").collect()[0]
    assert r["n"] == 8
    assert r["brier"] == 0.19
    assert r["reliability"] == 0.0025
    assert r["resolution"] == 0.0625
    assert r["uncertainty"] == 0.25
    assert r["brier"] == round(
        r["reliability"] - r["resolution"] + r["uncertainty"], 6
    )


def test_png_round_trip_and_filters():
    """encode_png -> decode_png is pixel-exact; hand-built PNGs with
    filter types 1-4 reconstruct per the spec; RGBA drops alpha;
    interlaced raises."""
    import struct
    import zlib

    import numpy as np

    from es_ch_sync_spark.operators.multimodal import (
        _PNG_SIG,
        decode_png,
        encode_png,
    )

    rng = np.arange(6 * 8 * 3, dtype=np.uint8).reshape(6, 8, 3)
    assert np.array_equal(decode_png(encode_png(rng)), rng)

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    def png(w, h, raw, ctype=2, interlace=0):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, interlace)
        return (_PNG_SIG + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

    # 2x2 RGB, filter 1 (Sub) row then filter 2 (Up) row:
    # row0 raw (10,20,30, 5,6,7) -> px (10,20,30),(15,26,37)
    # row1 Up   (1,1,1, 2,2,2)   -> px (11,21,31),(17,28,39)
    raw = bytes([1, 10, 20, 30, 5, 6, 7]) + bytes([2, 1, 1, 1, 2, 2, 2])
    out = decode_png(png(2, 2, raw))
    assert out.tolist() == [
        [[10, 20, 30], [15, 26, 37]],
        [[11, 21, 31], [17, 28, 39]],
    ]
    # 2x2 RGB, filter 3 (Average) then 4 (Paeth) over known priors:
    # row0 Avg with no prev: px0 = raw, px1 += floor(left/2)
    # row1 Paeth: predictor = left/up/ul by the tie rules
    raw2 = bytes([3, 10, 20, 30, 5, 6, 7]) + bytes([4, 1, 1, 1, 2, 2, 2])
    out2 = decode_png(png(2, 2, raw2))
    r0p0 = [10, 20, 30]
    r0p1 = [5 + 5, 6 + 10, 7 + 15]
    assert out2[0].tolist() == [r0p0, r0p1]
    # Paeth row: px0 pred = up (a=0,c=0 -> p=b) -> up+1; px1: a=left,b=up,c=ul
    assert out2[1][0].tolist() == [11, 21, 31]
    a, b, c = out2[1][0], out2[0][1], out2[0][0]
    exp = []
    for ch in range(3):
        p = int(a[ch]) + int(b[ch]) - int(c[ch])
        pa, pb, pc = abs(p - a[ch]), abs(p - b[ch]), abs(p - c[ch])
        pr = a[ch] if (pa <= pb and pa <= pc) else (b[ch] if pb <= pc else c[ch])
        exp.append((int(pr) + 2) & 0xFF)
    assert out2[1][1].tolist() == exp
    # RGBA (color type 6): alpha dropped
    raw4 = bytes([0, 9, 8, 7, 255, 1, 2, 3, 128])
    out4 = decode_png(png(2, 1, raw4, ctype=6))
    assert out4.tolist() == [[[9, 8, 7], [1, 2, 3]]]
    # r15: Adam7 is un-gated — a stream declaring interlace but carrying
    # a non-interlaced payload is now a size-mismatch ValueError
    import pytest

    with pytest.raises(ValueError):
        decode_png(png(2, 2, raw, interlace=1))


def test_png_variant_matrix():
    """r15: the full PNG color/interlace matrix decodes — grayscale,
    paletted, RGB, each plain and Adam7-interlaced (encoder-paired), and
    hand-built 16-bit / 4-bit grayscale and 1-bit paletted streams
    (sub-8-bit samples scale by exactly 255/(2^d−1); 16-bit takes the
    high byte)."""
    import struct
    import zlib

    import numpy as np

    from es_ch_sync_spark.operators.multimodal import (
        _PNG_SIG,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(9)
    for h, w in [(1, 1), (5, 7), (16, 16), (13, 21)]:
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        assert (decode_png(encode_png(img, interlace=True)) == img).all()
    pal = rng.integers(0, 256, (40, 3)).astype(np.uint8)
    img = pal[rng.integers(0, 40, (11, 14))]
    assert (decode_png(encode_png(img, color_type=3)) == img).all()
    assert (
        decode_png(encode_png(img, color_type=3, interlace=True)) == img
    ).all()
    g = rng.integers(0, 256, (9, 13)).astype(np.uint8)
    for il in (False, True):
        out = decode_png(encode_png(g, interlace=il))
        assert (out[..., 0] == g).all() and (out == out[..., :1]).all()

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    def png(w, h, raw, depth, ctype, extra=b""):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
        return (
            _PNG_SIG + chunk(b"IHDR", ihdr) + extra
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )

    # 16-bit gray: samples v*257 → high byte == v
    h, w = 4, 5
    v = rng.integers(0, 256, (h, w)).astype(np.uint16)
    raw = b"".join(b"\x00" + (v[y] * 257).astype(">u2").tobytes() for y in range(h))
    assert (decode_png(png(w, h, raw, 16, 0))[..., 0] == v).all()
    # 4-bit gray, two samples per byte MSB-first, scale ×17
    h, w = 3, 5
    v4 = rng.integers(0, 16, (h, w))

    def pack4(row):
        bs = bytearray()
        for i in range(0, len(row), 2):
            bs.append(row[i] << 4 | (row[i + 1] if i + 1 < len(row) else 0))
        return bytes(bs)

    raw = b"".join(b"\x00" + pack4(list(v4[y])) for y in range(h))
    assert (decode_png(png(w, h, raw, 4, 0))[..., 0] == v4 * 17).all()
    # 1-bit paletted
    h, w = 3, 9
    v1 = rng.integers(0, 2, (h, w))

    def pack1(row):
        bs, acc, n = bytearray(), 0, 0
        for b in row:
            acc, n = (acc << 1) | b, n + 1
            if n == 8:
                bs.append(acc)
                acc, n = 0, 0
        if n:
            bs.append(acc << (8 - n))
        return bytes(bs)

    raw = b"".join(b"\x00" + pack1(list(v1[y])) for y in range(h))
    pal2 = np.array([[10, 20, 30], [200, 100, 50]], np.uint8)
    blob = png(w, h, raw, 1, 3, extra=chunk(b"PLTE", pal2.tobytes()))
    assert (decode_png(blob) == pal2[v1]).all()
    # paletted stream without PLTE is malformed
    import pytest

    with pytest.raises(ValueError, match="PLTE"):
        decode_png(png(w, h, raw, 1, 3))
    # bad depth/color combos are ValueError now (no silent decode)
    with pytest.raises(ValueError, match="combination"):
        decode_png(png(2, 2, b"", 4, 2))


def test_decode_image_dispatches_png():
    """decode_image now routes PNG to the real decoder; baseline JPEG
    decodes for real too (truncated JPEG bytes are a ValueError, not a
    gate)."""
    import numpy as np
    import pytest

    from es_ch_sync_spark.operators.multimodal import (
        decode_image,
        encode_png,
        synth_png_blob,
        synth_bmp_blob,
        decode_bmp,
    )

    arr = (np.arange(4 * 5 * 3, dtype=np.uint8) * 7 % 256).reshape(4, 5, 3)
    assert np.array_equal(decode_image(encode_png(arr)), arr)
    # PNG and BMP synth blobs decode to the SAME pixels (shared formula)
    assert np.array_equal(
        decode_image(synth_png_blob(42)), decode_bmp(synth_bmp_blob(42))
    )
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 fake jpeg")


def test_grid_density_clusters_hand_computed(spark):
    """Two dense cells sharing a corner merge into one cluster; a dense
    cell two cells away stays its own; sparse points are noise."""
    from es_ch_sync_spark.operators.clustering import grid_density_clusters

    pts = []
    pts += [(0.05 + i * 0.001, 0.05) for i in range(10)]   # cell (0,0)
    pts += [(0.15 + i * 0.001, 0.15) for i in range(10)]   # cell (1,1) - corner-adjacent
    pts += [(0.55 + i * 0.001, 0.05) for i in range(12)]   # cell (5,0) - isolated
    pts += [(0.35, 0.35)] * 5                              # sparse cell: noise
    df = spark.createDataFrame(pts, "x double, y double")
    out = grid_density_clusters(df, "x", "y", eps=0.1, min_pts=10).collect()
    rows = {r["cluster_id"]: (r["n_cells"], r["n_points"]) for r in out}
    assert rows == {"0:0": (2, 20), "5:0": (1, 12)}


def test_nelson_aalen_hand_computed(spark):
    """durs (1,1,2,3), last censored: increments 2/4 then 1/2 then 0
    -> H = 0.5, 1.0, 1.0."""
    from es_ch_sync_spark.operators.analytics import nelson_aalen

    df = spark.createDataFrame(
        [(1, 1), (1, 1), (2, 1), (3, 0)], "dur long, e int"
    )
    out = {r["t"]: r for r in nelson_aalen(df, "dur", "e").collect()}
    assert out[1]["n_risk"] == 4 and out[1]["cum_hazard"] == 0.5
    assert out[2]["n_risk"] == 2 and out[2]["cum_hazard"] == 1.0
    assert out[3]["n_risk"] == 1 and out[3]["d_events"] == 0
    assert out[3]["cum_hazard"] == 1.0


def test_logrank_hand_computed(spark):
    """Identical cohorts -> chi2 = 0; fully separated cohorts
    (g1 at t=1, g0 at t=5) -> O1=2, E1=1, V=1/3 -> chi2 = 3.000003
    (micro-quantized V)."""
    from es_ch_sync_spark.operators.analytics import logrank_test

    same = spark.createDataFrame(
        [(1, 1, 1), (1, 2, 1), (0, 1, 1), (0, 2, 1)],
        "grp int, dur long, e int",
    )
    r = logrank_test(same, "grp", "dur", "e").collect()[0]
    assert (r["observed_1"], r["expected_1"], r["chi2_logrank"]) == (2, 2.0, 0.0)
    sep = spark.createDataFrame(
        [(1, 1, 1), (1, 1, 1), (0, 5, 1), (0, 5, 1)],
        "grp int, dur long, e int",
    )
    r2 = logrank_test(sep, "grp", "dur", "e").collect()[0]
    assert (r2["n_1"], r2["n_0"], r2["observed_1"]) == (2, 2, 2)
    assert r2["expected_1"] == 1.0
    assert r2["chi2_logrank"] == 3.000003


def test_ams_f2_sketch_known_values(spark):
    """Single key: every +/-1 projection squares to the exact F2 ->
    rel_err 0; two keys: estimate is one of the two attainable squares."""
    from es_ch_sync_spark.operators.sketches import ams_f2_sketch

    one = spark.createDataFrame([("a",)] * 5, "k string")
    r = ams_f2_sketch(one, "k").collect()[0]
    assert (r["f2_exact"], r["f2_estimate"], r["rel_err"]) == (25, 25, 0.0)
    two = spark.createDataFrame([("a",)] * 3 + [("b",)] * 4, "k string")
    r2 = ams_f2_sketch(two, "k").collect()[0]
    assert r2["f2_exact"] == 25 and r2["f2_estimate"] in (1, 49)
    assert r2["rel_err"] == round(abs(r2["f2_estimate"] - 25) / 25, 6)


def test_seasonal_strength_pure_signals(spark):
    """Pure weekly pattern -> f_seasonal = 1, flat deseasonalized
    series -> f_trend NULL; pure linear trend -> f_trend = 1,
    zero seasonal -> f_seasonal NULL."""
    import datetime

    from es_ch_sync_spark.operators.analytics import seasonal_strength

    base = datetime.date(2024, 1, 1)
    weekly = [
        ("w", base + datetime.timedelta(days=i), 10 * (i % 7 + 1))
        for i in range(21)
    ]
    df = spark.createDataFrame(weekly, "k string, day date, y long")
    r = seasonal_strength(df, "k").collect()[0]
    assert r["f_seasonal"] == 1.0 and r["f_trend"] is None
    linear = [
        ("t", base + datetime.timedelta(days=i), 100 + 3 * i) for i in range(21)
    ]
    df2 = spark.createDataFrame(linear, "k string, day date, y long")
    r2 = seasonal_strength(df2, "k").collect()[0]
    assert r2["f_trend"] == 1.0 and r2["f_seasonal"] is None


def test_bm25_grid_matches_standalone(spark):
    """Each grid cell's scores equal a standalone bm25_topk at the
    same (k1, b) on the same corpus."""
    from es_ch_sync_spark.operators.text import (
        bm25_posting_table,
        bm25_topk,
        bm25_topk_from_postings,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark stream merge spark"),
            (2, "merge stream quiet words here"),
            (3, "nothing relevant at all"),
            (4, "spark spark spark stream"),
        ],
        "doc_id long, text string",
    )
    terms = ["spark", "merge", "stream"]
    posting, stats = bm25_posting_table(docs, terms)
    for k1, b in ((0.9, 0.4), (1.8, 0.75)):
        grid = {
            r["doc_id"]: r["bm25"]
            for r in bm25_topk_from_postings(
                posting, stats, terms, k=4, k1=k1, b=b
            ).collect()
        }
        alone = {
            r["doc_id"]: r["bm25"]
            for r in bm25_topk(docs, terms, k=4, k1=k1, b=b).collect()
        }
        assert grid == alone


def test_pairwise_mean_contrasts_hand_computed(spark):
    """Arms a=[1,2,3], b=[2,4,6], c=[10,10,10]: SSW=10 (micro^2 x1e12),
    MSE=10/6; q_ab = 2e6/sqrt(MSE_u/2 * 2/3)."""
    import math

    from es_ch_sync_spark.operators.analytics import pairwise_mean_contrasts

    rows = (
        [("a", v) for v in (1.0, 2.0, 3.0)]
        + [("b", v) for v in (2.0, 4.0, 6.0)]
        + [("c", 10.0)] * 3
    )
    df = spark.createDataFrame(rows, "g string, x double")
    out = {(r["arm_a"], r["arm_b"]): r
           for r in pairwise_mean_contrasts(df, "g", "x").collect()}
    assert len(out) == 3
    mse_u = 10e12 / 6.0
    q_ab = 2e6 / math.sqrt(mse_u / 2.0 * (2.0 / 3.0))
    r = out[("a", "b")]
    assert r["mean_diff"] == -2.0 and r["q_stat"] == round(q_ab, 6)
    assert out[("a", "c")]["mean_diff"] == -8.0
    assert out[("b", "c")]["mean_diff"] == -6.0


def test_grouped_mutual_information_known_values(spark):
    """A perfect predictor group has ig_ratio 1; an independent one 0."""
    from es_ch_sync_spark.operators.analytics import grouped_mutual_information

    rows = []
    for i in range(8):
        y = i % 2 == 0
        rows.append(("perfect", y, y))
        rows.append(("indep", i % 4 < 2, y))
    df = spark.createDataFrame(rows, "gate string, a boolean, b boolean")
    out = {r["gate"]: r for r in
           grouped_mutual_information(df, "gate", "a", "b").collect()}
    assert out["perfect"]["ig_ratio"] == 1.0
    # lnm(8) - lnm(4) = 693148 under per-ln micro rounding (each ln is
    # quantized separately, so the difference can sit an ulp off ln 2)
    assert out["perfect"]["mi_nats"] == out["perfect"]["h_label_nats"] == 0.693148
    # per-ln quantization leaves at most a micro-ulp of residual MI on
    # an exactly independent table
    assert abs(out["indep"]["mi_nats"]) <= 1e-06
    assert abs(out["indep"]["ig_ratio"]) <= 2e-06


def test_cumulative_gains_hand_computed(spark):
    """Bins (0.95: 2 pos), (0.55: 1/2), (0.15: 0/4): decile-0 gain 2/3
    lift 8/3; full-capture at decile 4; lift 1 at the bottom."""
    from es_ch_sync_spark.operators.analytics import cumulative_gains

    rows = (
        [(1, 0.95), (1, 0.95)]
        + [(1, 0.55), (0, 0.55)]
        + [(0, 0.15)] * 4
    )
    df = spark.createDataFrame(rows, "y int, p double")
    out = {r["decile"]: r for r in cumulative_gains(df, "y", "p").collect()}
    assert out[0]["cum_positives"] == 2 and out[0]["gain"] == 0.666667
    assert out[0]["lift"] == round((2 / 2) / (3 / 8), 6)
    assert out[4]["gain"] == 1.0 and out[4]["lift"] == 2.0
    assert out[8]["cum_n"] == 8 and out[8]["lift"] == 1.0


def test_gif_round_trip_and_gates():
    """encode_gif -> decode_gif is pixel-exact (including LZW width
    boundary crossings); 89a extension blocks skip; malformed input is
    ValueError; animation and interlace decode for REAL (r15);
    partial-canvas still gates; palette overflow is ValueError."""
    import struct

    import numpy as np
    import pytest

    from es_ch_sync_spark.operators.multimodal import (
        decode_gif,
        decode_image,
        encode_gif,
        synth_gif_blob,
    )

    # deterministic gradient round trip + decode_image dispatch
    x = np.arange(8)[None, :, None]
    y = np.arange(6)[:, None, None]
    c = np.arange(3)[None, None, :]
    ref = ((7 + 3 * x + 5 * y + 85 * c) % 256).astype(np.uint8)
    assert np.array_equal(decode_gif(synth_gif_blob(7)), ref)
    assert np.array_equal(decode_image(synth_gif_blob(7)), ref)

    # width-boundary stress: 250-color random image grows the LZW table
    # through several code-size bumps
    rng = np.random.default_rng(13)
    pal = rng.integers(0, 256, size=(250, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 250, size=(40, 40))]
    assert np.array_equal(decode_gif(encode_gif(img)), img)

    # KwKwK case: long constant runs produce code == next_code
    runs = np.zeros((16, 64, 3), np.uint8)
    runs[:, 32:] = [200, 100, 50]
    assert np.array_equal(decode_gif(encode_gif(runs)), runs)

    # GIF89a magic accepted; extension blocks are skipped.  The image
    # descriptor offset is computed structurally (13-byte header + the
    # global color table) — searching for 0x2c would hit palette bytes.
    blob = bytearray(synth_gif_blob(3))
    blob[:6] = b"GIF89a"
    desc = 13 + (2 << (blob[10] & 0x07)) * 3
    assert blob[desc] == 0x2C
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphic control extension
    with_ext = bytes(blob[:desc]) + ext + bytes(blob[desc:])
    assert np.array_equal(decode_gif(with_ext), decode_gif(bytes(blob)))

    # malformed: truncations at every structural boundary -> ValueError
    b = synth_gif_blob(3)
    for cut in (4, 10, 14, 30, len(b) - 2):
        with pytest.raises(ValueError):
            decode_gif(b[:cut])
    with pytest.raises(ValueError):
        decode_gif(b"not a gif at all")

    # r15: animation is un-gated — a second image descriptor parses as a
    # second frame; decode_gif returns frame 0, parse_gif_frames both
    from es_ch_sync_spark.operators.multimodal import parse_gif_frames

    di = 13 + (2 << (b[10] & 0x07)) * 3
    assert b[di] == 0x2C
    second = b[di:-1]  # image descriptor..before trailer
    animated = b[:-1] + second + b"\x3b"
    v = parse_gif_frames(animated)
    assert len(v["frames"]) == 2
    assert np.array_equal(v["frames"][0], v["frames"][1])
    assert np.array_equal(decode_gif(animated), decode_gif(b))

    # r15: interlace is un-gated — a real interlaced encode round-trips,
    # and flipping the flag on sequential rows applies the 4-pass
    # reorder (valid parse, permuted rows)
    from es_ch_sync_spark.operators.multimodal import (
        _gif_interlace_rows,
        encode_gif,
    )

    base = decode_gif(synth_gif_blob(4))
    inter = decode_gif(encode_gif(base, interlace=True))
    assert np.array_equal(inter, base)
    # flag flipped on SEQUENTIAL rows (plain encode of base): the 4-pass
    # reorder applies, so gathering by the pass order restores them
    plain = bytearray(encode_gif(base))
    di2 = 13 + (2 << (plain[10] & 0x07)) * 3
    assert plain[di2] == 0x2C
    plain[di2 + 9] |= 0x40
    scrambled = decode_gif(bytes(plain))
    order = _gif_interlace_rows(scrambled.shape[0])
    assert np.array_equal(scrambled[order], base)

    # r16: partial canvas is un-gated — shrinking the frame width field
    # leaves MORE LZW pixels than the descriptor admits, which is now a
    # malformed-stream ValueError (pixel overflow), not a feature gate
    bl2 = bytearray(b)
    struct.pack_into("<H", bl2, di + 5, 4)
    with pytest.raises(ValueError):
        decode_gif(bytes(bl2))
    # a frame extending past the canvas is ValueError
    bl3 = bytearray(b)
    struct.pack_into("<H", bl3, di + 1, 5)  # left=5, width 8 > canvas 8
    with pytest.raises(ValueError):
        decode_gif(bytes(bl3))

    # palette overflow: >256 distinct colors cannot be a GIF
    big = np.arange(18 * 18 * 3, dtype=np.uint8).reshape(18, 18, 3)
    big[:, :, 0] = np.arange(18)[:, None]
    big[:, :, 1] = np.arange(18)[None, :]
    big[:, :, 2] = 0
    # 18*18 = 324 distinct (r,g) combinations > 256
    with pytest.raises(ValueError):
        encode_gif(big)


def test_gif_lzw_eoi_width_boundary():
    """r15 regression: when the decoder's table-entry add on the FINAL
    data code crosses a 2^code_size boundary, the EOI must be emitted at
    the widened size (a 64-pixel constant frame at mcs=2 lands exactly on
    next_code 16 and used to truncate).  Sweep run lengths across the
    boundary plus random streams."""
    import numpy as np

    from es_ch_sync_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    for mcs in (2, 3, 4, 8):
        for n in (1, 63, 64, 65, 119, 120, 121, 255, 256, 1000):
            out = _gif_lzw_decode(_gif_lzw_encode(np.zeros(n, np.int64), mcs), mcs, n)
            assert len(out) == n and not any(out)
    rng = np.random.default_rng(3)
    for mcs in (2, 4, 8):
        for n in (64, 65, 1000):
            idx = rng.integers(0, 1 << mcs, n)
            assert list(_gif_lzw_decode(_gif_lzw_encode(idx, mcs), mcs, n)) == list(idx)


def test_webp_vp8l_round_trips():
    """r15: lossless WebP (VP8L) encode→decode is bit-exact across every
    encoder path — plain literals (simple/trivial/normal prefix codes),
    SUBTRACT_GREEN, and the PREDICTOR transform with all 14 modes plus a
    random per-block mode grid (the shared _predict kernel keeps forward
    subtraction and inverse addition symmetric by construction)."""
    import numpy as np

    from es_ch_sync_spark.operators.webp import (
        decode_webp,
        encode_webp_lossless,
    )

    rng = np.random.default_rng(5)
    for h, w in [(1, 1), (5, 7), (16, 16), (13, 21)]:
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        assert (decode_webp(encode_webp_lossless(img)) == img).all()
    img = rng.integers(0, 256, (11, 14, 3)).astype(np.uint8)
    assert (
        decode_webp(encode_webp_lossless(img, subtract_green=True)) == img
    ).all()
    img = rng.integers(0, 256, (20, 24, 3)).astype(np.uint8)
    for mode in range(14):
        out = decode_webp(
            encode_webp_lossless(img, predictor_modes=mode, predictor_size_bits=2)
        )
        assert (out == img).all(), f"predictor mode {mode}"
    grid = rng.integers(0, 14, (-(-24 // 4)) * (-(-20 // 4))).tolist()
    out = decode_webp(
        encode_webp_lossless(
            img, subtract_green=True, predictor_modes=grid, predictor_size_bits=2
        )
    )
    assert (out == img).all()
    # few-color (2-symbol simple codes) and constant (trivial codes)
    two = (rng.integers(0, 2, (9, 9, 3)) * 200).astype(np.uint8)
    assert (decode_webp(encode_webp_lossless(two)) == two).all()
    const = np.full((6, 6, 3), 77, np.uint8)
    assert (decode_webp(encode_webp_lossless(const)) == const).all()


def test_webp_gates_and_malformed():
    """r15/r16: lossy VP8 / extended VP8X / meta prefix codes gate by
    name; color transform and color indexing now DECODE (r16 directive
    #2), so their truncated headers are malformed-stream ValueError;
    truncation and garbage are ValueError."""
    import struct

    import numpy as np
    import pytest

    from es_ch_sync_spark.operators.webp import (
        _BitWriterLSB,
        decode_webp,
        encode_webp_lossless,
    )

    def riff(fourcc, payload):
        chunk = fourcc + struct.pack("<I", len(payload)) + payload
        if len(payload) % 2:
            chunk += b"\x00"
        return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

    with pytest.raises(NotImplementedError, match="VP8"):
        decode_webp(riff(b"VP8 ", b"\x00" * 8))
    with pytest.raises(NotImplementedError, match="VP8X"):
        decode_webp(riff(b"VP8X", b"\x00" * 10))
    with pytest.raises(ValueError):
        decode_webp(b"RIFF\x04\x00\x00\x00WEBP")  # no image chunk
    with pytest.raises(ValueError):
        decode_webp(b"not a webp")

    good = encode_webp_lossless(np.full((4, 4, 3), 9, np.uint8))
    with pytest.raises(ValueError):
        decode_webp(good[: len(good) - 3])  # truncated bitstream

    def vp8l_header(**bits):
        bw = _BitWriterLSB()
        bw.write(3, 14)  # w-1
        bw.write(3, 14)  # h-1
        bw.write(0, 1)
        bw.write(0, 3)
        return bw

    # r16: color transform / color indexing decode now — their
    # TRUNCATED headers are malformed streams, not feature gates
    bw = vp8l_header()
    bw.write(1, 1)
    bw.write(1, 2)  # COLOR_TRANSFORM, then EOF
    with pytest.raises(ValueError):
        decode_webp(riff(b"VP8L", b"\x2f" + bw.flush()))
    bw = vp8l_header()
    bw.write(1, 1)
    bw.write(3, 2)  # COLOR_INDEXING, then EOF
    with pytest.raises(ValueError):
        decode_webp(riff(b"VP8L", b"\x2f" + bw.flush()))
    # r16: meta prefix codes decode too — a truncated meta sub-image
    # header is a malformed stream, not a gate
    bw = vp8l_header()
    bw.write(0, 1)  # no transforms
    bw.write(1, 1)  # meta prefix bit, then EOF
    with pytest.raises(ValueError):
        decode_webp(riff(b"VP8L", b"\x2f" + bw.flush()))


def test_jpeg_sampling_factors_422_411():
    """r16: sampling factors beyond 2×2 decode — 4:2:2 (2×1) and 4:1:1
    (4×1 — an above-2 horizontal factor) encode/decode within the usual
    lossy bound on block-constant fixtures, arbitrary images decode at
    the right shape, and non-dividing factor mixes gate by name."""
    import struct

    import numpy as np
    import pytest

    from es_ch_sync_spark.operators.multimodal import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(2)
    vals = rng.integers(0, 256, (2, 4, 3), dtype=np.uint8)
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1)  # 16×32, block-constant
    for sub in ("444", "422", "420", "411"):
        out = decode_jpeg(encode_jpeg(img, subsample=sub))
        diff = np.abs(out.astype(int) - img.astype(int)).max()
        assert diff <= 2, (sub, diff)  # YCbCr round trip ±, box-avg ±
    img2 = rng.integers(0, 256, (21, 19, 3), dtype=np.uint8)
    for sub in ("422", "411"):
        assert decode_jpeg(encode_jpeg(img2, subsample=sub)).shape == img2.shape
    # non-dividing factors gate by name (Y h=4 with Cb h=3); above-4 gates
    blob = bytearray(encode_jpeg(img, subsample="411"))
    sof = blob.find(b"\xff\xc0")
    assert blob[sof + 10 + 1] == 0x41  # Y component h=4 v=1
    bad = bytearray(blob)
    bad[sof + 13 + 1] = 0x31  # Cb h=3 v=1 vs maxh=4
    with pytest.raises(NotImplementedError, match="non-dividing"):
        decode_jpeg(bytes(bad))
    bad = bytearray(blob)
    bad[sof + 10 + 1] = 0x51  # h=5
    with pytest.raises(NotImplementedError, match="above 4x4"):
        decode_jpeg(bytes(bad))


def test_jpeg_cmyk_ycck_round_trips():
    """r16 VERDICT directive #4: 4-component Adobe JPEG decode.
    Block-constant stored planes + q=1 round-trip exactly, so the
    decoder's composite (channel' × K'/255, YCCK BT.601-inverted
    first) is checked against a reference computation for both APP14
    transform values; a sampling-factor-above-2×2 stream still gates."""
    import numpy as np
    import pytest

    from es_ch_sync_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_cmyk,
    )

    bx = np.arange(2)[None, :]
    by = np.arange(2)[:, None]

    def plane(a, b, c, mid):
        v = ((a * mid + b * bx + c * by) % 256).astype(np.uint8)
        return np.repeat(np.repeat(v, 8, 0), 8, 1)

    for mid in (0, 1, 7, 100, 255):
        stored = np.stack(
            [plane(23, 37, 41, mid), plane(29, 43, 47, mid),
             plane(37, 53, 59, mid), plane(31, 17, 13, mid)],
            axis=-1,
        )
        f = stored.astype(np.float64)
        out0 = decode_jpeg(encode_jpeg_cmyk(stored, transform=0))
        exp0 = np.clip(
            np.round(f[..., :3] * f[..., 3:4] / 255.0), 0, 255
        ).astype(np.uint8)
        assert np.array_equal(out0, exp0), f"cmyk transform 0 mid={mid}"
        out2 = decode_jpeg(encode_jpeg_cmyk(stored, transform=2))
        cy = np.clip(f[..., 0] + 1.402 * (f[..., 2] - 128), 0, 255)
        mg = np.clip(
            f[..., 0] - 0.344136 * (f[..., 1] - 128)
            - 0.714136 * (f[..., 2] - 128), 0, 255)
        yl = np.clip(f[..., 0] + 1.772 * (f[..., 1] - 128), 0, 255)
        exp2 = np.clip(
            np.round(np.stack([cy, mg, yl], -1) * f[..., 3:4] / 255.0),
            0, 255,
        ).astype(np.uint8)
        assert np.array_equal(out2, exp2), f"ycck mid={mid}"

    # APP14 transform 1 (YCbCr) with 4 components is contradictory
    blob = bytearray(encode_jpeg_cmyk(stored, transform=0))
    app14 = blob.find(b"Adobe")
    assert app14 > 0
    blob[app14 + 11] = 1
    with pytest.raises(ValueError, match="transform 1"):
        decode_jpeg(bytes(blob))
    # 5-component SOF still gates by name
    with pytest.raises(ValueError):
        encode_jpeg_cmyk(stored[..., :3])  # wrong plane count refused


def test_jpeg_real_quant_table_pinned():
    """r16 VERDICT directive #5: dequantization with a REAL table.  The
    q=1 oracle fixtures prove entropy coding but never exercise dequant
    with non-unit steps; here a 16×16 image is encoded with the T.81
    Annex K standard luminance table and the decode is pinned (a) pixel
    -for-pixel against an INDEPENDENT direct-cosine-sum
    quantize→dequant→IDCT pipeline (no shared matrix code with the
    decoder) and (b) against hard-coded literal pixel values captured
    from that independent pipeline — values that genuinely differ from
    the source (the codec is lossy at this table), so an identity
    shortcut cannot pass."""
    import numpy as np

    from es_ch_sync_spark.operators.multimodal import decode_jpeg, encode_jpeg

    qlum = np.array(
        [
            [16, 11, 10, 16, 24, 40, 51, 61],
            [12, 12, 14, 19, 26, 58, 60, 55],
            [14, 13, 16, 24, 40, 57, 69, 56],
            [14, 17, 22, 29, 51, 87, 80, 62],
            [18, 22, 37, 56, 68, 109, 103, 77],
            [24, 35, 55, 64, 81, 104, 113, 92],
            [49, 64, 78, 87, 103, 121, 120, 101],
            [72, 92, 95, 98, 112, 100, 103, 99],
        ],
        dtype=np.float64,
    )

    u = np.arange(8)
    x = np.arange(8)
    cosmat = np.cos((2 * x[:, None] + 1) * u[None, :] * np.pi / 16)
    cscale = np.where(u == 0, 1 / np.sqrt(2), 1.0)

    def dct2(blk):  # direct separable cosine sums, NOT the decoder's matrix
        t = cosmat.T @ blk @ cosmat
        return 0.25 * np.outer(cscale, cscale) * t

    def idct2(coef):
        t = cosmat @ (np.outer(cscale, cscale) * coef) @ cosmat.T
        return 0.25 * t

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    exp = np.zeros((16, 16))
    for by in range(2):
        for bx in range(2):
            blk = img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] - 128.0
            q = np.rint(dct2(blk) / qlum)
            exp[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = (
                idct2(q * qlum) + 128.0
            )
    exp = np.clip(np.round(exp), 0, 255).astype(np.uint8)

    got = decode_jpeg(encode_jpeg(img, qtable=qlum))
    assert np.array_equal(got[..., 0], exp)
    assert np.array_equal(got[..., 0], got[..., 1])
    # literal pins from the independent pipeline (lossy: source values
    # at these positions are 78, 21, 35, 63, 114, 70)
    pins = {(0, 0): 66, (3, 5): 23, (7, 7): 38,
            (8, 3): 65, (12, 14): 111, (15, 15): 56}
    for (i, j), v in pins.items():
        assert int(got[i, j, 0]) == v, (i, j)
    assert any(int(img[i, j]) != v for (i, j), v in pins.items())

    # 3-component real-table encode also decodes consistently with the
    # independent pipeline applied per channel plane (4:4:4, BT.601)
    rgb = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(rgb, qtable=qlum))
    assert out.shape == (8, 8, 3)
    # the q=1 default is unchanged: block-constant images still exact
    const = np.repeat(np.repeat(
        np.array([[40, 200], [90, 250]], np.uint8), 8, 0), 8, 1)
    assert np.array_equal(decode_jpeg(encode_jpeg(const))[..., 0], const)


def test_webp_vp8l_r16_round_trips():
    """r16 VERDICT directive #2: COLOR_INDEXING (every width_bits
    packing path + ragged widths), greedy LZ77 with 2D near-distance
    codes, the color cache, and the cross-COLOR_TRANSFORM all
    round-trip bit-exactly; the derived 120-entry neighborhood table
    matches the spec's documented prefix."""
    import numpy as np

    from es_ch_sync_spark.operators.webp import (
        _NEAR_DIST,
        _tokenize_lz77,
        decode_webp,
        encode_webp_lossless,
    )

    # the derivation pins: size, uniqueness, domain, documented prefix
    assert len(_NEAR_DIST) == 120 and len(set(_NEAR_DIST)) == 120
    assert all(
        (0 <= dy <= 7) and (-7 <= dx <= 8) and (dy > 0 or dx > 0)
        for dx, dy in _NEAR_DIST
    )
    assert _NEAR_DIST[:22] == (
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
        (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
        (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2),
    )

    rng = np.random.default_rng(7)

    def rt(img, **kw):
        out = decode_webp(encode_webp_lossless(img, **kw))
        assert np.array_equal(out, img), f"round trip failed {kw}"

    # palette: every width_bits path (2/4/16-color packing + byte)
    for n in (2, 3, 4, 5, 16, 17, 48, 200):
        pal = rng.integers(0, 256, (n, 3), dtype=np.uint8)
        rt(pal[rng.integers(0, n, (11, 13))], palette=True)
    # ragged widths exercise the partial last packed byte
    for wdt in (1, 2, 3, 7, 9):
        pal = rng.integers(0, 256, (3, 3), dtype=np.uint8)
        rt(pal[rng.integers(0, 3, (5, wdt))], palette=True)

    # lz77 / cache round trips on repetitive content
    pal = rng.integers(0, 256, (4, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 4, (20, 24))]
    rt(img, lz77=True)
    rt(img, lz77=True, cache_bits=4)
    rt(img, cache_bits=6)
    rt(np.full((16, 16, 3), 77, np.uint8), lz77=True)  # overlapping copy

    # a row-repeat image must emit a genuine 2D near code: dist w ↔
    # offset (0, 1) = dist_code 1
    stripes = np.tile(np.arange(12, dtype=np.uint8).reshape(1, 4, 3), (2, 1, 1))
    pix = [(255, int(p[0]), int(p[1]), int(p[2])) for row in stripes for p in row]
    toks = _tokenize_lz77(pix, 4, 0)
    assert any(t[0] == "copy" and t[2] == 1 and t[3] == 4 for t in toks)
    rt(stripes, lz77=True)

    # meta prefix codes: per-block-column code groups round-trip, alone
    # and composed with transforms
    for shape, mb in [((9, 20), 2), ((16, 16), 3), ((5, 33), 4)]:
        img = rng.integers(0, 256, (*shape, 3), dtype=np.uint8)
        rt(img, meta_prefix_bits=mb)
    img = rng.integers(0, 256, (12, 18, 3), dtype=np.uint8)
    rt(img, subtract_green=True, meta_prefix_bits=2)
    rt(img, predictor_modes=12, predictor_size_bits=2, meta_prefix_bits=3)

    # color transform: zero, extreme, and mixed deltas; composition
    # with the other transforms
    img = rng.integers(0, 256, (9, 14, 3), dtype=np.uint8)
    for ct in [(0, 0, 0), (34, 212, 77), (255, 128, 1), (90, 7, 250)]:
        rt(img, color_transform=ct)
    rt(img, color_transform=(34, 212, 77), subtract_green=True)
    rt(
        img,
        predictor_modes=12,
        color_transform=(10, 20, 30),
        subtract_green=True,
        lz77=True,
        cache_bits=3,
    )


def test_synth_pngx_blob_matches_formula():
    """Every synth_pngx_blob variant (truecolor/paletted × plain/Adam7)
    decodes to the shared gradient — the multimodal_png_variants oracle
    property."""
    import numpy as np

    from es_ch_sync_spark.operators.multimodal import (
        SYNTH_H,
        SYNTH_W,
        decode_image,
        synth_pngx_blob,
    )

    x = np.arange(SYNTH_W)[None, :, None]
    y = np.arange(SYNTH_H)[:, None, None]
    c = np.arange(3)[None, None, :]
    for mid in (0, 1, 2, 3, 17, 42):
        want = ((mid + 3 * x + 5 * y + 85 * c) % 256).astype(np.uint8)
        assert (decode_image(synth_pngx_blob(mid)) == want).all(), mid


def test_synth_webp_blob_matches_formula():
    """Every synth_webp_blob variant (literals / subtract-green /
    predictor / palette / lz77+near-distance / cache+color-transform)
    decodes to the shared gradient formula — the multimodal_webp_stats
    oracle property."""
    import numpy as np

    from es_ch_sync_spark.operators.multimodal import (
        SYNTH_H,
        SYNTH_W,
        decode_image,
        synth_webp_blob,
    )

    x = np.arange(SYNTH_W)[None, :, None]
    y = np.arange(SYNTH_H)[:, None, None]
    c = np.arange(3)[None, None, :]
    for mid in (0, 1, 2, 3, 4, 5, 6, 13, 14, 20, 21, 22, 23, 27, 41):
        want = ((mid + 3 * x + 5 * y + 85 * c) % 256).astype(np.uint8)
        assert (decode_image(synth_webp_blob(mid)) == want).all(), mid


def test_decoder_corruption_fuzz():
    """r15: every codec honors the row-level error contract under random
    corruption — seeded single/multi-byte flips and truncations of valid
    blobs may only raise the _ROW_DECODE_ERRORS members (ValueError /
    NotImplementedError / IndexError / KeyError / struct.error), never
    an unlisted exception that would fail a whole Spark job on one bad
    real-world blob.  (This fuzz caught zlib.error escaping from a
    corrupt PNG IDAT — now re-raised as ValueError.)"""
    import numpy as np

    from es_ch_sync_spark.operators import multimodal as mm
    from es_ch_sync_spark.operators.multimodal import _ROW_DECODE_ERRORS

    rng = np.random.default_rng(77)
    blobs = {
        "jpeg": mm.synth_jpeg_blob(5),
        "pjpeg": mm.synth_pjpeg_blob(5),
        "png": mm.synth_png_blob(5),
        "pngx": mm.synth_pngx_blob(6),
        "gif": mm.synth_gif_blob(5),
        "agif": mm.synth_agif_blob(5),
        "webp": mm.synth_webp_blob(5),
        "bmp": mm.synth_bmp_blob(5),
    }
    for name, blob in blobs.items():
        for _trial in range(120):
            b = bytearray(blob)
            for _ in range(int(rng.integers(1, 4))):
                b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
            if rng.random() < 0.3:
                b = b[: int(rng.integers(0, len(b)))]
            try:
                mm.decode_image(bytes(b))
            except _ROW_DECODE_ERRORS:
                pass  # the contract: only these may escape
        for cut in range(0, len(blob), max(1, len(blob) // 40)):
            try:
                mm.decode_image(blob[:cut])
            except _ROW_DECODE_ERRORS:
                pass
    vb = mm.synth_mjpeg_blob(5)
    for _trial in range(100):
        b = bytearray(vb)
        for _ in range(int(rng.integers(1, 4))):
            b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
        try:
            v = mm.parse_mjpeg_avi(bytes(b))
            for f in v["frames"]:
                mm.decode_jpeg(f)
        except _ROW_DECODE_ERRORS:
            pass


def test_jpeg_round_trip_exact_on_block_constant():
    """r14: constant 8×8 blocks + q=1 survive the lossy codec EXACTLY
    (DC = 8·(v−128), AC = 0 — both integer before quantization), across
    every block value and several grid shapes.  This is the property the
    oracle-checked multimodal_jpeg_stats fixture relies on."""
    import numpy as np

    from es_ch_sync_spark.operators.multimodal import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(11)
    for bh, bw in [(1, 1), (1, 3), (2, 2), (3, 1), (4, 2)]:
        vals = rng.integers(0, 256, (bh, bw)).astype(np.uint8)
        img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
        out = decode_jpeg(encode_jpeg(img))
        assert out.shape == (bh * 8, bw * 8, 3)
        assert (out[..., 0] == img).all()
        assert (out == out[..., :1]).all()  # grayscale replicates channels
    # extreme block values round-trip too (DC range ±1024/1016)
    for v in (0, 1, 127, 128, 254, 255):
        img = np.full((8, 8), v, np.uint8)
        assert (decode_jpeg(encode_jpeg(img))[..., 0] == v).all()


def test_jpeg_round_trip_bounded_on_arbitrary_images():
    """Arbitrary grayscale at q=1: decode(encode(x)) within ±4 of x (the
    DCT-coefficient rounding bound); arbitrary color at 4:4:4 within the
    YCbCr double-round bound; odd dimensions exercise the MCU pad/crop."""
    import numpy as np

    from es_ch_sync_spark.operators.multimodal import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(12)
    for h, w in [(8, 8), (5, 7), (17, 9), (24, 31)]:
        img = rng.integers(0, 256, (h, w)).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(img))
        assert out.shape == (h, w, 3)
        assert np.abs(out[..., 0].astype(int) - img.astype(int)).max() <= 4
    for h, w in [(8, 8), (11, 14)]:
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(img))
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 12


def test_jpeg_420_subsampling_decodes():
    """4:2:0 encode → decode: the MCU-interleave + chroma-upsample path.
    Mid-range pixels (no RGB clipping on reconstruction) keep the
    recomputed luma within the grayscale bound even though chroma is
    box-averaged — at the extremes clipping couples chroma error back
    into luma, which is inherent to the colorspace, not a codec bug."""
    import numpy as np

    from es_ch_sync_spark.operators.multimodal import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(13)
    for h, w in [(16, 16), (13, 21), (8, 8)]:
        img = rng.integers(40, 216, (h, w, 3)).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(img, subsample="420"))
        assert out.shape == (h, w, 3)
        y_in = 0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2]
        y_out = 0.299 * out[..., 0] + 0.587 * out[..., 1] + 0.114 * out[..., 2]
        assert np.abs(y_in - y_out).max() <= 8


def test_jpeg_gates_and_malformed():
    """r15: SOF2 now DECODES, so the old swapped-marker pin flips to
    ValueError (a baseline Ss=0..63 scan is illegal inside a progressive
    frame); arithmetic/lossless SOFs and 12-bit precision still gate by
    name; truncated streams and garbage are ValueError."""
    import struct

    import numpy as np
    import pytest

    from es_ch_sync_spark.operators.multimodal import decode_jpeg, encode_jpeg

    good = bytearray(encode_jpeg(np.full((8, 8), 55, np.uint8)))
    sof = good.find(b"\xff\xc0")
    assert sof > 0
    # SOF2 marker on a baseline single full-band scan: structurally
    # invalid progressive (DC scan must have Se=0) → ValueError, not a
    # silent wrong decode and not a gate.
    prog = bytes(good[:sof]) + b"\xff\xc2" + bytes(good[sof + 2 :])
    with pytest.raises(ValueError, match="Se=0"):
        decode_jpeg(prog)
    # arithmetic-coded (SOF9) and lossless (SOF3) still gate by name
    for marker, name in ((b"\xff\xc9", "0xFFC9"), (b"\xff\xc3", "0xFFC3")):
        swapped = bytes(good[:sof]) + marker + bytes(good[sof + 2 :])
        with pytest.raises(NotImplementedError, match=name):
            decode_jpeg(swapped)
    twelve = bytearray(good)
    twelve[sof + 4] = 12  # precision byte
    with pytest.raises(NotImplementedError, match="12-bit"):
        decode_jpeg(bytes(twelve))
    with pytest.raises(ValueError):
        decode_jpeg(bytes(good[: len(good) // 2]))  # truncated entropy data
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")
    # ADVICE r14 robustness pins: short segment bodies are ValueError,
    # never struct.error escaping the row-level catch
    dri_short = bytes(good[:sof]) + b"\xff\xdd\x00\x03\x00" + bytes(good[sof:])
    with pytest.raises(ValueError, match="DRI"):
        decode_jpeg(dri_short)
    zero_seg = bytes(good[:sof]) + b"\xff\xdd\x00\x01" + bytes(good[sof:])
    with pytest.raises(ValueError, match="segment length"):
        decode_jpeg(zero_seg)


def test_jpeg_progressive_round_trip():
    """r15: progressive (SOF2) encode→decode — block-constant images are
    EXACT (the multimodal_jpeg_progressive oracle property), and on
    arbitrary images the progressive decode is pixel-identical to the
    baseline decode of the same image (entropy coding is lossless either
    way; only the scan script differs).  Covers gray, 4:4:4 and 4:2:0
    (non-interleaved component block grids), odd dimensions, and the
    AC-refinement correction-bit path (random images have dense AC)."""
    import numpy as np

    from es_ch_sync_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(42)
    for bh, bw in [(1, 1), (2, 2), (4, 2)]:
        vals = rng.integers(0, 256, (bh, bw)).astype(np.uint8)
        img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
        out = decode_jpeg(encode_jpeg_progressive(img))
        assert (out[..., 0] == img).all()
    for h, w in [(8, 8), (5, 7), (17, 9), (24, 31)]:
        img = rng.integers(0, 256, (h, w)).astype(np.uint8)
        assert (
            decode_jpeg(encode_jpeg_progressive(img))
            == decode_jpeg(encode_jpeg(img))
        ).all()
    for h, w in [(8, 8), (11, 14), (13, 21)]:
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        assert (
            decode_jpeg(encode_jpeg_progressive(img))
            == decode_jpeg(encode_jpeg(img))
        ).all()
        assert (
            decode_jpeg(encode_jpeg_progressive(img, subsample="420"))
            == decode_jpeg(encode_jpeg(img, subsample="420"))
        ).all()


def test_synth_pjpeg_blob_matches_formula():
    """The progressive fixture decodes to its generating formula — the
    property the multimodal_jpeg_progressive oracle hash relies on."""
    import numpy as np

    from es_ch_sync_spark.operators.multimodal import (
        decode_jpeg,
        synth_pjpeg_blob,
    )

    for mid in (0, 1, 7, 123):
        px = decode_jpeg(synth_pjpeg_blob(mid))
        assert px.shape == (16, 16, 3)
        for by in range(2):
            for bx in range(2):
                want = (19 * mid + 31 * bx + 53 * by) % 256
                blk = px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, 0]
                assert (blk == want).all()


def test_mjpeg_avi_container_round_trip_and_sampling():
    """r14: the AVI container is lossless — parse returns the exact JPEG
    bytes stored, fps from strh rate/scale, and sample_video_frames picks
    floor(t·rate/(1000·scale)) under each tick."""
    import numpy as np

    from es_ch_sync_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_mjpeg_avi,
        parse_mjpeg_avi,
        sample_video_frames,
    )

    frames = [
        encode_jpeg(np.full((8, 16), 10 * f + 3, np.uint8)) for f in range(7)
    ]
    avi = encode_mjpeg_avi(frames, 16, 8, fps=10)
    v = parse_mjpeg_avi(avi)
    assert (v["rate"], v["scale"], v["width"], v["height"]) == (10, 1, 16, 8)
    assert v["frames"] == frames
    # 100 ms period: every 250 ms → t = 0, 250, 500, 750 → idx 0, 2, 5, 7(stop)
    got = sample_video_frames(avi, 250)
    assert got == [(0, 0, frames[0]), (2, 250, frames[2]), (5, 500, frames[5])]
    # every_ms larger than the clip → just frame 0
    assert sample_video_frames(avi, 5000) == [(0, 0, frames[0])]
    # sampled frames decode to the constant they encode
    px = decode_jpeg(got[1][2])
    assert (px[..., 0] == 23).all()
    import pytest

    with pytest.raises(ValueError):
        sample_video_frames(avi, 0)
    with pytest.raises(ValueError):
        parse_mjpeg_avi(avi[: len(avi) // 2])


def test_synth_mjpeg_blob_matches_formula():
    """The fixture's sampled mean luma equals the closed form the
    multimodal_video_frames oracle computes."""
    from es_ch_sync_spark.operators.multimodal import (
        decode_jpeg,
        sample_video_frames,
        synth_mjpeg_blob,
    )

    for mid in (0, 1, 5, 42):
        n = mid % 4 + 2
        sampled = sample_video_frames(synth_mjpeg_blob(mid), 200)
        assert len(sampled) == (n + 1) // 2
        for s, (f, t_ms, b) in enumerate(sampled):
            assert (f, t_ms) == (2 * s, 200 * s)
            want = (
                (11 * mid + 17 * f) % 256 + (11 * mid + 17 * f + 23) % 256
            ) / 2.0
            px = decode_jpeg(b)
            assert px[..., 0].astype(float).mean() == want


def test_jpeg_restart_interval_round_trip():
    """r14: DRI + RSTn emit (byte-align, DC-predictor reset every N MCUs)
    decodes identically to the restart-free stream — the decoder's restart
    path pinned against the plain path, grayscale and 4:2:0 color."""
    import numpy as np

    from es_ch_sync_spark.operators.multimodal import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(21)
    for h, w, ri in [(24, 24, 1), (24, 24, 2), (40, 17, 3), (16, 16, 5)]:
        img = rng.integers(0, 256, (h, w)).astype(np.uint8)
        plain = decode_jpeg(encode_jpeg(img))
        rst = decode_jpeg(encode_jpeg(img, restart_interval=ri))
        assert (plain == rst).all()
    img = rng.integers(0, 256, (32, 24, 3)).astype(np.uint8)
    a = decode_jpeg(encode_jpeg(img, subsample="420"))
    b = decode_jpeg(encode_jpeg(img, subsample="420", restart_interval=1))
    assert (a == b).all()
    # a corrupted restart marker is a ValueError, not silence
    import pytest

    blob = bytearray(encode_jpeg(img, restart_interval=1))
    i = blob.find(b"\xff\xd0")
    assert i > 0
    blob[i + 1] = 0xD5  # wrong RST index
    with pytest.raises(ValueError, match="restart"):
        decode_jpeg(bytes(blob))


def test_video_frame_dedup_hand_computed(spark):
    """r14: cross-clip frame dedup on a hand-built corpus — clip A repeats
    one frame 4×, clip B shares that content for 2 of its 3 frames; at
    every_ms = period every frame is sampled, so the census is exact."""
    import numpy as np

    from es_ch_sync_spark.operators.multimodal import (
        encode_jpeg,
        encode_mjpeg_avi,
        video_frame_dedup,
    )

    def frame(v):
        return encode_jpeg(np.full((8, 8), v, np.uint8))

    clip_a = encode_mjpeg_avi([frame(7)] * 4, 8, 8, fps=10)
    clip_b = encode_mjpeg_avi([frame(7), frame(9), frame(7)], 8, 8, fps=10)
    media = spark.createDataFrame(
        [(1, clip_a), (2, clip_b)], "media_id long, content binary"
    )
    rows = {
        (r["n_frames"], r["n_clips"]): r["n_groups"]
        for r in video_frame_dedup(media, every_ms=100).collect()
    }
    # content 7: 4 + 2 = 6 frames across 2 clips; content 9: 1 frame, 1 clip
    assert rows == {(6, 2): 1, (1, 1): 1}

    empty = spark.createDataFrame([], "media_id long, content binary")
    assert video_frame_dedup(empty).count() == 0


def test_animated_gif_round_trip_and_gates():
    """r15: multi-frame GIF89a encode→decode is exact (palette-indexed,
    lossless), delays survive the GCE walk.  r16: disposal 2 and
    transparency DECODE through the compositor — flipped GCE bits on
    full-canvas opaque streams leave the composed frames unchanged
    (every frame fully repaints the canvas), and reserved disposal
    values are ValueError."""
    import numpy as np
    import pytest

    from es_ch_sync_spark.operators.multimodal import (
        encode_gif_animated,
        parse_gif_frames,
    )

    rng = np.random.default_rng(19)
    frames = [
        (rng.integers(0, 16, (8, 16, 1)) * 13 % 256).astype(np.uint8).repeat(3, 2)
        for _ in range(5)
    ]
    blob = encode_gif_animated(frames, delay_cs=12)
    v = parse_gif_frames(blob)
    assert (v["w"], v["h"]) == (16, 8)
    assert len(v["frames"]) == 5
    for a, b in zip(v["frames"], frames):
        assert np.array_equal(a, b)
    assert v["delays_cs"] == [12] * 5

    # r16: disposal 2 on full-canvas opaque frames composes identically
    # (each frame repaints the whole canvas after the restore)
    ba = bytearray(blob)
    gce = ba.find(b"\x21\xf9\x04")
    assert gce > 0
    ba[gce + 3] = (ba[gce + 3] & ~0x1C) | (2 << 2)
    v2 = parse_gif_frames(bytes(ba))
    assert np.array_equal(v2["frames"][0], frames[0])
    # r16: flipping the transparency flag makes palette index 0 (the
    # GCE's transparent-index byte) pass the canvas through — frame 0
    # shows the background (black: no GCT) at those pixels
    bt = bytearray(blob)
    bt[gce + 3] |= 0x01
    v3 = parse_gif_frames(bytes(bt))
    f0 = v3["frames"][0]
    lo = frames[0].reshape(-1, 3)
    pal0 = np.unique(lo, axis=0)[0]  # palette slot 0 = lowest color
    hole = (frames[0] == pal0).all(axis=2)
    assert hole.any()
    assert (f0[hole] == 0).all()
    assert np.array_equal(f0[~hole], frames[0][~hole])
    # reserved disposal values 4-7 are ValueError
    br = bytearray(blob)
    br[gce + 3] = (br[gce + 3] & ~0x1C) | (5 << 2)
    with pytest.raises(ValueError, match="reserved"):
        parse_gif_frames(bytes(br))
    # mismatched frame sizes refuse to encode
    with pytest.raises(ValueError):
        encode_gif_animated([frames[0], frames[0][:4]])


def test_gif_compositing_round_trip():
    """r16 VERDICT directive #1: the compositor end to end.  (a) delta
    encoding (partial-canvas bounding boxes + transparent unchanged
    pixels) composes back to the exact original frames, including a
    no-change frame; (b) disposal 2 restores the frame RECT to the
    background color; (c) disposal 3 restores it to the pre-frame
    canvas; (d) a first-frame transparent pixel shows the background."""
    import numpy as np
    import pytest

    from es_ch_sync_spark.operators.multimodal import (
        encode_gif_animated,
        encode_gif_frames,
        parse_gif_frames,
    )

    # (a) delta round trip on random frames with a repeated frame
    rng = np.random.default_rng(23)
    frames = [
        (rng.integers(0, 8, (10, 14, 1)) * 31 % 256).astype(np.uint8).repeat(3, 2)
        for _ in range(4)
    ]
    frames.append(frames[-1].copy())  # identical consecutive frame
    blob = encode_gif_animated(frames, delay_cs=7, deltas=True)
    v = parse_gif_frames(blob)
    assert len(v["frames"]) == 5
    for i, (a, b) in enumerate(zip(v["frames"], frames)):
        assert np.array_equal(a, b), f"delta frame {i}"
    assert v["delays_cs"] == [7] * 5
    # the delta stream really is smaller-canvas: at least one descriptor
    # with iw < 14 must exist (frames differ in a sub-rectangle)

    # (b)/(c)/(d) hand-computed composites
    gct = np.array([[9, 9, 9], [255, 255, 255]], np.uint8)
    c0 = np.full((4, 8, 3), 50, np.uint8)
    sq = np.full((2, 4, 3), 200, np.uint8)
    fr = parse_gif_frames(
        encode_gif_frames(
            [
                {"rgb": c0, "disposal": 1},
                {"rgb": sq, "left": 0, "top": 0, "disposal": 2},
                {"rgb": sq, "left": 4, "top": 2, "disposal": 1},
            ],
            8, 4, gct=gct, bg_index=0,
        )
    )["frames"]
    exp1 = c0.copy()
    exp1[0:2, 0:4] = 200
    assert np.array_equal(fr[1], exp1)
    exp2 = c0.copy()
    exp2[0:2, 0:4] = 9  # disposal 2 restored the rect to GCT[0]
    exp2[2:4, 4:8] = 200
    assert np.array_equal(fr[2], exp2)

    fr3 = parse_gif_frames(
        encode_gif_frames(
            [
                {"rgb": c0, "disposal": 1},
                {"rgb": sq, "left": 2, "top": 1, "disposal": 3},
                {
                    "rgb": np.full((1, 1, 3), 7, np.uint8),
                    "left": 0, "top": 0, "disposal": 1,
                },
            ],
            8, 4, gct=gct,
        )
    )["frames"]
    expA = c0.copy()
    expA[1:3, 2:6] = 200
    assert np.array_equal(fr3[1], expA)
    expB = c0.copy()
    expB[0, 0] = 7  # square reverted (disposal 3), dot persists
    assert np.array_equal(fr3[2], expB)

    frT = parse_gif_frames(
        encode_gif_frames(
            [
                {
                    "rgb": np.full((2, 2, 3), 80, np.uint8),
                    "alpha": np.array([[True, False], [False, True]]),
                },
            ],
            2, 2, gct=gct, bg_index=0,
        )
    )["frames"][0]
    expT = np.array(
        [[[80] * 3, [9] * 3], [[9] * 3, [80] * 3]], np.uint8
    )
    assert np.array_equal(frT, expT)

    # encoder refuses frames outside the canvas / bad disposal
    with pytest.raises(ValueError):
        encode_gif_frames([{"rgb": sq, "left": 6}], 8, 4)
    with pytest.raises(ValueError):
        encode_gif_frames([{"rgb": sq, "disposal": 4}], 8, 4)


def test_gif_frame_dedup_hand_computed(spark):
    """r15: cross-clip frame dedup on a hand-built animated-GIF corpus —
    clip A repeats one constant frame 3×, clip B shares that content for
    1 of its 2 frames; every frame is decoded (no sampling), so the
    census is exact."""
    import numpy as np

    from es_ch_sync_spark.operators.multimodal import (
        encode_gif_animated,
        gif_frame_dedup,
    )

    def frame(v):
        return np.full((8, 8, 3), v, np.uint8)

    clip_a = encode_gif_animated([frame(7)] * 3)
    clip_b = encode_gif_animated([frame(9), frame(7)])
    media = spark.createDataFrame(
        [(1, clip_a), (2, clip_b)], "media_id long, content binary"
    )
    rows = {
        (r["n_frames"], r["n_clips"]): r["n_groups"]
        for r in gif_frame_dedup(media).collect()
    }
    # content 7: 3 + 1 = 4 frames across 2 clips; content 9: 1 frame, 1 clip
    assert rows == {(4, 2): 1, (1, 1): 1}


_BLOB_OPS = {
    # operator name: (operator over a media frame, its per-blob kernel)
    "extract_features": (mm.extract_features, mm.feature_rows),
    "extract_pixel_features": (mm.extract_pixel_features, mm.pixel_stats_rows),
    "extract_audio_stats": (mm.extract_audio_stats, mm.audio_stats_rows),
    "resize_media": (
        functools.partial(mm.resize_media, width=4, height=3),
        functools.partial(mm.resize_rows, width=4, height=3),
    ),
    "chunk_wav": (
        functools.partial(mm.chunk_wav, chunk_ms=100),
        functools.partial(mm.wav_chunk_rows, chunk_ms=100),
    ),
    "chunk_wav_features": (
        functools.partial(mm.chunk_wav_features, chunk_ms=100),
        functools.partial(mm.wav_feature_rows, chunk_ms=100),
    ),
    "video_frame_stats": (
        functools.partial(mm.video_frame_stats, every_ms=200),
        functools.partial(mm.video_frame_stat_rows, every_ms=200),
    ),
    "video_frame_fingerprints": (
        functools.partial(mm.video_frame_fingerprints, every_ms=200),
        functools.partial(mm.video_frame_fp_rows, every_ms=200),
    ),
    "gif_frame_fingerprints": (mm.gif_frame_fingerprints, mm.gif_frame_fp_rows),
    "dhash_features": (mm.dhash_features, mm.dhash_rows),
}


def _media_frame(spark, blobs):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )
    return spark.createDataFrame(blobs, schema)


def _plain_rows(df):
    """Collected rows as plain tuples (Spark hands binary back as bytearray)."""
    return [
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
        for r in df.collect()
    ]


@pytest.mark.parametrize("op", sorted(_BLOB_OPS))
def test_blob_kernel_rows_match_driver_side_kernel(spark, op):
    """Every blob operator's Spark rows equal its kernel body run in plain
    Python on the driver over the same collected blobs: two synth blobs
    of every kind (so each kernel meets both the formats it decodes and
    ones it rejects), a NULL blob, a garbage blob, and an MJPEG clip whose
    third frame is corrupt (a good frame row, then the error row).  None
    of them fails the job: the null blob gives media_id plus nulls with
    error = "null content" (extract_features, which has no error column:
    all-null stats), a decode error its message.  Replaces the
    two-transport equivalence test: map_blobs is the only transport."""
    import numpy as np

    makers = [
        mm.synth_bmp_blob, mm.synth_png_blob, mm.synth_gif_blob,
        mm.synth_jpeg_blob, mm.synth_pjpeg_blob, mm.synth_agif_blob,
        mm.synth_webp_blob, mm.synth_pngx_blob, mm.synth_mjpeg_blob,
        mm.synth_cmyk_blob, mm.synth_flac_blob, mm.synth_wav_blob,
    ]
    blobs = [
        (100 * k + i, make(i)) for k, make in enumerate(makers) for i in (1, 6)
    ]
    good = mm.encode_jpeg(np.full((8, 16), 40, np.uint8))
    blobs += [
        (9000, None),
        (9001, b"\x00 not a media blob"),
        (9002, mm.encode_mjpeg_avi([good, good, b"\xff\xd8 cut"], 16, 8)),
    ]
    media = _media_frame(spark, blobs)
    run, kernel = _BLOB_OPS[op]
    names = run(media).schema.fieldNames()

    def blank(mid, error):
        return tuple(
            mid if n == "media_id" else error if n == "error" else None
            for n in names
        )

    want = []
    for mid, blob in _plain_rows(media):
        if blob is None:
            want.append(blank(mid, "null content"))
            continue
        try:
            for row in kernel(mid, blob):
                want.append(row)
        except mm._ROW_DECODE_ERRORS as exc:
            want.append(blank(mid, str(exc)[:200]))
    if op == "extract_features":  # array<float>: compare at float32
        want = [
            (m, n, h, f and [float(np.float32(x)) for x in f])
            for m, n, h, f in want
        ]
    else:  # the garbage blob is a decode error for every real kernel
        assert [r[-1] is not None for r in want if r[0] == 9001] == [True]
    got = _plain_rows(run(media))
    assert sorted(got, key=repr) == sorted(want, key=repr)
    if op.startswith("video_frame"):
        assert sorted((r[1] for r in got if r[0] == 9002), key=repr) == [0, None]
