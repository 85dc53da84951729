"""Property-based tests (hypothesis) for the custom/composed operators.

Kept small (tiny tables, few examples) because every example runs Spark
jobs; the properties target the operators whose semantics are hand-built
rather than delegated to Catalyst: the as-of join composition, the unpivot
row-count law, and dedup idempotency.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from es_ch_sync_spark.catalog import SignalCatalog, SignalDef
from es_ch_sync_spark.io.sinks import dedup_signals
from es_ch_sync_spark.operators.analytics import asof_join
from es_ch_sync_spark.operators.transform import unpivot_signals

BASE = datetime(2024, 1, 1, tzinfo=timezone.utc)

CAT = SignalCatalog(
    [
        SignalDef("a", "a", "number"),
        SignalDef("b", "b", "number", "ratio_to_percent"),
        SignalDef("s", "s", "string"),
    ]
)

WIDE_SCHEMA = T.StructType(
    [
        T.StructField("tok", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("src", T.StringType()),
        T.StructField("a", T.DoubleType()),
        T.StructField("b", T.DoubleType()),
        T.StructField("s", T.StringType()),
    ]
)

row_strategy = st.tuples(
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=0, max_value=50),
    st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False, width=32)),
    st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False, width=32)),
    st.one_of(st.none(), st.text(alphabet="xyz", max_size=3)),
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(row_strategy, min_size=0, max_size=12))
def test_unpivot_row_count_law(spark, rows):
    """|unpivot(df)| == Σ_rows #non-null catalog fields (T1 semantics:
    a document yields exactly one signal per present field)."""
    data = [(tok, BASE + timedelta(seconds=sec), "t", a, b, s) for tok, sec, a, b, s in rows]
    df = spark.createDataFrame(data, WIDE_SCHEMA)
    out = unpivot_signals(df, CAT, token_col="tok", ts_col="ts", source_col="src")
    expected = sum((a is not None) + (b is not None) + (s is not None) for _, _, a, b, s in rows)
    assert out.count() == expected


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(row_strategy, min_size=1, max_size=12))
def test_dedup_idempotent_and_keyed(spark, rows):
    data = [(tok, BASE + timedelta(seconds=sec), "t", a, b, s) for tok, sec, a, b, s in rows]
    df = spark.createDataFrame(data, WIDE_SCHEMA)
    sig = unpivot_signals(df, CAT, token_col="tok", ts_col="ts", source_col="src")
    once = dedup_signals(sig)
    twice = dedup_signals(once)
    n_once, n_twice = once.count(), twice.count()
    assert n_once == n_twice
    assert n_once == sig.select("token_id", "timestamp", "name").distinct().count()


asof_left = st.lists(
    st.tuples(st.integers(1, 2), st.integers(0, 30)), min_size=1, max_size=8
)
asof_right = st.lists(
    st.tuples(st.integers(1, 2), st.integers(0, 30), st.integers(0, 100)),
    min_size=0,
    max_size=8,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(asof_left, asof_right)
def test_asof_join_matches_bruteforce(spark, left_rows, right_rows):
    """asof_join == argmax_{r.ts <= l.ts, same key} r.ts, computed naively.

    Covers: no match (null), exact-timestamp match (>= semantics), multiple
    candidates, keys present on one side only."""
    lschema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("ts", T.TimestampType()),
         T.StructField("lid", T.LongType())]
    )
    rschema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("ts", T.TimestampType()),
         T.StructField("val", T.LongType())]
    )
    left = [(k, BASE + timedelta(seconds=s), i) for i, (k, s) in enumerate(left_rows)]
    # dedupe right on (k, ts): at equal (key, ts) the winning value is
    # implementation-defined in both the operator and the brute force
    seen = {}
    for k, s, v in right_rows:
        seen[(k, s)] = v
    right = [(k, BASE + timedelta(seconds=s), v) for (k, s), v in seen.items()]

    ldf = spark.createDataFrame(left, lschema)
    rdf = spark.createDataFrame(right, rschema)
    out = asof_join(ldf, rdf, key="k", left_ts="ts", right_ts="ts", right_cols=["val"])
    got = {r["lid"]: r["val"] for r in out.collect()}

    for k, ts, lid in left:
        cands = [(rts, v) for (rk, rts, v) in right if rk == k and rts <= ts]
        want = max(cands)[1] if cands else None
        assert got.get(lid) == want, f"lid={lid} k={k} ts={ts}: {got.get(lid)} != {want}"


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # key (few → collisions)
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_salted_agg_matches_plain_groupby(spark, rows):
    """Two-phase salted aggregation is the plain GROUP BY, exactly —
    count/sum/min/max are decomposable, so the salt never changes values."""
    from es_ch_sync_spark.operators.joins import salted_agg

    df = spark.createDataFrame(rows, "k int, v int")
    got = {
        r["k"]: (r["n"], r["s"], r["lo"], r["hi"])
        for r in salted_agg(
            df,
            "k",
            [
                ("count", None, "n"),
                ("sum", F.col("v"), "s"),
                ("min", F.col("v"), "lo"),
                ("max", F.col("v"), "hi"),
            ],
            salt=4,
        ).collect()
    }
    want = {
        r["k"]: (r["n"], r["s"], r["lo"], r["hi"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    assert got == want


def test_global_shuffle_is_permutation(spark):
    """shuffle_pos must be a bijection onto [0, n) and stable across runs
    (same hash order) regardless of input partitioning."""
    from es_ch_sync_spark.operators.sampling import global_shuffle

    df = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["shuffle_pos"] for r in global_shuffle(df).collect()}
    assert sorted(a.values()) == list(range(300))
    b = {
        r["doc_id"]: r["shuffle_pos"]
        for r in global_shuffle(df.repartition(7)).collect()
    }
    assert a == b
    # hash order, not identity order
    assert [a[i] for i in range(300)] != list(range(300))


def test_quality_budget_prefix_is_maximal(spark, sf_dir):
    """The selected set must be a PREFIX of the quality order: every kept
    doc's cum_tokens <= budget, and adding the next doc would exceed it."""
    from es_ch_sync_spark.io.sources import read_parquet_table
    from es_ch_sync_spark.operators.sampling import quality_budget_select

    docs = read_parquet_table(spark, sf_dir, "documents")
    budget = 5_000
    rows = quality_budget_select(docs, budget_tokens=budget).collect()
    assert rows and max(r["cum_tokens"] for r in rows) <= budget
    n_total = docs.count()
    assert len(rows) < n_total  # budget actually binds at this SF


def test_quality_budget_tiers_identical_and_scale_plan(spark, sf_dir):
    """The stratum (100 TB) tier must select the exact same rows with the
    exact same cum_tokens as the global-window tier, and its plan must not
    contain a global (un-partitioned) window over the document rows — the
    only un-partitioned window allowed is the per-quality offset pass over
    the tiny stratum aggregate."""
    from es_ch_sync_spark.io.sources import read_parquet_table
    from es_ch_sync_spark.operators.sampling import quality_budget_select

    docs = read_parquet_table(spark, sf_dir, "documents")
    budget = 5_000
    small = quality_budget_select(docs, budget_tokens=budget)
    big = quality_budget_select(docs, budget_tokens=budget, small_corpus_rows=0)

    key = lambda r: (r["doc_id"], r["quality"], r["n_tokens"], r["cum_tokens"])  # noqa: E731
    assert sorted(map(key, small.collect())) == sorted(map(key, big.collect()))

    plan = big._jdf.queryExecution().executedPlan().toString()
    # every window over doc rows is partitioned by quality; the offset
    # window runs on the post-aggregate side (sum(_tok) input), never raw
    # n_tokens
    for line in plan.splitlines():
        if "Window [" in line and "partitionBy" not in line and "quality" not in line.split("windowspecdefinition")[0]:
            assert "_tok" in line, f"global window over doc rows: {line}"


def test_pagerank_mass_and_positivity(spark, sf_dir):
    """PageRank invariants on the near-dup graph: every rank positive and
    the total mass stays ≈ 1 (exact up to the 12dp per-node rounding —
    no dangling mass because every pair-graph node has degree ≥ 1)."""
    from es_ch_sync_spark.operators.dedup import minhash_near_duplicates, pagerank
    from es_ch_sync_spark.io.sources import read_parquet_table

    docs = read_parquet_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, threshold=0.5)
    ranks = pagerank(pairs, iterations=2).collect()
    assert ranks and all(r["pagerank"] > 0 for r in ranks)
    total = sum(r["pagerank"] for r in ranks)
    assert abs(total - 1.0) < 1e-6 * len(ranks)


def test_containment_dominates_jaccard(spark, sf_dir):
    """Structural law: containment ≥ Jaccard for every pair (the
    denominator min(|A|,|B|) ≤ union), and containment ∈ (0, 1]."""
    from es_ch_sync_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs
    from es_ch_sync_spark.io.sources import read_parquet_table

    docs = read_parquet_table(spark, sf_dir, "documents")
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(docs, threshold=0.0).collect()
    }
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    assert cont and set(jac) == set(cont)
    for k, c in cont.items():
        assert 0 < c <= 1.0 + 1e-9
        assert c >= jac[k] - 1e-9


def test_assign_shards_partitions_token_stream(spark, sf_dir):
    """Shard layout laws: offsets are a permutation of the exclusive token
    cumsum (no gaps, no overlap), shards are contiguous offset ranges,
    and every doc's shard equals floor(start/budget)."""
    from es_ch_sync_spark.operators.sampling import assign_shards
    from es_ch_sync_spark.io.sources import read_parquet_table

    docs = read_parquet_table(spark, sf_dir, "documents")
    budget = 5_000
    rows = sorted(
        assign_shards(docs, shard_tokens=budget).collect(),
        key=lambda r: r["start_offset"],
    )
    expect = 0
    for r in rows:
        assert r["start_offset"] == expect
        assert r["shard"] == r["start_offset"] // budget
        expect += r["n_tokens"]


# ---------------------------------------------------------------------------
# chunk_documents invariants
# ---------------------------------------------------------------------------


@given(
    n_toks=st.integers(min_value=1, max_value=200),
    window=st.integers(min_value=2, max_value=50),
    stride=st.integers(min_value=1, max_value=50),
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_chunk_invariants(spark, n_toks, window, stride):
    """Every window is exactly min(window, n) tokens (the clamp
    guarantees no short tails) and starts are unique; full coverage of
    every token additionally requires stride <= window (stride > window
    is deliberate subsampling and leaves inter-window gaps)."""
    from es_ch_sync_spark.operators.features import chunk_documents

    text = " ".join(f"t{i}" for i in range(n_toks))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = chunk_documents(df, window=window, stride=stride).collect()
    starts = sorted(r.start_tok for r in rows)
    assert len(starts) == len(set(starts))
    want_len = min(window, n_toks)
    assert all(r.n_tok == want_len for r in rows)
    covered = set()
    for st_ in starts:
        covered.update(range(st_, st_ + want_len))
    if stride <= window:
        assert covered == set(range(n_toks))
    else:
        assert max(covered) == n_toks - 1  # the clamp still reaches the end


# ---------------------------------------------------------------------------
# txlog commit-protocol race
# ---------------------------------------------------------------------------


def test_txlog_threaded_appends_all_land(spark, tmp_path):
    """8 writers racing the O_EXCL commit protocol: every append lands at
    a distinct version and no rows are lost."""
    import concurrent.futures as cf

    from es_ch_sync_spark.io import txlog as tx

    t = str(tmp_path / "t")

    def one(i: int) -> int:
        df = spark.range(i * 10, i * 10 + 10).selectExpr("id")
        return tx.txlog_append(df, t, max_retries=50)

    with cf.ThreadPoolExecutor(max_workers=8) as ex:
        versions = list(ex.map(one, range(8)))
    assert sorted(versions) == list(range(8))  # distinct, contiguous
    assert tx.read_table(spark, t).count() == 80


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
            min_size=1,
            max_size=12,
        ),
        min_size=2,
        max_size=8,
    )
)
def test_dup_span_removal_invariants(spark, docs):
    """For any corpus: (1) cleaned text contains NO k-gram that was
    duplicated in the corpus, (2) removed token count == original −
    kept, (3) docs without duplicated grams are untouched (absent from
    the output)."""
    from collections import Counter

    from es_ch_sync_spark.operators.dedup import remove_dup_spans

    k = 3
    texts = [" ".join(toks) for toks in docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in remove_dup_spans(df, k=k).collect()}

    grams = Counter()
    for toks in docs:
        for i in range(len(toks) - k + 1):
            grams[" ".join(toks[i : i + k])] += 1
    dup = {g for g, c in grams.items() if c > 1}

    for doc_id, toks in enumerate(docs):
        has_dup_hit = any(
            " ".join(toks[i : i + k]) in dup for i in range(len(toks) - k + 1)
        )
        if not has_dup_hit:
            assert doc_id not in out
            continue
        r = out[doc_id]
        # full reference model: recompute hit starts → merged spans →
        # kept positions, and demand exact equality of every output col
        starts = [
            i
            for i in range(len(toks) - k + 1)
            if " ".join(toks[i : i + k]) in dup
        ]
        spans = []
        for i in starts:
            if spans and i <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], i + k)
            else:
                spans.append([i, i + k])
        covered = set(p for a, b in spans for p in range(a, b))
        expect_clean = " ".join(
            t for p, t in enumerate(toks) if p not in covered
        )
        assert r["n_spans"] == len(spans)
        assert r["n_dup_tokens"] == len(covered)
        assert r["clean_text"] == expect_clean


# ---------------------------------------------------------------------------
# Boilerplate-chunk removal vs exact Python model
# ---------------------------------------------------------------------------

_bp_doc = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=1, max_size=13
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_bp_doc, min_size=1, max_size=10), st.integers(2, 3))
def test_boilerplate_chunks_matches_python_model(spark, docs_tokens, min_docs):
    """remove_boilerplate_chunks equals the direct Python statement of the
    semantics (chunk by c tokens, DF >= min_docs is boilerplate, cut) on
    random tiny-alphabet corpora — the regime where chunk collisions
    across docs are dense and every branch (full-doc cut, partial tail
    chunk, within-doc-only repeats) is exercised."""
    from es_ch_sync_spark.operators.dedup import remove_boilerplate_chunks

    c = 2
    texts = [" ".join(toks) for toks in docs_tokens]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_boiler_chunks"], r["clean_text"])
        for r in remove_boilerplate_chunks(
            df, chunk_tokens=c, min_docs=min_docs
        ).collect()
    }

    # python model (normalization is trivial here: single-space lowercase)
    chunks_of = {
        i: [toks[j : j + c] for j in range(0, len(toks), c)]
        for i, toks in enumerate(docs_tokens)
    }
    docs_with = {}
    for i, chs in chunks_of.items():
        for ch in chs:
            docs_with.setdefault(tuple(ch), set()).add(i)
    for i, toks in enumerate(docs_tokens):
        boiler = {
            ci
            for ci, ch in enumerate(chunks_of[i])
            if len(docs_with[tuple(ch)]) >= min_docs
        }
        kept = [
            t
            for j, t in enumerate(toks)
            if (j // c) not in boiler
        ]
        assert got[i] == (len(chunks_of[i]), len(boiler), " ".join(kept)), (
            i,
            texts,
        )


# ---------------------------------------------------------------------------
# txlog DML model check: random append/delete/update/compact sequences vs a
# plain-Python dict model — every interleaving must agree row-for-row, and
# time travel must reproduce every historical snapshot.
# ---------------------------------------------------------------------------

_DML_OP = st.one_of(
    st.tuples(st.just("append"), st.integers(0, 4)),
    st.tuples(st.just("delete"), st.integers(0, 300)),
    st.tuples(st.just("update"), st.integers(0, 300)),
    st.tuples(st.just("compact"), st.just(0)),
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(ops=st.lists(_DML_OP, min_size=3, max_size=7), data=st.data())
def test_txlog_dml_sequences_match_model(spark, tmp_path_factory, ops, data):
    from es_ch_sync_spark.io import txlog as tx

    t = str(tmp_path_factory.mktemp("dml") / "t")
    next_id = 0

    def mk(n):
        nonlocal next_id
        rows = [(next_id + i, (next_id + i) * 2) for i in range(n)]
        next_id += n
        return rows

    model: dict[int, int] = {}
    history: list[dict[int, int]] = []
    seeded = mk(6)
    model.update(dict(seeded))
    tx.txlog_append(
        spark.createDataFrame(seeded, "id long, x long").coalesce(1),
        t, stats_cols=["id"],
    )
    history.append(dict(model))

    for op, arg in ops:
        if op == "append":
            rows = mk(arg + 1)
            tx.txlog_append(
                spark.createDataFrame(rows, "id long, x long").coalesce(1),
                t, stats_cols=["id"],
            )
            model.update(dict(rows))
        elif op == "delete":
            res = tx.txlog_delete(
                spark, t, [("id", ">=", arg), ("id", "<", arg + 4)],
                stats_cols=["id"],
            )
            doomed = [k for k in model if arg <= k < arg + 4]
            for k in doomed:
                del model[k]
            if res["version"] == len(history) - 1:
                continue  # provably-no-match: no commit, no history entry
        elif op == "update":
            res = tx.txlog_update(
                spark, t, [("id", ">=", arg), ("id", "<", arg + 4)],
                {"x": "x + 1"}, stats_cols=["id"],
            )
            for k in list(model):
                if arg <= k < arg + 4:
                    model[k] += 1
            if res["version"] == len(history) - 1:
                continue  # pruned-to-nothing: no commit
        else:
            res = tx.txlog_compact(
                spark, t, target_file_bytes=1 << 30, stats_cols=["id"]
            )
            if res["compacted_files"] == 0:
                continue  # no-op commits nothing
        history.append(dict(model))

    got = {r.id: r.x for r in tx.read_table(spark, t).collect()}
    assert got == model
    # every historical version replays exactly
    for v, snap in enumerate(history):
        if snap:
            at_v = {r.id: r.x for r in tx.read_table(spark, t, version=v).collect()}
            assert at_v == snap, f"version {v} diverged"


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(alphabet="abcxyz", min_size=1, max_size=12),
        min_size=1,
        max_size=8,
    ),
    st.lists(
        st.text(alphabet="abcxyz", min_size=1, max_size=4),
        min_size=1,
        max_size=10,
    ),
)
def test_unigram_viterbi_reconstruction_law(spark, words_in, vocab_in):
    """For ANY word and ANY vocab, the Viterbi segmentation concatenates
    back to the word exactly (out-of-vocab pieces ride the UNK cost, so
    the DP is total) — the invariant that makes token counts meaningful."""
    from pyspark.sql import functions as F

    from es_ch_sync_spark.operators.text import unigram_viterbi_tokens

    toks = sorted(set(vocab_in))
    lps = [-100 * (i + 1) for i in range(len(toks))]
    df = spark.createDataFrame([(w,) for w in set(words_in)], "w string")
    out = df.select(
        "w",
        F.concat_ws(
            "", unigram_viterbi_tokens(F.col("w"), toks, lps, max_len=4)
        ).alias("back"),
    ).collect()
    for r in out:
        assert r["back"] == r["w"], (r["w"], r["back"])


def test_pagerank_fixed_mass_bound_and_positivity(spark):
    """Integer PageRank: every rank positive, and total mass never
    exceeds the unit (floors only ever drop mass)."""
    from es_ch_sync_spark.operators.graph import pagerank_fixed

    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 7) for i in range(7)] + [(0, 3), (5, 2)],
        "src long, dst long",
    ).filter("src <> dst")
    ranks = pagerank_fixed(edges, iterations=4, unit=1_000_000_000).collect()
    total = sum(r["rank_m"] for r in ranks)
    assert all(r["rank_m"] > 0 for r in ranks)
    assert total <= 1_000_000_000


def test_ranking_metrics_bounds(spark):
    """nDCG, recall, MRR all in (0, 1] whenever a relevant doc is
    retrieved; never negative."""
    from es_ch_sync_spark.operators.analytics import ranking_metrics

    run = spark.createDataFrame(
        [(q, f"d{q}_{r}", r) for q in range(3) for r in range(1, 6)],
        "query_id int, doc_id string, rank int",
    )
    qrels = spark.createDataFrame(
        [(q, f"d{q}_{r}", (r % 3) + 1) for q in range(3) for r in (2, 4, 7)],
        "query_id int, doc_id string, rel int",
    )
    for r in ranking_metrics(run, qrels, k=5).collect():
        for m in ("mrr", "recall_at_k", "ndcg_at_k"):
            assert r[m] is None or 0.0 < r[m] <= 1.0, (m, r[m])


def test_char_entropy_upper_bound(spark):
    """H <= ln(n_distinct) (uniform maximizes entropy), with equality on
    a perfectly uniform doc."""
    import math

    from es_ch_sync_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [(1, "abcd" * 25), (2, "aabbbbcccccccc")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert abs(got[1]["entropy_nats"] - math.log(4)) < 1e-5
    assert got[2]["entropy_nats"] < math.log(got[2]["n_distinct"])


def _avg_ranks(values):
    """Tie-averaged 1-based ranks of a list (pure-python reference)."""
    order = sorted(range(len(values)), key=lambda i: values[i])
    ranks = [0.0] * len(values)
    i = 0
    while i < len(order):
        j = i
        while j + 1 < len(order) and values[order[j + 1]] == values[order[i]]:
            j += 1
        avg = (i + j + 2) / 2.0  # 1-based positions i+1..j+1
        for k in range(i, j + 1):
            ranks[order[k]] = avg
        i = j + 1
    return ranks


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=14,
    )
)
def test_wilcoxon_matches_reference(spark, pairs):
    """wilcoxon_signed_rank equals a brute-force tie-averaged-rank
    reference on small integer pairs (exact micro quantization)."""
    import math

    from es_ch_sync_spark.operators.analytics import wilcoxon_signed_rank

    rows = []
    for u, (x, y) in enumerate(pairs):
        rows += [(u, "a", float(x)), (u, "b", float(y))]
    df = spark.createDataFrame(rows, "u long, arm string, value double")
    out = wilcoxon_signed_rank(df, "u", "arm", "value", "a", "b").collect()
    ds = [x - y for x, y in pairs if x != y]
    if not ds:
        assert out == []
        return
    r = out[0]
    ranks = _avg_ranks([abs(d) for d in ds])
    w_plus = sum(rk for d, rk in zip(ds, ranks) if d > 0)
    n = len(ds)
    assert (r["n_pairs"], r["w_plus"]) == (n, round(w_plus, 1))
    counts = {}
    for d in ds:
        counts[abs(d)] = counts.get(abs(d), 0) + 1
    tie3 = sum(t * t * t - t for t in counts.values())
    var = n * (n + 1) * (2 * n + 1) / 24.0 - tie3 / 48.0
    if var > 0:
        z = (w_plus - n * (n + 1) / 4.0) / math.sqrt(var)
        assert r["z_score"] == round(z, 6)
    else:
        assert r["z_score"] is None


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # arm index
            st.integers(min_value=0, max_value=6),  # value
        ),
        min_size=2,
        max_size=16,
    )
)
def test_kruskal_wallis_matches_reference(spark, rows_in):
    """kruskal_wallis equals the textbook tie-corrected H on small
    integer pools (micro-quantized per-group terms drift < 1e-5)."""
    from es_ch_sync_spark.operators.analytics import kruskal_wallis

    rows = [(f"g{a}", float(v)) for a, v in rows_in]
    df = spark.createDataFrame(rows, "g string, x double")
    r = kruskal_wallis(df, "g", "x").collect()[0]
    vals = [v for _, v in rows_in]
    ranks = _avg_ranks(vals)
    groups = {}
    for (a, _), rk in zip(rows_in, ranks):
        groups.setdefault(a, []).append(rk)
    n = len(vals)
    h = 12.0 / (n * (n + 1)) * sum(
        sum(rs) ** 2 / len(rs) for rs in groups.values()
    ) - 3.0 * (n + 1)
    assert r["n_groups"] == len(groups) and r["n_total"] == n
    assert abs(r["h_stat"] - h) < 1e-5
    counts = {}
    for v in vals:
        counts[v] = counts.get(v, 0) + 1
    tie3 = sum(t * t * t - t for t in counts.values())
    corr = 1.0 - tie3 / (n**3 - n) if n > 1 else 0.0
    if n > 1 and corr > 0:
        assert abs(r["h_corrected"] - h / corr) < 1e-5
    else:
        assert r["h_corrected"] is None


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=0, max_value=20), min_size=2, max_size=10),
    st.lists(st.integers(min_value=0, max_value=20), min_size=2, max_size=10),
)
def test_effect_sizes_match_reference(spark, xs, ys):
    """Cohen's d / Hedges' g / Glass's delta match the textbook formulas
    on integer samples (exact micro moments, scale factor cancels)."""
    import math

    from es_ch_sync_spark.operators.analytics import effect_sizes_ab

    rows = [("a", float(v)) for v in xs] + [("b", float(v)) for v in ys]
    df = spark.createDataFrame(rows, "arm string, x double")
    r = effect_sizes_ab(df, "arm", "x", "a", "b").collect()[0]
    na, nb = len(xs), len(ys)
    ma, mb = sum(xs) / na, sum(ys) / nb
    ssd_a = sum(v * v for v in xs) - sum(xs) ** 2 / na
    ssd_b = sum(v * v for v in ys) - sum(ys) ** 2 / nb
    if ssd_a + ssd_b > 0:
        d = (ma - mb) / math.sqrt((ssd_a + ssd_b) / (na + nb - 2))
        assert r["cohen_d"] == round(d, 6)
        assert r["hedges_g"] == round(d * (1 - 3 / (4 * (na + nb) - 9)), 6)
    else:
        assert r["cohen_d"] is None
    if ssd_b > 0:
        assert r["glass_delta"] == round(
            (ma - mb) / math.sqrt(ssd_b / (nb - 1)), 6
        )
    else:
        assert r["glass_delta"] is None


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_png_roundtrip_random_images(seed):
    """encode_png -> decode_png is pixel-exact on random RGB images of
    varied shapes (no Spark involved: pure codec property)."""
    import numpy as np

    from es_ch_sync_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(seed)
    h = int(rng.integers(1, 12))
    w = int(rng.integers(1, 12))
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_gif_roundtrip_random_images(seed):
    """encode_gif -> decode_gif is pixel-exact on random paletted images
    of varied shapes and palette sizes, including LZW code-width
    boundary crossings (no Spark involved: pure codec property)."""
    import numpy as np

    from es_ch_sync_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.default_rng(seed)
    h = int(rng.integers(1, 40))
    w = int(rng.integers(1, 40))
    ncol = int(rng.integers(1, 257))
    pal = rng.integers(0, 256, size=(ncol, 3), dtype=np.uint8)
    img = pal[rng.integers(0, ncol, size=(h, w))]
    assert np.array_equal(decode_gif(encode_gif(img)), img)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_delong_auc_matches_bruteforce(spark, seed):
    """delong_auc_compare's AUCs equal the brute-force tie-averaged
    pair statistic, and its z matches a direct numpy DeLong on the
    same structural components."""
    import numpy as np

    from es_ch_sync_spark.operators.analytics import delong_auc_compare

    rng = np.random.default_rng(seed)
    n = int(rng.integers(12, 40))
    y = rng.integers(0, 2, n).astype(bool)
    if y.all() or (~y).all():
        y[0] = True
        y[1] = False
    a = rng.integers(0, 8, n)
    b = rng.integers(0, 8, n)
    df = spark.createDataFrame(
        [(int(a[i]), int(b[i]), bool(y[i])) for i in range(n)],
        "sa long, sb long, y boolean",
    )
    got = delong_auc_compare(df, "sa", "sb", "y").collect()[0]

    def brute_auc(x):
        pos, neg = x[y], x[~y]
        wins = (pos[:, None] > neg[None, :]).sum()
        ties = (pos[:, None] == neg[None, :]).sum()
        return (wins + 0.5 * ties) / (len(pos) * len(neg))

    assert got["auc_a"] == round(float(brute_auc(a)), 6)
    assert got["auc_b"] == round(float(brute_auc(b)), 6)

    def structural(x):
        pos, neg = x[y], x[~y]
        psi_pos = np.array(
            [((p > neg).sum() + 0.5 * (p == neg).sum()) / len(neg) for p in pos]
        )
        psi_neg = np.array(
            [((pos > q).sum() + 0.5 * (pos == q).sum()) / len(pos) for q in neg]
        )
        return psi_pos, psi_neg

    pa, na_ = structural(a)
    pb, nb_ = structural(b)
    m, nn = len(pa), len(na_)
    if m > 1 and nn > 1:
        s10 = np.cov(np.vstack([pa, pb]))
        s01 = np.cov(np.vstack([na_, nb_]))
        var = (s10[0, 0] + s10[1, 1] - 2 * s10[0, 1]) / m + (
            s01[0, 0] + s01[1, 1] - 2 * s01[0, 1]
        ) / nn
        if var > 1e-12:
            z = (brute_auc(a) - brute_auc(b)) / np.sqrt(var)
            assert abs(got["z_delong"] - z) < 1e-5
        else:
            assert got["z_delong"] is None


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_cramer_von_mises_matches_bruteforce(spark, seed):
    """cramer_von_mises_ab equals the direct tie-weighted ECDF sum."""
    import numpy as np

    from es_ch_sync_spark.operators.analytics import cramer_von_mises_ab

    rng = np.random.default_rng(seed)
    na, nb = int(rng.integers(3, 25)), int(rng.integers(3, 25))
    a = rng.integers(0, 10, na)
    b = rng.integers(0, 10, nb)
    rows = [("A", float(x)) for x in a] + [("B", float(x)) for x in b]
    df = spark.createDataFrame(rows, "arm string, value double")
    got = cramer_von_mises_ab(df, "arm", "value", "A", "B").collect()[0]
    pooled = np.concatenate([a, b])
    vals, counts = np.unique(pooled, return_counts=True)
    fa = np.array([(a <= v).sum() for v in vals]) / na
    fb = np.array([(b <= v).sum() for v in vals]) / nb
    t = (na * nb / (na + nb) ** 2) * float((counts * (fa - fb) ** 2).sum())
    assert abs(got["t_cvm"] - t) < 1e-6


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_hodges_lehmann_matches_bruteforce(spark, seed):
    """hodges_lehmann_daily equals the lower median of all cross-arm
    differences."""
    import datetime

    import numpy as np

    from es_ch_sync_spark.operators.analytics import hodges_lehmann_daily

    rng = np.random.default_rng(seed)
    na, nb = int(rng.integers(2, 15)), int(rng.integers(2, 15))
    a = rng.integers(0, 50, na)
    b = rng.integers(0, 50, nb)
    d0 = datetime.date(2024, 1, 1)
    rows = [
        ("A", d0 + datetime.timedelta(days=i), int(a[i])) for i in range(na)
    ] + [("B", d0 + datetime.timedelta(days=i), int(b[i])) for i in range(nb)]
    df = spark.createDataFrame(rows, "arm string, day date, y long")
    got = hodges_lehmann_daily(df, "arm", "day", "y", "A", "B").collect()[0]
    diffs = np.sort((a[:, None] - b[None, :]).reshape(-1))
    lower_med = diffs[(len(diffs) + 1) // 2 - 1]
    assert got["n_pairs"] == na * nb
    assert got["hl_shift"] == float(lower_med)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_friedman_matches_formula(spark, seed):
    """friedman_daily equals the textbook statistic over tie-averaged
    within-block ranks (complete blocks only)."""
    import datetime

    import numpy as np

    from es_ch_sync_spark.operators.analytics import friedman_daily

    rng = np.random.default_rng(seed)
    n, k = int(rng.integers(3, 12)), int(rng.integers(3, 6))
    y = rng.integers(0, 8, (n, k))
    d0 = datetime.date(2024, 1, 1)
    rows = [
        (d0 + datetime.timedelta(days=i), f"t{j}", int(y[i, j]))
        for i in range(n)
        for j in range(k)
    ]
    df = spark.createDataFrame(rows, "b date, t string, y long")
    got = friedman_daily(df, "b", "t", "y").collect()[0]
    # tie-averaged ranks within each block, numpy only
    ranks = np.zeros((n, k))
    for i in range(n):
        row = y[i]
        order = np.argsort(row, kind="stable")
        r = np.empty(k)
        pos = 1
        for v in np.unique(row):
            idx = np.where(row == v)[0]
            r[idx] = pos + (len(idx) - 1) / 2.0
            pos += len(idx)
        ranks[i] = r
    rj = ranks.sum(axis=0)
    chi = 12.0 / (n * k * (k + 1)) * float((rj ** 2).sum()) - 3.0 * n * (k + 1)
    assert got["n_blocks"] == n and got["k_treatments"] == k
    assert abs(got["chi2_f"] - chi) < 1e-6


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_mantel_haenszel_matches_formula(spark, seed):
    """mantel_haenszel equals the direct CMH formulas over the same
    per-stratum 2x2 cells."""
    import numpy as np

    from es_ch_sync_spark.operators.analytics import mantel_haenszel

    rng = np.random.default_rng(seed)
    ns = int(rng.integers(2, 6))
    rows = []
    for s in range(ns):
        for _ in range(int(rng.integers(4, 30))):
            rows.append((f"s{s}", bool(rng.integers(0, 2)), bool(rng.integers(0, 2))))
    df = spark.createDataFrame(rows, "s string, e boolean, o boolean")
    got = mantel_haenszel(df, "s", "e", "o").collect()[0]
    sad = sbc = se = sv = suma = 0.0
    n_strata = 0
    for s in range(ns):
        sub = [(e, o) for (st_, e, o) in rows if st_ == f"s{s}"]
        a = sum(1 for e, o in sub if e and o)
        b = sum(1 for e, o in sub if e and not o)
        c = sum(1 for e, o in sub if not e and o)
        d = sum(1 for e, o in sub if not e and not o)
        nt = a + b + c + d
        if nt < 2:
            continue
        n_strata += 1
        suma += a
        sad += round(a * d / nt * 1e6)
        sbc += round(b * c / nt * 1e6)
        se += round((a + b) * (a + c) / nt * 1e6)
        sv += round(
            (a + b) * (c + d) * (a + c) * (b + d) / (nt * nt * (nt - 1)) * 1e6
        )
    assert got["n_strata"] == n_strata and got["sum_a"] == suma
    if sbc > 0:
        assert abs(got["or_mh"] - sad / sbc) < 1e-5
    if sv > 0:
        chi = (suma - se / 1e6) ** 2 / (sv / 1e6)
        assert abs(got["chi2_cmh"] - chi) < 1e-5


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_kcenter_matches_bruteforce_greedy(spark, seed):
    """kcenter_coreset equals the brute-force greedy selection with the
    same seed and tie rules."""
    import numpy as np

    from es_ch_sync_spark.operators.sampling import kcenter_coreset

    rng = np.random.default_rng(seed)
    n, d = int(rng.integers(6, 20)), 4
    vecs = rng.random((n, d)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    got = [
        (r["round"], r["vec_id"], r["sel_dist2"])
        for r in kcenter_coreset(df, k=4).collect()
    ]
    q = np.round(vecs.astype(np.float64) * 1e6).astype(np.int64)
    sel = [0]
    md = ((q - q[0]) ** 2).sum(axis=1)
    want = [(1, 0, None)]
    for r in range(2, 5):
        best = int(np.lexsort((np.arange(n), -md))[0])
        want.append((r, best, round(float(md[best]) / 1e12, 6)))
        sel.append(best)
        md = np.minimum(md, ((q - q[best]) ** 2).sum(axis=1))
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_qini_matches_bruteforce(spark, seed):
    """qini_uplift_deciles' cumulative counts and qini match a direct
    computation with the same descending-value-census decile rule."""
    import numpy as np

    from es_ch_sync_spark.operators.analytics import qini_uplift_deciles

    rng = np.random.default_rng(seed)
    n = int(rng.integers(20, 80))
    score = rng.integers(0, 12, n)
    treated = rng.integers(0, 2, n).astype(bool)
    conv = rng.integers(0, 2, n).astype(bool)
    df = spark.createDataFrame(
        [(int(score[i]), bool(treated[i]), bool(conv[i])) for i in range(n)],
        "score long, treated boolean, converted boolean",
    )
    got = {
        r["decile"]: (
            r["cum_n_treat"], r["cum_n_ctrl"],
            r["conv_treat"], r["conv_ctrl"], r["qini"],
        )
        for r in qini_uplift_deciles(df, "score", "treated", "converted").collect()
    }
    # brute: decile per distinct value by cum-above, then cumulative
    vals = np.sort(np.unique(score))[::-1]
    cum_above = 0
    dec_of_val = {}
    for v in vals:
        dec_of_val[int(v)] = min(int(10 * cum_above / n), 9)
        cum_above += int((score == v).sum())
    dec = np.array([dec_of_val[int(s)] for s in score])
    cnt, cnc, cct, ccc = 0, 0, 0, 0
    for d in sorted(set(dec)):
        m = dec == d
        pt = int((m & treated & conv).sum())
        pc = int((m & ~treated & conv).sum())
        cnt += int((m & treated).sum())
        cnc += int((m & ~treated).sum())
        cct += pt
        ccc += pc
        q = round(cct - ccc * cnt / cnc, 6) if cnc > 0 else None
        assert got[d] == (cnt, cnc, pt, pc, q)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_diff_in_diff_matches_bruteforce(spark, seed):
    """diff_in_diff equals the direct 2x2 cell computation."""
    import numpy as np

    from es_ch_sync_spark.operators.analytics import diff_in_diff

    rng = np.random.default_rng(seed)
    rows = []
    cells = {}
    for arm in ("A", "B"):
        for post in (False, True):
            n = int(rng.integers(2, 20))
            vals = rng.integers(0, 50, n).astype(float)
            cells[(arm, post)] = vals
            rows += [(arm, post, float(v)) for v in vals]
    df = spark.createDataFrame(rows, "arm string, post boolean, value double")
    got = diff_in_diff(df, "arm", "post", "value", "A", "B").collect()[0]
    m = {k: v.mean() for k, v in cells.items()}
    did = (m[("B", True)] - m[("B", False)]) - (m[("A", True)] - m[("A", False)])
    assert abs(got["did"] - did) < 1e-6
    vn = sum(
        v.var(ddof=1) / len(v) for v in cells.values()
    )
    if vn > 0:
        assert abs(got["t_did"] - did / vn ** 0.5) < 1e-5


def test_sprt_llr_matches_hand_computation(spark):
    """sprt_conversion_daily's LLR and decisions equal the hand-computed
    Wald recursion on a tiny two-day stream."""
    import datetime
    import math

    from pyspark.sql import functions as F

    from es_ch_sync_spark.operators.analytics import sprt_conversion_daily

    d1 = datetime.datetime(2024, 1, 1)
    d2 = datetime.datetime(2024, 1, 2)
    # day 1: 4 trials 3 successes; day 2: +6 trials +5 successes
    rows = [(d1, "buy")] * 3 + [(d1, "skip")] + [(d2, "buy")] * 5 + [(d2, "skip")]
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = {
        str(r["day"]): r
        for r in sprt_conversion_daily(
            ev, "ts", F.col("event_type") == "buy", p0=0.2, p1=0.25,
            alpha=0.05, beta=0.2,
        ).collect()
    }
    l1 = math.log(0.25 / 0.2)
    l0 = math.log(0.75 / 0.8)
    upper = math.log(0.8 / 0.05)
    lower = math.log(0.2 / 0.95)
    for day, (n, k) in {"2024-01-01": (4, 3), "2024-01-02": (10, 8)}.items():
        llr = k * l1 + (n - k) * l0
        r = out[day]
        assert r["n_cum"] == n and r["k_cum"] == k
        assert r["llr"] == round(llr, 6)
        want = "h1" if llr >= upper else ("h0" if llr <= lower else "continue")
        assert r["decision"] == want


def test_mix_jsd_bounds_and_identity(spark):
    """event_mix_drift_daily: identical consecutive-day mixes read 0;
    disjoint mixes read ln 2; everything is within [0, ln 2]."""
    import datetime
    import math

    from es_ch_sync_spark.operators.analytics import mix_jsd_daily

    d = datetime.datetime
    rows = (
        [(d(2024, 1, 1), "a")] * 3 + [(d(2024, 1, 1), "b")] * 1
        + [(d(2024, 1, 2), "a")] * 6 + [(d(2024, 1, 2), "b")] * 2  # same mix
        + [(d(2024, 1, 3), "c")] * 5                                # disjoint
    )
    ev = spark.createDataFrame(rows, "ts timestamp, et string")
    out = {str(r["day"]): r["jsd_nats"] for r in mix_jsd_daily(ev, "ts", "et").collect()}
    assert out["2024-01-01"] is None          # no previous day
    assert out["2024-01-02"] == 0.0           # identical mix
    assert abs(out["2024-01-03"] - math.log(2)) < 1e-6  # disjoint support
    assert all(v is None or 0.0 <= v <= math.log(2) + 1e-9 for v in out.values())


# ---------------------------------------------------------------------------
# es_status writer: the columnar hit encoder against the per-row encoding
# (to_pylist + json.dumps) it replaced, kept here as the reference
# ---------------------------------------------------------------------------


def _row_jsonify(v):
    import base64
    import decimal

    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    raise TypeError(type(v))


def _row_hit_lines(batch, index, id_col, tag, n0):
    import json

    out = []
    for n, rec in enumerate(batch.to_pylist(), n0):
        doc_id = rec.pop(id_col, None)
        hit = {
            "_id": str(doc_id) if doc_id is not None else f"{tag}:{n}",
            "_index": index,
            "_source": rec,
        }
        out.append(json.dumps(hit, separators=(",", ":"), default=_row_jsonify) + "\n")
    return out


def _decoded(line: str):
    """json.loads keeping what == would hide: NaN/Infinity tokens, a
    float read back as an int, the sign of -0.0."""
    import json
    import math

    return json.loads(
        line,
        parse_constant=lambda c: ("const", c),
        parse_float=lambda s: ("float", float(s), math.copysign(1.0, float(s))),
    )


_TEXT = st.text(
    st.one_of(st.sampled_from('"\\\n\t\b\x00\x1f\x7f '), st.characters()), max_size=6
)
_UTC_TS = st.datetimes(timezones=st.just(timezone.utc))


def _encoder_columns():
    import pyarrow as pa

    return {
        "text": (pa.string(), _TEXT),
        "text_large": (pa.large_string(), _TEXT),
        "f64": (pa.float64(), st.one_of(st.floats(), st.sampled_from([-0.0, 100.0, 1e15, 1e16, 1e-5]))),
        "f32": (pa.float32(), st.floats(width=32)),
        "i64": (pa.int64(), st.integers(-(2**63), 2**63 - 1)),
        "i32": (pa.int32(), st.integers(-(2**31), 2**31 - 1)),
        "flag": (pa.bool_(), st.booleans()),
        "ts": (pa.timestamp("us", tz="UTC"), _UTC_TS),
        "ts_ntz": (pa.timestamp("us"), st.datetimes()),
        "day": (pa.date32(), st.dates()),
        "amount": (pa.decimal128(12, 3), st.decimals(-(10**8), 10**8, places=3)),
        "blob": (pa.binary(), st.binary(max_size=6)),
        "nested": (
            pa.struct([
                ("n", pa.int64()), ("tags", pa.list_(pa.string())),
                ("at", pa.timestamp("us", tz="UTC")),
            ]),
            st.fixed_dictionaries({
                "n": st.none() | st.integers(-5, 5),
                "tags": st.none() | st.lists(st.none() | _TEXT, max_size=3),
                "at": st.none() | _UTC_TS,
            }),
        ),
    }


@st.composite
def _hit_batches(draw):
    """(record batch, id column name): every column type above with
    nulls, plus a string, large string, integer or absent ``es_id`` with
    null ids."""
    import pyarrow as pa

    n = draw(st.integers(0, 6))
    cols = {
        name: pa.array(draw(st.lists(st.none() | values, min_size=n, max_size=n)), typ)
        for name, (typ, values) in _encoder_columns().items()
    }
    id_type = draw(st.sampled_from([pa.string(), pa.large_string(), pa.int64(), None]))
    if id_type is not None:
        values = st.integers(-(2**63), 2**63 - 1) if id_type == pa.int64() else _TEXT
        ids = draw(st.lists(st.none() | values, min_size=n, max_size=n))
        names = list(cols)
        names.insert(draw(st.integers(0, len(names))), "es_id")
        cols["es_id"] = pa.array(ids, id_type)
        cols = {k: cols[k] for k in names}
    return pa.record_batch(cols), "es_id"


@settings(max_examples=150, deadline=None, suppress_health_check=list(HealthCheck))
@given(_hit_batches(), st.integers(0, 10**6))
def test_es_status_encoder_matches_row_encoding(batch_and_id, n0):
    """Every line the columnar encoder writes decodes to the line the
    per-row ``to_pylist`` + ``json.dumps`` encoding wrote."""
    from es_ch_sync_spark.io.es_datasource import _hit_lines

    batch, id_col = batch_and_id
    index = 'status-"é\\'
    got = _hit_lines(batch, index, id_col, "3-0-abcd1234", n0).to_pylist()
    want = _row_hit_lines(batch, index, id_col, "3-0-abcd1234", n0)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g.endswith("\n") and g.count("\n") == 1
        assert _decoded(g) == _decoded(w)


def test_es_status_stream_micro_batch_uses_the_batch_encoder(spark, tmp_path):
    """The streaming sink's ``write`` is the batch writer's (one encoder),
    and a micro-batch it writes decodes to the per-row reference
    encoding of the same rows."""
    import json
    import os

    from es_ch_sync_spark.io.es_datasource import (
        EsStatusStreamWriter,
        EsStatusWriter,
        read_es_status,
        read_es_status_stream,
    )

    assert EsStatusStreamWriter.write is EsStatusWriter.write
    schema = "es_id string, subject string, time timestamp, data_speed bigint, data_odometer double"
    src, sink = tmp_path / "export", tmp_path / "sink"
    src.mkdir()
    odometers = [float("nan"), -0.0, 1e16, 2.5, None, float("inf")]
    with open(src / "part-00001.ndjson", "w") as f:
        for i, odo in enumerate(odometers):
            source = {
                "subject": ['a"b', "c\\d", "e\nf", "ü😀", None, ""][i],
                "time": f"2024-01-0{i + 1}T00:00:0{i}.{i * 5:06d}Z" if i % 3 else None,
                "data_speed": i * 10 if i != 4 else None,
                "data_odometer": odo,
            }
            f.write(json.dumps({"_id": f"e{i}", "_index": "x", "_source": source}) + "\n")
    q = (
        read_es_status_stream(spark, str(src), schema)
        .writeStream.format("es_status")
        .option("path", str(sink))
        .option("index", "status")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = []
    for p in sorted(os.listdir(sink)):
        if p.startswith("part-"):
            with open(sink / p) as f:
                got += f.readlines()
    rows = read_es_status(spark, str(src), schema).toArrow()
    want = [
        line for b in rows.to_batches() for line in _row_hit_lines(b, "status", "es_id", "-", 0)
    ]
    key = lambda d: d["_id"]  # noqa: E731
    assert sorted(map(_decoded, got), key=key) == sorted(map(_decoded, want), key=key)


def _row_stats(batches, cols):
    """The per-row [min, max] fold the writer did before pc.min_max,
    plus the NaN rule: a float column holding a NaN records nothing."""
    import math

    raw, dropped = {}, set()
    for b in batches:
        for rec in b.to_pylist():
            for c in cols:
                v = rec.get(c)
                if isinstance(v, float) and math.isnan(v):
                    dropped.add(c)
                if v is None or c in dropped:
                    continue
                cur = raw.setdefault(c, [v, v])
                cur[0], cur[1] = min(cur[0], v), max(cur[1], v)
    return {c: b for c, b in raw.items() if c not in dropped}


@settings(max_examples=100, deadline=None, suppress_health_check=list(HealthCheck))
@given(_hit_batches(), st.integers(0, 6))
def test_es_status_stats_fold_matches_row_fold(batch_and_id, cut):
    """Folding pc.min_max per batch gives the bounds the per-row fold
    gave, over a file written as two batches; a nested column, which no
    reader can prune on, records none."""
    from es_ch_sync_spark.io.es_datasource import _fold_stats

    batch, _ = batch_and_id
    batches = [batch.slice(0, cut), batch.slice(cut)]
    cols = [c for c in batch.schema.names if c != "nested"]
    bounds: dict = {}
    for b in batches:
        if b.num_rows:
            _fold_stats(bounds, b, cols + ["nested"])
    got = {c: b for c, b in bounds.items() if b is not None}
    assert "nested" not in got
    assert got == _row_stats(batches, cols)
