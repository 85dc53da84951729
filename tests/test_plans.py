"""Physical-plan regression tests: the scale-relevant artifact is the plan
shape, not sf0.01 timings — lock the strategies ARCHITECTURE.md documents.
A refactor that silently turns the dim join into a sort-merge join or stops
pushing the scan filters should fail here, not in a 100 TB deployment."""

from __future__ import annotations

import pytest

from es_ch_sync_spark.queries import spark_queries


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    qs = spark_queries()

    def plan_of(name: str) -> str:
        return qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()

    return plan_of


def test_projection_prunes_scan(plans):
    p = plans("project_prune")
    scan = next(l for l in p.splitlines() if "FileScan parquet" in l)
    assert "event_id" in scan and "value" in scan
    assert "event_type" not in scan and "props" not in scan  # pruned


def test_filters_reach_scan(plans):
    p = plans("scan_filter")
    scan = next(l for l in p.splitlines() if "FileScan parquet" in l)
    assert "user_id" in scan and "DataFilters" in scan
    assert "= 7" in scan  # subject predicate in the scan, not a post-filter


def test_topk_plans_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans("topk_scan")
    assert "TakeOrderedAndProject" in plans("tpch_q3_top10")


def test_dim_join_broadcasts(plans):
    p = plans("dim_join")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_sync_pipeline_shape(plans):
    p = plans("sync_pipeline")
    assert "BroadcastHashJoin" in p  # dim never shuffles the fact side
    assert "Generate explode" in p  # unpivot fused as a generator
    assert "SortMergeJoin" not in p


def _final_plan_nodes(description: str) -> list[tuple[str, str]]:
    """(name, details) of every node in the final plan of an AQE
    formatted-plan description (the status store's physicalPlanDescription)."""
    import re

    tree, _, details = description.partition("\n\n")
    tree = tree.split("== Initial Plan ==")[0]
    blocks = {
        int(m.group(1)): m.group(0)
        for m in re.finditer(r"^\((\d+)\) .*?(?=^\(\d+\) |\Z)", details, re.M | re.S)
    }
    nodes = []
    for m in re.finditer(r"(\w[\w ]*?) \((\d+)\)", tree):
        nodes.append((m.group(1).strip().lstrip("* "), blocks.get(int(m.group(2)), "")))
    return nodes


def test_sync_cli_write_plan_one_shuffle(spark, tmp_path):
    """The CLI's signal write: the ES export is a JVM JSON scan (no Python
    DataSource under it), the signal rows shuffle once — on the dedup key
    with event_date, never on event_date alone — and one dedup aggregate's
    Sort is the order the files are written in (no Sort of the write's
    own).  The device dim's own dedup shuffle sits under its broadcast."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from es_ch_sync_spark.io.es_datasource import write_es_status
    from es_ch_sync_spark.job.main import main

    docs = spark.range(400).select(
        F.concat(F.lit("e"), F.col("id").cast("string")).alias("es_id"),
        F.concat(F.lit("s"), (F.col("id") % 5).cast("string")).alias("subject"),
        (F.lit("2024-03-01").cast("timestamp") + F.make_interval(mins=F.col("id") * 9)).alias("time"),
        F.col("id").alias("data_speed"),
        F.when(F.col("id") % 3 == 0, "Ford").alias("data_make"),
    )
    src, dim, out = (str(tmp_path / p) for p in ("export", "dim", "signal"))
    write_es_status(docs.repartition(2), src, mode="overwrite")
    spark.createDataFrame([(f"s{i}", i) for i in range(4)], "subject string, token_id bigint").write.parquet(dim)

    with contextlib.redirect_stdout(io.StringIO()):
        assert main([
            "--source", src, "--source-format", "es_status", "--dim", dim, "--out", out,
            "--start", "2024-03-01T00:00:00Z", "--stop", "2024-03-10T00:00:00Z",
        ]) == 0
    # the output path is unique to this test: it names the CLI's write
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    writes = []
    while it.hasNext():
        desc = it.next().physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in desc and out in desc:
            writes.append(desc)
    (desc,) = writes
    nodes = _final_plan_nodes(desc)
    names = [n for n, _ in nodes]

    assert "Scan json" in names
    assert not any("BatchScan" in n or "PythonDataSource" in n for n in names)
    shuffles = [d for n, d in nodes if n == "Exchange"]
    signal_shuffles = [d for d in shuffles if "subject" not in d]
    assert len(shuffles) == 2 and len(signal_shuffles) == 1, shuffles
    keys = signal_shuffles[0].split("hashpartitioning(")[1]
    assert all(k in keys for k in ("event_date", "token_id", "timestamp", "name")), keys
    dedups = [d for n, d in nodes if n.endswith("Aggregate") and "min(struct" in d]
    assert len([d for d in dedups if "partial_min(" not in d]) == 1, dedups
    assert names.count("Sort") == 2, names  # the dedup's map and reduce sides
    assert "Sort" not in names[: names.index("SortAggregate")]


def test_agg_has_partial_stage(plans):
    p = plans("tpch_q1")
    assert "partial_sum" in p  # map-side combine before the exchange


def test_no_cartesian_in_lsh(plans):
    for q in ("dedup_minhash_lsh", "embedding_near_dup", "dedup_simhash"):
        p = plans(q)
        assert "CartesianProduct" not in p, q
        assert "BroadcastNestedLoopJoin" not in p, q


def test_range_join_is_equi(plans):
    p = plans("range_join_events")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_aqe_splits_skewed_join_partition(spark):
    """The skew path the engine relies on at 100 TB: with AQE skew-join
    enabled (session.py default), a sort-merge join whose fact side has a
    hot key is re-planned at runtime — the final adaptive plan carries the
    skew-split marker instead of sending the hot key to one reducer.
    Thresholds are lowered so a local-scale hot key qualifies; the conf
    restore keeps the shared session clean for other tests."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        n = 400_000
        fact = spark.range(n).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(2000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        joined = fact.join(dim, "k")
        # collect() drives THIS DataFrame's QueryExecution to its final
        # adaptive plan (count() would plan+run a separate aggregation)
        assert len(joined.collect()) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan or "skewed" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q5_star_join_broadcasts_all_dims(plans):
    """TPC-H Q5: every dimension join (customer/supplier/nation/region)
    must be a broadcast join; no sort-merge join, no cartesian; the
    orderdate band and region name must reach their scans as pushed
    filters."""
    p = plans("tpch_q5_local")
    assert p.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in p and "Cartesian" not in p
    assert "GreaterThanOrEqual(o_orderdate" in p  # date band pushed to scan
    assert "EqualTo(r_name,ASIA)" in p  # region filter pushed to scan


def test_q19_disjunction_pushes_quantity_hull(plans):
    """TPC-H Q19: the OR of band predicates must not defeat pushdown — the
    derivable l_quantity hull [1, 30] reaches the lineitem scan."""
    p = plans("tpch_q19_disjunctive")
    scan = next(
        l for l in p.splitlines() if "FileScan parquet" in l and "l_quantity" in l
    )
    # Catalyst pushes the whole per-column OR-of-bands into the scan
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in scan


def test_ivfpq_no_cartesian(plans):
    """The composed IVFADC pipeline must stay cartesian-free: every join is
    keyed (cells, sub/spos, codes) or a 1-row broadcast."""
    p = plans("ann_ivfpq_topk")
    assert "CartesianProduct" not in p


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Runtime semi-join reduction: with a selective dim filter and a
    shuffle join, Spark must inject a bloom filter built from the dim keys
    and apply it to the fact scan BEFORE the shuffle — at 100 TB this is
    the difference between shuffling the whole fact table and shuffling
    the ~matching fraction.  Local thresholds are tuned (the application-
    side default is 10 GB); the PLAN SHAPE is what's being pinned."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan and "l_orderkey" in plan.split("might_contain")[0][-200:] + plan.split("might_contain")[1][:200]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_asof_bucketed_is_equi_with_partial_agg(plans):
    """The tolerance as-of scale plan: keyed (key, cell) equi-join — never
    BNLJ/cartesian — and the per-left-row reduce is a decomposable
    max(struct) with a map-side partial stage."""
    p = plans("asof_join_bucketed")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "partial_max" in p


def test_q8_single_shuffle_join(plans):
    """TPC-H Q8: lineitem⋈orders is the ONLY shuffle join; part, supplier,
    customer, both nation roles and region all broadcast."""
    p = plans("tpch_q8_mktshare")
    assert p.count("BroadcastHashJoin") >= 6
    assert p.count("SortMergeJoin") + p.count("ShuffledHashJoin") <= 1
    assert "Cartesian" not in p


def test_q21_decorrelated_no_cartesian(plans):
    """TPC-H Q21: the EXISTS/NOT-EXISTS pair must plan as keyed semi/anti
    joins — no cartesian, no BNLJ."""
    p = plans("tpch_q21_waiting")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_assign_shards_no_global_window(plans):
    """The shard layout's cumsum must stay bucket-partitioned: every window
    over data rows carries the bucket partition spec; only the B-row
    offset table may use an un-partitioned window (its input is the
    per-bucket totals, named _t)."""
    p = plans("assign_shards")
    for line in p.splitlines():
        if "Window [" in line and "bucket" not in line:
            assert "_t" in line, f"global window over doc rows: {line}"


def test_sketch_plans_no_cartesian(plans):
    """KMV/CMS sketches: composite-key shuffles and broadcast probes only."""
    for q in ("kmv_distinct_users", "cms_frequency"):
        p = plans(q)
        assert "CartesianProduct" not in p, q
        assert "BroadcastNestedLoopJoin" not in p, q
    # CMS probe joins the tiny grid broadcast-side.
    assert "BroadcastHashJoin" in plans("cms_frequency")


def test_triangle_plan_equi_joins_only(plans):
    """Degree-ordered triangle counting must stay pure equi-join — a
    cartesian here is the difference between arboricity-bounded and n²."""
    p = plans("triangle_coactivity")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_fuzzy_join_blocked_not_nested_loop(plans):
    """The Levenshtein verify must ride on the block-key equi-join (hash or
    merge), never demote it to a nested-loop over all pairs."""
    p = plans("fuzzy_blocked_join")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_trigram_model_join_broadcasts(plans):
    """The |charset|^3-bounded LM model must broadcast to the scoring side."""
    assert "BroadcastHashJoin" in plans("trigram_perplexity")


def test_sq8_candidate_cut_take_ordered(plans):
    """SQ8's approx cut plans TakeOrderedAndProject (per-partition top-k),
    not a global sort."""
    p = plans("ann_sq8_topk")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_lag_features_single_exchange(plans):
    # one hash exchange on the entity key serves every window feature
    p = plans("lag_features")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Window" in p


def test_scd2_join_no_cartesian(plans):
    p = plans("scd2_dim_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # versions join facts through an equi-join on the entity key
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p


def test_ppjoin_candidates_equi_join_only(plans):
    p = plans("ppjoin_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_event_transitions_partial_agg(plans):
    p = plans("event_transitions")
    assert "partial_count" in p  # map-side combine on the transition counts
    assert "CartesianProduct" not in p


def test_bloom_semijoin_broadcasts_occupied_set(plans):
    p = plans("bloom_semijoin")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q2_broadcast_dims_decimal_min(plans):
    """TPC-H Q2: supplier/nation/region/part all broadcast; the only
    shuffles are the partsupp grouping and its per-part MIN — no
    cartesian from the decorrelated scalar subquery."""
    p = plans("tpch_q2_mincost")
    assert p.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_min" in p  # map-side combine on the surrogate cost


def test_q9_single_big_shuffle_join(plans):
    """TPC-H Q9: part/supplier/nation broadcast; shuffle joins only for
    lineitem⋈partsupp and ⋈orders."""
    p = plans("tpch_q9_profit")
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p


def test_q16_anti_join_and_two_phase_distinct(plans):
    """TPC-H Q16: NOT IN plans as a broadcast anti join; countDistinct
    is two-phase (partial_count after the dedup expand)."""
    p = plans("tpch_q16_suppcnt")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_q20_semi_join_coparitioned_inner(plans):
    """TPC-H Q20: the IN-subquery is a LEFT SEMI; partsupp and shipped
    share the (partkey, suppkey) clustering so their join adds no
    third exchange."""
    p = plans("tpch_q20_promo")
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bm25_shape(plans):
    """BM25: stats and df tables broadcast, final top-k is
    TakeOrderedAndProject, and no plan node ever joins doc×doc."""
    p = plans("bm25_topk")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" not in p or p.count("BroadcastNestedLoopJoin") <= 2
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_negative_sampling_shape(plans):
    """Negative sampling: the corpus count is a 1-row broadcast (never a
    shuffled join); the only real join is the keyed attach of negatives."""
    p = plans("negative_sample_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_contamination_gram_keyed_join(plans):
    """Contamination report joins on the gram key only — no doc×doc pair
    surface anywhere in the plan."""
    p = plans("contamination_report")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dup_span_keyed_joins_only(plans):
    """ExactSubstr dedup: gram-count join and span-attach join are keyed
    equi-joins; the per-doc island windows never become a corpus-wide
    single-partition sort (Window is partitioned by doc_id)."""
    p = plans("dup_span_removal")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_boilerplate_chunks_keyed_joins_only(plans):
    """Boilerplate removal joins on the chunk hash and the doc id only —
    no pair surface, no cartesian, BIGINT chunk keys through exchanges."""
    p = plans("boilerplate_chunks")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_margin_mine_ann_hash_only_dedup(plans):
    # candidate pair-dedup must run on bare long ids (HashAggregate) with
    # vectors rejoined AFTER — dragging the array columns through
    # dropDuplicates planned six SortAggregates (r6 finding); and banding
    # must never degenerate to an all-pairs product
    p = plans("margin_mine_ann")
    assert "SortAggregate" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dsir_keyed_joins_only(plans):
    # the B-row log-ratio model must broadcast; the doc-bucket join is the
    # only data-sized join and it is keyed — never a product
    p = plans("dsir_select")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_wordpiece_bpe_encode_fold_not_pushed_below_word_agg(plans):
    """The encode folds must run on the distinct-word table, never the raw
    corpus token stream: InferFiltersFromGenerate derives size(fold)>0
    from the explode, and (the fold being a pure function of the grouping
    key) predicate pushdown would drive it through the word-count
    aggregate onto every corpus occurrence — measured 30× at ×100.  The
    localCheckpoint barrier pins it; a Filter evaluating aggregate(...) on
    the scan side of the plan means the barrier was lost."""
    for q in ("wordpiece_token_freqs", "bpe_token_freqs", "unigram_token_freqs"):
        p = plans(q)
        # the barrier manifests as a scan of the checkpointed word RDD;
        # a FileScan in the same plan would mean the encode subtree still
        # reaches the corpus (the inferred size(fold)>0 filter ABOVE the
        # barrier is fine — once per distinct word)
        assert "Scan ExistingRDD" in p, q
        assert "FileScan" not in p, f"{q}: corpus scan below the encode fold"


def test_cap_per_domain_sorts_only_narrow_columns(plans):
    """The skew-safe two-phase cap: every Sort in the plan covers only
    the narrow (_domain, _salt, _rk, _cid) projection — document payload
    (text/url) must never enter a domain-keyed sort, or a crawl's head
    domain becomes a ~1 TB single-task sort at 100 TB."""
    import re

    p = plans("cap_per_domain_kept")
    # the final presentation orderBy is allowed; audit only partial sorts
    # feeding windows (those inside exchanges, marked by _domain)
    for m in re.finditer(r"Sort \[([^\]]*)\]", p):
        cols = m.group(1)
        if "_domain" in cols:
            assert "text" not in cols and "url" not in cols, cols
    assert "CartesianProduct" not in p


def test_mann_kendall_pairwise_is_keyed_join(plans):
    """The O(days²) pairwise stage must be an equi-join on the series key
    with the day inequality as a FILTER — a nested-loop/cartesian here
    would be quadratic in the TABLE, not the series."""
    p = plans("mann_kendall_trend")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p
    # any HASHED equi-join strategy is fine (r16: the fused single-pass
    # S/median aggregate lets the planner broadcast the small per-key
    # series side — still keyed on _k, the inequality stays a filter)
    assert (
        ("SortMergeJoin" in p)
        or ("ShuffledHashJoin" in p)
        or ("BroadcastHashJoin" in p)
    )


def test_nb_census_not_replayed(plans):
    """nb_train localCheckpoints the (label, tok) census: the confusion
    query's plan must read the checkpointed RDD — the r7 plan had the
    census lineage replayed ~4x (Exchange x20).  Scan budget 3: classify
    tokenize + label re-join + the priors build's 2-column doc-count
    scan (r16 #15 dropped doc_n's eager checkpoint, which ran the same
    scan as a blocking job BEFORE the plan; total scan work unchanged,
    one driver round-trip fewer, measured 1.74 → 1.36 s).  The census
    tokenization itself must never re-appear as a parquet scan."""
    p = plans("nb_lang_confusion")
    assert "Scan ExistingRDD" in p
    assert p.count("Scan parquet") <= 3, p.count("Scan parquet")
    # r17 (ADVICE r16): the budget bump 2→3 admitted ANY extra scan — pin
    # the three scans' shapes so the census tokenization (a lang+text
    # read) cannot silently reappear under the budget: every scan that
    # reads `text` must be the classify tokenize (doc_id+text), never
    # lang+text.
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        if "text" in cols:
            assert cols == {"doc_id", "text"}, f"unexpected text scan: {s}"


# --- Plan-shape gate (r11 verdict directive #1) -------------------------
# tools/plan_gate.py is the single source of truth for the three rules
# (zero CartesianProduct, census-whitelisted single-partition windows,
# shared-pass FileScan budgets); it runs in three places: here (pytest),
# tools/dump_plans.py (the PLANS.md regen step of the sweep chain), and
# standalone via `python tools/plan_gate.py`.

def _plan_gate():
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import plan_gate

    return plan_gate


def test_plan_gate_catches_injected_violations():
    """The gate itself must be non-vacuous: synthetic plans violating each
    of the three rules produce exactly the expected findings."""
    pg = _plan_gate()
    cart = "*(1) Project [x]\n+- CartesianProduct\n"
    assert any("CartesianProduct" in v for v in pg.violations("q", cart))
    spw = (
        "Window [sum(x) windowspecdefinition(y ASC)]\n"
        "+- *(1) Sort [y ASC], false, 0\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
    )
    assert any("single-partition Window" in v for v in pg.violations("q", spw))
    # whitelisted name passes the same plan
    assert pg.violations("benford_digits", spw) == []
    scans = "FileScan parquet a\nFileScan parquet b\n"
    assert any("budget" in v for v in pg.violations("doc_perplexity_buckets", scans))
    assert pg.violations("unbudgeted_query", scans) == []
    # the AQE Initial Plan section must not double-count
    aqe = "*(1) Project\n== Initial Plan ==\nCartesianProduct\n"
    assert pg.violations("q", aqe) == []
    # checkpoint-marker rule (r13): a budgeted plan whose shared pass was
    # silently un-checkpointed (no ExistingRDD anywhere, e.g. warm-session
    # cache hits keeping FileScan under budget) must fail
    warm = "InMemoryTableScan [x]\n+- *(1) Project\n"
    assert any("ExistingRDD" in v for v in pg.violations("corpus_stats_panel", warm))
    ok = "Scan ExistingRDD[x]\n+- *(1) Project\n"
    assert pg.violations("corpus_stats_panel", ok) == []
    # unbudgeted queries are exempt from the marker rule
    assert pg.violations("unbudgeted_query", warm) == []


def test_plan_gate_committed_artifact():
    """Gate the committed PLANS.md: all headline plans clean, and the
    census-window whitelist is TIGHT (every entry actually flags — a stale
    whitelist row would mask a future regression elsewhere)."""
    from pathlib import Path

    pg = _plan_gate()
    path = Path(__file__).resolve().parent.parent / "PLANS.md"
    if not path.exists():
        import pytest

        pytest.skip("PLANS.md not generated yet")
    plans = pg.parse_plans_md(path.read_text())
    assert len(plans) >= 100, "PLANS.md parse regression"
    all_v = [v for name, p in plans.items() for v in pg.violations(name, p)]
    assert all_v == [], all_v
    for name in pg.CENSUS_WINDOW_WHITELIST:
        if name in plans:
            assert pg.single_partition_windows(plans[name]) > 0, (
                f"stale whitelist entry: {name} no longer has a "
                "single-partition window — remove it"
            )


def test_plan_gate_live_shared_pass(spark, sf_dir):
    """Execute the two FileScan-budgeted shared-pass queries live and gate
    their POST-EXECUTION plans — the budget must hold on fresh plans, not
    just the committed artifact."""
    pg = _plan_gate()
    qs = spark_queries()
    for name in ("retrieval_ranking_eval", "doc_perplexity_buckets"):
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert pg.violations(name, plan) == [], name
