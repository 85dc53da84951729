"""Training-data feature operators: token-window chunking, bloom-filter
runtime semi-join pruning, embedding corpus diagnostics (per-group centroid
drift, distributed Gram matrix), SCD2 point-in-time joins, and Zipf
rank-frequency fitting.

These extend the engine's LLM-pipeline surface (cf. the reference's
row-shaping role in ``/root/reference/internal/app/sync.go:35-118`` — it
reshapes documents for a downstream consumer; a training pipeline reshapes
them into model-ready chunks and prunes with compact filters).

Scale notes (100 TB):
- ``chunk_documents`` is a single Generate (posexplode) over a per-row
  computed start list — no shuffle at all; chunking is embarrassingly
  parallel and the token arrays never leave the row.
- ``bloom_semijoin`` is the runtime-filter pattern: the build side reduces
  to at most ``m`` distinct bucket ints (a broadcast of a few KB regardless
  of build-side row count), and the probe side is a broadcast hash join —
  the expensive exact join runs only to *audit* the filter here; in
  production the bloom pass replaces a shuffle join with a broadcast
  pre-filter, exactly what Spark's InjectRuntimeFilter does with
  ``BloomFilterAggregate`` under AQE.
- ``embedding_gram`` never shuffles vectors: each partition folds its rows
  into one d×d float64 partial via numpy (Arrow-batched), emitting d·(d+1)/2
  rows per partition; the reduce shuffles O(P·d²) tiny rows, not O(n·d²).
  This is the classic "tree-reduce a small dense accumulator" pattern that
  posexplode-squared would get catastrophically wrong at scale.
- ``scd2_join`` is an equi-join on the entity key plus an interval filter —
  never an open range join; versions per key are bounded, so the per-key
  window that derives ``valid_to`` (lead) is safe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from es_ch_sync_spark.operators.sketches import hash56


# ---------------------------------------------------------------------------
# Token-window chunking
# ---------------------------------------------------------------------------


def chunk_documents(
    docs: DataFrame,
    window: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token windows for LLM training.

    Windows of ``window`` whitespace tokens every ``stride`` tokens; the last
    window is clamped to end at the final token (so no token is dropped and
    no window is shorter than ``window`` unless the doc itself is). Output:
    one row per (doc, start) with the chunk's token span and an md5
    fingerprint of the chunk text — scalar cells only, reproducible in SQL.

    Plan shape: project → Generate (posexplode of the per-row start list) →
    project. Zero shuffles; 100 TB of documents chunk at scan speed.
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col),
        toks.alias("toks"),
        F.size(toks).alias("n_toks"),
        F.greatest(F.size(toks) - window, F.lit(0)).alias("last_start"),
    )
    # starts = distinct({least(i*stride, n-window) : 0 <= i <= ceil((n-window)/stride)})
    # For n <= window this degenerates to [0] (one whole-doc chunk).
    starts = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(0),
                F.when(F.col("n_toks") <= window, F.lit(0)).otherwise(
                    F.ceil(
                        (F.col("n_toks") - F.lit(window)) / F.lit(float(stride))
                    ).cast("int")
                ),
            ),
            lambda i: F.least(i * stride, F.col("last_start")),
        )
    )
    chunk = F.slice(F.col("toks"), F.col("start_tok") + 1, window)
    return (
        base.select(
            F.col(id_col), "toks", F.explode(starts).alias("start_tok")
        )
        .select(
            F.col(id_col),
            F.col("start_tok").cast("int").alias("start_tok"),
            F.size(chunk).cast("int").alias("n_tok"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter runtime semi-join
# ---------------------------------------------------------------------------


def _bloom_positions(key: Column, m: int, k: int) -> Column:
    """Array of ``k`` bucket positions in [0, m) for a key — independent
    md5-derived hashes (seeded per hash row), oracle-reproducible."""
    return F.array(
        *[hash56(key, seed=f"bloom{j}") % F.lit(m) for j in range(k)]
    )


def bloom_semijoin_audit(
    build: DataFrame,
    probe: DataFrame,
    build_key: str,
    probe_key: str,
    probe_id: str,
    group_col: str,
    m: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Bloom-filter semi-join with an exact audit: how many probe rows pass
    the bloom filter vs truly match, per ``group_col``.

    The filter is the *distinct set of occupied bucket ints* (≤ m rows —
    a few KB broadcast however large the build side is). A probe row passes
    iff all ``k`` of its positions are occupied. The exact semi-join runs
    here only to count false positives; at scale the bloom pass is the
    cheap pre-filter in front of the real join (Spark's runtime-filter
    pattern, cf. InjectRuntimeFilter / BloomFilterAggregate).
    """
    occupied = (
        build.select(
            F.explode(_bloom_positions(F.col(build_key), m, k)).alias("pos")
        )
        .distinct()
    )
    probed = probe.select(
        F.col(probe_id).alias("_pid"),
        F.col(group_col),
        F.posexplode(_bloom_positions(F.col(probe_key), m, k)).alias(
            "j", "pos"
        ),
    )
    # all k hash rows must land in an occupied bucket
    passes = (
        probed.join(F.broadcast(occupied), "pos")
        .groupBy("_pid", group_col)
        .agg(F.count_distinct("j").alias("n_hit"))
        .where(F.col("n_hit") == k)
        .select("_pid", group_col)
    )
    exact = probe.select(F.col(probe_key).alias("_pk"), F.col(group_col)).join(
        F.broadcast(build.select(F.col(build_key).alias("_pk")).distinct()),
        "_pk",
        "leftsemi",
    )
    pass_counts = passes.groupBy(group_col).agg(
        F.count("*").alias("bloom_pass")
    )
    exact_counts = exact.groupBy(group_col).agg(F.count("*").alias("exact_match"))
    return (
        pass_counts.join(exact_counts, group_col, "fullouter")
        .select(
            F.col(group_col),
            F.coalesce("bloom_pass", F.lit(0)).cast("long").alias("bloom_pass"),
            F.coalesce("exact_match", F.lit(0))
            .cast("long")
            .alias("exact_match"),
            (
                F.coalesce("bloom_pass", F.lit(0))
                - F.coalesce("exact_match", F.lit(0))
            )
            .cast("long")
            .alias("false_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding corpus diagnostics
# ---------------------------------------------------------------------------


def centroid_drift(
    emb: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-group centroid distance from the global centroid — the standard
    corpus-mixture drift monitor (is one source's embedding distribution
    shifting away from the corpus?).

    Dimension means are rounded(6) before the distance so the float64
    summation-order difference between engines cannot leak into the
    comparison. Two shuffles total (per-group and global dim means), both
    on (group, dim) / (dim,) keys — never on vectors.
    """
    pe = emb.select(
        F.col(id_col),
        F.col(group_col),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    ).select(id_col, group_col, "pos", F.col("x").cast("double").alias("x"))
    grp = pe.groupBy(group_col, "pos").agg(
        F.round(F.avg("x"), 6).alias("c")
    )
    glob = pe.groupBy("pos").agg(F.round(F.avg("x"), 6).alias("g"))
    n = emb.groupBy(group_col).agg(F.count("*").alias("n_vectors"))
    return (
        grp.join(F.broadcast(glob), "pos")
        .groupBy(group_col)
        .agg(
            F.round(
                F.sqrt(F.sum((F.col("c") - F.col("g")) ** 2)), 4
            ).alias("drift")
        )
        .join(n, group_col)
        .select(group_col, "n_vectors", "drift")
    )


def embedding_gram(
    emb: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """Distributed Gram matrix G = Σ_v v·vᵀ over the embedding corpus —
    the sufficient statistic for PCA / whitening / covariance of the
    corpus (center with the dim means to get covariance).

    Each partition folds its vectors into ONE d×d float64 accumulator via
    numpy (Arrow batches), emitting the upper triangle (d·(d+1)/2 rows) per
    partition; the groupBy-sum reduce then moves O(partitions · d²) tiny
    rows. The naive posexplode² alternative shuffles O(n·d²) rows — 4096×
    the data volume per vector at d=64 — which is why this is a kernel, not
    a DataFrame composition.
    """
    import pandas as pd  # noqa: F401 — mapInPandas contract

    iu_schema = "i int, j int, partial double"

    def _partial(batches):
        import numpy as np
        import pandas as pd

        acc = np.zeros((dim, dim), dtype=np.float64)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if mat.size == 0:
                continue
            acc += mat.T @ mat
            seen = True
        if not seen:
            return
        iu = np.triu_indices(dim)
        yield pd.DataFrame(
            {"i": iu[0].astype("int32"), "j": iu[1].astype("int32"),
             "partial": acc[iu]}
        )

    partials = emb.select(vec_col).mapInPandas(_partial, schema=iu_schema)
    return (
        partials.groupBy("i", "j")
        .agg(F.round(F.sum("partial"), 4).alias("gram"))
    )


# ---------------------------------------------------------------------------
# SCD2 point-in-time join
# ---------------------------------------------------------------------------


def scd2_versions(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Turn a change-event stream into SCD Type-2 validity intervals:
    each event opens a version valid over [ts, next_ts); the latest version
    per key is open-ended (valid_to NULL).

    The lead() window partitions by the entity key — per-key version counts
    are bounded in any real dimension feed, so this is the safe kind of
    window (no global sort)."""
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    return (
        events.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w))
        .drop(ts_col)
    )


def scd2_join(
    facts: DataFrame,
    versions: DataFrame,
    key_col: str,
    fact_ts_col: str,
) -> DataFrame:
    """Point-in-time join: each fact row picks the dimension version active
    at its timestamp — equi-join on the key, then the interval filter
    [valid_from, valid_to). An equi-join plus filter keeps this a hash/SMJ
    join; never a range-only join."""
    return facts.join(versions, key_col).where(
        (F.col(fact_ts_col) >= F.col("valid_from"))
        & (
            F.col("valid_to").isNull()
            | (F.col(fact_ts_col) < F.col("valid_to"))
        )
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit
# ---------------------------------------------------------------------------


def zipf_fit(
    docs: DataFrame, text_col: str = "text", top_n: int = 100
) -> DataFrame:
    """OLS fit of ln(count) ~ ln(rank) over the top-N corpus words — the
    Zipf exponent, a standard corpus-health diagnostic (natural text sits
    near slope −1; templated/duplicated corpora flatten or steepen).

    The word count is one map-side-combined aggregate; the top-N truncation
    is a distributed TakeOrdered (count desc, word asc tie-break); only the
    ≤N surviving rows pass through a single-partition rank window, so the
    window's serial cost is O(N), not O(corpus)."""
    counts = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(top_n)
    )
    ranked = counts.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("cnt").desc(), F.col("word"))
        ),
    ).select(
        F.log(F.col("rk").cast("double")).alias("lx"),
        F.log(F.col("cnt").cast("double")).alias("ly"),
    )
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("ly") * F.col("ly")).alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vary = F.col("syy") - F.col("sy") * F.col("sy") / n
    slope = cov / varx
    return agg.select(
        F.col("n").cast("long").alias("n_words"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 4).alias("intercept"),
        F.round((cov * cov) / (varx * vary), 4).alias("r2"),
    )


# ---------------------------------------------------------------------------
# SCD2 incremental upsert
# ---------------------------------------------------------------------------


def scd2_upsert(
    versions: DataFrame,
    batch: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Apply a change batch to a stored SCD2 dimension incrementally.

    Only keys present in the batch are touched: their stored versions are
    re-opened (``valid_from`` is the original change timestamp, so the dim
    itself is a sufficient source — no re-read of historical facts), merged
    with the batch's new change rows, and re-versioned; every other key's
    rows pass through untouched via an anti-join. The result is identical
    to a full recompute over (history ∪ batch) — that equivalence is the
    correctness invariant the oracle checks — but the work done scales with
    the batch's key set, not the dimension.

    ``versions``/``batch`` must both carry ``key_col``, ``tiebreak_col``
    and the version payload columns; ``versions`` additionally has
    ``valid_from``/``valid_to`` from :func:`scd2_versions`, ``batch`` has
    raw ``ts_col``.
    """
    affected = batch.select(key_col).distinct()
    untouched = versions.join(F.broadcast(affected), key_col, "leftanti")
    reopened = versions.join(F.broadcast(affected), key_col, "leftsemi").drop(
        "valid_to"
    ).withColumnRenamed("valid_from", ts_col)
    merged = reopened.unionByName(batch)
    recomputed = scd2_versions(merged, key_col, ts_col, tiebreak_col)
    return untouched.unionByName(recomputed)


# ---------------------------------------------------------------------------
# Winsorized robust statistics
# ---------------------------------------------------------------------------


def winsorized_stats(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group winsorized mean/stddev: clip values to the exact
    [q_lo, q_hi] interpolated quantiles, then aggregate — the standard
    heavy-tail-robust alternative to a raw mean for quality-score
    calibration.

    Exact interpolated percentiles buffer one group's values in a single
    aggregation buffer — safe when groups are bounded categories (event
    types, sources); for unbounded groups swap in approx_percentile.
    Quantiles are rounded(6) before clipping so the clip boundary decision
    is identical in both engines."""
    q = df.groupBy(*group_cols).agg(
        F.round(F.percentile(value_col, F.lit(lo)), 6).alias("q_lo"),
        F.round(F.percentile(value_col, F.lit(hi)), 6).alias("q_hi"),
    )
    clipped = df.join(F.broadcast(q), group_cols).select(
        *group_cols,
        F.least(F.greatest(F.col(value_col), F.col("q_lo")), F.col("q_hi")).alias("v"),
        "q_lo",
        "q_hi",
    )
    return clipped.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.first("q_lo").alias("q_lo"),
        F.first("q_hi").alias("q_hi"),
        F.round(F.avg("v"), 4).alias("wins_mean"),
        F.round(F.stddev_samp("v"), 4).alias("wins_std"),
    )


# ---------------------------------------------------------------------------
# Sparse fingerprint cosine (inverted-index similarity join)
# ---------------------------------------------------------------------------


def fingerprint_nearest_neighbor(
    docs: DataFrame,
    k_terms: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_term_df: int | None = None,
) -> DataFrame:
    """Each document's most-similar neighbor by sparse tf·idf-fingerprint
    cosine — the inverted-index ("block on shared term") similarity join,
    the sparse counterpart of the dense embedding near-dup path.

    Per doc, keep the top-``k_terms`` tf·idf terms (deterministic rank:
    rounded score desc, term asc), L2-normalize those weights, then join
    doc↔doc through the term inverted index and sum weight products per
    pair. Candidate generation cost is Σ_term df_fp(term)² where df_fp
    counts only *fingerprint* occurrences (≤ k_terms per doc) — ubiquitous
    terms stop dominating because most docs don't fingerprint on them.
    Output is one row per doc (its argmax neighbor, sim desc / id asc
    tie-break on the rounded score), so result size is n, not n².

    ``max_term_df`` is the mega-posting hardening (same contract as
    minhash's ``bucket_cap``): terms whose FINGERPRINT posting list
    exceeds the cap are dropped from pair generation, bounding candidate
    cost at Σ min(df_fp, cap)² — the registered scale path when a corpus
    shares fingerprint vocabulary pathologically (weights stay normalized
    over the FULL fingerprint; a pair that loses a shared term to the cap
    keeps a LOWER sim; a doc whose every term is capped reports no
    neighbor).  None = exhaustive.

    MEASURED recall tradeoff (tools/fingerprint_recall.py, full table in
    BENCH.md round-9 batch 1): recall tracks the fraction of the df_fp
    distribution under the cap — cap ≈ p90(df_fp) retained ~0.7 argmax
    recall at the ×100 corpus (1024 vs df p90 ≈ 968), while caps below
    the df floor zero the candidate set (recall 0, no_neighbor → 1).
    Knob rule: probe the df_fp distribution (one GROUP BY), set the cap
    ≥ p90(df_fp); if the WHOLE distribution exceeds an affordable cap,
    fingerprint blocking is the wrong tool — use minhash/simhash or the
    ANN ladder, which are df-insensitive.
    """
    from es_ch_sync_spark.operators.text import tfidf_top_terms

    # localCheckpoint the fingerprint table (O(n·k_terms) NARROW rows):
    # it feeds norm, and the w self-join references it twice more — with
    # live lineage each reference replays the whole tf·idf pipeline
    # (corpus tokenized ~4×; the r6/r7 exchange audits' disease).  One
    # bounded materialization serves all four consumers.
    fp = tfidf_top_terms(
        docs, k=k_terms, text_col=text_col, id_col=id_col
    ).localCheckpoint(eager=True)
    norm = fp.groupBy(id_col).agg(
        F.round(F.sqrt(F.sum(F.col("tfidf") * F.col("tfidf"))), 6).alias("nrm")
    )
    w = (
        fp.join(norm, id_col)
        .where(F.col("nrm") > 0)
        .select(
            F.col(id_col).alias("doc"),
            "term",
            (F.col("tfidf") / F.col("nrm")).alias("w"),
        )
    )
    if max_term_df is not None:
        ok_terms = (
            w.groupBy("term")
            .agg(F.count(F.lit(1)).alias("_dfp"))
            .filter(F.col("_dfp") <= max_term_df)
            .select("term")
        )
        w = w.join(ok_terms, "term", "left_semi")
    pairs = (
        w.alias("a")
        .join(w.alias("b"), "term")
        .where(F.col("a.doc") != F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_id"), F.col("b.doc").alias("nbr_id"))
        .agg(F.round(F.sum(F.col("a.w") * F.col("b.w")), 4).alias("sim"))
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.col("sim").desc(), F.col("nbr_id")
    )
    return (
        pairs.withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") == 1)
        .select("doc_id", "nbr_id", "sim")
    )


# ---------------------------------------------------------------------------
# Per-key lag / rolling features (ML feature generation)
# ---------------------------------------------------------------------------


def lag_features(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    roll_n: int = 3,
) -> DataFrame:
    """Classic per-entity time-series features: previous value, gap since
    the previous event, and a trailing ``roll_n``-row mean — the standard
    tabular-ML feature block.

    All windows partition by the entity key and order by (ts, tiebreak):
    per-key history is bounded, so no global sort ever happens; one shuffle
    on the key serves every feature (Catalyst reuses the sort)."""
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    wr = w.rowsBetween(-(roll_n - 1), 0)
    # epoch micros for timestamps (truncation-exact in both engines), raw
    # numeric difference otherwise
    if df.schema[ts_col].dataType.typeName() == "timestamp":
        ts_num = F.unix_micros(F.col(ts_col))
    else:
        ts_num = F.col(ts_col).cast("long")
    return df.select(
        F.col(key_col),
        F.col(tiebreak_col),
        F.round(F.col(value_col), 4).alias("value"),
        F.round(F.lag(value_col).over(w), 4).alias("prev_value"),
        (ts_num - F.lag(ts_num).over(w)).alias("gap_us"),
        F.round(F.avg(value_col).over(wr), 4).alias("roll_mean"),
        F.count(F.lit(1)).over(wr).cast("int").alias("roll_n"),
    )


# ---------------------------------------------------------------------------
# Key-skew diagnostics
# ---------------------------------------------------------------------------


def key_skew_report(
    df: DataFrame, key_col: str, top_n: int = 10
) -> DataFrame:
    """Shuffle-key skew diagnostics: row count, distinct keys, the heaviest
    key's share, the top-``top_n`` share, and the Herfindahl index (sum of
    squared key shares — 1/HHI is the effective number of keys).

    This is the measurement that justifies salting/AQE-skew handling before
    a groupBy/join on ``key_col``. Everything is aggregation + one
    TakeOrdered over the per-key count table — no global sort, no window —
    so the report itself is safe to run on the 100 TB input it measures."""
    counts = df.groupBy(key_col).agg(F.count("*").alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), F.col(key_col)).limit(top_n)
    tot = counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sum_sq"),
    )
    topsum = top.agg(F.sum("cnt").alias("top_cnt"))
    return (
        tot.crossJoin(F.broadcast(topsum))
        .select(
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_keys").cast("long").alias("n_keys"),
            F.round(F.col("max_cnt") / F.col("n_rows"), 6).alias("max_share"),
            F.round(F.col("top_cnt") / F.col("n_rows"), 6).alias(
                f"top{top_n}_share"
            ),
            F.round(
                F.col("sum_sq") / (F.col("n_rows") * F.col("n_rows")), 8
            ).alias("hhi"),
        )
    )


def pca_top_component(
    emb: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 8,
) -> DataFrame:
    """Top principal direction of the (uncentered) second-moment matrix
    by power iteration — the spectral statistic behind PCA whitening /
    anisotropy diagnostics of an embedding corpus (all-but-the-top
    post-processing; the dominant direction is what it removes).

    Split of labor at scale:
    - The DATA-SIZED work is one distributed pass: the d×d Gram matrix
      via explode → map-side partial aggregation (the shuffle carries
      d² = 4096 cells per partition, never O(n) rows).
    - The iteration is an O(d²)-sized reduction (16 KB at d=64), far
      below the driver-collect exemption every other kernel here uses
      (k-means centroids, BPE pair argmax): 8 matrix-vector rounds in
      plain Python floats.

    Cross-engine exactness (the interesting part): every sum that could
    depend on association order is quantized — gram cells accumulate
    floor(x_i·x_j·1e6 + 0.5) as BIGINT, each mat-vec component
    accumulates floor(G_ij·v_j·1e12 + 0.5) as BIGINT — so Python floats
    here, Spark doubles, and DuckDB doubles walk the identical IEEE
    path and the oracle (an unrolled CTE chain, see
    oracles.pca_top_component_sql) reproduces every bit.  Magnitudes:
    |G| ≤ max|x|² after the /n normalization, so the 1e12-scaled sums
    stay ≪ 2^53 at any corpus size.

    Returns (dim_idx, loading, eigval): the unit top eigenvector
    (half-up 6dp) and ‖G·v‖ from the final round (the Rayleigh
    eigenvalue estimate for a converged v)."""
    spark = emb.sparkSession
    n = emb.count()
    gint = quantized_gram_cells(emb, vec_col=vec_col).collect()
    rows = _power_iterate(
        [(r["i"], r["j"], r["gint"]) for r in gint], n, dim, iters
    )
    return spark.createDataFrame(
        rows, "dim_idx int, loading double, eigval double"
    )


def quantized_gram_cells(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """The distributed half of pca_top_component: (i, j, gint) cells where
    gint = Σ floor(x_i·x_j·1e6 + 0.5) as BIGINT — an EXACT integer-additive
    statistic (a disjoint union of corpora sums cell-wise), which is what
    makes it incrementally maintainable (io/ivm.py::refresh_gram_view)."""
    pairs = emb.select(F.posexplode(vec_col).alias("i", "xi"), F.col(vec_col))
    trip = pairs.select(
        "i",
        F.col("xi").cast("double").alias("xi"),
        F.posexplode(vec_col).alias("j", "xj"),
    )
    return trip.groupBy("i", "j").agg(
        F.sum(
            F.floor(
                F.col("xi") * F.col("xj").cast("double") * F.lit(1e6) + F.lit(0.5)
            ).cast("long")
        ).alias("gint"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _power_iterate(
    cells: list[tuple[int, int, int]], n: int, dim: int, iters: int
) -> list[tuple[int, float, float]]:
    """The O(d²) driver half: quantized power iteration over collected
    gram cells (IEEE-identical to the unrolled SQL oracle)."""
    import math

    g = [[0.0] * dim for _ in range(dim)]
    for i, j, gint in cells:
        g[i][j] = (gint / 1e6) / n

    v = [1.0 / math.sqrt(dim)] * dim
    norm = 0.0
    for _ in range(iters):
        s = [
            sum(math.floor(g[i][j] * v[j] * 1e12 + 0.5) for j in range(dim))
            for i in range(dim)
        ]
        w = [si / 1e12 for si in s]
        ns = sum(math.floor(wi * wi * 1e12 + 0.5) for wi in w)
        if ns == 0:
            # degenerate gram matrix (all-zero / sub-quantization corpus):
            # no principal direction exists — return the zero vector with
            # eigenvalue 0 instead of dividing by zero, so downstream
            # consumers (pca_from_gram_view, embedding_anisotropy) see a
            # well-defined "no dominant direction" answer
            return [(i, 0.0, 0.0) for i in range(dim)]
        norm = math.sqrt(ns / 1e12)
        v = [wi / norm for wi in w]

    lam = math.floor(norm * 1e6 + 0.5) / 1e6
    return [(i, math.floor(v[i] * 1e6 + 0.5) / 1e6, lam) for i in range(dim)]


def embedding_anisotropy(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    iters: int = 8,
) -> DataFrame:
    """Per-vector energy fraction along the corpus's top principal
    direction — the anisotropy diagnostic behind all-but-the-top
    post-processing (a corpus whose vectors all lean on one dominant
    direction has inflated cosine similarities; this measures how much).

    Composes with pca_top_component: the 6dp-rounded top eigenvector is
    a d-row broadcast; the per-vector pass is explode → broadcast join →
    quantized BIGINT sums (dot and squared norm), so the fraction is
    bit-identical cross-engine.  Work is one linear pass, shuffle keyed
    on the vector id."""
    from es_ch_sync_spark.operators.util import round_half_up

    top = pca_top_component(emb, vec_col=vec_col, dim=dim, iters=iters).select(
        F.col("dim_idx").alias("i"), F.col("loading")
    )
    parts = emb.select(
        F.col(id_col), F.posexplode(vec_col).alias("i", "xi")
    ).withColumn("xi", F.col("xi").cast("double"))
    joined = parts.join(F.broadcast(top), "i")
    sums = joined.groupBy(id_col).agg(
        F.sum(
            F.floor(F.col("xi") * F.col("loading") * F.lit(1e9) + F.lit(0.5)).cast(
                "long"
            )
        ).alias("dq"),
        F.sum(
            F.floor(F.col("xi") * F.col("xi") * F.lit(1e9) + F.lit(0.5)).cast("long")
        ).alias("nq"),
    )
    dot = F.col("dq") / F.lit(1e9)
    nsq = F.col("nq") / F.lit(1e9)
    return sums.select(
        id_col,
        round_half_up(dot * dot / nsq, 6).alias("top_energy_frac"),
    )


def embedding_effective_rank(
    emb: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """Participation ratio / effective rank of the corpus second-moment
    matrix [Gao et al. 2017 neuroscience usage; Roy & Vetterli 2007] —
    the one-number "how many dimensions does this embedding corpus
    actually use" readout next to embedding_anisotropy (top-direction
    dominance) and pca_top_component (the direction itself):

        PR = (tr G)² / ‖G‖_F²   ∈ [1, d]

    over the UNCENTERED Gram G = Σ v·vᵀ (the anisotropy convention —
    no mean pass; PR(G) = d for isotropic vectors, 1 for rank-one
    collapse, the smoking gun for an encoder that collapsed).

    Exactness: derives from :func:`embedding_gram`'s ROUNDED(4) upper
    triangle — the already-cross-engine-pinned artifact — so both
    engines square and sum IDENTICAL doubles; terms quantize at 1e4
    (floor(x·1e4 + 0.5), sign-symmetric) before the sum, making the
    reduction order-independent.  One float division at the end.

    Scale: everything downstream of the gram kernel is d(d+1)/2 rows."""
    g = embedding_gram(emb, vec_col, dim)
    diag = F.col("i") == F.col("j")
    q = lambda e: F.floor(e * F.lit(1e4) + F.lit(0.5)).cast("long")
    agg = g.agg(
        F.sum(F.when(diag, q(F.col("gram"))).otherwise(F.lit(0)))
        .cast("long")
        .alias("_t"),
        F.sum(
            q(
                F.when(diag, F.col("gram") * F.col("gram")).otherwise(
                    F.lit(2.0) * F.col("gram") * F.col("gram")
                )
            )
        )
        .cast("long")
        .alias("_f"),
    )
    tr = F.col("_t").cast("double") / 1e4
    pr = tr * tr / F.when(F.col("_f") > 0, F.col("_f").cast("double") / 1e4)
    return agg.select(
        F.lit(dim).cast("long").alias("d"),
        F.round(tr, 4).alias("trace"),
        F.round(pr, 6).alias("effective_rank"),
    )


def label_centroid_drift(
    emb: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Per-group centroid alignment with the corpus centroid — the
    embedding-space mixture-drift audit (a source/label whose centroid
    points away from the corpus is contributing a systematically
    different region of representation space; near-1 cosine = the group
    is centrally redundant).  cos is scale-invariant, so it is computed
    directly between the exact VECTOR SUMS — no float mean ever forms:

        cos_g = ⟨Σv_g, Σv⟩ / (‖Σv_g‖·‖Σv‖)

    Exactness: elements micro-quantize (the grid_density contract), so
    every per-dimension group sum is an exact BIGINT off ONE
    (group, dim) hash aggregate of the exploded stream; dots and norms
    are exact DECIMAL(38,0) sums over the dim-bounded census; cos is
    one float division.

    Scale: the explode is n·d rows through ONE keyed partial-aggregated
    census (the embedding_gram argument); everything downstream is
    groups × d."""
    d38 = "decimal(38,0)"
    xm = F.round(F.col("_x").cast("double") * 1000000.0).cast("long")
    pe = emb.select(
        F.col(group_col).alias("_g"),
        F.posexplode(F.col(vec_col)).alias("_i", "_x"),
    ).select("_g", "_i", xm.alias("_xm"))
    sg = pe.groupBy("_g", "_i").agg(
        F.sum("_xm").cast("long").alias("_s")
    ).localCheckpoint(eager=False)
    tot = sg.groupBy("_i").agg(F.sum("_s").cast("long").alias("_t"))
    nvec = emb.groupBy(F.col(group_col).alias("_g")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    j = sg.join(tot, "_i")
    per = j.groupBy("_g").agg(
        F.sum(F.col("_s").cast(d38) * F.col("_t").cast(d38)).cast(d38).alias("_dot"),
        F.sum(F.col("_s").cast(d38) * F.col("_s").cast(d38)).cast(d38).alias("_naa"),
        F.sum(F.col("_t").cast(d38) * F.col("_t").cast(d38)).cast(d38).alias("_nbb"),
    )
    cos = F.col("_dot").cast("double") / F.when(
        (F.col("_naa") > 0) & (F.col("_nbb") > 0),
        F.sqrt(F.col("_naa").cast("double") * F.col("_nbb").cast("double")),
    )
    return (
        per.join(nvec, "_g")
        .select(
            F.col("_g").alias(group_col),
            "n_vecs",
            F.round(cos, 6).alias("centroid_cos"),
        )
        .orderBy(group_col)
    )
