"""Deduplication family for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Algorithms follow the published formulations: min-wise hashing (Broder,
"On the resemblance and containment of documents", 1997), LSH banding
(Leskovec/Rajaraman/Ullman, Mining of Massive Datasets §3), SimHash
(Charikar, "Similarity estimation techniques from rounding algorithms",
STOC 2002; Manku et al., "Detecting near-duplicates for web crawling",
WWW 2007 for the pigeonhole banding).

Scale design (the point of each choice):

- **Exact** dedup never shuffles document bodies: group on md5(normalized
  text) — 32 bytes/row through the shuffle instead of the document.
- **MinHash+LSH** is the linear-time near-dup path: shingle → H minhashes →
  B band buckets → join *within buckets only*.  No O(n²) cross join ever
  appears in the plan; the only shuffles are the band-key exchange and the
  candidate-pair join, both keyed by short hashes.
- **Hash family**: md5 over seeded strings.  md5 is identical in Spark and
  DuckDB, which makes every step here oracle-checkable; taking the *string
  minimum* of hex digests is a valid min-wise hash (uniform over the 128-bit
  space, compared lexicographically = numerically for fixed-width hex).
- **SimHash** packs a document into one 60-bit int (15 md5 hex chars keeps
  arithmetic in signed-64 territory); near-dup = small Hamming distance.
- **Verification** (exact Jaccard / cosine) runs only on LSH candidates.

All pure column expressions — shingling, hashing, banding are map-side;
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from es_ch_sync_spark.operators.text import normalize_text, word_ngrams, words
from es_ch_sync_spark.operators.util import spread

# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------


def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles of the normalized text.

    Documents shorter than k words yield their single joined form — keeps
    every doc hashable (no empty signatures).

    O(L) per document: `word_ngrams` binds the word array once.  The
    former lambda closed over `words(col)` and re-normalized the whole
    text once per shingle, O(L^2); on the sf0.1 documents (5,000 docs)
    warm on 4 cores a projection of the shingles took 5.78 s that way and
    0.77 s let-bound (medians of 5), with identical arrays.  Projecting the
    word array as a column first measured the same (0.83 s), so the let,
    which needs no frame of its own, is the one kept."""
    return F.array_distinct(word_ngrams(col, k))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Affine min-wise hash family over a 56-bit base hash: h_i(s) = (A_i·H(s)+B_i)
# mod MINHASH_P, H(s) = first 14 hex chars of md5(s).  One md5 + one hex
# parse per shingle, then H cheap multiply-adds — ~8× less hashing than H
# independent md5 passes.  Bounds: H < 2^56, A ≤ 127 ⇒ A·H+B < 2^63.
MINHASH_P = 72_057_594_037_927_931  # prime, 2^56 - 5
MINHASH_A = [3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59]
MINHASH_B = [101, 211, 307, 401, 503, 601, 701, 809, 907, 1009, 1103, 1201, 1301, 1409, 1499, 1601]


def _shingle_base_hash(s: Column) -> Column:
    """First 56 bits of md5(shingle) as a bigint."""
    return F.conv(F.substring(F.md5(s), 1, 14), 16, 10).cast("long")


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, mh_0..mh_{H-1}) signatures via explode + partial-aggregated mins.

    explode(shingles) → md5 ONCE per (doc, shingle) → H affine mins as
    grouped aggregates.  The groupBy is map-side combined (each partition
    emits ≤ H longs per doc), so the shuffle is tiny; a projection-based
    formulation would let Catalyst's CollapseProject re-inline the base
    hash into all H columns and recompute the md5 H times."""
    stream = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_k)).alias("s")
    )
    return minhash_from_stream(stream, id_col, num_hashes)


def minhash_from_stream(
    stream: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    """Signatures from an ALREADY-EXPLODED ``(id, s)`` shingle stream —
    the shared-pass entry (r10 verdict directive #4): a composite query
    that also needs the exploded stream for an exact equi-join
    (dedup_recall) materializes it once and feeds both consumers, so the
    corpus is shingled exactly once."""
    base = stream.select(F.col(id_col), _shingle_base_hash(F.col("s")).alias("h"))
    return base.groupBy(id_col).agg(
        *[
            F.min((F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)).alias(
                f"mh_{i}"
            )
            for i in range(num_hashes)
        ]
    )


def lsh_band_keys(num_hashes: int, bands: int) -> list[Column]:
    """Band keys: md5 of the concatenated rows-per-band signature slice."""
    rows_per_band = num_hashes // bands
    keys = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        keys.append(F.md5(F.concat_ws("|", *cols)))
    return keys


def lsh_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, band, key) bucket membership rows — the shared front half of
    every LSH pairing strategy (full self-join, capped, incremental)."""
    # spread BY the id (guide §2.4): the signature groupBy(id) reuses the
    # spread shuffle's partitioning — one Exchange instead of two
    mh = with_minhash(spread(df, by=id_col), text_col, id_col, num_hashes, shingle_k)
    return lsh_buckets_from_signatures(mh, id_col, num_hashes, bands)


def lsh_buckets_from_signatures(
    mh: DataFrame, id_col: str = "doc_id", num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """Bucket rows from a precomputed signature frame (shared-pass
    companion to minhash_from_stream)."""
    keys = lsh_band_keys(num_hashes, bands)
    return mh.select(
        F.col(id_col),
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), k.alias("key")) for b, k in enumerate(keys)])
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band bucket.

    Plan shape: map (shingle+hash) → explode B band keys → self-join on
    (band, key) → distinct pairs.  Shuffle volume is O(B·n) short keys; the
    join only materializes within-bucket pairs.

    ``bucket_cap`` is the mega-bucket hardening for boilerplate-heavy
    corpora: a bucket of m docs emits m²/2 pairs, so one million-doc
    template bucket means 5·10¹¹ pairs from a single reducer key.  With a
    cap, buckets larger than ``bucket_cap`` are dropped from pair
    generation (one extra count-aggregate + semi-join on the short
    (band, key) keys — nothing touches documents).  Recall tradeoff is
    explicit: an oversized bucket is near-certainly a shared template, and
    its members' true near-dup pairs usually also collide in another,
    smaller band bucket; exact-duplicate templates are the job of
    exact_duplicate_groups, which handles them in O(n).  Default None
    keeps candidate generation exhaustive (AQE skew splitting handles
    moderate skew)."""
    bucketed = lsh_buckets(df, text_col, id_col, num_hashes, bands, shingle_k)
    return lsh_candidate_pairs_from_buckets(bucketed, id_col, bucket_cap)


def lsh_candidate_pairs_from_buckets(
    bucketed: DataFrame, id_col: str = "doc_id", bucket_cap: int | None = None
) -> DataFrame:
    """Within-bucket distinct pairs from a bucket-membership frame
    (shared-pass companion to minhash_from_stream); ``bucket_cap``
    semantics as in minhash_lsh_candidates."""
    if bucket_cap is not None:
        small_enough = (
            bucketed.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= bucket_cap)
            .select("band", "key")
        )
        bucketed = bucketed.join(small_enough, ["band", "key"], "left_semi")

    a = bucketed.alias("a")
    b = bucketed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


def lsh_candidate_pairs_with_signatures(
    mh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Within-bucket distinct pairs WITH both sides' signature arrays
    attached at pair-creation time (r13 VERDICT #3 trim): the band-bucket
    rows carry the full signature as one ``array<long>`` column, so the
    bucket self-join emits ``(id_a, id_b, sig_a, sig_b)`` directly and the
    downstream estimator census never re-joins the signature frame —
    removing two of the four joins in the audit-table chain.

    Cost accounting vs the join-back shape: the bucket frame is exploded
    ``bands``× and now carries H longs per row (H=8 → +64 bytes/row on the
    band-key shuffle), which is strictly cheaper than two extra shuffle
    joins of the candidate set against the signature frame.  The pair
    ``distinct`` now hashes the signature arrays too, but signatures are
    functionally dependent on the ids so the pair set is unchanged."""
    keys = lsh_band_keys(num_hashes, bands)
    sig = F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)])
    bucketed = mh.select(
        F.col(id_col),
        sig.alias("_sig"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), k.alias("key"))
                    for b, k in enumerate(keys)
                ]
            )
        ).alias("bk"),
    ).select(
        id_col, "_sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    if bucket_cap is not None:
        small_enough = (
            bucketed.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= bucket_cap)
            .select("band", "key")
        )
        bucketed = bucketed.join(small_enough, ["band", "key"], "left_semi")
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._sig").alias("sig_a"),
            F.col("b._sig").alias("sig_b"),
        )
        .distinct()
    )


def signature_match_count(sig_a: Column, sig_b: Column) -> Column:
    """Matching-component count of two equal-length signature arrays —
    the minhash Jaccard estimator numerator (E[matches/H] = J)."""
    return F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """LSH candidates verified by exact shingle Jaccard ≥ threshold.

    The verify join re-attaches shingle arrays only for candidate ids —
    at scale that's a tiny fraction of the corpus.  ``bucket_cap`` passes
    through to candidate generation (mega-bucket hardening; see
    minhash_lsh_candidates)."""
    # cache the (small) candidate pair set: it feeds both the id prefilter
    # and the verify join — uncached, the whole LSH pipeline would run twice
    cands = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_k, bucket_cap
    ).cache()
    # shingle arrays are needed ONLY for candidate docs — prefilter with a
    # broadcast semi-join on the (small) candidate id set so the verify
    # stage shingles a fraction of the corpus, not all of it
    cand_ids = F.broadcast(
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # spread() the RAW scan, not the semi-joined frame: spread probes
    # df.rdd for the partition count, and on a frame containing a broadcast
    # join that probe plans AND executes the broadcast eagerly at
    # plan-build time (measured: 7 s of "build" for this query at sf0.1)
    # cache the candidate-only shingle table: it is referenced for BOTH
    # pair sides, and uncached each reference is a full corpus read (the
    # semi-join prunes shingling, not the parquet scan) — cached, the
    # verify phase reads the corpus once
    sh = (
        spread(df).join(cand_ids, on=id_col, how="left_semi")
        .select(F.col(id_col), word_shingles(F.col(text_col), shingle_k).alias("sh"))
    ).cache()
    out = (
        cands.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select("id_a", "id_b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def minhash_incremental(
    df: DataFrame,
    new_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Incremental dedup: near-dup pairs between a NEW batch and the
    existing INDEXED corpus only — the production ingest pattern.  A daily
    batch must not re-pair the whole corpus against itself: index×index
    pairs were already decided on previous days, so candidate generation
    joins new-side buckets against index-side buckets and nothing else.

    ``new_pred`` is a boolean column over ``df``'s columns marking batch
    membership (ingest date, batch id, …).  Cost at 100 TB: the index side
    contributes only its (id, band, key) bucket rows — 3 short columns,
    re-derivable or (better) persisted as the signature index a real
    deployment keeps; the join output is bounded by new-batch bucket
    collisions, not corpus size.  Verification re-attaches shingles for
    candidate ids only, exactly like minhash_near_duplicates.

    Output: (id_new, id_index, jaccard ≥ threshold)."""
    flags = df.select(F.col(id_col), new_pred.alias("_is_new"))
    bucketed = lsh_buckets(df, text_col, id_col, num_hashes, bands, shingle_k).join(
        flags, id_col
    )
    n = bucketed.filter(F.col("_is_new")).select(
        F.col(id_col).alias("id_new"), "band", "key"
    )
    i = bucketed.filter(~F.col("_is_new")).select(
        F.col(id_col).alias("id_index"), "band", "key"
    )
    cands = n.join(i, ["band", "key"]).select("id_new", "id_index").distinct().cache()
    cand_ids = F.broadcast(
        cands.select(F.col("id_new").alias(id_col))
        .unionByName(cands.select(F.col("id_index").alias(id_col)))
        .distinct()
    )
    # cache the candidate-only shingle table: it is referenced for BOTH
    # pair sides, and uncached each reference is a full corpus read (the
    # semi-join prunes shingling, not the parquet scan) — cached, the
    # verify phase reads the corpus once
    sh = (
        spread(df).join(cand_ids, on=id_col, how="left_semi")
        .select(F.col(id_col), word_shingles(F.col(text_col), shingle_k).alias("sh"))
    ).cache()
    return (
        cands.join(
            sh.withColumnRenamed(id_col, "id_new").withColumnRenamed("sh", "sh_n"),
            "id_new",
        )
        .join(
            sh.withColumnRenamed(id_col, "id_index").withColumnRenamed("sh", "sh_i"),
            "id_index",
        )
        .select(
            "id_new",
            "id_index",
            F.round(jaccard(F.col("sh_n"), F.col("sh_i")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Near-dup clustering (connected components over candidate pairs)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    small_graph_edges: int = 200_000,
) -> DataFrame:
    """Duplicate clusters from near-dup pairs: (doc_id, cluster_id) with
    cluster_id = min doc id reachable through the pair graph.

    This is the step that turns pairwise near-dup evidence into a keep-one
    policy (keep cluster_id, drop the rest).  Min-label propagation,
    Pregel-style: each round every node adopts the smallest label among
    itself and its neighbors; converged when no label changes.  Rounds =
    graph diameter — near-dup clusters are shallow (boilerplate families),
    so this terminates in a handful of rounds; for adversarially long
    chains at 100 TB, use connected_components_star below (large/small-star
    alternation, O(log²) rounds, identical output — equivalence pinned in
    tests).

    Scale notes: the edge list is cached (reused every round);
    localCheckpoint truncates the growing lineage each round (otherwise
    round k replans k joins deep); the convergence probe piggybacks on the
    labels action — one count per round, each O(|V|)."""
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))

    # r16 optimization (guide §1.2: fix the distributed algorithm first):
    # the Pregel loop pays 2+ blocking jobs PER ROUND (checkpoint +
    # convergence probe), which is pure fixed overhead when the verified
    # pair graph is small — and near-dup pair graphs are candidate-sized,
    # usually orders of magnitude below the corpus.  When the edge list
    # is bounded, run union-find on the driver instead:
    # ≤ small_graph_edges × 16 bytes is a few MB, the same class of
    # bounded collect as the codebook/centroid tables, and the output
    # (min reachable id per node) is identical by construction.  Larger
    # graphs take the distributed loop unchanged — the 100 TB path does
    # not collect.  The size probe IS the collect (limit cap+1 — ONE
    # bounded job, not a count() followed by a collect(); an over-cap
    # result is discarded and the distributed loop proceeds) and it runs
    # on the RAW pair frame, BEFORE the bidirect-union + distinct
    # shuffle: union-find tolerates duplicate edges and adds the reverse
    # direction implicitly, so the small path never pays that exchange
    # (the cap now bounds raw pair rows instead of distinct directed
    # edges — both paths still produce identical labels; at scale the
    # probe is an incremental executeTake that stops at cap+1 rows).
    # The probed frame is persist()-ed first so the over-cap branch
    # computes the upstream mining once instead of twice: the probe's
    # limit ramp caches the partitions it touches (each in full), the
    # bidirect-union/distinct computes the rest.  The small path still
    # pays one bounded job and drops its cache; the over-cap path drops
    # it when it returns.
    e_p = e.persist()
    probe = e_p.limit(small_graph_edges + 1).collect()
    if len(probe) <= small_graph_edges:
        e_p.unpersist()
        spark = pairs.sparkSession
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for row in probe:
            s, d = row[0], row[1]
            if s not in parent:
                parent[s] = s
            if d not in parent:
                parent[d] = d
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[rd] = rs
        roots: dict = {}
        for node in parent:
            r = find(node)
            m = roots.get(r)
            if m is None or node < m:
                roots[r] = node
        out_rows = [(node, roots[find(node)]) for node in parent]
        from pyspark.sql import types as T

        dt = e.schema[0].dataType  # node ids keep their input type
        schema = T.StructType(
            [
                T.StructField("doc_id", dt, False),
                T.StructField("cluster_id", dt, False),
            ]
        )
        return spark.createDataFrame(out_rows, schema=schema)

    # over-cap: both caches are released on return — the labels the
    # caller gets are checkpointed and read neither
    edges = None
    try:
        edges = e_p.unionByName(
            e_p.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct().cache()
        labels = (
            edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
        ).localCheckpoint()
        for _ in range(max_iterations):
            nbr = (
                edges.join(
                    labels.select(F.col("id").alias("src"), F.col("label").alias("src_label")),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("src_label").alias("nbr_label"))
            )
            # the convergence flag rides the checkpointed frame (r14 trim):
            # the probe used to be a second shuffle join of new vs old labels
            # per round; folding `_chg = nbr_label < label` into the same
            # select makes it a shuffle-free filter-count over the
            # just-materialized checkpoint — one shuffle job per round, not two
            new_labels = labels.join(nbr, "id", "left").select(
                "id",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
                F.coalesce(F.col("nbr_label") < F.col("label"), F.lit(False)).alias(
                    "_chg"
                ),
            ).localCheckpoint()
            changed = new_labels.filter(F.col("_chg")).count()
            labels = new_labels
            if changed == 0:
                break
        return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))
    finally:
        if edges is not None:
            edges.unpersist()
        e_p.unpersist()


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 20,
) -> DataFrame:
    """Connected components via large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014 §3) — the 100 TB upgrade over min-label propagation.

    Propagation needs diameter-many rounds (an adversarial near-dup CHAIN
    of length 10⁴ needs 10⁴ shuffles); star alternation contracts paths
    exponentially, converging in O(log² n) rounds regardless of shape:

    - **large-star**: per node u with m = min(Γ(u) ∪ {u}), rewire every
      LARGER neighbor v > u to (v, m);
    - **small-star**: orient each edge toward its larger endpoint, rewire
      every smaller-or-equal neighbor (and u itself) to (v, m).

    Each round is one groupBy (per-node min) + one join, same shapes as a
    propagation round; converged when the edge set is a fixed point (every
    component a star centered at its min id).  Output contract identical
    to connected_components: (doc_id, cluster_id = component min) —
    pinned by an equivalence test."""
    e = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    # canonical undirected edge set as (min, max) pairs
    edges = (
        e.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        # large-star over the bidirected adjacency
        d = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            d.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        large = (
            d.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over edges oriented toward the larger endpoint
        o = large.select(F.col("v").alias("u"), F.col("u").alias("v"))  # u = larger
        mins_s = (
            o.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        joined = o.join(mins_s, "u")
        small = (
            joined.select(F.col("m").alias("u"), F.col("v").alias("v"))
            .unionByName(joined.select(F.col("m").alias("u"), F.col("u").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        delta = (
            small.exceptAll(edges).count() + edges.exceptAll(small).count()
        )
        edges = small
        if delta == 0:
            break
    # fixed point: every edge is (component-min, member)
    members = edges.select(
        F.col("v").alias("doc_id"), F.col("u").alias("cluster_id")
    )
    centers = edges.select(F.col("u").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    return members.unionByName(centers)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group documents by content fingerprint; keep-id = min(id).

    Only (md5, id) flows through the shuffle.  Downstream `keep` filter is a
    broadcast semi-join of keep_ids back onto the corpus."""
    return (
        df.select(F.md5(normalize_text(F.col(text_col))).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per distinct normalized content."""
    keep = exact_duplicate_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 → fits signed int64


def _word_hash60(w: Column) -> Column:
    """First 60 bits of md5(word) as a bigint (conv through hex)."""
    return F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")


def simhash(col: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash of the word multiset: per-bit majority vote of word hashes.

    Two chained folds over the word array (one pass each, map-only): hash
    each word once (md5+conv evaluated once per word — the hash is a bound
    lambda value, not re-evaluated per bit), then accumulate a bits-length
    vote array; final = Σ 2^i·[vote_i > 0]."""
    word_hashes = F.transform(words(col), _word_hash60)
    votes = F.aggregate(
        word_hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            # bit positions unrolled in Python (shift amounts must be ints,
            # not lambda variables); h stays a bound value — one md5 per word
            F.array(
                *[
                    F.when(h.bitwiseAND(F.lit(1 << i)) != 0, F.lit(1))
                    .otherwise(F.lit(-1))
                    .cast("long")
                    for i in range(bits)
                ]
            ),
            lambda a, v: a + v,
        ),
    )
    # zip against a literal powers array: `votes` is evaluated once, not
    # re-expanded per bit
    powers = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    return F.aggregate(
        F.zip_with(votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def hamming60(a: Column, b: Column) -> Column:
    """Hamming distance between two simhashes — native popcount of xor
    (one JVM instruction; matches DuckDB's bit_count(xor(a,b)))."""
    return F.bit_count(a.bitwiseXOR(b)).cast("long")


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = SIMHASH_BITS
) -> DataFrame:
    """(id, sh) simhashes via explode + lane-packed bit-count sums.

    One md5 per (doc, word).  The ±1 vote sum per bit reduces to a ones
    count: Σ±1 > 0 ⟺ ones_i > n_words/2 (strictly), so instead of 60 vote
    SUMs we aggregate 15 longs each packing four 16-bit ones-counters
    ((h>>i)&1 shifted into its lane — lanes can't carry below 65k words) +
    one n_words count.  4× fewer aggregate buffers, same simhash values
    (the oracle's ±1 formulation is provably identical)."""
    lanes_per_long = 4
    n_packs = (bits + lanes_per_long - 1) // lanes_per_long
    wh = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("w")
    ).select(F.col(id_col), _word_hash60(F.col("w")).alias("h"))

    # nibble → lane spread by one multiply+mask: x·(1+2^15+2^30+2^45) places
    # nibble bit j at position 16j (the shifted copies occupy disjoint bit
    # ranges, so no carries); masking the lane LSBs keeps exactly those.
    # Both the pack aggregates and the 60-term unpack are assembled as SQL
    # text and handed to the JVM in ONE expr() call each — building them as
    # Column arithmetic costs hundreds of py4j round-trips (~1.8 s of pure
    # plan construction for 5k docs, 4× the actual execution time).
    spread_mult = (1) | (1 << 15) | (1 << 30) | (1 << 45)
    lane_lsb = 0x0001_0001_0001_0001
    packs = [
        F.expr(
            f"sum((shiftright(h, {p * lanes_per_long}) & 15) * {spread_mult}L & {lane_lsb}L)"
        ).alias(f"p_{p}")
        for p in range(n_packs)
    ]
    counts = wh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"), *packs)

    terms = []
    for i in range(bits):
        p, lane = divmod(i, lanes_per_long)
        terms.append(
            f"if((shiftright(p_{p}, {lane * 16}) & 65535) * 2 > n, {1 << i}L, 0L)"
        )
    sh = F.expr(" + ".join(terms))
    return counts.select(F.col(id_col), sh.alias("sh"))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 12,
    band_bits: int = 15,
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance, banded for scale.

    Pigeonhole banding: split the 60-bit hash into 4×15-bit bands.  The
    guaranteed-recall bound is Hamming ≤ bands−1 = 3 (with ≤3 differing
    bits, one of the 4 bands must be untouched); pairs at distance 4-12 are
    detected only probabilistically — when their differing bits happen not
    to spread across all 4 bands.  Full recall at ``max_hamming`` would
    need multiple permuted band sets (Manku et al., WWW 2007, §3);
    single-set banding is the standard one-pass compromise.  Join happens
    per-band on 15-bit keys, never all-pairs.  The oracle replicates the
    same banding, so the checked contract is exactly this operator's
    candidate generation, not idealized full recall."""
    # spread BY the id: the signature groupBy(id) then reuses the spread
    # shuffle's partitioning — one Exchange instead of two (guide §2.4;
    # 1.36 → 0.86 s at sf0.1)
    sh = simhash_table(spread(df, by=id_col), text_col, id_col)
    n_bands = SIMHASH_BITS // band_bits
    bucketed = sh.select(
        id_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sh"), b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "sh", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = bucketed.alias("a"), bucketed.alias("b")
    # hamming is a pure function of the pair, so score+filter map-side
    # BEFORE the distinct: the dedup shuffle then carries only surviving
    # (id_a, id_b, hamming) triples, not every band collision with two
    # 60-bit hashes attached
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming60(F.col("a.sh"), F.col("b.sh")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (direct, for candidate verification / small corpora)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """All-pairs exact shingle Jaccard above threshold.

    O(n²) by construction — reserved for candidate verification or small
    dims; the scale path is minhash_near_duplicates.  Implemented via
    explode + equi-join on shingle (not a cross join): only pairs sharing
    ≥1 shingle are materialized, with partial-agg intersection counts."""
    src = spread(df)
    sh = src.select(F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_k)).alias("s"))
    sizes = src.select(
        F.col(id_col), F.size(word_shingles(F.col(text_col), shingle_k)).alias("n")
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") > threshold)
    )


def cross_doc_shingle_stats(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document cross-corpus duplicate n-gram statistics — the exact-
    substring dedup signal of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"): how much of each document's distinct
    k-gram mass also appears in OTHER documents.  High ``shared_frac``
    means the document is mostly boilerplate already present elsewhere in
    the corpus and is a removal candidate even when no single near-dup
    partner exists (the case MinHash pair-finding misses).

    Plan shape: explode distinct shingles → corpus-wide doc-frequency
    aggregate (map-side combined; shuffles (gram, partial-count), never
    text) → shuffle equi-join back on the gram key → per-doc aggregate.
    Both shuffles key on the gram/doc hash — at 100 TB this is the same
    two-aggregate discipline as tf·idf, with no broadcast of the (large)
    vocabulary table."""
    grams = spread(df).select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), k)).alias("g")
    )
    # word_shingles is per-doc distinct, so count(*) == doc frequency
    dfreq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("ndocs"))
    return (
        grams.join(dfreq, "g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).alias("n_shared"),
            F.round(
                F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("shared_frac"),
            F.max("ndocs").alias("max_gram_docs"),
        )
    )


def keep_best_per_cluster(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Quality-based representative selection over near-dup clusters —
    among near-duplicates keep the HIGHEST-quality document, not the
    min-id one (the curation policy real pretraining pipelines use: the
    boilerplate-stripped copy of a page beats the raw scrape).

    Chain: minhash near-dup pairs → connected components → join each
    clustered doc's quality score → one decomposable aggregate per
    cluster: min(struct(-quality, id)) picks quality DESC / id ASC
    deterministically (map-side combined; no window, no sort).

    Scale: the cluster table holds only documents that HAVE a duplicate
    (a small fraction of the corpus); the quality join shuffles on doc_id
    and the reduce shuffles one row per cluster.  All upstream stages are
    the already-bounded LSH/CC operators."""
    from es_ch_sync_spark.operators.text import quality_score

    pairs = minhash_near_duplicates(docs, threshold=threshold)
    clusters = connected_components(pairs)
    scored = docs.select(F.col(id_col), quality_score(F.col(text_col)).alias("quality"))
    member = clusters.join(scored, id_col)
    best = member.groupBy("cluster_id").agg(
        F.min(
            F.struct((-F.col("quality")).alias("nq"), F.col(id_col).alias("kid"))
        ).alias("b"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return best.select(
        "cluster_id",
        F.col("b.kid").alias("keep_id"),
        (-F.col("b.nq")).alias("quality"),
        "n_members",
    )


def pagerank(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 2,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over the (undirected) near-dup graph — ranks documents by
    duplicate-graph centrality (a high-rank node is the hub of a template
    family; useful for picking canonical pages and for corpus forensics).

    Cross-engine determinism: unordered SUM over doubles is association-
    order-dependent, so each iteration's neighbor contributions are
    rounded at 12dp and summed in DECIMAL(28,12) (exact, order-free);
    the damping update runs in doubles on identical inputs and is
    rounded at 12dp again.  A FIXED iteration count (no convergence
    probe) keeps the oracle an unrolled CTE chain.

    Scale shape per iteration: one equi-join of edges with the rank
    table (shuffle on src — same key every round, co-partitioned after
    the first) + one map-side-combined aggregate on dst.  Degree table
    computed once.  Every node in the pair graph has degree ≥ 1, so
    there is no dangling mass and GROUP BY dst covers every node.

    The edges/degree caches are attached to the result via
    register_intermediate — call release_intermediates(result) after
    materializing to reclaim the blocks in a long-lived session."""
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .cache()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")).cache()
    n = deg.count()
    base = (1.0 - damping) / n
    p = deg.select(F.col("src").alias("id"), F.lit(1.0 / n).alias("p"))
    for _ in range(iterations):
        contrib = (
            edges.join(p.select(F.col("id").alias("src"), "p"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("id"),
                F.round(F.col("p") / F.col("d"), 12).cast("decimal(28,12)").alias("c"),
            )
        )
        p = contrib.groupBy("id").agg(
            F.round(F.lit(base) + F.lit(damping) * F.sum("c").cast("double"), 12).alias("p")
        )
    from es_ch_sync_spark.operators.util import register_intermediate

    return register_intermediate(
        p.select(F.col("id").alias("doc_id"), F.col("p").alias("pagerank")),
        edges,
        deg,
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Shingle CONTAINMENT pairs: |A∩B| / min(|A|, |B|) ≥ threshold — the
    asymmetric near-dup detector Jaccard misses (a short document quoted
    wholesale inside a long one has tiny Jaccard but containment ≈ 1;
    the quote-inclusion gate web-corpus pipelines run alongside minhash).

    Same plan discipline as ngram_jaccard_pairs: explode + equi-join on
    the shingle (only pairs sharing ≥1 shingle materialize), partial-agg
    intersection counts, sizes attached by two keyed joins.  Exact-
    verification tier; candidate generation at scale stays LSH."""
    src = spread(df)
    sh = src.select(F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_k)).alias("s"))
    sizes = src.select(
        F.col(id_col), F.size(word_shingles(F.col(text_col), shingle_k)).alias("n")
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    cont = F.round(
        F.col("inter").cast("double") / F.least("n_a", "n_b").cast("double"), 6
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", "inter", "n_a", "n_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def top_duplicated_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    k: int = 20,
) -> DataFrame:
    """The most-duplicated passages report (the table a Lee-et-al-style
    dedup audit prints): word k-grams ranked by how many distinct
    documents contain them.  word_shingles is per-doc distinct, so one
    count(*) per gram IS the document frequency; top-k plans as
    TakeOrderedAndProject (per-partition heap, k-row driver merge)."""
    grams = spread(df).select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_k)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("gram").asc())
        .limit(k)
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering — the
    All-Pairs/PPJoin family [Chaudhuri et al. 2006; Bayardo et al. 2007;
    Xiao et al. 2008], the deterministic alternative to MinHash when the
    answer must be exact AND all-pairs is unaffordable.

    Order each doc's shingle set by ascending global document frequency
    (rarest first, token tie-break); for Jaccard ≥ t two sets MUST share
    at least one token within each other's first ``|x| − ⌈t·|x|⌉ + 1``
    tokens, so the candidate join runs only on those prefixes — the hot
    (ubiquitous) tokens that dominate an unfiltered token join are
    precisely the ones prefixes exclude.  Candidates are then verified
    with the true intersection (array_intersect over the full sets), so
    recall is exactly 1 by construction: the oracle for this operator is
    brute force, and a value match PROVES the filter lost nothing.

    Scale shape: df-ordering is one aggregate + a per-doc window (per-key,
    bounded by doc length); the candidate join's cost is Σ_tok df_prefix²
    where df_prefix counts only prefix occurrences.  Verification touches
    candidates only, carrying the two shingle arrays per pair (bounded by
    doc length, never corpus size).

    Selectivity is VOCABULARY-DRIVEN (measured, BENCH.md r5): on a
    Heaps-law corpus (V = 30·√tokens) the prefix join emitted exactly the
    true pairs — 5,000 candidates of 1.25×10¹¹ possible at 500k docs, a
    2.5×10⁷× reduction with zero false candidates — while an adversarial
    tiny-vocabulary corpus (templated/log-like text) degenerates (399 s at
    ×100, r4).  Default guidance: ppjoin for exact similarity on natural
    text; minhash (minhash_near_duplicates) first on small-vocab corpora."""
    from pyspark.sql import Window as W

    src = spread(df)
    sets = (
        src.select(
            F.col(id_col),
            word_shingles(F.col(text_col), shingle_k).alias("ts"),
        )
        .withColumn("n", F.size("ts"))
        .where(F.col("n") > 0)
    )
    toks = sets.select(F.col(id_col), "n", F.explode("ts").alias("tok"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    ranked = toks.join(dfreq, "tok").withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy(id_col).orderBy(F.col("f"), F.col("tok"))
        ),
    )
    prefix_len = F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    prefix = ranked.where(F.col("rn") <= prefix_len).select(id_col, "tok", "n")
    a, b = prefix.alias("a"), prefix.alias("b")
    # size filter (lossless, standard All-Pairs/PPJoin): J(x,y) ≥ t forces
    # t·|x| ≤ |y| and t·|y| ≤ |x| — applied IN the candidate join so
    # size-incompatible prefix collisions never become distinct-pair rows
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col("b.n") >= F.ceil(F.lit(threshold) * F.col("a.n")))
            & (F.col("a.n") >= F.ceil(F.lit(threshold) * F.col("b.n"))),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sa = sets.select(
        F.col(id_col).alias("id_a"), F.col("ts").alias("ts_a"), F.col("n").alias("n_a")
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"), F.col("ts").alias("ts_b"), F.col("n").alias("n_b")
    )
    inter = F.size(F.array_intersect(F.col("ts_a"), F.col("ts_b")))
    jac = F.round(
        inter.cast("double")
        / (F.col("n_a") + F.col("n_b") - inter).cast("double"),
        6,
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.cast("int").alias("inter"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def remove_dup_spans(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicate-substring removal at token k-gram granularity —
    the ExactSubstr deduplication of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better") re-expressed for Spark:
    any token k-gram occurring more than once in the corpus marks a
    duplicated region; overlapping/adjacent regions merge into maximal
    spans; spans are cut from the document.

    The suffix-array formulation is inherently sequential (one global
    sorted index); the k-gram formulation decomposes into keyed shuffles
    only, at the cost of missing duplicates shorter than k tokens —
    which is exactly the knob Lee et al. expose (their min-match length).

    Plan shape at scale:
      positions+grams per doc (one Generate, no shuffle) →
      gram-keyed count to find corpus-duplicated grams (partial-agg) →
      join hit positions back on the gram key →
      per-doc island merge (window over positions WITHIN each doc —
      bounded by doc length, never corpus size) →
      per-doc span aggregation + one keyed join onto the corpus to cut
      tokens with a codegen'd filter/transform (no Python).

    Returns only affected docs: (id, n_spans, n_dup_tokens, clean_text);
    a fully-duplicated doc yields clean_text = ''."""
    src = df.select(F.col(id_col), words(F.col(text_col)).alias("ws"))
    spans = duplicated_spans(src, k, id_col)
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("se") - F.col("ss")).alias("n_dup_tokens"),
        F.sort_array(F.collect_list(F.struct("ss", "se"))).alias("spans"),
    )
    return (
        src.join(per_doc, id_col)
        .withColumn(
            "clean_text",
            F.expr(
                "concat_ws(' ', transform("
                "filter(sequence(1, size(ws)), "
                "i -> NOT exists(spans, sp -> i >= sp.ss AND i < sp.se)), "
                "i -> element_at(ws, i)))"
            ),
        )
        .select(id_col, "n_spans", "n_dup_tokens", "clean_text")
    )


def duplicated_spans(
    src: DataFrame, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Maximal corpus-duplicated token spans per document — the shared
    mining half of ExactSubstr dedup (Lee et al. 2022): ``src`` is
    (id, ws: array<string> token list); output is one row per maximal
    span, (id, ss, se) with token positions [ss, se) 1-based.

    Plan shape (remove_dup_spans' scale notes apply): positions+grams per
    doc (one Generate) → gram-keyed duplicate count → join hit positions
    back on the 64-bit gram hash → per-doc island merge (windows bounded
    by doc length, never corpus size)."""
    from pyspark.sql import Window as W

    hits = src.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"CASE WHEN size(ws) >= {k} THEN "
                f"transform(sequence(1, size(ws) - {k - 1}), "
                f"i -> struct(i AS s, concat_ws(' ', slice(ws, i, {k})) AS g)) "
                f"ELSE array() END"
            )
        ).alias("h"),
    ).select(
        F.col(id_col),
        F.col("h.s").alias("s"),
        # shuffle economics: every downstream step keys on the gram, so hash
        # it to 64 bits HERE and never move the raw k-gram text (~8 words per
        # position) through an exchange — the gram-count shuffle and the
        # join-back shuffle both carry one BIGINT per position instead.
        # Collision bound: a false dup needs two distinct single-occurrence
        # grams on the same xxhash64 value — P ≈ G²/2⁶⁵ for G distinct grams
        # (at G = 10¹² that is ~3·10⁻²⁰ per pair); dup-span verification is
        # positional, so a collision can only ADD a span, never corrupt one.
        F.xxhash64("h.g").alias("gh"),
    )
    # r17 (guide §2.4, replacing the r16 SHUFFLE_HASH shape): the
    # duplicate filter is a count window over the ONE gh exchange — the
    # gram-count aggregate, the join operator and its ReuseExchange leg
    # disappear outright (plan: Exchange+HashAggregate+ShuffledHashJoin →
    # Exchange+Sort+Window).  The shuffle still carries only (id, s, gh)
    # triples; a corpus-hot gram concentrates on one reducer key in BOTH
    # shapes (a single join key is equally unsplittable by AQE), so the
    # skew posture is unchanged.  Interleaved A/B min-of-4 ×4 rounds:
    # window 0.96/1.01/1.07/1.03 vs join 1.00/1.16/1.40/1.14 s at sf0.1.
    dup_hits = (
        hits.withColumn("_c", F.count(F.lit(1)).over(W.partitionBy("gh")))
        .filter(F.col("_c") > 1)
        .select(id_col, "s")
    )
    w_prev = (
        W.partitionBy(id_col).orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("s") + k).over(w_prev)
    flagged = dup_hits.withColumn(
        "flag",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    islands = flagged.withColumn(
        "island", F.sum("flag").over(W.partitionBy(id_col).orderBy("s"))
    )
    return islands.groupBy(id_col, "island").agg(
        F.min("s").alias("ss"), (F.max("s") + k).alias("se")
    ).select(id_col, "ss", "se")


def duplicate_span_census(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GLOBAL census of exact-duplicate spans at the Lee-et-al-2022
    min-match length (50 tokens): the corpus-wide distribution of maximal
    duplicated-span lengths — (span_tokens, n_spans, n_docs, dup_tokens)
    — the "how much verbatim duplication, at what lengths" readout their
    §4 reports for C4/RealNews, across documents and global rather than
    per-pair (cross_doc_shingle_stats) or per-doc (remove_dup_spans).

    A maximal run of r consecutive corpus-duplicated k-grams in one
    document is a duplicated span of r + k − 1 tokens; the census rolls
    every span up by its length.  Suffix arrays find the same spans with
    one global sort; the k-gram formulation decomposes into keyed
    shuffles (gram count + position join + per-doc windows), and the
    census tail is one corpus-bounded hash aggregate over the span frame
    — at 100 TB the output stays ≤ max-doc-tokens rows."""
    src = df.select(F.col(id_col), words(F.col(text_col)).alias("ws"))
    spans = duplicated_spans(src, k, id_col)
    return (
        spans.select(F.col(id_col), (F.col("se") - F.col("ss")).alias("span_tokens"))
        .groupBy("span_tokens")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.countDistinct(id_col).cast("long").alias("n_docs"),
            F.sum("span_tokens").cast("long").alias("dup_tokens"),
        )
        .select(
            F.col("span_tokens").cast("long").alias("span_tokens"),
            "n_spans",
            "n_docs",
            "dup_tokens",
        )
        .orderBy("span_tokens")
    )


def remove_boilerplate_chunks(
    df: DataFrame,
    chunk_tokens: int = 16,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-frequency boilerplate removal — the CCNet/RefinedWeb
    paragraph-dedup step [Wenzek et al. 2020] at token-chunk granularity:
    a chunk whose exact content appears in ≥ ``min_docs`` DISTINCT
    documents is boilerplate (headers, footers, licenses, templated
    navigation) and is cut from every document carrying it.

    Differs from remove_dup_spans (any >1 occurrence, within- or
    cross-doc, maximal spans) by thresholding on DOCUMENT frequency —
    the signature of boilerplate is breadth across documents, not mere
    repetition; min_docs is the knob separating boilerplate from quoted
    text.

    Plan shape at scale (all exchanges keyed, no pair surface):
      chunk per doc (one Generate, no shuffle) →
      56-bit md5 chunk fingerprint (BIGINT through every exchange; the
      2⁻⁵⁶-collision fold DuckDB reproduces, same as sampling's buckets) →
      distinct (doc, chunk-hash) + count ≥ min_docs (partial-agg) →
      join boiler hashes back, per-doc index set (ints only) →
      one keyed join onto the corpus, codegen'd token filter.

    Returns every document: (id, n_chunks, n_boiler_chunks, clean_text);
    a fully-templated doc yields clean_text = ''."""
    c = chunk_tokens
    src = df.select(F.col(id_col), words(F.col(text_col)).alias("ws"))
    chunks = src.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(ws) / {c}.0) AS int) - 1), "
                f"ci -> struct(ci AS ci, "
                f"concat_ws(' ', slice(ws, ci * {c} + 1, {c})) AS ctext))"
            )
        ).alias("ch"),
    )
    hashed = chunks.select(
        F.col(id_col),
        F.col("ch.ci").alias("ci"),
        F.conv(F.substring(F.md5(F.col("ch.ctext")), 1, 14), 16, 10)
        .cast("long")
        .alias("h"),
    )
    boiler = (
        hashed.select("h", id_col)
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df_docs"))
        .filter(F.col("df_docs") >= min_docs)
        .select("h")
    )
    bchunks = (
        hashed.join(boiler, "h")
        .groupBy(id_col)
        .agg(F.collect_set("ci").alias("bci"))
    )
    return (
        src.join(bchunks, id_col, "left")
        .withColumn("bci", F.coalesce(F.col("bci"), F.expr("array()")))
        .select(
            F.col(id_col),
            F.ceil(F.size("ws") / F.lit(float(c))).cast("int").alias("n_chunks"),
            F.size("bci").alias("n_boiler_chunks"),
            F.expr(
                f"concat_ws(' ', transform("
                f"filter(sequence(1, size(ws)), "
                f"i -> NOT array_contains(bci, cast((i - 1) div {c} AS int))), "
                f"i -> element_at(ws, i)))"
            ).alias("clean_text"),
        )
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 4,
    block_chars: int = 2,
    key_chars: int = 24,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood candidate generation [Hernández & Stolfo 1995]
    verified with exact token-set Jaccard: sort records by a sliding key
    (first ``key_chars`` of the normalized text), pair each record with
    its ``window−1`` successors in sort order, keep pairs whose Jaccard
    clears ``threshold``.  The third classic blocking family next to
    LSH banding and SimHash pigeonholes — it catches prefix-stable edits
    that shingle-hash blocking can miss, at O(n·w) candidates.

    Distributed formulation: the sort is per ``block_chars``-prefix
    block (the standard parallel SNM — Kolb et al., "Multi-pass sorted
    neighborhood blocking with MapReduce", 2012), so ranking is a
    per-block window, not a global single-partition sort; pairs never
    cross a block boundary.  Production runs do multiple passes with
    different keys to cover boundary losses — here one pass is the
    operator's contract.  Candidate fan-out is an explode of the
    window-offset array joined back on (block, rank+off): one equi-join
    keyed by small ints, no inequality join, no cartesian."""
    from pyspark.sql import Window as W

    base = docs.select(
        F.col(id_col).alias("id"),
        normalize_text(F.col(text_col)).alias("nt"),
    ).withColumn("skey", F.substring("nt", 1, key_chars)).withColumn(
        "block", F.substring("nt", 1, block_chars)
    )
    # r16 optimization (guide §2.4): "pair each record with its window−1
    # successors" IS a lead() window — the (block, rank+off) explode +
    # equi-join formulation paid a second shuffle of the ranked frame
    # plus the join itself for rows the window stage already had adjacent
    # (each unordered pair arises exactly once either way: one rank per
    # id, lead offsets distinct).  Texts are re-attached AFTER candidate
    # generation, so neither the window nor the pair rows carry payloads.
    pairs = _snm_pass_pairs(
        base.select("id", F.col("nt").alias("sortsrc")),
        window,
        block_chars,
        key_chars,
    )
    # r16 (guide §2.3/§4.2 analog in SQL): tokenize ONCE PER DOC, not
    # once per pair — attaching nt and re-running split+array_distinct
    # inside the pair-level jaccard meant every document was re-tokenized
    # once per candidate pair it appears in (~6× here).  The token-set
    # arrays attach instead; array_intersect sizes are order-independent
    # so the jaccard values are bit-identical.  1.63 → 0.68 s (multipass).
    toks = base.select("id", F.array_distinct(F.split(F.col("nt"), " ")).alias("ts"))
    inter = F.size(F.array_intersect(F.col("_ta"), F.col("_tb")))
    union = F.size(F.col("_ta")) + F.size(F.col("_tb")) - inter
    jac = F.round(inter.cast("double") / union.cast("double"), 6)
    return (
        pairs.join(
            toks.select(F.col("id").alias("id_a"), F.col("ts").alias("_ta")),
            "id_a",
        )
        .join(
            toks.select(F.col("id").alias("id_b"), F.col("ts").alias("_tb")),
            "id_b",
        )
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _snm_pass_pairs(
    keyed: DataFrame, window: int, block_chars: int, key_chars: int
) -> DataFrame:
    """One sorted-neighborhood pass over a NARROW (id, sortsrc) frame:
    sort by the ``key_chars`` prefix of sortsrc within its ``block_chars``
    prefix block, pair each record with its window−1 successors.  Returns
    unordered (id_a, id_b) candidate pairs only — texts are re-attached
    once, after the cross-pass pair-dedup, so candidate generation never
    shuffles document payloads.

    r16 optimization (guide §2.4): the successors come from ``lead()``
    columns over the SAME block window that establishes the sort — the
    former (block, rank+offset) explode + equi-join re-shuffled the
    ranked frame and joined it against itself for rows the window stage
    already had adjacent.  Identical pair set: lead(id, k) within the
    block IS the record at rank+k (one rank per id, offsets distinct, no
    cross-block pairs either way)."""
    from pyspark.sql import Window as W

    ranked = keyed.select(
        "id",
        F.substring("sortsrc", 1, key_chars).alias("skey"),
        F.substring("sortsrc", 1, block_chars).alias("block"),
    )
    w_ = W.partitionBy("block").orderBy("skey", "id")
    nxt = [F.lead("id", k).over(w_).alias(f"_n{k}") for k in range(1, window)]
    return (
        ranked.select("id", *nxt)
        .select(
            "id",
            F.explode(
                F.array(*[F.col(f"_n{k}") for k in range(1, window)])
            ).alias("id_b"),
        )
        .filter(F.col("id_b").isNotNull())
        .select(
            F.least("id", "id_b").alias("id_a"),
            F.greatest("id", "id_b").alias("id_b"),
        )
    )


def sorted_neighborhood_multipass(
    docs: DataFrame,
    window: int = 4,
    block_chars: int = 2,
    key_chars: int = 24,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multi-pass sorted neighborhood — Kolb et al.'s actual contract
    (single-pass SNM loses pairs that straddle a sort-key boundary; the
    standard remedy is additional passes under INDEPENDENT keys, pair
    sets unioned).  Pass 1 sorts by the normalized-text prefix (as
    ``sorted_neighborhood_pairs``); pass 2 by the REVERSED-text prefix,
    which neighbors records by their endings — a prefix edit that breaks
    pass 1's blocking leaves pass 2's key (and block) intact.

    Scale shape: each pass is the same O(n·w) narrow-column machinery
    (rank + offset equi-join on (block, rank) ints); the cross-pass union
    dedups on the bare (id_a, id_b) pair — document text is joined back
    exactly once, AFTER dedup, so a pair found by both passes is scored
    once and payloads never ride the candidate shuffles."""
    base = docs.select(
        F.col(id_col).alias("id"),
        normalize_text(F.col(text_col)).alias("nt"),
    )
    p1 = _snm_pass_pairs(
        base.select("id", F.col("nt").alias("sortsrc")),
        window, block_chars, key_chars,
    )
    p2 = _snm_pass_pairs(
        base.select("id", F.reverse(F.col("nt")).alias("sortsrc")),
        window, block_chars, key_chars,
    )
    cand = p1.union(p2).distinct()
    # tokenize once per doc, not once per pair — see
    # sorted_neighborhood_pairs (same r16 change, measured there)
    toks = base.select("id", F.array_distinct(F.split(F.col("nt"), " ")).alias("ts"))
    inter = F.size(F.array_intersect(F.col("_ta"), F.col("_tb")))
    union = F.size(F.col("_ta")) + F.size(F.col("_tb")) - inter
    jac = F.round(inter.cast("double") / union.cast("double"), 6)
    return (
        cand.join(toks.select(F.col("id").alias("id_a"), F.col("ts").alias("_ta")), "id_a")
        .join(toks.select(F.col("id").alias("id_b"), F.col("ts").alias("_tb")), "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def shingle_novelty(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document novelty: the fraction of the doc's distinct word
    k-shingles whose FIRST corpus occurrence (by ascending doc id — the
    ingestion-order proxy) is this document.  The marginal-contribution
    curve of a growing corpus: bulk-crawled near-copies score ~0, fresh
    material ~1 — the dedup-adjacent signal curriculum and
    freshness-weighted sampling read (Lee et al. 2022 measure the same
    quantity corpus-wide; this is its per-doc decomposition).

    Scale shape (r10 rewrite — the r9 version joined the exploded
    shingle stream back against the first-occurrence table, a
    corpus-sized ⋈ vocabulary-sized shuffle join that dominated the ×100
    wall): n_novel(doc) = |{shingles whose min doc id IS doc}| needs no
    join-back — it is ONE more keyed aggregate over the first-occurrence
    table itself; n_shingles is a map-side size() fused into its own
    scan.  Total: one explode → shingle-keyed min → doc-keyed count,
    plus a narrow projection scan, closed by one doc-keyed LEFT join
    (docs owning zero first-occurrences coalesce to 0).  The shingle
    stream is never joined against anything."""
    e = docs.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), k)).alias("s"),
    )
    first = e.groupBy("s").agg(F.min(id_col).alias("_first"))
    novel = first.groupBy("_first").agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    per_doc = docs.select(
        F.col(id_col),
        F.size(word_shingles(F.col(text_col), k)).cast("long").alias("n_shingles"),
    )
    return (
        per_doc.join(novel, per_doc[id_col] == novel["_first"], "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_shingles").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


def containment_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """DIRECTED shingle containment over the minhash LSH candidate set
    [Broder 1997's containment]: C(A→B) = |S_A ∩ S_B| / |S_A| — the
    banded-front-end, both-directions variant of ``containment_pairs``
    (which verifies |A∩B|/min exhaustively via the shingle equi-join).  Symmetric Jaccard
    underweights a short doc fully quoted inside a long one (small
    union-normalized overlap); containment flags it at ~1.0 from the
    short side — the case that matters when the long doc should survive
    and the embedded copy should not.

    Emits candidate pairs (id_a < id_b) with exact intersection / set
    sizes and both directed containments, kept when EITHER direction
    clears ``threshold``.  Same banded LSH front end as
    minhash_near_duplicates (never all-pairs); per-pair verification is
    an array intersect over the two per-doc distinct shingle sets —
    each division a single float over exact integers.

    Recall caveat shared with every minhash front end: banding targets
    JACCARD, so a high-containment pair with low Jaccard (tiny doc in a
    huge one) may not collide in any band; for containment-first mining
    at scale, swap the front end for a prefix-filter on the SHORT side
    (ppjoin's posture) — this operator keeps the shared-LSH shape so the
    two verifications are comparable on the same candidates."""
    cand = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_k
    )
    sh = df.select(
        F.col(id_col).alias("_id"),
        word_shingles(F.col(text_col), shingle_k).alias("_shs"),
    )
    j = (
        cand.join(
            sh.select(
                F.col("_id").alias("id_a"), F.col("_shs").alias("_sa")
            ),
            "id_a",
        )
        .join(
            sh.select(
                F.col("_id").alias("id_b"), F.col("_shs").alias("_sb")
            ),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    out = j.select(
        "id_a",
        "id_b",
        inter.cast("long").alias("n_common"),
        F.size("_sa").cast("long").alias("n_a"),
        F.size("_sb").cast("long").alias("n_b"),
        F.round(inter.cast("double") / F.size("_sa").cast("double"), 6).alias(
            "c_ab"
        ),
        F.round(inter.cast("double") / F.size("_sb").cast("double"), 6).alias(
            "c_ba"
        ),
    )
    # exact-integer keep (same inequality as containment_pairs_prefix, so
    # the two miners' keeps are comparable on identical candidates; the
    # rounded c_ab/c_ba columns are display-only)
    return out.filter(
        (F.col("n_common") >= F.ceil(F.lit(threshold) * F.col("n_a")))
        | (F.col("n_common") >= F.ceil(F.lit(threshold) * F.col("n_b")))
    )


def containment_pairs_prefix(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    max_candidates: int = 10_000_000,
) -> DataFrame:
    """CONTAINMENT-FIRST candidate generation with EXACT recall — the
    prefix-filter miner ``containment_pairs_lsh`` names as its own scale
    path (r10 verdict: minhash banding tracks *Jaccard*, so the
    operator's motivating pair — a short doc fully quoted inside a long
    one, containment ≈ 1.0 but Jaccard ≈ |short|/|long| — is precisely
    the pair least likely to share a band).  Same directed semantics and
    output schema as the LSH variant: C(A→B) = |S_A ∩ S_B| / |S_A|,
    pairs kept when EITHER direction clears ``threshold``.

    Candidate generation is the SSJoin/PPJoin prefix principle
    [Chaudhuri et al. 2006; Xiao et al. 2008] applied to the DIRECTED
    threshold, which depends only on the PROBING side's size: C(X→Y) ≥ t
    forces |X∩Y| ≥ ⌈t·|X|⌉, so the overlap cannot fit inside X's last
    ⌈t·|X|⌉ − 1 tokens — Y must share a token with X's first
    |X| − ⌈t·|X|⌉ + 1 tokens in ascending-document-frequency order.
    Probing the FULL inverted index with only those (rarest-first)
    prefixes covers both directions (every doc probes once, is indexed
    once) with recall exactly 1 — the brute-force oracle is a proof, not
    a sample.  The lossless size filter |Y| ≥ ⌈t·|X|⌉ prunes
    size-incompatible collisions inside the join.

    Scale shape: df-ordering is one aggregate + one per-doc window
    (bounded by doc length); candidate cost is Σ_tok pfx_df(tok)·df(tok)
    — prefixes hold each doc's RAREST tokens, so the hot tokens that
    dominate an unfiltered token join never probe (they can still be
    probed INTO, which is what makes short-in-long visible at all);
    verification touches candidates only.  Same vocabulary-driven
    selectivity caveat as prefix_filter_pairs: a tiny-vocabulary
    (templated/log-like) corpus degrades — and that steer is ENFORCED,
    not prose (r11 verdict directive #2): before the candidate join the
    operator evaluates the exact pre-filter candidate mass
    Σ_probe-rows df(tok) (one bounded aggregate over the checkpointed
    rank table — every probe row joins to exactly df(tok) index
    entries, so this is the join's true output size before the lossless
    size filter and pair-dedup) and raises a loud ValueError above
    ``max_candidates`` naming the minhash-first alternative.  On the
    measured corpora: Heaps-law text ×100 ≈ 10⁴-scale mass (passes the
    default 10M budget comfortably); the template-replica corpus that
    produced the 473 s / 50M-candidate wall trips it before any
    candidate is formed.  Raise ``max_candidates`` explicitly for a
    sized cluster.

    Keep predicate is EXACT-INTEGER (same bound as candidate
    generation): C(X→Y) ≥ t ⟺ |X∩Y| ≥ ⌈t·|X|⌉ for integer overlaps, so
    the filter compares n_common against the ceil bound directly — the
    rounded c_ab/c_ba columns are display-only.  (Previously the keep
    used round(c, 6) ≥ t, which on adversarial sizes — true containment
    just below t rounding up at 6dp, ~10⁶ shingles — kept pairs the
    candidate bound had already pruned, breaking the recall-1-vs-oracle
    contract; bound and keep are now the same inequality.)

    The candidate join also applies the LOSSLESS positional filter
    [Xiao et al. 2008]: both docs rank tokens in the same global (df,
    tok) order, so a collision at ranks (i, j) bounds the remaining
    overlap by 1 + min(|X|−i, |Y|−j); a qualifying pair always survives
    via its first common token.  Measured at ×100 on the template
    corpus: candidate-JOIN phase 395 → 144 s, but distinct pairs only
    50.0M → 45.4M (−9%: same-size template docs keep the positional
    bound slack), so the end-to-end wall is ~unchanged there and the
    candidate-mass guard remains the steer; on Heaps-law text the
    filter is essentially free and the prefix is already selective."""
    from pyspark.sql import Window as W

    src = spread(df)
    sets = (
        src.select(
            F.col(id_col),
            word_shingles(F.col(text_col), shingle_k).alias("ts"),
        )
        .withColumn("n", F.size("ts"))
        .where(F.col("n") > 0)
    )
    toks = sets.select(F.col(id_col), "n", F.explode("ts").alias("tok"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    # Checkpointed once: the corpus-shape guard aggregates over it, then
    # BOTH join sides (rarest-prefix probe, full inverted index) derive
    # from it without replaying the shingle explode + df join + window.
    ranked = (
        toks.join(dfreq, "tok")
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy(id_col).orderBy(F.col("f"), F.col("tok"))
            ),
        )
        .localCheckpoint(eager=True)
    )
    prefix_len = F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    est = (
        ranked.where(F.col("rn") <= prefix_len)
        .agg(F.sum("f").alias("m"))
        .first()["m"]
        or 0
    )
    if est > max_candidates:
        raise ValueError(
            f"containment_pairs_prefix: prefix-token candidate mass "
            f"Σ pfx_df(tok)·df(tok) = {est:,} exceeds max_candidates="
            f"{max_candidates:,} — the corpus vocabulary is too small for "
            "prefix filtering to be selective (templated/log-like text). "
            "Run the Jaccard-first miner (containment_pairs_lsh / "
            "minhash_near_duplicates) on this corpus, or raise "
            "max_candidates explicitly for a sized cluster"
        )
    probe = ranked.where(F.col("rn") <= prefix_len).select(
        F.col(id_col).alias("_pid"),
        "tok",
        F.col("n").alias("_pn"),
        F.col("rn").alias("_prn"),
    )
    index = ranked.select(
        F.col(id_col).alias("_fid"),
        "tok",
        F.col("n").alias("_fn"),
        F.col("rn").alias("_frn"),
    )
    probe = probe.withColumnRenamed("tok", "_ptok")
    o_min = F.ceil(F.lit(threshold) * F.col("_pn"))
    cand = (
        probe.join(
            index,
            (F.col("_ptok") == F.col("tok"))
            & (F.col("_pid") != F.col("_fid"))
            # lossless: C(probe→indexed) ≥ t needs |Y| ≥ ⌈t·|X|⌉
            & (F.col("_fn") >= o_min)
            # lossless POSITIONAL filter [Xiao et al. 2008 ppjoin]: both
            # docs rank their tokens in the SAME global (df, tok) order,
            # so every common token beyond this collision ranks strictly
            # later on BOTH sides — the overlap through the end can't
            # exceed 1 + min(remaining_p, remaining_f).  Any truly
            # qualifying pair survives via its FIRST common token (the
            # bound is tight there); hot template tokens sit at high
            # ranks where the remainder is too small, which is exactly
            # the corpus shape that degraded the unpositioned join
            # (473 s / 50M candidates at ×100, BENCH r11)
            & (
                1
                + F.least(
                    F.col("_pn") - F.col("_prn"), F.col("_fn") - F.col("_frn")
                )
                >= o_min
            ),
        )
        .select(
            F.least("_pid", "_fid").alias("id_a"),
            F.greatest("_pid", "_fid").alias("id_b"),
        )
        .distinct()
    )
    sa = sets.select(
        F.col(id_col).alias("id_a"), F.col("ts").alias("_sa")
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"), F.col("ts").alias("_sb")
    )
    j = cand.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    out = j.select(
        "id_a",
        "id_b",
        inter.cast("long").alias("n_common"),
        F.size("_sa").cast("long").alias("n_a"),
        F.size("_sb").cast("long").alias("n_b"),
        F.round(inter.cast("double") / F.size("_sa").cast("double"), 6).alias(
            "c_ab"
        ),
        F.round(inter.cast("double") / F.size("_sb").cast("double"), 6).alias(
            "c_ba"
        ),
    )
    # exact-integer keep, IDENTICAL to the candidate-generation bound
    return out.filter(
        (F.col("n_common") >= F.ceil(F.lit(threshold) * F.col("n_a")))
        | (F.col("n_common") >= F.ceil(F.lit(threshold) * F.col("n_b")))
    )


def edit_distance_pairs(
    df: DataFrame,
    max_distance: int = 25,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """CHARACTER-level near-duplicates: minhash LSH candidate front end,
    Levenshtein verification on the normalized text — the edit-distance
    lens next to the shingle-set miners (Jaccard/containment measure
    SET overlap and miss small in-place edits' characterwise cost;
    Levenshtein prices every insertion/deletion/substitution, the right
    contract for OCR noise, template fills, and typo-class near-dups).

    Verification is bounded: the banded-Levenshtein threshold variant
    (``levenshtein(l, r, threshold)``) computes only the |s|·d diagonal
    band and returns −1 above ``max_distance`` — O(len·d), never the
    full O(len²) matrix — and the LOSSLESS length filter
    ||a|−|b|| ≤ d prunes size-incompatible candidates before any
    distance is computed.

    Recall caveat (documented, same family as containment_pairs_lsh):
    the front end targets JACCARD, and edit distance ≤ d on texts of
    length ≫ d·k implies near-identical shingle sets, so recall is ~1
    for document-scale inputs; for SHORT strings (names, titles) where
    d edits can rewrite most shingles, use the sorted-neighborhood
    miner (dedup_sorted_neighborhood) as the front end instead.

    Emits (id_a < id_b, edit_distance, len_a, len_b)."""
    cand = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_k
    )
    cand_ids = F.broadcast(
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # normalized text attaches only to candidate docs (the
    # minhash_near_duplicates semi-join pattern); cached because both
    # pair sides reference it
    txt = (
        spread(df)
        .join(cand_ids, on=id_col, how="left_semi")
        .select(F.col(id_col), normalize_text(F.col(text_col)).alias("nt"))
    ).cache()
    j = (
        cand.join(
            txt.select(F.col(id_col).alias("id_a"), F.col("nt").alias("_ta")),
            "id_a",
        )
        .join(
            txt.select(F.col(id_col).alias("id_b"), F.col("nt").alias("_tb")),
            "id_b",
        )
        # lossless: levenshtein ≥ abs length difference
        .filter(
            F.abs(F.length("_ta") - F.length("_tb")) <= max_distance
        )
    )
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"), max_distance)
    return (
        j.select(
            "id_a",
            "id_b",
            dist.cast("long").alias("edit_distance"),
            F.length("_ta").cast("long").alias("len_a"),
            F.length("_tb").cast("long").alias("len_b"),
        )
        .filter(F.col("edit_distance") >= 0)
    )


def minhash_estimator_calibration(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Calibration census of the minhash Jaccard ESTIMATOR against the
    exact Jaccard it estimates, over the engine's own LSH candidate
    pairs: cells (est_matches = matching signature components of H,
    jac_decile = floor(round(J,6)·10) capped at 9) with pair counts —
    the banding-quality audit next to dedup_recall (recall measures
    what the bands FIND; this measures what the signature CLAIMS,
    E[est_matches/H] = J [Broder 1997]).  A drifting hash family or a
    truncated-signature bug shows up as off-diagonal mass immediately.

    One signature pass feeds BOTH the band buckets and the component
    comparison (minhash_from_stream shared-pass helpers); exact shingle
    arrays attach only to candidate docs; output is the ≤(H+1)×10
    census."""
    src = spread(df, by=id_col)  # keyed spread: signature groupBy(id) reuses it (guide §2.4)
    stream = src.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("s"),
    )
    # no signature checkpoint: with signatures riding the band buckets the
    # pair self-join is mh's ONLY consumer, and ReuseExchange dedupes the
    # identical subtree on both join sides (measured: fused is ~0.5 s
    # faster than checkpoint-then-join at sf0.1, same pair set)
    mh = minhash_from_stream(stream, id_col, num_hashes)
    # signatures ride the band buckets into the pair join (r13 VERDICT #3
    # trim — lsh_candidate_pairs_with_signatures), so est_matches needs no
    # join back to the signature frame; only the exact shingle arrays
    # still attach, candidate-ids-only as before
    cand = lsh_candidate_pairs_with_signatures(
        mh, id_col, num_hashes, bands
    ).cache()
    # exact shingle arrays attach only to CANDIDATE docs: broadcast
    # semi-join on the distinct candidate ids before shingling (the
    # minhash_near_duplicates pattern — r11 ADVICE #4: previously this
    # shingled the full corpus and relied on the join to prune); cached
    # because both pair sides reference it
    cand_ids = F.broadcast(
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets = (
        src.join(cand_ids, on=id_col, how="left_semi")
        .select(
            F.col(id_col), word_shingles(F.col(text_col), shingle_k).alias("ts")
        )
    ).cache()
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("ts").alias("_ta"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("ts").alias("_tb"))
    est = signature_match_count(F.col("sig_a"), F.col("sig_b"))
    inter = F.size(F.array_intersect(F.col("_ta"), F.col("_tb"))).cast("double")
    union = (
        F.size("_ta") + F.size("_tb")
        - F.size(F.array_intersect(F.col("_ta"), F.col("_tb")))
    ).cast("double")
    jac = F.round(inter / union, 6)
    pairs = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            est.alias("est_matches"),
            F.least(F.floor(jac * 10).cast("int"), F.lit(9)).alias(
                "jac_decile"
            ),
        )
    )
    return (
        pairs.groupBy("est_matches", "jac_decile")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("est_matches", "jac_decile")
    )


def dedup_audit_panel(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """ALL FOUR dedup-audit readouts off ONE checkpointed minhash
    mining (r12 verdict directive #1): the standalone queries
    (``minhash_calibration``, ``dedup_cluster_sizes``,
    ``dedup_ari_exact_vs_lsh``, ``nmi_exact_vs_lsh``) each re-run the
    signature/candidate/CC upstream, which is ~85-100% of every wall;
    in the one-query-per-session driver/cron shape that mining is paid
    four times.  This composite mines once — signatures → band buckets
    → candidate pairs → per-candidate (est_matches, exact Jaccard)
    audit table, localCheckpoint'd — and derives everything from it:

    - ``calibration``: the (est_matches, jac_decile) estimator census
      (minhash_estimator_calibration semantics);
    - ``cluster_sizes``: the keep-one histogram over the connected
      components of the verified (J ≥ threshold) pairs;
    - ``ari`` / ``nmi``: chance-corrected and information-theoretic
      agreement of the LSH component partition against the exact-hash
      partition, BOTH off one checkpointed contingency census.

    Output is long-format — (section, k1, k2, metric, value) — because
    the four readouts have incompatible row shapes; counts ride as
    exact doubles (all < 2^53), statistics are rounded to 6 as in the
    standalones.

    Scale: identical to the standalone plans (banded candidates, never
    all-pairs; shingles attach to candidate ids only; CC on the
    verified pair graph), minus three redundant re-minings.  The
    checkpoints are all census/pair-sized, never corpus-sized."""
    from es_ch_sync_spark.operators.analytics import (
        adjusted_rand_index_from_census,
        nmi_vmeasure_from_census,
    )

    src = spread(df, by=id_col)  # keyed spread: signature groupBy(id) reuses it (guide §2.4)
    stream = src.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("s"),
    )
    # no signature checkpoint: with signatures riding the band buckets the
    # pair self-join is mh's ONLY consumer, and ReuseExchange dedupes the
    # identical subtree on both join sides (measured: fused is ~0.5 s
    # faster than checkpoint-then-join at sf0.1, same pair set)
    mh = minhash_from_stream(stream, id_col, num_hashes)
    # r13 VERDICT #3 trim: signatures ride the band buckets into the pair
    # join (lsh_candidate_pairs_with_signatures), so the audit chain is
    # cand ⋈ sa ⋈ sb — two joins instead of four (the xa/xb signature
    # join-backs are gone; est_matches computes from the carried arrays)
    cand = lsh_candidate_pairs_with_signatures(
        mh, id_col, num_hashes, bands
    ).cache()
    cand_ids = F.broadcast(
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets = (
        src.join(cand_ids, on=id_col, how="left_semi")
        .select(
            F.col(id_col), word_shingles(F.col(text_col), shingle_k).alias("ts")
        )
    ).cache()
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("ts").alias("_ta"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("ts").alias("_tb"))
    est = signature_match_count(F.col("sig_a"), F.col("sig_b"))
    # THE one mining output: every downstream readout derives from this
    # candidate-sized audit table, never from the corpus again
    audit = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            est.alias("est_matches"),
            F.round(jaccard(F.col("_ta"), F.col("_tb")), 6).alias("jaccard"),
        )
        .localCheckpoint(eager=True)
    )

    nulls = [
        F.lit(None).cast("long").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
    ]
    calib_long = (
        audit.groupBy(
            F.col("est_matches").cast("long").alias("k1"),
            F.least(F.floor(F.col("jaccard") * 10).cast("int"), F.lit(9))
            .cast("long")
            .alias("k2"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
        .select(
            F.lit("calibration").alias("section"),
            "k1",
            "k2",
            F.lit("n_pairs").alias("metric"),
            "value",
        )
    )

    # no extra checkpoint: the CC loop's final labels frame is already
    # localCheckpoint'd, so `comp` is a projection over materialized data
    # for both consumers (cluster sizes + the LSH-partition labels)
    comp = connected_components(audit.filter(F.col("jaccard") >= threshold))
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    cs_long = (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            F.lit("cluster_sizes").alias("section"),
            F.col("cluster_size").cast("long").alias("k1"),
            F.lit(None).cast("long").alias("k2"),
            F.expr(
                "stack(3,"
                " 'n_clusters', CAST(n_clusters AS DOUBLE),"
                " 'n_docs', CAST(cluster_size * n_clusters AS DOUBLE),"
                " 'n_removable',"
                " CAST(cluster_size * n_clusters - n_clusters AS DOUBLE)"
                ") AS (metric, value)"
            ),
        )
    )

    # r16 (guide §2.4): both label partitions come off ONE corpus scan —
    # the exact-hash label is a row-local md5 and the LSH label is a
    # broadcast join against the (tiny) component frame, so the former
    # la ⋈ lb id-join (second scan + join stage) is a fused projection.
    # Identical census: same id set (left join + coalesce keeps every
    # doc), same label values, same groupBy.
    nij = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.md5(normalize_text(F.col(text_col))).alias("_la"),
        )
        .join(comp, "doc_id", "left")
        .select(
            "_la",
            F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            .cast("string")
            .alias("_lb"),
        )
        .groupBy("_la", "_lb")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        # lazy: materializes once inside the final job (all six ARI/NMI
        # readout branches share the checkpointed RDD) instead of paying
        # a blocking driver round-trip before it (r16 #14, guide §1.2)
        .localCheckpoint(eager=False)
    )
    ari_long = adjusted_rand_index_from_census(nij).select(
        F.lit("ari").alias("section"),
        *nulls,
        F.expr(
            "stack(5,"
            " 'n_items', CAST(n_items AS DOUBLE),"
            " 'sum_comb_ij', CAST(sum_comb_ij AS DOUBLE),"
            " 'sum_comb_a', CAST(sum_comb_a AS DOUBLE),"
            " 'sum_comb_b', CAST(sum_comb_b AS DOUBLE),"
            " 'ari', ari) AS (metric, value)"
        ),
    )
    nmi_long = nmi_vmeasure_from_census(nij).select(
        F.lit("nmi").alias("section"),
        *nulls,
        F.expr(
            "stack(7,"
            " 'n_items', CAST(n_items AS DOUBLE),"
            " 'mi_nats', mi_nats,"
            " 'h_a_nats', h_a_nats,"
            " 'h_b_nats', h_b_nats,"
            " 'homogeneity', homogeneity,"
            " 'completeness', completeness,"
            " 'v_measure', v_measure) AS (metric, value)"
        ),
    )
    return (
        calib_long.unionByName(cs_long)
        .unionByName(ari_long)
        .unionByName(nmi_long)
        .orderBy("section", "k1", "k2", "metric")
    )
