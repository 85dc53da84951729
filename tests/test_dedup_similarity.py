"""Semantics tests for the dedup/similarity/text/multimodal operator families
(cross-engine parity is covered by tools/check_oracle.py; these test behavior)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from es_ch_sync_spark.io.sources import read_parquet_table
from es_ch_sync_spark.operators import dedup as dd
from es_ch_sync_spark.operators import multimodal as mm
from es_ch_sync_spark.operators import similarity as sim
from es_ch_sync_spark.operators.text import analyze_documents


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = read_parquet_table(spark, sf_dir, "documents").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = read_parquet_table(spark, sf_dir, "embeddings").cache()
    yield df
    df.unpersist()


def test_exact_dedup_removes_planted_copies(spark, docs):
    doubled = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    kept = dd.dedup_exact(doubled)
    # every content group keeps exactly one representative (the min id — i.e.
    # the original, not the +1M clone)
    assert kept.count() == docs.count()
    assert kept.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_minhash_candidates_superset_of_high_jaccard(spark, docs):
    """LSH with 4 bands of 2 rows must catch essentially all J≈0.99 pairs;
    verified pairs at ≥0.5 must equal the exact all-pairs answer."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_near_duplicates(docs, threshold=0.5).collect()
    }
    assert lsh == exact  # at J≈0.99 the 4-band LSH recall is ~1 - (1-.99²)⁴ ≈ 1
    assert len(exact) > 0  # corpus has planted near-dups


def test_simhash_symmetric_and_bounded(spark, docs):
    pairs = dd.simhash_near_duplicates(docs.limit(100)).collect()
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert 0 <= r["hamming"] <= 12


def test_lsh_ann_recall_against_exact(spark, emb, sf_dir):
    """LSH top-10 for vec 0 should recover most of the exact top-10."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    qv = t.column("embedding").to_pylist()[t.column("vec_id").to_pylist().index(0)]
    exact = [r["vec_id"] for r in sim.cosine_topk(emb, qv, k=10, exclude_id=0).collect()]
    # this corpus is near-uniform (no planted clusters), so neighbor cosines
    # are only ~0.4 — use a recall-oriented band config (6 bands × 2 bits:
    # P(candidate) ≈ 1-(1-p²)⁶ ≈ 0.95 at p = 1-θ/π ≈ 0.63) for the test
    approx = [
        r["vec_id"]
        for r in sim.lsh_ann_topk(emb, qv, k=10, exclude_id=0, n_planes=12, bands=6).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"recall {recall} too low: {exact} vs {approx}"


def test_pq_codes_shape_and_adc_orders_distances(spark, emb, sf_dir):
    """PQ encoding must emit exactly M codes per vector drawn from the seed
    ids; ADC top-k must return ascending approximate distances and beat a
    random baseline on exact-kNN recall (ADC is lossy — at 64d/4×4 codes a
    loose bound is all the quantization error honestly supports)."""
    import pyarrow.parquet as pq
    from es_ch_sync_spark.operators.clustering import pq_adc_topk, pq_fit

    codes, codebook = pq_fit(emb, m=4, ksub=4, iters=2, dim=64)
    per_vec = codes.groupBy("vec_id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_vec] == [4]
    assert {r["code"] for r in codes.select("code").distinct().collect()} <= {0, 1, 2, 3}
    assert codebook.count() == 4 * 4 * 16

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    qv = t.column("embedding").to_pylist()[t.column("vec_id").to_pylist().index(0)]
    rows = pq_adc_topk(emb, qv, k=20, exclude_id=0).collect()
    dists = [r["adc_dist"] for r in rows]
    assert dists == sorted(dists) and len(rows) == 20
    exact = [r["vec_id"] for r in sim.cosine_topk(emb, qv, k=20, exclude_id=0).collect()]
    recall = len(set(exact) & {r["vec_id"] for r in rows}) / 20
    n = emb.count()
    assert recall > 20 / n * 3, f"ADC recall {recall} no better than random"


def test_star_cc_equals_propagation(spark, docs):
    """large/small-star CC must produce exactly the propagation answer on
    the real near-dup pair graph."""
    pairs = dd.minhash_near_duplicates(docs, threshold=0.5).cache()
    prop = {(r["doc_id"], r["cluster_id"]) for r in dd.connected_components(pairs).collect()}
    star = {(r["doc_id"], r["cluster_id"]) for r in dd.connected_components_star(pairs).collect()}
    assert star == prop and len(star) > 0


def test_star_cc_contracts_long_chain(spark):
    """An 80-node path graph: propagation needs ~80 rounds (diameter);
    star alternation converges within its default O(log²) budget and
    labels every node with the chain minimum."""
    chain = spark.range(80).selectExpr("id AS id_a", "id + 1 AS id_b")
    out = dd.connected_components_star(chain)
    labels = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert len(labels) == 81
    assert set(labels.values()) == {0}


def test_minhash_bucket_cap_bounds_mega_buckets(spark, docs):
    """A planted boilerplate group (200 identical docs) must be excluded
    from pair generation under the cap, while ordinary small-bucket
    candidates are untouched; default (no cap) is unchanged."""
    template = spark.range(200).select(
        (F.col("id") + 5_000_000).alias("doc_id"),
        F.lit("the same boilerplate template text repeated across the corpus").alias("text"),
    )
    base = docs.limit(100).select("doc_id", "text")
    corpus = base.unionByName(template)

    uncapped = dd.minhash_lsh_candidates(corpus)
    capped = dd.minhash_lsh_candidates(corpus, bucket_cap=50)

    mega_pairs = 200 * 199 // 2
    n_uncapped, n_capped = uncapped.count(), capped.count()
    assert n_uncapped >= mega_pairs  # the mega bucket dominates uncapped
    assert n_capped <= n_uncapped - mega_pairs  # every template pair dropped
    # small-bucket candidates (within base docs) survive the cap
    base_pairs_capped = capped.filter(F.col("id_a") < 5_000_000).filter(
        F.col("id_b") < 5_000_000
    )
    base_pairs_uncapped = uncapped.filter(F.col("id_a") < 5_000_000).filter(
        F.col("id_b") < 5_000_000
    )
    assert base_pairs_capped.count() == base_pairs_uncapped.count()
    # a cap larger than every bucket is a no-op
    assert dd.minhash_lsh_candidates(corpus, bucket_cap=10_000).count() == n_uncapped


def test_knn_join_shape(spark, emb):
    out = sim.knn_join(emb.limit(50), k=3)
    rows = out.collect()
    by_a: dict[int, int] = {}
    for r in rows:
        by_a[r["id_a"]] = by_a.get(r["id_a"], 0) + 1
        assert -1.0 <= r["cos_sim"] <= 1.0
    assert all(v == 3 for v in by_a.values())


def test_knn_blocked_tiers_identical(spark, emb):
    """The blocked-both-sides tier (no driver collect, forced via
    max_broadcast_rows=0) must produce exactly the broadcast tier's rows —
    same neighbors, same ranks, same 6dp scores."""
    small = emb.limit(120)
    bcast = {tuple(r) for r in sim.knn_join_blocked(small, k=3).collect()}
    blocked = {
        tuple(r)
        for r in sim.knn_join_blocked(
            small, k=3, max_broadcast_rows=0, rows_per_block=32
        ).collect()
    }
    assert bcast == blocked
    assert len({(a,) for a, *_ in bcast}) * 3 == len(bcast)


def test_embedding_near_dup_scorer_tiers_identical(spark, emb):
    """Scale-tier distributed join-attach scorer (what auto-switch picks
    above max_broadcast_rows) ≡ small-B broadcast scorer."""
    small = emb.limit(400)
    dist = {
        tuple(r)
        for r in sim.embedding_near_duplicates(
            small, threshold=0.3, broadcast_vectors=False
        ).collect()
    }
    bcast = {
        tuple(r)
        for r in sim.embedding_near_duplicates(
            small, threshold=0.3, broadcast_vectors=True
        ).collect()
    }
    assert dist == bcast
    assert len(dist) > 0
    # auto-switch: a tiny corpus picks the broadcast tier, a forced-low
    # threshold picks the distributed tier — same rows either way
    auto_dist = {
        tuple(r)
        for r in sim.embedding_near_duplicates(
            small, threshold=0.3, max_broadcast_rows=0
        ).collect()
    }
    assert auto_dist == bcast


def test_text_analysis_ranges(spark, docs):
    out = analyze_documents(docs.limit(100)).collect()
    for r in out:
        assert r["n_tokens_ws"] > 0
        assert 0.0 <= r["quality"] <= 1.0
        assert r["lang_pred"] in {"en", "es", "fr", "de", "zh", "und"}
        assert len(r["fp_md5"]) == 32
        assert 0 <= r["fp_roll"] < 70_000_000_000_000_003


def test_multimodal_feature_extraction(spark, docs):
    media = mm.media_from_documents(docs.limit(20))
    feats = mm.extract_features(media).collect()
    assert len(feats) == 20
    for r in feats:
        assert r["n_bytes"] > 0
        assert len(r["content_md5"]) == 32
        assert len(r["feature"]) == 8
        assert all(0.0 <= f <= 1.0 for f in r["feature"])


def test_multimodal_codec_formats_gate_cleanly():
    """Remaining library-needing codecs still raise (no Pillow/pyav in
    this container); PNG/GIF/baseline-JPEG/MJPEG-AVI decode for REAL now
    (see test_png_round_trip_* / test_gif_round_trip_* /
    test_jpeg_round_trip_* / test_mjpeg_avi_*), so malformed bytes with a
    real magic are a ValueError, not a gate; unrecognized bytes are a
    ValueError; uncompressed formats decode."""
    with pytest.raises(ValueError):  # valid JPEG magic, truncated stream
        mm.resize_image(b"\xff\xd8\xff\xe0 jpeg bytes", 10, 10)
    # r15: lossless VP8L decodes for real; LOSSY VP8 still gates by name
    # and a WEBP form with no image chunk is malformed, not a gate
    with pytest.raises(NotImplementedError, match="VP8"):
        mm.decode_image(b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00xxxx")
    with pytest.raises(ValueError):
        mm.decode_image(b"RIFF\x04\x00\x00\x00WEBPxxxx")
    with pytest.raises(ValueError):  # valid GIF magic, truncated header
        mm.decode_image(b"GIF89a fake")
    with pytest.raises(ValueError):  # valid PNG signature, no chunks
        mm.decode_image(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(ValueError):
        mm.resize_image(b"xx", 10, 10)
    with pytest.raises(ValueError):  # not an AVI at all
        mm.sample_video_frames(b"xx", 1000)
    # non-MJPG video codecs still gate by name
    import struct

    strh = b"vids" + b"H264" + struct.pack("<IHHIIIIIIIi", *([0] * 11)) + b"\x00" * 8
    strl = b"LIST" + struct.pack("<I", 4 + 8 + len(strh)) + b"strl" + b"strh" + struct.pack("<I", len(strh)) + strh
    body = b"AVI " + strl
    with pytest.raises(NotImplementedError, match="H264"):
        mm.parse_mjpeg_avi(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_multimodal_numpy_codecs_roundtrip():
    """BMP/PPM/WAV lib-free codecs: encode→decode is identity; resize is
    exact nearest-neighbor; non-4-multiple widths exercise BMP row pad."""
    import numpy as np

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)  # width 5: pad=1
    assert (mm.decode_bmp(mm.encode_bmp(img)) == img).all()
    assert (mm.decode_ppm(mm.encode_ppm(img)) == img).all()
    assert (mm.decode_image(mm.encode_bmp(img)) == img).all()
    got = mm.decode_bmp(mm.resize_image(mm.encode_ppm(img), 3, 2))
    assert (got == mm.nn_resize(img, 3, 2)).all()
    s = rng.integers(-32768, 32767, 999).astype(np.int16)
    d, rate = mm.decode_wav_pcm16(mm.encode_wav_pcm16(s, 16000))
    assert rate == 16000 and (d == s).all()


def test_pixel_features_isolate_bad_blobs(spark):
    """A codec blob yields an error row (nulls + message), never a job
    failure — per-row isolation, same T3 contract as the quarantines."""
    rows = [
        (1, "image", bytearray(mm.synth_bmp_blob(1))),
        (2, "image", bytearray(b"\xff\xd8\xff\xe0 jpeg")),
    ]
    media = spark.createDataFrame(rows, "media_id long, kind string, content binary")
    got = {r["media_id"]: r for r in mm.extract_pixel_features(media).collect()}
    assert got[1]["error"] is None and got[1]["width"] == 8 and got[1]["height"] == 6
    assert got[2]["error"] is not None and "JPEG" in got[2]["error"]
    assert got[2]["mean_r"] is None


def test_connected_components_chain_and_triangle(spark):
    """Min-label propagation: a 4-chain (needs >1 round), a triangle, and
    an isolated pair each collapse to their min id."""
    from es_ch_sync_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(3, 9), (9, 5), (5, 7),      # chain 3-9-5-7 -> cluster 3
         (10, 12), (12, 11), (10, 11),  # triangle -> cluster 10
         (20, 21)],                     # pair -> cluster 20
        "id_a long, id_b long",
    )
    got = {(r["doc_id"], r["cluster_id"]) for r in connected_components(pairs).collect()}
    assert got == {
        (3, 3), (9, 3), (5, 3), (7, 3),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_assign_split_append_stable(spark, sf_dir):
    """The defining property vs randomSplit: a document's split does not
    depend on which other rows are present (append/reorder stability)."""
    from es_ch_sync_spark.io.sources import read_parquet_table
    from es_ch_sync_spark.operators.sampling import assign_split

    docs = read_parquet_table(spark, sf_dir, "documents")
    full = {r["doc_id"]: r["split"] for r in assign_split(docs).select("doc_id", "split").collect()}
    subset = docs.filter(F.col("doc_id") % 3 == 0)
    sub = {r["doc_id"]: r["split"] for r in assign_split(subset).select("doc_id", "split").collect()}
    assert sub == {k: v for k, v in full.items() if k % 3 == 0}
    # all three splits occupied with ~expected proportions at sf0.001 (50 docs)
    from collections import Counter
    c = Counter(full.values())
    assert c["train"] > c["valid"] + c["test"]


def test_stratified_sample_deterministic_and_bounded(spark, sf_dir):
    from es_ch_sync_spark.io.sources import read_parquet_table
    from es_ch_sync_spark.operators.sampling import stratified_sample

    ev = read_parquet_table(spark, sf_dir, "events")
    frac = {"click": 0.5, "view": 0.1}
    s1 = stratified_sample(ev, "event_type", frac, id_col="event_id")
    s2 = stratified_sample(ev, "event_type", frac, id_col="event_id")
    assert s1.count() == s2.count()
    kept = {r["event_type"] for r in s1.select("event_type").distinct().collect()}
    assert kept <= {"click", "view"}  # default fraction 0 drops the rest


def test_decontaminate_flags_planted_overlap(spark):
    """A train doc sharing a 5-gram with a test doc is flagged; clean
    train docs are not."""
    from es_ch_sync_spark.operators.sampling import assign_split, decontaminate

    texts = {
        1: "alpha beta gamma delta epsilon zeta",     # shares 5-gram w/ doc 2
        2: "alpha beta gamma delta epsilon eta",
        3: "one two three four five six",             # unique
        4: "seven eight nine ten eleven twelve",      # unique
    }
    df = spark.createDataFrame([(k, v) for k, v in texts.items()], "doc_id long, text string")
    splits = {r["doc_id"]: r["split"] for r in assign_split(df).collect()}
    got = {r["doc_id"]: r["n_contaminated_grams"] for r in decontaminate(df).collect()}
    # only train docs overlapping a test doc's grams can appear
    for doc_id, n in got.items():
        assert splits[doc_id] == "train" and n >= 1
    # planted pair: if 1/2 landed in train/test (either way), the train one is flagged
    pair_splits = {splits[1], splits[2]}
    if pair_splits == {"train", "test"}:
        flagged = 1 if splits[1] == "train" else 2
        assert flagged in got


def test_pack_sequences_offsets(spark):
    """Per-shard exclusive cumsum; chunk = start div budget."""
    from es_ch_sync_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(0, "a b c"), (2, "d e"), (4, "f g h i"), (1, "x y z w")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["shard"], r["start_offset"], r["chunk"])
           for r in pack_sequences(df, budget=4, n_shards=2).collect()}
    # shard 0: docs 0 (3 toks), 2 (2 toks), 4 (4 toks) -> starts 0, 3, 5
    # shard 1: doc 1 (4 toks) -> start 0
    assert got == {0: (0, 0, 0), 2: (0, 3, 0), 4: (0, 5, 1), 1: (1, 0, 0)}


def test_incremental_dedup_matches_full_restriction(spark, docs):
    """Incremental (new-vs-index) pairs must equal the full near-dup pair
    set restricted to (new, index) pairs — same banding, same verify —
    and never contain new×new or index×index pairs."""
    from pyspark.sql import functions as F

    full = dd.minhash_near_duplicates(docs, threshold=0.5).collect()
    want = set()
    for r in full:
        a_new, b_new = r["id_a"] % 10 == 0, r["id_b"] % 10 == 0
        if a_new != b_new:
            new, idx = (r["id_a"], r["id_b"]) if a_new else (r["id_b"], r["id_a"])
            want.add((new, idx, r["jaccard"]))
    got = {
        (r["id_new"], r["id_index"], r["jaccard"])
        for r in dd.minhash_incremental(
            docs, F.col("doc_id") % 10 == 0, threshold=0.5
        ).collect()
    }
    assert got == want and all(n % 10 == 0 and i % 10 != 0 for n, i, _ in got)


def test_stored_signature_index_matches_inline_incremental(spark, docs, tmp_path):
    """dedup_against_index over a MATERIALIZED signature index must return
    exactly what the inline minhash_incremental computes, and the index
    scan must be band-partition-pruned when probing one band."""
    from es_ch_sync_spark.io.signature_index import (
        build_signature_index,
        dedup_against_index,
    )

    index_docs = docs.filter(F.col("doc_id") % 10 != 0)
    new_docs = docs.filter(F.col("doc_id") % 10 == 0)
    path = str(tmp_path / "sigidx")
    build_signature_index(index_docs, path)

    got = {
        (r["id_new"], r["id_index"], r["jaccard"])
        for r in dedup_against_index(
            new_docs, path, corpus_docs=index_docs, threshold=0.5
        ).collect()
    }
    want = {
        (r["id_new"], r["id_index"], r["jaccard"])
        for r in dd.minhash_incremental(
            docs, F.col("doc_id") % 10 == 0, threshold=0.5
        ).collect()
    }
    assert got == want and len(got) > 0

    one_band = spark.read.parquet(path).filter(F.col("band") == 2)
    plan = one_band._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "band" in plan.split("PartitionFilters")[1][:120]


def test_knn_join_guard_refuses_large_corpus(spark, sf_dir):
    """knn_join is the intentional O(n²) baseline — above max_rows it must
    refuse loudly (pointing at the scale paths), not plan the cross join."""
    import pytest

    from es_ch_sync_spark.operators.similarity import knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="knn_join_blocked"):
        knn_join(emb, k=3, max_rows=5)
    # below the guard it still works
    assert knn_join(emb.limit(20), k=3, max_rows=100).count() == 60


def test_srp_bucket_cap_bounds_degenerate_corpus(spark):
    """1k identical vectors all collide into one (band, key) bucket per
    band; with bucket_cap set, pair generation must drop those mega-buckets
    entirely (0 candidate pairs ≤ cap² bound) instead of going quadratic.
    A benign corpus with the cap above its bucket sizes is unaffected."""
    from es_ch_sync_spark.operators import similarity as sim

    ident = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(1000)], ["vec_id", "embedding"]
    )
    capped = sim.embedding_near_duplicates(
        ident, threshold=0.9, dim=4, bucket_cap=32
    )
    # every bucket has 1000 > 32 members -> all dropped -> no pairs at all,
    # and crucially nothing anywhere near the 10^6/2 uncapped pair count
    assert capped.count() == 0

    mixed = spark.createDataFrame(
        [(i, [1.0 * i, 2.0, 3.0, 4.0]) for i in range(40)], ["vec_id", "embedding"]
    )
    uncapped = {
        (r["id_a"], r["id_b"]) for r in
        sim.embedding_near_duplicates(mixed, threshold=0.99, dim=4).collect()
    }
    roomy = {
        (r["id_a"], r["id_b"]) for r in
        sim.embedding_near_duplicates(
            mixed, threshold=0.99, dim=4, bucket_cap=1000
        ).collect()
    }
    assert roomy == uncapped


def test_srp_bucket_cap_keeps_pairs_whose_minimal_band_was_capped(spark):
    """r17 regression (ADVICE r16): a pair whose SMALLEST colliding band
    sits in a cap-dropped mega-bucket must still be emitted from a
    surviving larger band.  The r16 minimal-band emission tested sig
    slices alone, so such pairs silently vanished whenever bucket_cap
    was set; the cap path now keeps the explicit distinct()."""
    from es_ch_sync_spark.operators import similarity as sim

    # derive signatures with the operator's own plane family (bands=4,
    # n_planes=12 -> 3 bits/band) and search for two vectors that SHARE
    # the band-0 key but DIFFER in some later band
    planes = sim.srp_planes(4, 12)

    def sig_of(vec):
        s = 0
        for p, plane in enumerate(planes):
            if sum(x * y for x, y in zip(vec, plane)) >= 0:
                s |= 1 << p
        return s

    def keys_of(vec):
        s = sig_of(vec)
        return [(s >> (b * 3)) & 7 for b in range(4)]

    u = [1.0, 2.0, 3.0, 4.0]
    ku = keys_of(u)
    w = None
    for i in range(1, 4000):
        cand = [1.0 * (i % 17 - 8), 2.0 + i % 7, 3.0 - i % 5, 0.25 * i]
        kc = keys_of(cand)
        if kc[0] == ku[0] and any(kc[j] != ku[j] for j in range(1, 4)):
            w = cand
            break
    assert w is not None, "no suitable vector found for the scenario"

    # 50 copies of u blow the (band0, key) bucket past the cap; the w-pair
    # collides with it there (its minimal band) but survives in a 2-member
    # bucket of a later band.
    rows = [(i, u) for i in range(50)] + [(100, w), (101, w)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    capped = sim.embedding_near_duplicates(
        df, threshold=0.99, dim=4, bucket_cap=32
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got


def test_sq8_topk_recall_vs_exact(spark, sf_dir):
    """SQ8 with exact rerank should recover nearly all of the exact
    top-10 (8-bit quantization is near-lossless for candidate cuts)."""
    from es_ch_sync_spark.io.sources import read_parquet_table
    from es_ch_sync_spark.operators.similarity import cosine_topk, sq8_topk
    from es_ch_sync_spark.queries_relational import _ivf_query_vec

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    qv = _ivf_query_vec(sf_dir, 0)
    exact = [r["vec_id"] for r in cosine_topk(emb, qv, k=10, exclude_id=0).collect()]
    sq8 = [r["vec_id"] for r in sq8_topk(emb, qv, k=10, rerank=50, exclude_id=0).collect()]
    assert len(set(exact) & set(sq8)) >= 8


def test_sorted_neighborhood_window_and_blocks(spark):
    """Pairs only arise between rows within `window` in sort order AND in
    the same block; jaccard is the exact token-set value."""
    from es_ch_sync_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta epsilon"),   # neighbor of 1
        (3, "alpha beta zeta eta"),              # same block 'al'
        (4, "omega psi chi"),                    # different block 'om'
        (5, "omega psi chi phi"),                # neighbor of 4
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted_neighborhood_pairs(docs, window=2, threshold=0.0)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    # window=2 → only adjacent-in-sort pairs, never across the al|om block split
    assert set(pairs) == {(1, 2), (2, 3), (4, 5)}
    assert pairs[(1, 2)] == 0.8   # 4 common / 5 union
    assert pairs[(4, 5)] == 0.75  # 3 common / 4 union
    # plan shape: candidates come from an equi-join, not a range/cartesian
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_snm_multipass_recovers_boundary_pairs(spark):
    """A prefix edit moves a near-duplicate into a different pass-1
    block, so single-pass SNM misses the pair; the reversed-text pass
    keys on the (shared) ending and recovers it — Kolb et al.'s
    multi-pass contract.  Multipass output is still pair-deduped: a
    pair found by both passes appears once."""
    from es_ch_sync_spark.operators.dedup import (
        sorted_neighborhood_multipass,
        sorted_neighborhood_pairs,
    )

    rows = [
        # near-dups differing ONLY in the first token → pass-1 blocks
        # 'al' vs 'br' never meet; reversed text shares its prefix
        (1, "alpha common tail words here again today"),  # jac 6/8 = 0.75
        (2, "bravo common tail words here again today"),
        # an unrelated doc per block so blocks aren't singletons
        (3, "almost nothing shared xyz"),
        (4, "brackets nothing shared qrs"),
        # a same-block near-dup pair both passes find (dedup check)
        (5, "omega psi chi phi"),
        (6, "omega psi chi phi rho"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    single = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(docs, window=2, threshold=0.7).collect()
    }
    assert (1, 2) not in single  # the planted boundary loss
    multi = sorted_neighborhood_multipass(docs, window=2, threshold=0.7)
    got = [(r["id_a"], r["id_b"]) for r in multi.collect()]
    assert (1, 2) in got and (5, 6) in got
    assert len(got) == len(set(got))  # cross-pass pair-dedup held
    plan = multi._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_mips_augmentation_preserves_inner_product_order(spark):
    """The norm-augmentation reduction: cosine top-k over augmented
    vectors (query 0-padded) returns exactly the inner-product top-k —
    so the approximate-cosine serving stack (SRP-LSH, IVF) doubles as a
    MIPS index.  Also pins that cosine and MIPS DISAGREE on this input
    (the reduction is doing real work)."""
    from es_ch_sync_spark.operators.similarity import (
        augment_for_mips,
        cosine_topk,
        inner_product_topk,
    )

    # long-but-misaligned vs short-but-aligned vectors: cosine and inner
    # product rank them differently
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),                # query
        (1, [0.9, 0.1, 0.0, 0.0]),                # well aligned, short
        (2, [5.0, 4.0, 0.0, 0.0]),                # long, less aligned
        (3, [0.5, 0.0, 0.1, 0.0]),
        (4, [3.0, -2.0, 1.0, 0.0]),
        (5, [0.0, 1.0, 0.0, 0.0]),                # orthogonal
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[0][1]
    ip = [r["vec_id"] for r in inner_product_topk(emb, q, k=5, exclude_id=0).collect()]
    cos = [r["vec_id"] for r in cosine_topk(emb, q, k=5, exclude_id=0).collect()]
    assert ip[0] == 2 and cos[0] == 1      # the orderings genuinely differ
    aug, m = augment_for_mips(emb)
    assert abs(m - (41.0) ** 0.5) < 1e-9   # max norm = |(5,4,0,0)|
    aug_cos = [
        r["vec_id"]
        for r in cosine_topk(
            aug, q + [0.0], k=5, vec_col="aug", exclude_id=0
        ).collect()
    ]
    assert aug_cos == ip                   # reduction preserves MIPS order


def test_mann_kendall_and_spearman_known_values(spark):
    """Hand-checkable series: strictly increasing daily counts give
    S = n(n-1)/2, Sen slope = the common step, Spearman rho = 1; a
    constant series gives S = 0, var 0, z 0, no_trend."""
    import datetime

    from es_ch_sync_spark.operators.analytics import (
        mann_kendall_sen,
        spearman_by_key,
    )

    d0 = datetime.date(2024, 1, 1)
    rows = [("up", d0 + datetime.timedelta(days=i), 10 + 2 * i) for i in range(10)]
    rows += [("flat", d0 + datetime.timedelta(days=i), 7) for i in range(10)]
    daily = spark.createDataFrame(rows, "k string, day date, y long")
    mk = {r["k"]: r for r in mann_kendall_sen(daily, key_col="k").collect()}
    assert mk["up"]["s_stat"] == 45           # all 45 pairs increasing
    assert abs(mk["up"]["sen_slope"] - 2.0) < 1e-9
    assert mk["up"]["trend"] == "increasing"
    assert mk["flat"]["s_stat"] == 0
    assert mk["flat"]["z_score"] == 0.0 and mk["flat"]["trend"] == "no_trend"

    sp_rows = [("a", i, 10 + 2 * i, 100 - 3 * i) for i in range(10)]
    sp = spark.createDataFrame(sp_rows, "k string, day int, x long, y long")
    got = spearman_by_key(sp, key_col="k", x_col="x", y_col="y").collect()[0]
    assert got["spearman_rho"] == -1.0        # perfectly anti-monotone


def test_chi2_independence_zero_for_independent_table(spark):
    """A perfectly independent 2x2 contingency gives chi2 = 0; a fully
    dependent one gives chi2 = n."""
    from es_ch_sync_spark.operators.analytics import chi2_independence

    indep = [("x", "p")] * 20 + [("x", "q")] * 20 + [("y", "p")] * 10 + [("y", "q")] * 10
    df = spark.createDataFrame(indep, "a string, b string")
    got = chi2_independence(df, "a", "b").collect()[0]
    assert got["chi2"] == 0.0 and got["dof"] == 1 and got["n"] == 60

    dep = [("x", "p")] * 30 + [("y", "q")] * 30
    got2 = chi2_independence(
        spark.createDataFrame(dep, "a string, b string"), "a", "b"
    ).collect()[0]
    assert abs(got2["chi2"] - 60.0) < 1e-6
    # Cramér's V rides along: 0 for independence, 1 for determinism,
    # NULL when a margin is constant (min(r,c) = 1)
    assert got["cramers_v"] == 0.0
    assert abs(got2["cramers_v"] - 1.0) < 1e-6
    const = spark.createDataFrame(
        [("x", "p"), ("x", "q")], "a string, b string"
    )
    got3 = chi2_independence(const, "a", "b").collect()[0]
    assert got3["cramers_v"] is None


def test_mann_whitney_hand_computed_with_ties(spark):
    """A=[1,2,2,5], B=[2,3,3]: tie-averaged ranks give R_a=14, U_a=4,
    rank-biserial = 2·4/12 − 1 = −1/3 — checked to the printed digit;
    the plan never ranks individual rows (no per-row global sort)."""
    from es_ch_sync_spark.operators.analytics import ab_mann_whitney

    rows = [("A", v) for v in (1.0, 2.0, 2.0, 5.0)] + [
        ("B", v) for v in (2.0, 3.0, 3.0)
    ]
    df = spark.createDataFrame(rows, "arm string, value double")
    got = ab_mann_whitney(df, "arm", "value", "A", "B").collect()[0]
    assert got["n_a"] == 4 and got["n_b"] == 3
    assert got["u_stat"] == 4.0
    assert abs(got["rank_biserial"] - (-0.333333)) < 1e-6


def test_ks_two_sample_hand_computed(spark):
    """A=[1,2,2,5], B=[2,3,3]: ECDF gap peaks at v=2 with
    |3·3 − 4·1| = 5 over n_a·n_b = 12 → D = 5/12 ≈ 0.416667."""
    from es_ch_sync_spark.operators.analytics import ks_two_sample

    rows = [("A", v) for v in (1.0, 2.0, 2.0, 5.0)] + [
        ("B", v) for v in (2.0, 3.0, 3.0)
    ]
    df = spark.createDataFrame(rows, "arm string, value double")
    got = ks_two_sample(df, "arm", "value", "A", "B").collect()[0]
    assert got["n_a"] == 4 and got["n_b"] == 3
    assert got["d_num"] == 5
    assert abs(got["d_stat"] - 0.416667) < 1e-6


def test_acf_daily_hand_computed_and_gap_correct(spark):
    """y=[1,2,3,4] on consecutive days: centered c = 4y−10 = [−6,−2,2,6],
    r₁ = 20/80 = 0.25, r₂ = −24/80 = −0.3.  A missing day drops only the
    pairs that straddle it (calendar-day alignment, not row position)."""
    import datetime as dt

    from es_ch_sync_spark.operators.analytics import acf_daily

    d0 = dt.date(2024, 1, 1)
    rows = [("k", d0 + dt.timedelta(days=i), float(i + 1)) for i in range(4)]
    df = spark.createDataFrame(rows, "k string, day date, y double")
    got = {r["lag"]: r for r in acf_daily(df, "k", "day", "y", 3).collect()}
    assert got[1]["n_pairs"] == 3 and abs(got[1]["acf"] - 0.25) < 1e-6
    assert got[2]["n_pairs"] == 2 and abs(got[2]["acf"] - (-0.3)) < 1e-6

    # drop day 2 (y=3): lag-1 pairs are only (d0,d1) — day alignment
    gap = spark.createDataFrame(
        [rows[0], rows[1], rows[3]], "k string, day date, y double"
    )
    g1 = {r["lag"]: r for r in acf_daily(gap, "k", "day", "y", 2).collect()}
    assert g1[1]["n_pairs"] == 1
    assert g1[2]["n_pairs"] == 1  # (d1, d3)


def test_kendall_tau_hand_computed_with_ties(spark):
    """Series x=[1,1,2,3] vs y=[1,2,2,3] on shared days: S = 4,
    n1 = n2 = 1 tie pair each, tau_b = 4/√(5·5) = 0.8."""
    import datetime as dt

    from es_ch_sync_spark.operators.analytics import kendall_tau_pairs

    d0 = dt.date(2024, 1, 1)
    xs, ys = [1, 1, 2, 3], [1, 2, 2, 3]
    rows = [("a", d0 + dt.timedelta(days=i), xs[i]) for i in range(4)] + [
        ("b", d0 + dt.timedelta(days=i), ys[i]) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "k string, day date, y long")
    got = kendall_tau_pairs(df, "k", "day", "y").collect()
    assert len(got) == 1
    r = got[0]
    assert r["key_a"] == "a" and r["key_b"] == "b"
    assert r["s_stat"] == 4
    assert abs(r["tau_b"] - 0.8) < 1e-6


def test_kendall_tau_constant_series_is_null(spark):
    import datetime as dt

    from es_ch_sync_spark.operators.analytics import kendall_tau_pairs

    d0 = dt.date(2024, 1, 1)
    rows = [("a", d0 + dt.timedelta(days=i), 7) for i in range(3)] + [
        ("b", d0 + dt.timedelta(days=i), i) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "k string, day date, y long")
    r = kendall_tau_pairs(df, "k", "day", "y").collect()[0]
    assert r["tau_b"] is None and r["s_stat"] == 0


def test_benford_uniform_digits_reject(spark):
    """900 amounts with uniform first digits 1..9 (100 each): Benford
    expects ~271 ones, so χ² is large; digits absent from the data still
    appear with n_obs = 0 via the densified grid."""
    from es_ch_sync_spark.operators.analytics import benford_report

    rows = [(float(d) * 10.0,) for d in range(1, 10) for _ in range(100)]
    df = spark.createDataFrame(rows, "amt double")
    got = benford_report(df, "amt").collect()
    assert [r["digit"] for r in got] == list(range(1, 10))
    assert all(r["n_obs"] == 100 for r in got)
    assert got[0]["chisq_total"] > 100.0  # wildly non-Benford

    only1 = benford_report(
        spark.createDataFrame([(1.5,), (19.0,)], "amt double"), "amt"
    ).collect()
    assert {r["digit"]: r["n_obs"] for r in only1}[2] == 0


def test_readability_pooled_counts(spark):
    """'the cat sat. it ran!' → 5 words, 2 sentence runs; syllables are
    vowel-group runs; pooled per source, never an average of floats."""
    from es_ch_sync_spark.operators.text import readability_by_source

    df = spark.createDataFrame(
        [("s1", "the cat sat. it ran!"), ("s1", "a dog")],
        "source string, text string",
    )
    r = readability_by_source(df).collect()[0]
    assert r["n_docs"] == 2
    assert r["sum_words"] == 7
    assert r["sum_sentences"] == 3  # 2 runs + floor(1) for 'a dog'
    # vowel runs: the(1) cat(1) sat(1) it(1) ran(1) =5; a(1) dog(1) =2
    assert r["sum_syllables"] == 7


def test_ab_cuped_perfect_covariate(spark):
    """Y = X + arm-effect exactly: theta = 1, the adjusted metric is
    constant within arms (var_ratio = 0, t_cuped undefined -> NULL),
    while t_raw = 10/sqrt(50) — CUPED removed ALL covariate variance."""
    from es_ch_sync_spark.operators.analytics import ab_cuped

    rows = [
        ("t", 10, 25), ("t", 20, 35),   # y = x + 15
        ("c", 10, 15), ("c", 20, 25),   # y = x + 5
    ]
    df = spark.createDataFrame(rows, "arm string, x long, y long")
    r = ab_cuped(df, "arm", "x", "y", "t", "c").collect()[0]
    assert r["n_a"] == 2 and r["n_b"] == 2
    assert abs(r["theta"] - 1.0) < 1e-6
    assert r["var_ratio"] == 0.0
    assert r["t_cuped"] is None          # within-arm variance fully removed
    assert abs(r["t_raw"] - round(10 / 50**0.5, 6)) < 1e-6


def test_fdr_bh_step_up(spark):
    """z = [2.576, 2.326, 2.054, 0.1] at alpha=0.05, m=4: BH thresholds
    flag ranks 1-2 (p(3) = 0.03998 > 3/4·0.05) — the step-up rule, not a
    per-test Bonferroni."""
    from es_ch_sync_spark.operators.analytics import fdr_bh

    df = spark.createDataFrame(
        [("a", 2.576), ("b", 2.326), ("c", 2.054), ("d", 0.1)],
        "k string, z double",
    )
    got = {r["k"]: r for r in fdr_bh(df, "k", "z").collect()}
    assert got["a"]["significant"] and got["b"]["significant"]
    assert not got["c"]["significant"] and not got["d"]["significant"]
    assert got["d"]["rank"] == 4
    assert abs(got["a"]["p_value"] - 0.009995) < 2e-6  # A&S poly ≤1.5e-7


def test_roc_auc_brier_hand_computed_with_tie(spark):
    """pos=[0.9, 0.5], neg=[0.5, 0.1]: tie-averaged ranks give
    R(pos) = 4 + 2.5, U = 3.5, AUC = 0.875; Brier =
    (0.01 + 0.25 + 0.25 + 0.01)/4 = 0.13."""
    from es_ch_sync_spark.operators.analytics import roc_auc_brier

    df = spark.createDataFrame(
        [(1, 0.9), (1, 0.5), (0, 0.5), (0, 0.1)], "y int, p double"
    )
    r = roc_auc_brier(df, "y", "p").collect()[0]
    assert r["n_pos"] == 2 and r["n_neg"] == 2
    assert abs(r["auc"] - 0.875) < 1e-6
    assert abs(r["gini"] - 0.75) < 1e-6
    assert abs(r["brier"] - 0.13) < 1e-6

    # perfect separation -> AUC exactly 1; one-class input -> NULL
    perfect = spark.createDataFrame(
        [(1, 0.9), (1, 0.8), (0, 0.2), (0, 0.1)], "y int, p double"
    )
    assert roc_auc_brier(perfect, "y", "p").collect()[0]["auc"] == 1.0
    onec = spark.createDataFrame([(1, 0.9)], "y int, p double")
    assert roc_auc_brier(onec, "y", "p").collect()[0]["auc"] is None


def test_calibration_bins_edges(spark):
    """p=0.05 (bin 0) and p=0.95 (bin 9); p=1.0 clamps into bin 9 via
    least() instead of spilling into a phantom bin 10."""
    from es_ch_sync_spark.operators.analytics import calibration_bins

    df = spark.createDataFrame(
        [(0, 0.05), (0, 0.05), (1, 0.95), (1, 1.0)], "y int, p double"
    )
    got = {r["bin"]: r for r in calibration_bins(df, "y", "p").collect()}
    assert set(got) == {0, 9}
    assert got[0]["n"] == 2 and got[0]["frac_pos"] == 0.0
    assert abs(got[0]["mean_pred"] - 0.05) < 1e-6
    assert got[9]["n"] == 2 and got[9]["frac_pos"] == 1.0
    assert abs(got[9]["gap"] - (0.975 - 1.0)) < 1e-6


def test_ab_proportions_ztest_hand_computed(spark):
    """t: 2/4 vs c: 1/4, pooled 3/8: z = 0.25/sqrt(0.375·0.625·0.5)
    = 0.730297."""
    from es_ch_sync_spark.operators.analytics import ab_proportions_ztest

    rows = [("t", 1), ("t", 1), ("t", 0), ("t", 0),
            ("c", 1), ("c", 0), ("c", 0), ("c", 0)]
    df = spark.createDataFrame(rows, "arm string, conv int")
    r = ab_proportions_ztest(df, "arm", "conv", "t", "c").collect()[0]
    assert (r["n_a"], r["x_a"], r["n_b"], r["x_b"]) == (4, 2, 4, 1)
    assert abs(r["z_score"] - 0.730297) < 1e-6


def test_kaplan_meier_hand_computed(spark):
    """Durations (1,event),(2,censor),(3,event),(3,event),(5,censor):
    S(1) = 4/5 = 0.8; censoring at 2 leaves S unchanged; S(3) =
    0.8·(1/3) = 0.266667; a terminal time with d = n drives S to
    exactly 0.0 (the −10¹² log term)."""
    from es_ch_sync_spark.operators.analytics import kaplan_meier

    rows = [(1, 1), (2, 0), (3, 1), (3, 1), (5, 0)]
    df = spark.createDataFrame(rows, "dur long, e int")
    got = {r["t"]: r for r in kaplan_meier(df, "dur", "e").collect()}
    assert got[1]["n_risk"] == 5 and abs(got[1]["survival"] - 0.8) < 1e-6
    assert got[2]["c_censored"] == 1 and abs(got[2]["survival"] - 0.8) < 1e-6
    assert got[3]["n_risk"] == 3 and abs(got[3]["survival"] - 0.266667) < 1e-6
    assert got[5]["survival"] == got[3]["survival"]

    allend = spark.createDataFrame([(2, 1), (2, 1)], "dur long, e int")
    assert kaplan_meier(allend, "dur", "e").collect()[0]["survival"] == 0.0


def test_wav_features_hand_computed(spark):
    """A 3-sample alternating-sign chunk has zcr=2; peak is max|v| —
    checked on a synthetic RIFF blob round-tripped through the real
    encoder/decoder."""
    from es_ch_sync_spark.operators import multimodal as mm

    one = spark.createDataFrame([(5, "x")], "doc_id long, text string")
    media = mm.synth_media(one, "audio")
    got = mm.chunk_wav_features(media, chunk_ms=100).collect()
    # doc 5: n = (5 % 20 + 5)·80 = 800 samples = exactly one full chunk
    assert len(got) == 1
    r = got[0]
    assert r["n_samples"] == 800 and r["error"] is None
    v = [((5 * 31 + 7 * i) % 4096) - 2048 for i in range(800)]
    assert r["zcr"] == sum(1 for a, b in zip(v, v[1:]) if a * b < 0)
    assert r["peak"] == max(abs(x) for x in v)


def test_shingle_novelty_laws(spark):
    """Pin the novelty laws (r9 post-gate registration, VERDICT r10 #3):
    the corpus-first doc scores 1.0; an exact duplicate of an earlier doc
    scores 0.0; a doc shorter than k words still appears (word_shingles
    emits its single joined form, never an empty signature); a half-novel
    doc scores its exact distinct-shingle fraction."""
    from es_ch_sync_spark.operators.dedup import shingle_novelty

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),        # first: novelty 1.0
            (2, "alpha beta gamma delta"),        # exact dup of 1: 0.0
            (3, "alpha beta gamma epsilon zeta"), # shares 1 of 3 shingles
            (4, "tiny doc"),                      # < k words: 1 joined form
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in shingle_novelty(docs, k=3).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1]["novelty"] == 1.0 and rows[1]["n_shingles"] == 2
    assert rows[2]["novelty"] == 0.0 and rows[2]["n_novel"] == 0
    # doc 3 shingles: {alpha beta gamma, beta gamma epsilon, gamma epsilon
    # zeta} — only the first occurred before (doc 1)
    assert rows[3]["n_shingles"] == 3 and rows[3]["n_novel"] == 2
    assert rows[3]["novelty"] == round(2 / 3, 6)
    assert rows[4]["n_shingles"] == 1 and rows[4]["novelty"] == 1.0


def test_containment_catches_subset_duplicate(spark):
    """A short doc fully quoted inside a long one: Jaccard is low (small
    union-normalized overlap) but containment from the short side is 1.0
    — the quote-inclusion case containment_pairs exists for; an
    unrelated doc pairs with nothing."""
    from es_ch_sync_spark.operators.dedup import (
        containment_pairs_lsh,
        ngram_jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon zeta"
    longdoc = (
        quote
        + " eta theta iota kappa lambda mu nu xi omicron pi rho sigma "
        + "tau upsilon phi chi psi omega one two three four five six"
    )
    docs = spark.createDataFrame(
        [(1, quote), (2, longdoc), (3, "totally different words here only")],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"]): r for r in containment_pairs_lsh(docs, 0.9).collect()}
    assert (1, 2) in got
    r = got[(1, 2)]
    assert r["c_ab"] == 1.0  # every shingle of the quote is in the long doc
    assert r["c_ba"] < 0.2
    assert not any(3 in p for p in got)
    # symmetric Jaccard on the same pair is far below the containment
    jac = {
        (x["id_a"], x["id_b"]): x["jaccard"]
        for x in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    if (1, 2) in jac:
        assert jac[(1, 2)] < 0.2


def test_mmr_rerank_prefers_diversity(spark):
    """Planted pool: two near-identical high-relevance vectors and one
    moderately relevant orthogonal vector.  Raw top-2 takes the twins;
    MMR's second pick (at lambda = 0.5, where relevance and redundancy
    weigh equally) must be the orthogonal vector — the twin's ~0.999
    similarity to pick 1 erases its relevance edge; rank-1 is always
    the argmax relevance with NULL max_sim."""
    from es_ch_sync_spark.operators.similarity import cosine_topk, mmr_rerank

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),        # query
        (1, [0.99, 0.14, 0.0, 0.0]),      # very relevant
        (2, [0.98, 0.19, 0.0, 0.0]),      # near-twin of 1
        (3, [0.7, 0.0, 0.71, 0.0]),       # less relevant, orthogonal-ish
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [1.0, 0.0, 0.0, 0.0]
    raw = [r["vec_id"] for r in cosine_topk(emb, q, k=2, exclude_id=0).collect()]
    assert raw == [1, 2]  # plain top-k keeps the redundant twin
    out = mmr_rerank(emb, q, k=3, pool=3, lam_num=5, lam_den=10, exclude_id=0).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert out[0]["vec_id"] == 1 and out[0]["max_sim"] is None
    assert out[1]["vec_id"] == 3  # diversity beats the twin
    assert out[2]["vec_id"] == 2
    # the demoted twin's recorded max_sim is its similarity to pick 1
    assert out[2]["max_sim"] > 0.99


def test_containment_prefix_finds_pair_lsh_misses(spark):
    """r10 verdict directive #1: a planted short-in-long pair with
    containment 1.0 but Jaccard ≈ 0.04 — minhash banding (Jaccard-
    targeted) provably misses it; the prefix-filter miner must find it
    with exact intersection arithmetic."""
    short = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    long = short + " " + " ".join(f"w{i:03d}" for i in range(200))
    filler = [(i, " ".join(f"f{i}x{j}" for j in range(12))) for i in range(3, 8)]
    df = spark.createDataFrame(
        [(1, short), (2, long)] + filler, "doc_id long, text string"
    )
    # the motivating pair: C(short→long)=1.0, J = 8/208 ≈ 0.038 ≤ 0.1
    lsh = dd.containment_pairs_lsh(df, threshold=0.9).collect()
    assert lsh == []  # no band collision at J≈0.04 — the recall hole
    got = {(r["id_a"], r["id_b"]): r
           for r in dd.containment_pairs_prefix(df, threshold=0.9).collect()}
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r["n_common"] == 8 and r["n_a"] == 8 and r["n_b"] == 208
    assert r["c_ab"] == 1.0 and r["c_ba"] == round(8 / 208, 6)


def test_containment_prefix_matches_exhaustive(spark):
    """Recall-1 proof on a mixed corpus: the prefix-filtered pairs equal
    brute-force directed containment over every pair sharing a shingle."""
    import itertools

    texts = {
        1: "the quick brown fox jumps over the lazy dog near the river bank",
        2: "quick brown fox jumps over the lazy dog",  # contained tail
        3: "a completely different document about spark query planning",
        4: "spark query planning and adaptive execution in modern engines",
        5: "the quick brown fox jumps over the lazy dog near the river bank today",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    def shingles(t, k=3):
        w = t.split()
        if len(w) < k:
            return {" ".join(w)}
        return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}

    import math

    expect = {}
    for a, b in itertools.combinations(sorted(texts), 2):
        sa, sb = shingles(texts[a]), shingles(texts[b])
        inter = len(sa & sb)
        # exact-integer keep, same inequality as the operator (r11 ADVICE
        # #1: the rounded 6dp compare can disagree on adversarial sizes)
        if inter and (inter >= math.ceil(0.5 * len(sa))
                      or inter >= math.ceil(0.5 * len(sb))):
            expect[(a, b)] = (inter, len(sa), len(sb))
    got = {(r["id_a"], r["id_b"]): (r["n_common"], r["n_a"], r["n_b"])
           for r in dd.containment_pairs_prefix(df, threshold=0.5).collect()}
    assert got == expect and len(expect) >= 2


def test_containment_prefix_budget_guard(spark):
    """r11 verdict directive #2: the template-corpus degradation steer is
    code, not prose.  A tiny-vocabulary (templated) micro-corpus — every
    doc the same boilerplate with one varying slot — trips the candidate-
    budget ValueError before any candidate pair is formed; a Heaps-law
    (diverse-vocabulary) micro-corpus of the same size passes untouched."""
    import pytest

    tmpl = [(i, f"system log entry code {i % 3} end of standard message body")
            for i in range(40)]
    df_t = spark.createDataFrame(tmpl, "doc_id long, text string")
    with pytest.raises(ValueError, match="minhash"):
        dd.containment_pairs_prefix(df_t, threshold=0.5, max_candidates=1000)
    # diverse vocabulary: prefix tokens are rare → tiny candidate mass
    heaps = [(i, " ".join(f"u{i}w{j}" for j in range(10)) + " common tail")
             for i in range(40)]
    df_h = spark.createDataFrame(heaps, "doc_id long, text string")
    out = dd.containment_pairs_prefix(df_h, threshold=0.5, max_candidates=1000)
    assert out.count() == 0  # no pair clears 0.5 containment


def test_event_transition_matrix_hand_computed(spark):
    """r10 verdict directive #5: 2-user 4-event hand-computed matrix;
    the tie at equal ts breaks by event_id."""
    from es_ch_sync_spark.operators.analytics import event_transition_matrix

    rows = [
        # user 1: a→b→a   (ts order)
        (1, 10, "a", 100),
        (1, 20, "b", 101),
        (1, 30, "a", 102),
        # user 2: two events at the SAME ts — order must fall to event_id:
        # (ts=5,id=200,'b') → (ts=5,id=201,'a') → (ts=9,id=202,'b')
        (2, 5, "b", 200),
        (2, 5, "a", 201),
        (2, 9, "b", 202),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts long, event_type string, event_id long"
    )
    got = {(r["from_type"], r["to_type"]): (r["n"], r["p"])
           for r in event_transition_matrix(df).collect()}
    # pairs: u1: (a,b),(b,a); u2: (b,a),(a,b)  → a→b: 2 of 2, b→a: 2 of 2
    assert got == {("a", "b"): (2, 1.0), ("b", "a"): (2, 1.0)}
    # flip the tie-break ids: u2 becomes a→b→b, changing the census
    rows2 = [r for r in rows if r[3] < 200] + [
        (2, 5, "b", 201), (2, 5, "a", 200), (2, 9, "b", 202)
    ]
    df2 = spark.createDataFrame(
        rows2, "user_id long, ts long, event_type string, event_id long"
    )
    got2 = {(r["from_type"], r["to_type"]): r["n"]
            for r in event_transition_matrix(df2).collect()}
    assert got2 == {("a", "b"): 2, ("b", "a"): 1, ("b", "b"): 1}


def test_dedup_cluster_sizes_planted_two_clusters(spark):
    """r10 verdict directive #5: planted 2-cluster corpus — a 3-copy
    cluster and a 2-copy cluster — yields the exact histogram."""
    base3 = "one two three four five six seven eight nine ten eleven twelve"
    base2 = "red orange yellow green blue indigo violet ultraviolet infrared xray"
    docs = [
        (1, base3), (2, base3 + " thirteen"), (3, base3),
        (10, base2), (11, base2),
        (20, "an unrelated singleton document about nothing in particular at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = dd.minhash_near_duplicates(df, threshold=0.5)
    comp = dd.connected_components(pairs)
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    hist = {r["cluster_size"]: r["n_clusters"] for r in
            sizes.groupBy("cluster_size")
                 .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
                 .collect()}
    assert hist == {3: 1, 2: 1}


def test_mmr_pool_guard_refuses_oversized_pool(spark):
    """r10 verdict directive #6: the pool² sims table + k−1 driver
    round-trips are guarded — an over-wide pool fails loudly before any
    corpus work; an explicit max_pool raise is honored."""
    from es_ch_sync_spark.operators.similarity import mmr_rerank

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="max_pool"):
        mmr_rerank(emb, [1.0, 0.0], k=3, pool=1001)
    out = mmr_rerank(emb, [1.0, 0.0], k=2, pool=1001, max_pool=2000).collect()
    assert len(out) == 2


def test_minhash_calibration_exact_duplicates_on_diagonal(spark):
    """Exact duplicate pairs must land in cell (H, decile 9) — all 8
    signature components match and true Jaccard is 1.0; a near-miss pair
    lands strictly below H matches."""
    base = "one two three four five six seven eight nine ten eleven twelve"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " extra thirteen fourteen"),
         (4, "totally different content about nothing shared with others at all")],
        "doc_id long, text string",
    )
    cells = {(r["est_matches"], r["jac_decile"]): r["n_pairs"]
             for r in dd.minhash_estimator_calibration(docs).collect()}
    assert cells.get((8, 9), 0) >= 1  # the exact pair (1,2)
    assert all(e <= 8 and 0 <= d <= 9 for e, d in cells)


def test_hill_tail_index_pareto_recovers_alpha(spark):
    """On an exact Pareto(alpha=2) grid x_i = (1000/i)^(1/2) the Hill
    estimator recovers alpha~2 at every head size."""
    from es_ch_sync_spark.operators.analytics import hill_tail_index

    rows = [(i, (1000.0 / i) ** 0.5) for i in range(1, 1001)]
    df = spark.createDataFrame(rows, "doc_id long, v double")
    out = {r["k"]: r["alpha_hill"] for r in
           hill_tail_index(df, "v", "doc_id", ks=(50, 100)).collect()}
    for k, a in out.items():
        assert abs(a - 2.0) < 0.1, (k, a)
    # degenerate: all-equal values -> NULL alpha
    eq = spark.createDataFrame([(i, 5.0) for i in range(300)], "doc_id long, v double")
    assert all(r["alpha_hill"] is None for r in
               hill_tail_index(eq, "v", "doc_id", ks=(50,)).collect())


def test_edit_distance_pairs_planted(spark):
    """A planted pair with exactly 2 substitutions is found with the
    exact distance; a pair above the cap is excluded even though LSH
    pairs them; the length filter excludes a doc padded past the cap."""
    base = " ".join(f"tok{i:03d}" for i in range(60))
    two_subs = base.replace("tok010", "tok01x").replace("tok040", "tok04y")
    padded = base + " " + " ".join(f"pad{i}" for i in range(12))  # +>25 chars
    df = spark.createDataFrame(
        [(1, base), (2, two_subs), (3, padded)], "doc_id long, text string"
    )
    got = {(r["id_a"], r["id_b"]): r
           for r in dd.edit_distance_pairs(df, max_distance=25).collect()}
    assert (1, 2) in got and got[(1, 2)]["edit_distance"] == 2
    assert (1, 3) not in got and (2, 3) not in got  # length-filtered


def test_dedup_audit_panel_sections_match_standalones(spark):
    """The composite's four sections reproduce the standalone operators'
    outputs exactly on a small corpus with planted near-dup structure —
    the shared mining changes the plan, never the numbers."""
    from pyspark.sql import functions as F

    from es_ch_sync_spark.operators.analytics import (
        adjusted_rand_index,
        nmi_vmeasure,
    )
    from es_ch_sync_spark.operators.text import normalize_text

    rows = []
    for i in range(40):
        base = f"alpha beta gamma delta epsilon zeta eta theta doc{i // 4}"
        # groups of 4 near-identical docs + a distinct tail token
        rows.append((i, base + (" extra" if i % 4 == 3 else "")))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    panel = {
        (r["section"], r["k1"], r["k2"], r["metric"]): r["value"]
        for r in dd.dedup_audit_panel(docs, threshold=0.5).collect()
    }

    # calibration section == minhash_estimator_calibration
    calib = dd.minhash_estimator_calibration(docs).collect()
    for r in calib:
        key = ("calibration", r["est_matches"], r["jac_decile"], "n_pairs")
        assert panel[key] == float(r["n_pairs"])
    assert sum(1 for k in panel if k[0] == "calibration") == len(calib)

    # cluster_sizes section == histogram over connected components
    comp = dd.connected_components(
        dd.minhash_near_duplicates(docs, threshold=0.5)
    )
    sizes = (
        comp.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    for r in sizes:
        assert panel[("cluster_sizes", r["s"], None, "n_clusters")] == float(r["n"])

    # ari / nmi sections == the standalone kernels on the same labels
    la = docs.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("label_a")
    )
    lb = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            .cast("string")
            .alias("label_b"),
        )
    )
    ari = adjusted_rand_index(la, lb, "doc_id").collect()[0]
    assert panel[("ari", None, None, "ari")] == ari["ari"]
    assert panel[("ari", None, None, "n_items")] == float(ari["n_items"])
    nmi = nmi_vmeasure(la, lb, "doc_id").collect()[0]
    assert panel[("nmi", None, None, "v_measure")] == nmi["v_measure"]
    assert panel[("nmi", None, None, "mi_nats")] == nmi["mi_nats"]


def test_split_leakage_detects_planted_cross_split_pairs(spark):
    """Near-dup pairs planted so their ids land in DIFFERENT splits must
    surface with crosses_split=true; the report's pair total equals the
    miner's."""
    from pyspark.sql import functions as F

    from es_ch_sync_spark.operators.sampling import assign_split

    # clone pairs (i, i+1M): near-identical text, independent split hashes
    base = [
        (i, f"alpha beta gamma delta epsilon zeta doc{i} tail words here")
        for i in range(30)
    ]
    clones = [(i + 1_000_000, t + " extra") for i, t in base]
    docs = spark.createDataFrame(base + clones, "doc_id long, text string")

    pairs = dd.minhash_near_duplicates(docs, threshold=0.5)
    n_pairs = pairs.count()
    assert n_pairs >= 30  # every clone pair is a near-dup

    sa = assign_split(pairs.select("id_a", "id_b"), id_col="id_a").select(
        "id_a", "id_b", F.col("split").alias("sa")
    )
    both = assign_split(sa, id_col="id_b").select(
        "sa", F.col("split").alias("sb")
    )
    crossing = both.filter(F.col("sa") != F.col("sb")).count()
    # with 0.9/0.05/0.05 splits and independent id hashes, some planted
    # pairs must straddle the boundary (P[same split] ≈ 0.815)
    assert crossing > 0
    # and the report reproduces exactly that decomposition
    from es_ch_sync_spark.queries import q_split_leakage_report  # noqa: F401

    rep = (
        both.select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .count()
        .collect()
    )
    assert sum(r["count"] for r in rep) == n_pairs


def test_cc_small_graph_fast_path_equivalence(spark):
    """r16 optimization pin: the bounded driver union-find fast path
    returns exactly the distributed min-label loop's labels (same
    (doc_id, cluster_id) set) — forced both ways via the edge cap."""
    from es_ch_sync_spark.operators.dedup import connected_components

    rows = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 1), (30, 30)]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    fast = connected_components(pairs)  # default cap -> driver path
    slow = connected_components(pairs, small_graph_edges=0)  # force loop
    a = sorted(map(tuple, fast.collect()))
    b = sorted(map(tuple, slow.collect()))
    assert a == b
    # min-label semantics: 1-2-3-22-21-20 collapse to 1
    lab = dict(a)
    assert lab[20] == 1 and lab[3] == 1 and lab[11] == 10 and lab[30] == 30
    # string node keys (grid_density_clusters path) keep their type
    sp = spark.createDataFrame(
        [("1:2", "1:3"), ("2:9", "1:2")], "id_a string, id_b string"
    )
    sf_ = connected_components(sp)
    ss = connected_components(sp, small_graph_edges=0)
    assert sorted(map(tuple, sf_.collect())) == sorted(map(tuple, ss.collect()))
