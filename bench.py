"""Benchmark harness: runs the bench rows at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 testdata, TESTDATA.md) on local[$SPARK_GRAFT_CPUS] and prints
two JSON lines, a full one and a short trailing one:

    {"metric": "headline_suite_wall_sec", "value": <total>, "unit": "sec",
     "queries": {"<name>": <sec>, ...}, "sf": <sf>, "action": "noop", ...}

Every row is timed by ``tools/qprof.run``: the program cache is cleared,
the row is built, then fully materialized with the ``noop`` sink (a
``.count()`` would let Catalyst prune work that only feeds the output).
BENCH_r01..r17 timed ``.count()``, so their numbers do not compare with
these (BENCH.md).

Noise discipline: the host must settle (1- and 5-min load averages under
SETTLE_LOAD) before timing; one untimed warm-up pass runs the whole
suite, then PASSES timed passes, each after a bounded settle re-check.
A row's time is its min across passes (a row cannot run faster than its
plan, so the min is the drift-free reading); ``sessions`` keeps every
reading and ``spread`` the [min, max].  ``value`` is the sum of the
HEADLINE minima, ``extended_wall_sec`` the sum of the EXTENDED minima.
The last pass also reads each row's layers from the status store
(``layers``: construct_s/jobs, action_s and the action's stages, tasks,
shuffle, spill and task skew).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent
sys.path[:0] = [str(ROOT), str(ROOT / "tools")]

PASSES = 4  # timed passes per invocation (see noise discipline above)
SETTLE_LOAD = 2.5  # both load averages must be under this before timing
SETTLE_TIMEOUT_S = 600  # time anyway after this; the payload says settled=false
RESETTLE_TIMEOUT_S = 120  # bounded settle re-check before passes 2..N

HEADLINE = [
    # reference surface
    "sync_pipeline",
    "unpivot_signals",
    "topk_scan",
    "dim_join",
    "resume_points",
    "dedup_write",
    # relational
    "tpch_q1",
    "tpch_q3_top10",
    "revenue_by_nation",
    "rollup_returns",
    "salted_join_events",
    "range_join_events",
    "json_extract_props",
    # windows / time
    "window_topk_per_user",
    "sessionize_events",
    "resample_daily",
    "asof_join_events",
    "signal_last_value",
    "signal_daily_rollup",
    # training-data ops
    "text_analysis",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "knn_join_blocked",
    "embedding_near_dup",
    "multimodal_features",
]

# Post-headline extended rows: reference boundaries and newer operator
# families, timed identically and reported under "extended", never summed
# into "value".
EXTENDED = [
    "quarantine_split",
    "config_driven_sync",
    "dedup_sorted_neighborhood",
    "cusum_shifts",
    "nb_lang_confusion",
    # round-8 family representatives (r7 VERDICT directive #6 pattern)
    "mann_kendall_trend",
    "hll_distinct_users",
    "dedup_snm_multipass",
    "fdr_bh_trends",
    "t_closeness_audit",
    # round-10 family representatives (corpus stats, directed-graph
    # centrality) — doc_perplexity_buckets deliberately excluded: its two
    # trigram passes cost ~15 s/pass at sf0.1, which would triple the
    # extended section's wall for one row (its ×100 row is in BENCH.md)
    "zipf_rank_frequency",
    "host_hits",
    # round-12 family representatives (lexical concentration, sampled-eval
    # metrics, privacy census) — the shared-pass panels are excluded for
    # the same reason as doc_perplexity (×100 rows in BENCH.md)
    "lexical_concentration",
    "pass_at_k",
    "pii_pattern_census",
    # round-12 batch-2 representatives: the one-census A/B panel, the
    # k-group rank test, and the KN bigram LM (one explode each)
    "ab_panel",
    "kruskal_wallis_arms",
    "kneser_ney_bigram",
]
# EXTENDED is frozen: the list above has its own summed headline
# ("extended_wall_sec").  New-family representatives go in EXTRA below
# (timed identically, reported under "extra", never summed).

EXTRA = [
    # round-13 representatives: the shared-mining dedup-audit composite,
    # the real-GIF container round trip, and the A/B capstones
    "dedup_audit_panel",
    "multimodal_gif_stats",
    "cuped_adjusted_ab",
    "sprt_conversion_daily",
    # round-14 representatives: real-JPEG + MJPEG-AVI decode paths, the
    # persisted IVF-PQ serve, and the global exact-substring census
    "multimodal_jpeg_stats",
    "multimodal_video_frames",
    "ann_ivfpq_index_topk",
    "duplicate_span_census",
    # round-15 representatives: progressive-JPEG decode, animated-GIF
    # frame census, VP8L decode, and the persisted-index recall curve
    "multimodal_jpeg_progressive",
    "gif_frame_dedup",
    "multimodal_webp_stats",
    "ann_ivfpq_recall",
    # round-16 representatives: 4-component Adobe CMYK/YCCK decode and
    # the FLAC audio codec
    "multimodal_jpeg_cmyk",
    "multimodal_flac_stats",
]


def loads() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def settle(timeout_s: float) -> bool:
    """Wait until the 1- and 5-min load averages are under SETTLE_LOAD
    (a low 1-min figure can hide a host still draining other work);
    False if ``timeout_s`` passed first."""
    t0 = time.time()
    while max(os.getloadavg()[:2]) >= SETTLE_LOAD:
        if time.time() - t0 >= timeout_s:
            return False
        print(f"# settle: loadavg {loads()[:2]} >= {SETTLE_LOAD}, sleeping 10s",
              file=sys.stderr)
        time.sleep(10)
    return True


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    from qprof import rounded, run, warm_up

    from es_ch_sync_spark.queries import spark_queries
    from es_ch_sync_spark.session import get_spark

    spark = get_spark("bench", shuffle_partitions=int(cpus))
    qs = spark_queries()
    rows = HEADLINE + EXTENDED + EXTRA

    settle_t0 = time.time()
    settled = settle(SETTLE_TIMEOUT_S)
    settle_wait = round(time.time() - settle_t0, 1)
    load_start = loads()
    warm_up(spark, sf_dir)

    # Fault-isolated: one broken row must never void the round's evidence;
    # errors are recorded per row and the JSON always emits.
    samples: dict[str, list[float]] = {name: [] for name in rows}
    layers: dict[str, dict] = {}
    errors: dict[str, str] = {}

    def timed(name: str, label: str, with_layers: bool = False) -> float | None:
        try:
            r = run(spark, name, qs[name], sf_dir, layers=with_layers)
        except Exception as exc:  # noqa: BLE001 — isolate, record, continue
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            return None
        print(f"# {label} {name}: {r['s']:.3f}s", file=sys.stderr)
        if with_layers:
            layers[name] = rounded({k: v for k, v in r.items() if k != "s"})
        return r["s"]

    # One untimed warm-up pass: the first run of a row carries JIT/codegen
    # compilation and cold page-cache reads.
    warmup_t0 = time.time()
    for name in rows:
        timed(name, "warmup")
    warmup_wall = round(time.time() - warmup_t0, 3)

    session_loads: list[list[float]] = []
    for pass_no in range(PASSES):
        if pass_no:
            settle(RESETTLE_TIMEOUT_S)
        session_loads.append(loads())
        for name in rows:
            if name in errors:
                continue
            dt = timed(name, f"session {pass_no + 1}/{PASSES}", pass_no == PASSES - 1)
            if dt is not None:
                samples[name].append(dt)

    timings: dict[str, float] = {}
    extended: dict[str, float] = {}
    extra: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    sessions: dict[str, list[float]] = {}
    for name, ts in samples.items():
        if not ts:
            continue
        bucket = (
            extended if name in EXTENDED else extra if name in EXTRA else timings
        )
        bucket[name] = round(min(ts), 3)
        sessions[name] = [round(t, 3) for t in ts]
        spread[name] = [round(min(ts), 3), round(max(ts), 3)]

    # A partial suite must not masquerade as a (faster-looking) full-suite
    # time: value is null and incomplete=true whenever a HEADLINE row
    # errored; extended_wall_sec is null whenever an EXTENDED row errored.
    headline_errors = {k: v for k, v in errors.items() if k in HEADLINE}
    total = round(sum(timings.values()), 3) if not headline_errors else None
    extended_errors = {k: v for k, v in errors.items() if k in EXTENDED}
    extended_total = (
        round(sum(extended.values()), 3) if not extended_errors else None
    )
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    payload = {
        "metric": "headline_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "action": "noop",
        "passes": PASSES,
        "aggregation": "untimed warmup pass, then N full timed passes "
        "with inter-pass settle re-checks; per-row time = min across "
        "passes (drift-free reading), value = sum of HEADLINE minima; "
        "'sessions' embeds every per-pass reading for audit; 'layers' "
        "come from the last pass",
        "spread": spread,
        "sessions": sessions,
        "layers": layers,
        "extended": extended,
        "extended_wall_sec": extended_total,
        "extra": extra,
        "host": {
            "loadavg_start": load_start,
            "loadavg_end": loads(),
            "cpus": int(cpus),
            "warmup_wall_sec": warmup_wall,
            "settled": settled,
            "settle_wait_sec": settle_wait,
            "settle_threshold": SETTLE_LOAD,
            "session_loadavg": session_loads,
        },
    }
    if errors:
        payload["errors"] = errors
        payload["partial_wall_sec"] = round(sum(timings.values()), 3)
    if headline_errors:
        payload["incomplete"] = True
    print(json.dumps(payload))
    # Trailing short line: a capture that keeps only the last ~2000 chars
    # of stdout loses the big line's head, so this line stands alone.  It
    # carries "value" and one per-row "queries" map (headline + extended
    # + extra minima); past 1900 chars the extra-, then extended-tier
    # entries are dropped (headline always survives) and the line says so.
    compact_queries = {**timings, **extended, **extra}
    dropped_tiers: list[str] = []
    while True:
        tail_line = {
            "metric": "headline_suite_wall_sec",
            "value": total,
            "unit": "sec",
            "queries": compact_queries,
            "sf": sf_val,
            "action": "noop",
            "headline_wall_sec": total,
            "extended_wall_sec": extended_total,
            "aggregation": "per-row min across passes",
            "incomplete": bool(headline_errors),
            "settled": settled,
            "loadavg_start": load_start,
        }
        if dropped_tiers:
            tail_line["queries_tiers_dropped_for_length"] = dropped_tiers
        out = json.dumps(tail_line, separators=(",", ":"))
        if len(out) <= 1900 or not compact_queries:
            break
        if any(k in compact_queries for k in extra):
            compact_queries = {
                k: v for k, v in compact_queries.items() if k not in extra
            }
            dropped_tiers.append("extra")
        elif any(k in compact_queries for k in extended):
            compact_queries = {
                k: v for k, v in compact_queries.items() if k not in extended
            }
            dropped_tiers.append("extended")
        else:
            compact_queries = {}
            dropped_tiers.append("headline")
    print(out)


if __name__ == "__main__":
    main()
