"""Per-row profile: build registry rows and fully materialize them with
the ``noop`` sink, one warm-up run and N timed runs each, on the bench's
session and config, and print each row's wall and layers.  Optionally
dump each row's ``explain('formatted')`` to plans/<ROUND>/<name>_<tag>.txt.

Usage:
    python tools/qprof.py [--plans TAG] [--reps N] [--sf SF_DIR] name ...

``run`` is the one timing path of the repo's harnesses: ``bench.py`` and
the ×N runs (``tools/scale_experiment.py`` writes an sf directory that
this tool then times) call it too.  It runs a row through perfbench's
row runner (``engine_rows.run_row``) under a ``harness.Tracer``: the
program cache is cleared, the row is built under a ``<name>.construct``
span, then written to ``noop``.  A ``.count()`` would let Catalyst prune
every column that only feeds the output (windows, joins, computed
projections), so it is never the timed action.

Layers, read from the Spark status store:
    construct_s, construct_jobs   building the row, and the eager jobs
                                  that building triggers (checkpoints,
                                  size probes, collects)
    action_s                      the noop write
    stages, tasks, shuffle_write_mb, spill_mb, max_task_s, median_task_s
                                  the noop write's stages
"""

from __future__ import annotations

import contextlib
import io
import itertools
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]

import harness as H  # noqa: E402
from engine_rows import run_row, warm_up  # noqa: E402

# Optimization round whose plans/<ROUND>/ directory receives the dumps;
# QPROF_PLANS_DIR overrides it.
ROUND = "r17"

_RUNS = itertools.count()
ACTION_LAYERS = (
    "stages", "tasks", "shuffle_write_mb", "spill_mb", "max_task_s", "median_task_s",
)


def run(spark, name: str, fn, sf_dir: str, layers: bool = True) -> dict:
    """Build and fully materialize row ``name`` once; returns its wall
    ``s`` and, with ``layers``, the layers read from the status store
    (after the timed part, so reading them costs the wall nothing)."""
    tracer = H.Tracer(spark)
    # a tracer names its job groups after the span and its index, so the
    # span gets a label of its own per run: the status store keeps the
    # jobs of earlier runs of the same row
    span = f"{name}#{next(_RUNS)}"
    out = {"s": run_row(spark, span, fn, sf_dir, tracer)}
    if layers:
        construct = f"{span}.construct"
        action = tracer.stages(span)
        out.update(
            construct_s=tracer.total(construct),
            construct_jobs=tracer.stages(construct)["jobs"],
            action_s=tracer.total(span) - tracer.total(construct),
            **{k: action[k] for k in ACTION_LAYERS},
        )
    return out


def rounded(row: dict) -> dict:
    return {k: round(v, 3) if isinstance(v, float) else v for k, v in row.items()}


def main() -> int:
    args = sys.argv[1:]
    tag = None
    reps = 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--plans":
            tag = args[i + 1]
            i += 2
        elif args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from es_ch_sync_spark.queries import spark_queries
    from es_ch_sync_spark.session import get_spark

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    extra = {}
    for kv in os.environ.get("QPROF_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k.strip()] = v.strip()
    spark = get_spark("qprof", shuffle_partitions=int(cpus), extra_conf=extra)
    qs = spark_queries()
    warm_up(spark, sf_dir)

    plans_dir = ROOT / "plans" / os.environ.get("QPROF_PLANS_DIR", ROUND)
    for name in names:
        if tag:
            plans_dir.mkdir(parents=True, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                qs[name](spark, sf_dir).explain("formatted")
            (plans_dir / f"{name}_{tag}.txt").write_text(buf.getvalue())
        if not reps:  # --reps 0: plans only
            print(f"{name}: (plan dump only)", flush=True)
            continue
        run(spark, name, qs[name], sf_dir, layers=False)  # warm-up
        runs = [run(spark, name, qs[name], sf_dir) for _ in range(reps)]
        ts = [r["s"] for r in runs]
        best = rounded(min(runs, key=lambda r: r["s"]))
        print(
            f"{name}: min={min(ts):.3f} times={[round(t, 3) for t in ts]} "
            f"layers={best}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
