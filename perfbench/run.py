"""Benchmark of the es_ch_sync_spark engine: two seeded workloads on
``local[4]``, each printing its metrics as one JSON line.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

Workloads (see README.md in this directory for why each exists):

- ``backfill``     the sync CLI over a generated one-week ES export, one
                   fresh process per timed run;
- ``engine_rows``  query-registry rows over generated tables, fully
                   materialized with the ``noop`` sink.

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` runs the
workload once with spans around calls into each package layer and
reports the per-layer metrics instead.  Inputs are regenerated from
``--seed`` on every run, under ``.perfbench_work/`` in the current
directory.  The workloads and the metrics with their units are the ones
``BENCHMARK.json`` declares.  The last stdout line is the result object;
the line before it describes the run (Spark settings, versions, input
sizes, samples, load average)."""

from __future__ import annotations

import argparse
import shutil
import signal
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness as H  # noqa: E402
import per_layer  # noqa: E402


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    workloads = [w["name"] for w in H.spec()["workloads"]]
    p.add_argument("--workload", required=True, choices=workloads)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_workload(args, work: Path) -> tuple[dict, dict]:
    H.activate_env(work)
    load_start = H.loadavg()

    import es_ch_sync_spark  # noqa: F401 — fail before any work without the package

    module = __import__(args.workload)
    session = H.LazySession(f"perfbench-{args.workload}")
    try:
        if args.trace:
            result = per_layer.run(module, session, args.seed, work)
        else:
            result = module.measure(args.seed, args.seconds, work)
        artifact = H.describe(
            session, workload=args.workload, seed=args.seed, seconds=args.seconds,
            trace=args.trace, loadavg_start=load_start, loadavg_end=H.loadavg(),
            **result.get("artifact", {}),
        )
    finally:
        session.stop()
    return result, artifact


def _terminated(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    # every process the run starts ends before it returns, on every path
    # out of it, a SIGTERM to this process included
    H.adopt_orphans()
    signal.signal(signal.SIGTERM, _terminated)
    work = Path.cwd() / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        result, artifact = run_workload(args, work)
    finally:
        H.end_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another workload's directory is still there

    if result["problems"]:
        for p in result["problems"]:
            print(f"problem: {p}", file=sys.stderr)
    if "metrics" not in result:
        return 1
    units = H.units("per_layer" if args.trace else "end_to_end")
    H.emit(
        correct=result["ok"], attempted=result["attempted"], failed=result["failed"],
        metrics=result["metrics"], units=units, artifact=artifact,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
