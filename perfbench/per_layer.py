"""The traced run (``--trace 1``): a workload's section with spans around
the calls into each package layer, reported as per-layer metrics.

Every workload reports every ``per_layer`` metric of ``BENCHMARK.json``; a
layer the workload does not exercise reads 0.  ``process.peak_rss_mb`` is
the peak RSS of this process tree (Python, JVM, workers) over the whole
run.  ``trace.wall_s`` is the traced section's wall time (the sum of all
span self times equals it by construction; the artifact lists both), and
``trace.overhead_s`` the traced wall minus the mean of the same section
run untraced just before and just after it, in the same process."""

from __future__ import annotations

import harness as H


def run(module, session, seed: int, work) -> dict:
    spark = session()
    tracer = H.Tracer(spark)
    with H.TreeSampler() as tree:
        got = module.trace(spark, seed, work, tracer)
    (root,) = tracer.named("trace")
    wall = tracer.duration(root)
    untraced = H.mean(got["untraced_s"])
    metrics = dict.fromkeys(H.units("per_layer"), 0.0)
    metrics.update(got["metrics"])
    metrics.update({
        "session.get_spark.s": session.start_s,
        "process.peak_rss_mb": tree.peak_mb,
        "trace.wall_s": wall,
        "trace.overhead_s": wall - untraced,
    })
    return {
        "ok": not got["problems"],
        "attempted": got["attempted"],
        "failed": got["failed"],
        "problems": got["problems"],
        "metrics": metrics,
        "artifact": {
            "untraced_s": got["untraced_s"],
            "self_sum_s": sum(tracer.self_times().values()),
            "spans": [
                {"name": r["name"], "parent": r["parent"], "s": tracer.duration(r)}
                for r in tracer.spans
            ],
            **got.get("artifact", {}),
        },
    }
