"""Self-tests of the benchmark's own helpers.  Run from the repo root:

    python3 perfbench/selftest.py

Exits non-zero on the first failed check."""

from __future__ import annotations

import hashlib
import shutil
import sys
import time
import types
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import harness as H  # noqa: E402

WORK = Path.cwd() / ".perfbench_work" / "selftest"


def table_digest(table) -> str:
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def status_stats(seed: int) -> dict:
    import pyarrow.compute as pc

    t = gen.status_table(seed, 2_000, 100, 7)
    return {
        "rows": t.num_rows,
        "subjects": len(pc.unique(t["subject"])),
        "speed_sum": pc.sum(t["data_speed"]).as_py(),
        "null_odometer": t["data_odometer"].null_count,
        "digest": table_digest(t),
        "dim": table_digest(gen.device_dim_table(seed, 100)),
    }


def test_seed_determinism() -> None:
    a, b, c = status_stats(7), status_stats(7), status_stats(8)
    assert a == b, "same seed gave different status inputs"
    assert a["digest"] != c["digest"] and a["speed_sum"] != c["speed_sum"], (
        "different seeds gave the same status inputs"
    )
    sf = {s: {n: table_digest(t) for n, t in gen.sf_tables(s).items()} for s in (7, 8)}
    assert sf[7] == {n: table_digest(t) for n, t in gen.sf_tables(7).items()}
    assert sf[7]["lineitem"] != sf[8]["lineitem"] and sf[7]["documents"] != sf[8]["documents"]


def test_wrap_restores_attributes() -> None:
    mod = types.SimpleNamespace(f=lambda x: x + 1, g=lambda: "g")
    orig_f, orig_g = mod.f, mod.g
    tracer = H.Tracer()
    with tracer.wrap([(mod, "f", "layer.f"), (mod, "g", "layer.g")]):
        assert mod.f is not orig_f and mod.f(1) == 2
    assert mod.f is orig_f and mod.g is orig_g
    try:
        with tracer.wrap([(mod, "f", "layer.f")]):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert mod.f is orig_f, "attribute not restored after an exception"
    assert len(tracer.named("layer.f")) == 1


def test_self_times_sum_to_root() -> None:
    tracer = H.Tracer()
    with tracer.span("trace"):
        with tracer.span("a"):
            time.sleep(0.02)
            with tracer.span("b"):
                time.sleep(0.02)
        time.sleep(0.01)
    root = tracer.duration(tracer.named("trace")[0])
    selfs = tracer.self_times()
    assert abs(sum(selfs.values()) - root) < 1e-9
    assert selfs["b"] >= 0.02 and selfs["a"] >= 0.02 and selfs["trace"] >= 0.01


def test_workloads_have_modules() -> None:
    import importlib

    for w in H.spec()["workloads"]:
        module = importlib.import_module(w["name"])
        assert callable(module.measure) and callable(module.trace), w["name"]
    assert "setup_s" in H.units("end_to_end")


def test_spark_helpers() -> None:
    from pyspark.sql import functions as F

    session = H.LazySession("perfbench-selftest")
    try:
        spark = session()
        tracer = H.Tracer(spark)
        with H.TreeSampler() as tree:
            with tracer.span("two_stage"):
                (
                    spark.range(0, 400_000, 1, 4)
                    .groupBy((F.col("id") % 5000).alias("k"))
                    .agg(F.sum("id"))
                    .write.format("noop").mode("overwrite").save()
                )
        m = tracer.stages("two_stage")
        assert m["stages"] >= 2, m
        assert m["task_s"] > 0 and m["shuffle_write_mb"] > 0 and m["shuffle_read_mb"] > 0, m
        assert tracer.stages("no_such_span")["jobs"] == 0
        names = []
        for pid in H.tree_pids(H.os.getpid()):
            try:
                names.append(Path(f"/proc/{pid}/comm").read_text().strip())
            except OSError:
                pass
        assert "java" in names, f"JVM not in this process tree: {names}"
        assert tree.max_procs >= 2 and tree.peak_mb > H.rss_kb(H.os.getpid()) / 1024.0, (
            tree.max_procs, tree.peak_mb,
        )
        assert tree.cpu_s > 0 and tree.steal_s >= 0, (tree.cpu_s, tree.steal_s)
    finally:
        session.stop()
    assert not [p for p in H.tree_pids(H.os.getpid()) if p != H.os.getpid()], (
        "the session's JVM outlived stop()"
    )


def test_orphans_are_ended() -> None:
    """A grandchild whose parent has exited is adopted and ended, and
    ``run_tree`` returns only when nothing it started is left."""
    me = H.os.getpid()
    proc, _, _ = H.run_tree(["sh", "-c", "sleep 300 >/dev/null 2>&1 & echo $!"], WORK)
    orphan = int(proc.stdout.split()[0])
    assert not Path(f"/proc/{orphan}").exists(), f"orphan {orphan} still running"
    assert [p for p in H.tree_pids(me) if p != me] == []


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    WORK.mkdir(parents=True)
    H.activate_env(WORK)
    H.adopt_orphans()
    for test in (
        test_seed_determinism,
        test_wrap_restores_attributes,
        test_self_times_sum_to_root,
        test_workloads_have_modules,
        test_spark_helpers,
        test_orphans_are_ended,
    ):
        test()
        print(f"ok {test.__name__}")
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
