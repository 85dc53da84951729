"""N× scale data: write an sf directory whose ``documents`` and
``embeddings`` are the source's ×N, for timing registry rows with
``tools/qprof.py`` at a scale the testdata does not reach.

The replicas keep TRUE-DUPLICATE DENSITY CONSTANT: naive replication
makes every replica a genuine near-dup, so the output (pair count) grows
quadratically in N and a run measures output size instead of operator
throughput.

- documents: every token is suffixed with the replica id, so replica
  groups share no shingles; the corpus's intrinsic near-dup pairs
  replicate ×N (output grows linearly with data).
- embeddings: each replica circularly rotates the vector by (rep mod 64)
  positions; rotated groups of random-ish vectors are near-orthogonal, so
  near-dup pairs again replicate ×N.

The other tables are symlinks to the source's.  The directory is
``.scale_cache/<source dir name>x<N>`` (gitignored), kept between runs; a table whose
write did not finish is written again.

Usage:
    python tools/scale_experiment.py [N]        # default 100; prints the dir
    python tools/qprof.py --sf .scale_cache/sf0.1x<N> name ...

The source is $SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata, TESTDATA.md).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CACHE = ROOT / ".scale_cache"
REPLICATED = ("documents", "embeddings")


def build(spark, replicas: int) -> Path:
    """Write (once) the ×``replicas`` sf directory of SF; returns it."""
    from pyspark.sql import functions as F

    from es_ch_sync_spark.io.sources import read_parquet_table

    out = CACHE / f"{Path(SF).name}x{replicas}"
    out.mkdir(parents=True, exist_ok=True)
    for src in Path(SF).glob("*.parquet"):
        link = out / src.name
        if src.stem not in REPLICATED and not link.exists():
            link.symlink_to(src.resolve())
    reps = spark.range(replicas).select(F.col("id").alias("rep"))
    docs_path = out / "documents.parquet"
    if not (docs_path / "_SUCCESS").exists():
        docs = read_parquet_table(spark, SF, "documents")
        docs.crossJoin(reps).withColumn(
            "doc_id", F.col("doc_id") + F.col("rep") * 1_000_000
        ).withColumn(
            "text",
            F.regexp_replace("text", F.lit(r"(\S+)"), F.concat(F.lit("$1x"), F.col("rep"))),
        ).withColumn("n_chars", F.length("text").cast("long")).drop("rep") \
            .repartition(64).write.mode("overwrite").parquet(str(docs_path))
    emb_path = out / "embeddings.parquet"
    if not (emb_path / "_SUCCESS").exists():
        emb = read_parquet_table(spark, SF, "embeddings")
        emb.crossJoin(reps).withColumn(
            "vec_id", F.col("vec_id") + F.col("rep") * 10_000_000
        ).withColumn(
            # rotate by (rep mod 64); sign-flip the second rotation cycle so
            # rep and rep+64 aren't identical vectors (cos −1, not +1)
            "embedding",
            F.expr(
                "transform("
                " concat(slice(embedding, pmod(rep, 64) + 1, 64 - pmod(rep, 64)),"
                "        slice(embedding, 1, pmod(rep, 64))),"
                " x -> x * cast(1 - 2 * pmod(rep div 64, 2) as float))"
            ),
        ).drop("rep").repartition(32).write.mode("overwrite").parquet(str(emb_path))
    return out


def main() -> None:
    from es_ch_sync_spark.session import get_spark

    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    print(build(get_spark("scale_experiment"), replicas), flush=True)


if __name__ == "__main__":
    main()
