#!/usr/bin/env python
"""Extra measurement harness for optimization round 6 (guide §1).

NOT the driver contract — bench.py stays frozen. This file exists to
isolate per-query computation with the noop sink, capture formatted
plans, and time micro-overheads, so before/after evidence in
OPTIMIZATION_r06.md comes from reproducible commands:

  python bench_extra.py --probe kg_hits,kg_pagerank --reps 3
  SPARK_GRAFT_CPUS=4 SPARK_GRAFT_SF_DIR=$SF/sf0.01 \
      python bench_extra.py --probe kg_scc,kg_topo_layers --reps 1

``--probe`` prints, per query, the rep walls plus ``jobs`` (all jobs of
the rep) and ``build_jobs`` (those fired before the noop write).
  python bench_extra.py --plans kg_hits --out plans/r06 --suffix before
  python bench_extra.py --micro
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import log, make_spark, run_df  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def plan_string(df, mode: str = "formatted") -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    return jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def probe(names: list[str], reps: int) -> None:
    from biokg_spark.queries import REGISTRY

    spark = make_spark(CPUS, "biokg-bench-extra")
    spark.read.parquet(os.path.join(SF_DIR, "nation.parquet")).count()  # warm
    sc = spark.sparkContext
    out = {}
    for name in names:
        fn, _ = REGISTRY[name]
        walls, jobs, build_jobs = [], [], []
        for r in range(reps):
            # one job group per rep: jobs fired while the DataFrame is
            # being built (checkpoints, convergence counts, schema reads)
            # are counted apart from the noop write's
            group = f"probe:{name}#{r}"
            sc.setJobGroup(group, group)
            try:
                t0 = time.perf_counter()
                df = fn(spark, SF_DIR)
                build_jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
                run_df(df)
                walls.append(round(time.perf_counter() - t0, 3))
                jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        out[name] = {
            "min": min(walls), "walls": walls, "jobs": jobs, "build_jobs": build_jobs,
        }
        log(f"{name}: min={min(walls)} walls={walls} jobs={jobs} build_jobs={build_jobs}")
    print(json.dumps(out))
    spark.stop()


def plans(names: list[str], out_dir: str, suffix: str) -> None:
    from biokg_spark.queries import REGISTRY

    os.makedirs(out_dir, exist_ok=True)
    spark = make_spark(CPUS, "biokg-bench-extra")
    for name in names:
        fn, _ = REGISTRY[name]
        p = plan_string(fn(spark, SF_DIR))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(p)
        log(f"wrote {path} ({len(p)} bytes)")
    spark.stop()


def micro() -> None:
    """Fixed-overhead microbenchmarks: what does ONE job / ONE shuffle /
    ONE Arrow-UDF pass cost on this host at local[CPUS]?"""
    from pyspark.sql import functions as F

    spark = make_spark(CPUS, "biokg-bench-extra")
    spark.range(10).count()  # warm

    def t(label, fn, reps=5):
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        log(f"{label}: min={min(walls):.3f} walls={[round(w,3) for w in walls]}")

    t("noop job, range(1000), no shuffle", lambda: run_df(spark.range(1000)))
    t(
        "noop job, range(100k) groupBy 1 shuffle",
        lambda: run_df(
            spark.range(100_000).groupBy((F.col("id") % 100).alias("k")).count()
        ),
    )
    t(
        "localCheckpoint of range(1000)",
        lambda: spark.range(1000).localCheckpoint(),
    )
    t(
        "parquet scan documents + count",
        lambda: spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).count(),
    )

    from biokg_spark.queries import kg_mentions, _kg_links, doc_transcripts

    t("doc_transcripts noop", lambda: run_df(doc_transcripts(spark, SF_DIR)), 3)
    t("kg_mentions noop", lambda: run_df(kg_mentions(spark, SF_DIR)), 3)
    t("_kg_links noop", lambda: run_df(_kg_links(spark, SF_DIR)), 3)
    t(
        "_kg_links localCheckpoint",
        lambda: _kg_links(spark, SF_DIR).localCheckpoint(),
        3,
    )
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--probe", help="comma-separated query names")
    ap.add_argument("--plans", help="comma-separated query names to explain")
    ap.add_argument("--out", default="plans/r06")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--micro", action="store_true")
    args = ap.parse_args()
    if args.micro:
        micro()
    if args.probe:
        probe(args.probe.split(","), args.reps)
    if args.plans:
        plans(args.plans.split(","), args.out, args.suffix)


if __name__ == "__main__":
    main()
