#!/usr/bin/env python
"""Auxiliary measurement harness for the optimization rounds.

NOT the driver bench (bench.py is frozen): this file exists so plan
capture and noop-sink isolation (spark_optimization_guide §1.4) never
touch the measured harness. It can:

- dump ``explain("formatted")`` for the headline query paths into
  plans/r06/<name>_{before,after}.txt  (``--plans TAG``)
- time individual query paths with the noop sink (``--time NAME``)

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as bench.py).
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("OMP_NUM_THREADS", "1")

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PLANS_DIR = Path(__file__).resolve().parent / "plans" / "r06"


def _spark():
    from ligra_spark.session import get_spark

    spark = get_spark(
        "ligra_bench_extra", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _events_graph(spark):
    from ligra_spark.graph import Graph
    from ligra_spark.sources.events import edges_from_events

    ev = Graph(
        edges_from_events(spark.read.parquet(f"{SF_DIR}/events.parquet")),
        num_partitions="auto",
    )
    _ = ev.m
    return ev


def plan_frames(spark):
    """name -> DataFrame (or callable returning scalar) for the headline
    paths whose plans we track. Iterative queries expose ONE round's
    plan (the steady-state shape is what matters for Exchange counts)."""
    from pyspark.sql import functions as F

    from ligra_spark.algorithms.pagerank import pagerank
    from ligra_spark.algorithms.triangle import _closed_wedges, _oriented_edges
    from ligra_spark.graph import Graph
    from ligra_spark.queries import q_ann_topk, q_minhash_lsh_docs
    from ligra_spark.sources.rmat import rmat_graph_df

    out = {}
    out["minhash_lsh_docs"] = lambda: q_minhash_lsh_docs(spark, SF_DIR)
    out["ann_topk"] = lambda: q_ann_topk(spark, SF_DIR)

    def tri():
        rg = Graph(
            rmat_graph_df(spark, 13, 20_000), dedupe=True, num_partitions=CPUS
        )
        from ligra_spark.algorithms._iter import materialize

        ep = materialize(_oriented_edges(rg))
        return _closed_wedges(ep).groupBy().count()

    out["triangle_rmat"] = tri

    def pr_round():
        ev = _events_graph(spark)
        # one steady-state power-iteration round over checkpointed state
        from ligra_spark.algorithms._iter import materialize

        state = materialize(
            ev.degrees.select("id", "out_deg", F.lit(1.0).alias("rank"))
        )
        contribs = (
            state.where(F.col("out_deg") > 0)
            .select("id", (F.col("rank") / F.col("out_deg")).alias("share"))
            .withColumnRenamed("id", "src")
            .join(ev.edges_by_src, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("share").alias("contrib"))
        )
        return state.join(contribs, "id", "left").select(
            "id", F.coalesce("contrib", F.lit(0.0)).alias("rank")
        )

    out["pagerank_events_round"] = pr_round

    # dispatched whole-query plans (what bench.py actually runs after
    # the r06 local-kernel dispatch; meaningful for the "after" tag)
    def pr_events_full():
        from ligra_spark.algorithms.pagerank import pagerank

        return pagerank(_events_graph(spark), max_iters=20)

    def cc_events_full():
        from ligra_spark.algorithms.components import connected_components

        return connected_components(_events_graph(spark))

    def tri_full():
        from ligra_spark.algorithms._tier import resolve_tier
        from ligra_spark.algorithms.closed import _tri_kernel

        rg = Graph(
            rmat_graph_df(spark, 17, 500_000), dedupe=True, num_partitions=CPUS
        )
        if resolve_tier(rg, "triangle").tier != "local":
            return None
        return (
            rg.local_view()
            .closed_edges.select("src", "dst")
            .mapInArrow(_tri_kernel(False), "triangles long")
            .agg(F.sum("triangles").alias("t"))
        )

    out["pagerank_events"] = pr_events_full
    out["cc_events"] = cc_events_full
    out["triangle_rmat_dispatch"] = tri_full
    return out


def dump_plans(tag: str, only: set[str]) -> None:
    spark = _spark()
    PLANS_DIR.mkdir(parents=True, exist_ok=True)
    for name, fn in plan_frames(spark).items():
        if only and name not in only:
            continue
        df = fn()
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = PLANS_DIR / f"{name}_{tag}.txt"
        path.write_text(txt)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", metavar="TAG", help="dump explain() plans")
    ap.add_argument("--only", default="", help="comma-separated names")
    args = ap.parse_args()
    only = {q for q in args.only.split(",") if q}
    if args.plans:
        dump_plans(args.plans, only)
