#!/usr/bin/env python
"""End-to-end graph analytics over a derived co-occurrence graph: the
relationship-mining chain a catalog/recommendation build runs over
transaction baskets.

    lineitem (order baskets)
      → co-occurrence edges     (ext.graph.basket_pairs — one shuffle,
                                 map-side C(n,2) expansion, size cap)
      → structure profile       (ext.graph.triangle_stats —
                                 compact-forward adjacency intersect)
      → item importance         (ext.graph.pagerank — integer
                                 fixed-point, replayable bit-for-bit)
      → communities             (ext.dedup.connected_components over
                                 the STRONG edges only — co-purchase
                                 clusters, one keeper label each)

Every stage is equi-join / hash-agg / map-only; the iterative stage
(connected components) gets its input localCheckpoint'd first — the
compounded plan tree under the loop OOM'd the driver otherwise, the
same lesson examples/training_pipeline.py learned in round 4.
Run: python examples/graph_analytics.py [sf_dir]
(default /root/testdata/sf0.01).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from airflow_kafka_spark_spark.ext.dedup import connected_components
    from airflow_kafka_spark_spark.ext.graph import (
        basket_pairs,
        pagerank,
        triangle_stats,
    )
    from airflow_kafka_spark_spark.session import build_session
    from airflow_kafka_spark_spark.sources.files import load_table

    spark = build_session(app_name="graph-analytics-example")
    li = load_table(spark, sf_dir, "lineitem")

    # 1. baskets → undirected co-occurrence edges, weighted by support
    # (how many orders contain the pair) — basket_pairs(counted=True)
    # returns exactly (src, dst, support) (r13 review: grep for the
    # CAPABILITY before re-implementing). max_basket_size caps the
    # quadratic per-basket fan-out; TPC-H orders hold <= 7 line items,
    # so 100 is a pure safety rail here, but at 100 TB a single 10k-item
    # basket alone would emit ~50M pairs without it. localCheckpoint
    # materializes the most expensive derivation once — four downstream
    # actions read it.
    weighted = basket_pairs(
        li, "l_orderkey", "l_partkey", max_basket_size=100, counted=True
    ).localCheckpoint(eager=False)
    edges = weighted.select("src", "dst")
    n_edges = edges.count()

    # 2. global structure profile
    stats = triangle_stats(edges).collect()[0]

    # 3. item importance: symmetrize, fixed-point pagerank, top items
    both = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    top = (
        pagerank(both, iterations=3)
        .orderBy(F.col("rank_s").desc(), F.col("n"))
        .limit(5)
        .collect()
    )
    # on the DIRECTED (un-symmetrized) graph every order's max partkey
    # is a sink — dangling="redistribute" keeps their mass in the
    # system (the leak default would deflate all ranks); still
    # fixed-point exact
    # engine-side sum — collecting the node-sized rank table to add it
    # up breaks at 10^9 nodes (r13 review, CHANGELOG Round 13)
    directed_total = (
        pagerank(edges, iterations=3, dangling="redistribute")
        .agg(F.sum("rank_s").alias("s"))
        .collect()[0]["s"]
    )

    # 4. co-purchase communities from the STRONG edges only (support >=
    # 2 orders): thresholding first keeps the iterative stage on the
    # sparse backbone, the same posture as near-dup keeper resolution
    strong = (
        weighted.filter(F.col("support") >= 2)
        .select(F.col("src").alias("doc1"), F.col("dst").alias("doc2"))
        .localCheckpoint(eager=False)  # cut the basket-expansion lineage before the loop
    )
    comps = connected_components(strong)
    n_communities = comps.select("component").distinct().count()
    biggest = (
        comps.groupBy("component").count().agg(F.max("count")).first()[0]
    )

    print(
        f"edges={n_edges} nodes={stats['n_nodes']} "
        f"triangles={stats['n_triangles']} clustering={stats['clustering']} "
        f"top_item={top[0]['n']} (rank={top[0]['rank']:.6f}) "
        f"strong_communities={n_communities} biggest={biggest} "
        f"directed_mass_kept={directed_total / 10**12:.4f}"
    )
    assert stats["n_triangles"] > 0 and n_communities > 0
    # redistribution conserves mass up to floor leaks (≈1.0 of 1.0)
    assert directed_total > 0.99 * 10**12
    # every strong edge's endpoints must share a community label
    lab = comps.select(F.col("doc_id").alias("doc1"), F.col("component").alias("c1"))
    lab2 = comps.select(F.col("doc_id").alias("doc2"), F.col("component").alias("c2"))
    split = (
        strong.join(lab, "doc1").join(lab2, "doc2")
        .filter(F.col("c1") != F.col("c2"))
        .count()
    )
    assert split == 0, f"{split} strong edges straddle communities"
    spark.stop()


if __name__ == "__main__":
    main()
