#!/usr/bin/env python
"""End-to-end embedding/retrieval pipeline: the similarity operators a
100 TB vector-corpus build actually chains, in order.

    raw embeddings
      → embedding near-dup      (ext.similarity.cosine_near_dup_pairs,
                                 one LSH bucket per vector → each pair
                                 once; keeper-resolved drops)
      → int8 quantization       (map-only, posexplode — the storage step
                                 before index sharding)
      → IVF index + query       (k-means on a bounded sample, broadcast
                                 centroids, probe + exact rerank)
      → PQ encode + ADC query   (driver-trained codebooks, Arrow-batched
                                 encode, element_at table-lookup scan)
      → exact brute-force       (cosine_topk — the recall yardstick the
                                 approximate answers are judged against)

Every stage is equi-join / broadcast / map-only — the only driver-side
work is the two bounded training samples (IVF centroids, PQ codebooks).
Run: python examples/embedding_pipeline.py [sf_dir]
(default /root/testdata/sf0.01).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from airflow_kafka_spark_spark.ext.similarity import (
        ann_topk_pq,
        cosine_near_dup_pairs,
        cosine_topk,
        quantize_embeddings,
    )
    from airflow_kafka_spark_spark.session import build_session
    from airflow_kafka_spark_spark.sources.files import load_table

    spark = build_session(app_name="embedding-pipeline-example")
    emb = load_table(spark, sf_dir, "embeddings")
    n0 = emb.count()

    # 1. embedding-space near-dup removal. Pairs alone over-drop chains
    # (A~B, B~C would drop all three but one is enough): keep the MIN id
    # of each pair's drop side only when that id has no surviving smaller
    # neighbor — the standard greedy keeper here is simply "drop the
    # larger id of each pair", which keeps at least one per clique.
    pairs = cosine_near_dup_pairs(emb, threshold=0.95)
    drops = pairs.select(F.col("vec2").alias("vec_id")).distinct()
    emb = emb.join(drops, "vec_id", "left_anti")
    n1 = emb.count()

    # 2. int8 quantization — bandwidth/storage for the index shards
    quant = quantize_embeddings(emb)
    n_q = quant.count()

    # 3-5. the three query paths over the deduped corpus — SERVING
    # shape: train the IVF coarse quantizer and PQ codebooks ONCE, then
    # answer every probe against the shared index (per-query training
    # would re-scan the corpus per lookup; ann_topk_* only train
    # in-call as a one-shot convenience). Each probe is judged against
    # the exact brute-force answer.
    from airflow_kafka_spark_spark.ext.similarity import (
        ivf_assignments,
        pq_codebooks,
    )

    index = ivf_assignments(emb, n_lists=16)
    books = pq_codebooks(emb)
    probes = [r["vec_id"] for r in emb.orderBy("vec_id").limit(3).collect()]
    # IVF leg: ONE batched plan answers all probes (ann_topk_ivf_batch —
    # zero per-query driver actions; the point-lookup form ann_topk_ivf
    # serves single lookups). n_probe=8 of 16 lists is the certified
    # configuration (ann_recall_bounded); on these structureless
    # synthetic vectors the default 4 probes dips below the 0.5 floor
    # for some probes — exactly the recall/probe-count trade the knob
    # exists for.
    from airflow_kafka_spark_spark.ext.similarity import ann_topk_ivf_batch

    ivf_by_probe: dict[int, set] = {p: set() for p in probes}
    for r in ann_topk_ivf_batch(
        emb, probes, k=10, n_probe=8, index=index
    ).collect():
        ivf_by_probe[r["query_id"]].add(r["vec_id"])

    # residual IVF-PQ leg: the full FAISS IndexIVFPQ serving layout —
    # cell-coupled codebooks trained on residuals, the corpus encoded
    # ONCE at add time (codes ARE the index payload), one batched plan
    # for all probes. Same probes as the IVF leg by construction.
    from airflow_kafka_spark_spark.ext.similarity import (
        ann_topk_ivfpq_batch,
        pq_encode_residual,
    )

    res_books = pq_codebooks(emb, centroids=index[1])
    res_codes = pq_encode_residual(emb, res_books, index).localCheckpoint(eager=False)
    ivfpq_by_probe: dict[int, set] = {p: set() for p in probes}
    for r in ann_topk_ivfpq_batch(
        emb, probes, k=10, n_probe=8, rerank_factor=24,
        index=index, codebooks=res_books, codes=res_codes, residual=True,
    ).collect():
        ivfpq_by_probe[r["query_id"]].add(r["vec_id"])

    recalls = []
    for probe in probes:
        exact = {r["vec_id"] for r in cosine_topk(emb, probe, k=10).collect()}
        pq = {
            r["vec_id"]
            for r in ann_topk_pq(emb, probe, k=10, codebooks=books).collect()
        }
        recalls.append(
            (
                probe,
                len(ivf_by_probe[probe] & exact) / len(exact),
                len(pq & exact) / len(exact),
                len(ivfpq_by_probe[probe] & exact) / len(exact),
            )
        )

    print(
        f"vectors={n0} after_near_dup={n1} quant_rows={n_q} "
        + " ".join(
            f"probe={p}:ivf={ri:.2f}/pq={rp:.2f}/ivfpq_res={rr:.2f}"
            for p, ri, rp, rr in recalls
        )
    )
    assert all(
        ri >= 0.5 and rp >= 0.5 and rr >= 0.5 for _, ri, rp, rr in recalls
    ), f"ANN recall collapsed: {recalls}"
    spark.stop()


if __name__ == "__main__":
    main()
