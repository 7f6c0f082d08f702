"""SimHash semantics (the rows-only catalog entries' backing tests):
equal docs hash equal; near-duplicates land closer in Hamming distance
than unrelated docs — the property LSH-style dedup relies on."""

from __future__ import annotations

from airflow_kafka_spark_spark.ext.dedup import simhash64, simhash_md5

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),  # dup
    (2, "the quick brown fox jumps over the lazy dog near the river shore"),  # near
    (3, "completely unrelated text about distributed query engines and shuffles"),
]


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & (2**64 - 1)).count("1")


def _fingerprints(spark, fn):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    return {r["doc_id"]: r["simhash"] for r in fn(df).collect()}


def test_simhash64_properties(spark):
    fp = _fingerprints(spark, simhash64)
    assert fp[0] == fp[1]  # identical text → identical fingerprint
    near = _hamming(fp[0], fp[2])
    far = _hamming(fp[0], fp[3])
    assert near < far, (near, far)
    assert near <= 16  # one word changed out of 13


def test_simhash_md5_properties(spark):
    fp = _fingerprints(spark, simhash_md5)
    assert fp[0] == fp[1]
    assert _hamming(fp[0], fp[2]) < _hamming(fp[0], fp[3])
    assert all(0 <= v < 2**32 for v in fp.values())  # 32-bit fingerprints


def test_jaccard_df_cap_is_recall_approximation(spark):
    """max_shingle_df drops hot shingles from the index: the capped
    result is a subset of the exact pairs (recall-only loss), and a cap
    above every df reproduces the exact result."""
    from airflow_kafka_spark_spark.ext.dedup import jaccard_pairs
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").limit(120)
    exact = {(r["doc1"], r["doc2"]) for r in jaccard_pairs(docs).collect()}
    capped = {
        (r["doc1"], r["doc2"])
        for r in jaccard_pairs(docs, max_shingle_df=3).collect()
    }
    uncapped = {
        (r["doc1"], r["doc2"])
        for r in jaccard_pairs(docs, max_shingle_df=10**9).collect()
    }
    assert capped <= exact
    assert uncapped == exact


def test_containment_df_cap_is_recall_approximation(spark):
    """containment_pairs shares jaccard's inverted index and now the
    same skew knob: capped pairs are a subset of the exact ones (scores
    are lower bounds), and an unreachable cap is a no-op."""
    from airflow_kafka_spark_spark.ext.dedup import containment_pairs
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").limit(120)
    exact = {(r["doc1"], r["doc2"]) for r in containment_pairs(docs).collect()}
    capped = {
        (r["doc1"], r["doc2"])
        for r in containment_pairs(docs, max_shingle_df=3).collect()
    }
    uncapped = {
        (r["doc1"], r["doc2"])
        for r in containment_pairs(docs, max_shingle_df=10**9).collect()
    }
    assert capped <= exact
    assert uncapped == exact


def test_capped_expand_path_matches_join_frame(spark):
    """The capped branch of _common_shingle_counts (bounded posting-list
    collect + map-side pair expansion, r16) must produce the EXACT frame
    the inverted-index self-join produces — full rows incl. n1/n2/
    n_common, not just the pair set — whenever the cap drops nothing
    (unreachable cap routes the expand path; ``None`` routes the join
    path). A NULL doc_id pairs with nothing under the join form
    (``NULL < x`` is NULL), so the expand path must drop it too."""
    from airflow_kafka_spark_spark.ext.dedup import _common_shingle_counts

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "alpha beta gamma theta iota kappa"),
        (4, "completely different words here entirely now"),
        (None, "alpha beta gamma delta epsilon zeta"),  # NULL id: no pairs
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    join_frame, expand_frame = (
        sorted(map(tuple, _common_shingle_counts(docs, "text", 3, cap).collect()))
        for cap in (None, 10**9)
    )
    assert join_frame == expand_frame
    assert join_frame, "planted corpus must produce shared-shingle pairs"
    assert all(
        r[0] is not None and r[1] is not None for r in join_frame
    ), "NULL doc_id must never appear in a pair"


def test_dedup_outputs_leave_no_cached_frames(spark):
    """The near-dup operators cut shared intermediates with lazy
    localCheckpoint, never persist(): after the caller's action the
    session's CacheManager is empty, so a long-lived session deduping
    many corpora accumulates no cache entries."""
    from airflow_kafka_spark_spark.ext import dedup

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for out in (
        dedup.jaccard_pairs(docs),
        dedup.jaccard_pairs(docs, max_shingle_df=10),
        dedup.containment_pairs(docs),
        dedup.minhash_lsh_pairs(docs),
        dedup.connected_components(dedup.jaccard_pairs(docs)),
    ):
        assert out.collect(), "the tiny corpus has near-dup pairs"
        assert cache.isEmpty()


def test_ivf_ann_recall(spark):
    """IVF ANN with 4/16 probes must recover most of the exact top-10 —
    and everything it returns must be a true cosine (subset with
    identical scores)."""
    from airflow_kafka_spark_spark.ext.similarity import ann_topk_ivf, cosine_topk
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {r["vec_id"]: r["cosine"] for r in cosine_topk(emb, 0, k=10).collect()}
    approx = {r["vec_id"]: r["cosine"] for r in ann_topk_ivf(emb, 0, k=10).collect()}
    # scores for ids found by both must be identical (same rerank math)
    for vid, cos in approx.items():
        if vid in exact:
            assert cos == exact[vid]
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.5, (recall, approx, exact)


def test_ann_prebuilt_index_matches_in_call_build(spark):
    """The train/search split must be a pure refactor: IVF with a
    prebuilt ivf_assignments index and PQ with prebuilt codebooks must
    return EXACTLY the rows the one-shot (train-in-call) form returns
    — both paths train on the same deterministic sample with the same
    seed, so any divergence is a wiring bug."""
    from airflow_kafka_spark_spark.ext.similarity import (
        ann_topk_ivf,
        ann_topk_pq,
        ivf_assignments,
        pq_codebooks,
    )
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    index = ivf_assignments(emb, n_lists=16)
    books = pq_codebooks(emb)
    for qid in (0, 7):
        one_shot = ann_topk_ivf(emb, qid, k=10, n_probe=8).collect()
        shared = ann_topk_ivf(emb, qid, k=10, n_probe=8, index=index).collect()
        assert one_shot == shared
        one_shot = ann_topk_pq(emb, qid, k=10).collect()
        shared = ann_topk_pq(emb, qid, k=10, codebooks=books).collect()
        assert one_shot == shared


def test_ann_batch_matches_point_lookups(spark):
    """The batched serving path must return, per query, exactly the rows
    the point-lookup path returns: same probe-list selection (JVM
    struct-sort argsort == numpy argsort with index tiebreak), same
    candidates, same rerank math — the batch form is a pure
    driver-action elimination, not a different algorithm."""
    from airflow_kafka_spark_spark.ext.similarity import (
        ann_topk_ivf,
        ann_topk_ivf_batch,
        ivf_assignments,
    )
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    index = ivf_assignments(emb, n_lists=16)
    qids = [0, 7, 19]
    batch = ann_topk_ivf_batch(
        emb, qids, k=10, n_probe=8, index=index
    ).collect()
    by_q: dict[int, list] = {q: [] for q in qids}
    for r in batch:
        by_q[r["query_id"]].append((r["vec_id"], r["cosine"]))
    for qid in qids:
        point = [
            (r["vec_id"], r["cosine"])
            for r in ann_topk_ivf(emb, qid, k=10, n_probe=8, index=index).collect()
        ]
        # same set with same scores; order within the batch output is
        # pinned by the row_number window's total ordering
        assert sorted(by_q[qid]) == sorted(point), qid
        assert len(by_q[qid]) == 10

    import pytest as _pytest

    # the batch path shares the point path's error contract
    with _pytest.raises(ValueError, match="missing query ids"):
        ann_topk_ivf_batch(emb, [0, 10**9], k=5, index=index)


def test_pq_batch_matches_point_lookups(spark):
    """The batched PQ serving path must return, per query, exactly the
    rows the point path returns: the broadcast ADC-table frame join
    sums the same m per-subvector terms in the same order (posexplode
    emits j ascending within one partition), so candidates and rerank
    are identical — one bounded collect replaces N first() actions."""
    from airflow_kafka_spark_spark.ext.similarity import (
        ann_topk_pq,
        ann_topk_pq_batch,
        pq_codebooks,
    )
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    books = pq_codebooks(emb)
    qids = [0, 7, 19]
    by_q: dict[int, list] = {q: [] for q in qids}
    for r in ann_topk_pq_batch(emb, qids, k=10, codebooks=books).collect():
        by_q[r["query_id"]].append((r["vec_id"], r["cosine"]))
    for qid in qids:
        point = [
            (r["vec_id"], r["cosine"])
            for r in ann_topk_pq(emb, qid, k=10, codebooks=books).collect()
        ]
        assert sorted(by_q[qid]) == sorted(point), qid
        assert len(by_q[qid]) == 10

    import pytest as _pytest

    with _pytest.raises(ValueError, match="missing query ids"):
        ann_topk_pq_batch(emb, [0, 10**9], k=5, codebooks=books).collect()


def test_ivfpq_batch_full_probe_equals_exact(spark):
    """The brute-force-verified contract: with every cell probed and a
    rerank pool large enough to hold all candidates, IVF-PQ reduces to
    exact brute force — per query, exactly the exact cosine top-k."""
    from airflow_kafka_spark_spark.ext.similarity import (
        ann_topk_ivfpq_batch,
        cosine_topk,
        ivf_assignments,
        pq_codebooks,
    )
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    index = ivf_assignments(emb, n_lists=16)
    books = pq_codebooks(emb)
    n = emb.count()
    qids = [0, 7]
    by_q: dict[int, list] = {q: [] for q in qids}
    for r in ann_topk_ivfpq_batch(
        emb, qids, k=10, n_probe=16, rerank_factor=(n // 10) + 1,
        index=index, codebooks=books,
    ).collect():
        by_q[r["query_id"]].append((r["vec_id"], r["cosine"]))
    for qid in qids:
        exact = [
            (r["vec_id"], r["cosine"])
            for r in cosine_topk(emb, qid, k=10).collect()
        ]
        assert sorted(by_q[qid]) == sorted(exact), qid


def test_ivfpq_batch_probes_shared_cells_and_recall(spark):
    """With partial probing: every returned id lies in a cell the query
    probed (the SAME probe set the IVF paths pick — shared
    _probe_distances sequence), scores are true cosines, and recall
    vs exact stays above the certified floor on the structureless
    fixture. Shared index/codebooks/codes must be a pure refactor of
    the in-call build, and missing query ids raise."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.ext.similarity import (
        _probe_distances,
        ann_topk_ivfpq_batch,
        cosine_topk,
        ivf_assignments,
        pq_codebooks,
        pq_encode,
    )
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    index = ivf_assignments(emb, n_lists=16)
    assigned, centroids = index
    books = pq_codebooks(emb)
    codes = pq_encode(emb, books).localCheckpoint(eager=True)
    qids = [0, 19]
    out = ann_topk_ivfpq_batch(
        emb, qids, k=10, n_probe=8, rerank_factor=24,
        index=index, codebooks=books, codes=codes,
    ).collect()
    cell_of = {
        r["vec_id"]: r["list_id"]
        for r in assigned.join(
            spark.createDataFrame([(r["vec_id"],) for r in out], "vec_id long"),
            "vec_id",
        ).collect()
    }
    probe_of = {}
    for qid in qids:
        qvec = emb.filter(F.col("vec_id") == qid).first()["embedding"]
        probe_of[qid] = {j for _, j in sorted(_probe_distances(qvec, centroids))[:8]}
    by_q: dict[int, list] = {q: [] for q in qids}
    for r in out:
        assert cell_of[r["vec_id"]] in probe_of[r["query_id"]], r
        by_q[r["query_id"]].append((r["vec_id"], r["cosine"]))
    for qid in qids:
        assert len(by_q[qid]) == 10
        exact = {r["vec_id"]: r["cosine"] for r in cosine_topk(emb, qid, k=10).collect()}
        hits = [v for v, _ in by_q[qid] if v in exact]
        for v, c in by_q[qid]:
            if v in exact:
                assert c == exact[v]  # identical rerank math
        assert len(hits) / len(exact) >= 0.5, (qid, by_q[qid])

    # one-shot in-call build == shared-artifact build
    one_shot = ann_topk_ivfpq_batch(emb, qids, k=10, n_probe=8, rerank_factor=24)
    assert sorted(map(tuple, one_shot.collect())) == sorted(map(tuple, out))

    with _pytest.raises(ValueError, match="missing query ids"):
        ann_topk_ivfpq_batch(
            emb, [0, 10**9], k=5, index=index, codebooks=books, codes=codes
        )


def test_ivfpq_residual_full_probe_equals_exact(spark):
    """The residual path's brute-force-verified contract: with every
    cell probed and a full-corpus rerank pool, residual IVF-PQ reduces
    to the exact cosine top-k — the per-cell ADC tables and residual
    codes change candidate ORDER, never the rerank math."""
    from airflow_kafka_spark_spark.ext.similarity import (
        ann_topk_ivfpq_batch,
        cosine_topk,
        ivf_assignments,
        pq_codebooks,
        pq_encode_residual,
    )
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    index = ivf_assignments(emb, n_lists=16)
    books = pq_codebooks(emb, centroids=index[1])
    codes = pq_encode_residual(emb, books, index).localCheckpoint(eager=True)
    n = emb.count()
    qids = [0, 7]
    by_q: dict[int, list] = {q: [] for q in qids}
    for r in ann_topk_ivfpq_batch(
        emb, qids, k=10, n_probe=16, rerank_factor=(n // 10) + 1,
        index=index, codebooks=books, codes=codes, residual=True,
    ).collect():
        by_q[r["query_id"]].append((r["vec_id"], r["cosine"]))
    for qid in qids:
        exact = [
            (r["vec_id"], r["cosine"])
            for r in cosine_topk(emb, qid, k=10).collect()
        ]
        assert sorted(by_q[qid]) == sorted(exact), qid


def test_ivfpq_residual_probes_shared_cells_and_recall(spark):
    """Partial probing on the residual path: every returned id lies in
    a probed cell (same shared _probe_distances sequence as the raw
    path — residual encoding changes the ADC tables, not the probe
    selection), scores are true cosines, recall holds the certified
    floor, and the one-shot in-call build (residual books + residual
    encode) equals the shared-artifact build."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.ext.similarity import (
        _probe_distances,
        ann_topk_ivfpq_batch,
        cosine_topk,
        ivf_assignments,
        pq_codebooks,
        pq_encode_residual,
    )
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    index = ivf_assignments(emb, n_lists=16)
    assigned, centroids = index
    books = pq_codebooks(emb, centroids=centroids)
    codes = pq_encode_residual(emb, books, index).localCheckpoint(eager=True)
    qids = [0, 19]
    out = ann_topk_ivfpq_batch(
        emb, qids, k=10, n_probe=8, rerank_factor=24,
        index=index, codebooks=books, codes=codes, residual=True,
    ).collect()
    cell_of = {
        r["vec_id"]: r["list_id"]
        for r in assigned.join(
            spark.createDataFrame([(r["vec_id"],) for r in out], "vec_id long"),
            "vec_id",
        ).collect()
    }
    by_q: dict[int, list] = {q: [] for q in qids}
    for r in out:
        by_q[r["query_id"]].append((r["vec_id"], r["cosine"]))
    for qid in qids:
        qvec = emb.filter(F.col("vec_id") == qid).first()["embedding"]
        probed = {j for _, j in sorted(_probe_distances(qvec, centroids))[:8]}
        for v, _ in by_q[qid]:
            assert cell_of[v] in probed, (qid, v)
        assert len(by_q[qid]) == 10
        exact = {
            r["vec_id"]: r["cosine"] for r in cosine_topk(emb, qid, k=10).collect()
        }
        hits = [v for v, _ in by_q[qid] if v in exact]
        for v, c in by_q[qid]:
            if v in exact:
                assert c == exact[v]  # identical rerank math
        assert len(hits) / len(exact) >= 0.5, (qid, by_q[qid])

    # one-shot in-call residual build == shared-artifact build
    one_shot = ann_topk_ivfpq_batch(
        emb, qids, k=10, n_probe=8, rerank_factor=24, residual=True
    )
    assert sorted(map(tuple, one_shot.collect())) == sorted(map(tuple, out))


def test_prebuilt_codes_validation(spark):
    """A prebuilt codes frame must be provably consistent with the
    codebooks it is ADC-joined against — mismatched m or out-of-range
    codes silently bias distances otherwise (ADVICE r8)."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.ext.similarity import (
        ann_topk_ivfpq_batch,
        ann_topk_pq_batch,
        ivf_assignments,
        pq_codebooks,
        pq_encode,
    )
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    index = ivf_assignments(emb, n_lists=16)
    books = pq_codebooks(emb)
    codes = pq_encode(emb, books).localCheckpoint(eager=True)

    # codes without the codebooks they were encoded with
    with _pytest.raises(ValueError, match="requires the codebooks"):
        ann_topk_pq_batch(emb, [0], k=5, codes=codes)
    with _pytest.raises(ValueError, match="requires the codebooks"):
        ann_topk_ivfpq_batch(emb, [0], k=5, index=index, codes=codes)

    # wrong m: books say 4 subvectors, codes carry 8
    books_m4 = pq_codebooks(emb, m=4)
    with _pytest.raises(ValueError, match="different quantizer"):
        ann_topk_pq_batch(emb, [0], k=5, m=4, codebooks=books_m4, codes=codes)

    # out-of-range code values vs a smaller codebook
    books_small = pq_codebooks(emb, n_codes=2)
    big_codes = codes.select(
        "vec_id", F.transform("codes", lambda c: c + F.lit(1000)).alias("codes")
    )
    with _pytest.raises(ValueError, match="outside the codebook range"):
        ann_topk_pq_batch(
            emb, [0], k=5, n_codes=2, codebooks=books_small, codes=big_codes
        )

    # residual mode rejects raw codes (no list_id column)
    with _pytest.raises(ValueError, match="list_id"):
        ann_topk_ivfpq_batch(
            emb, [0], k=5, index=index, codebooks=books, codes=codes,
            residual=True,
        )


def test_collect_query_rows_dedups_duplicate_corpus_ids(spark):
    """Duplicate vec_ids in the corpus must not multiply rerank
    candidate rows: identical duplicate vectors collapse to one query
    row; conflicting vectors raise (ambiguous query)."""
    import pytest as _pytest

    from airflow_kafka_spark_spark.ext.similarity import _collect_query_rows

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (0, [1.0, 0.0]),  # identical duplicate — collapses
            (1, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    rows = _collect_query_rows(emb, [0, 1], "embedding", "vec_id", "t")
    assert [r["query_id"] for r in rows] == [0, 1]

    emb_bad = spark.createDataFrame(
        [(0, [1.0, 0.0]), (0, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="conflicting vectors"):
        _collect_query_rows(emb_bad, [0], "embedding", "vec_id", "t")


def test_ivf_batch_duplicate_corpus_id_contract(spark):
    """The IVF batch path shares _collect_query_rows' duplicate-id
    contract (VERDICT r9: it previously re-implemented only the
    missing-id half, so a duplicated corpus id doubled candidate rows
    on this path specifically): conflicting duplicate vectors raise;
    identical duplicates collapse to ONE query row, so every query
    still yields exactly k result rows."""
    import pytest as _pytest

    from airflow_kafka_spark_spark.ext.similarity import ann_topk_ivf_batch

    base = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)]
    emb = spark.createDataFrame(
        base + [(0, [0.0, 0.0, 1.0])],  # duplicate id 0, identical vector
        "vec_id long, embedding array<float>",
    )
    out = ann_topk_ivf_batch(emb, [0, 7], k=5, n_lists=4, n_probe=4).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["vec_id"])
    assert sorted(per_q) == [0, 7]
    for qid, ids in per_q.items():
        assert len(ids) == 5, (qid, ids)
        assert len(set(ids)) == 5, (qid, ids)  # no doubled candidates

    emb_bad = spark.createDataFrame(
        base + [(0, [9.0, 9.0, 9.0])],  # duplicate id 0, CONFLICTING
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="conflicting vectors"):
        ann_topk_ivf_batch(emb_bad, [0], k=5, n_lists=4)


def test_ann_build_paths_raise_on_sample_visible_conflicts(spark):
    """VERDICT r11 item 6: the k-means BUILD paths (ivf_assignments,
    pq_codebooks — the bounded sampled collects) raise when the
    training sample contains an id with CONFLICTING vectors, instead
    of training a quantizer whose downstream top-k is silently
    order-dependent. Identical-vector duplicates still train fine
    (same rows as before the guard). Conflicts OUTSIDE the bounded
    sample remain the documented caller's risk — no bounded action
    can certify the whole corpus."""
    import pytest as _pytest

    from airflow_kafka_spark_spark.ext.similarity import (
        ivf_assignments,
        pq_codebooks,
    )

    base = [(i, [float(i % 7), float((i * 3) % 5), 1.0, 0.0]) for i in range(40)]
    ok = spark.createDataFrame(
        base + [(0, [0.0, 0.0, 1.0, 0.0])],  # identical duplicate
        "vec_id long, embedding array<float>",
    )
    assigned, cents = ivf_assignments(ok, n_lists=4)
    assert assigned.count() == 41
    assert len(pq_codebooks(ok, m=2, n_codes=4)) == 2

    bad = spark.createDataFrame(
        base + [(0, [9.0, 9.0, 9.0, 9.0])],  # CONFLICTING duplicate
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="conflicting vectors"):
        ivf_assignments(bad, n_lists=4)
    with _pytest.raises(ValueError, match="conflicting vectors"):
        pq_codebooks(bad, m=2, n_codes=4)


def test_ann_batch_duplicated_corpus_id_lands_one_topk_slot(spark):
    """ADVICE r10 strengthened: the duplicated corpus id's vector is
    built to be EXACTLY parallel to query 7's ([0,1,1] · 2), so it MUST
    rank first in query 7's top-k — the r10 test passed only because
    its duplicate happened to miss the top-5. Across all three batch
    paths (IVF / PQ / IVF-PQ incl. residual): the duplicated id appears
    EXACTLY once per query result, every query still gets k distinct
    rows, and on the PQ paths the doubled (j, d2) ADC terms no longer
    double adist (which silently dropped the doc from the rerank set)."""
    from airflow_kafka_spark_spark.ext.similarity import (
        ann_topk_ivf_batch,
        ann_topk_ivfpq_batch,
        ann_topk_pq_batch,
    )

    base = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)]
    dup = (99, [0.0, 2.0, 2.0])  # cosine 1.0 with query 7's [0,1,1]
    emb = spark.createDataFrame(
        base + [dup, dup],
        "vec_id long, embedding array<float>",
    )

    def check(out, name):
        per_q: dict[int, list[int]] = {}
        for r in out:
            per_q.setdefault(r["query_id"], []).append(r["vec_id"])
        assert sorted(per_q) == [7, 14], (name, sorted(per_q))
        for qid, ids in per_q.items():
            assert len(ids) == 5, (name, qid, ids)
            assert len(set(ids)) == 5, (name, qid, ids)
        assert ids_top1[name] == 99, (name, ids_top1)

    ids_top1 = {}
    for name, fn in {
        "ivf": lambda: ann_topk_ivf_batch(
            emb, [7, 14], k=5, n_lists=4, n_probe=4
        ),
        "pq": lambda: ann_topk_pq_batch(
            emb, [7, 14], k=5, m=3, n_codes=8, rerank_factor=8
        ),
        "ivfpq": lambda: ann_topk_ivfpq_batch(
            emb, [7, 14], k=5, n_lists=4, n_probe=4, m=3, n_codes=8
        ),
        "ivfpq_res": lambda: ann_topk_ivfpq_batch(
            emb, [7, 14], k=5, n_lists=4, n_probe=4, m=3, n_codes=8,
            residual=True,
        ),
    }.items():
        out = fn().collect()
        top = sorted(
            (r for r in out if r["query_id"] == 7),
            key=lambda r: (-r["cosine"], r["vec_id"]),
        )
        ids_top1[name] = top[0]["vec_id"]
        check(out, name)


def test_validate_codes_mixed_provenance_and_null_elements(spark):
    """_validate_codes aggregates over the WHOLE codes frame (ADVICE
    r9: a single-row .first() sample let mixed-provenance frames pass
    and TypeError'd on NULL code elements): one good row plus one row
    from a different quantizer raises, and a NULL code element raises
    the intended ValueError, not TypeError."""
    import pytest as _pytest

    from airflow_kafka_spark_spark.ext.similarity import _validate_codes

    books = [[[0.0], [1.0]], [[0.0], [1.0]]]  # m=2, n_codes=2

    mixed = spark.createDataFrame(
        [(0, [0, 1]), (1, [0, 1, 1])],  # second row: m=3 provenance
        "vec_id long, codes array<int>",
    )
    with _pytest.raises(ValueError, match="different quantizer"):
        _validate_codes(mixed, books, "t")

    with_null = spark.createDataFrame(
        [(0, [0, 1]), (1, [0, None])],
        "vec_id long, codes array<int>",
    )
    with _pytest.raises(ValueError, match="null code value"):
        _validate_codes(with_null, books, "t")

    # a whole-row NULL array (e.g. from a left join against an
    # incomplete encode) slips past size/array_min/exists aggregates —
    # min/max ignore NULLs — and must raise the null error, not pass
    # or masquerade as a quantizer mismatch
    null_row = spark.createDataFrame(
        [(0, [0, 1]), (1, None)],
        "vec_id long, codes array<int>",
    )
    with _pytest.raises(ValueError, match="null code value"):
        _validate_codes(null_row, books, "t")

    out_of_range_late = spark.createDataFrame(
        [(0, [0, 1]), (1, [0, 7])],  # bad value NOT on the first row
        "vec_id long, codes array<int>",
    )
    with _pytest.raises(ValueError, match="outside the codebook range"):
        _validate_codes(out_of_range_late, books, "t")

    empty = spark.createDataFrame([], "vec_id long, codes array<int>")
    _validate_codes(empty, books, "t")  # nothing joins — no error


def test_connected_components_single_edge_and_self_loop(spark):
    """Degenerate graphs must converge in one round, not wedge: a lone
    edge labels both endpoints with the min id; a self-loop is a
    single-node component whose keeper is itself."""
    from airflow_kafka_spark_spark.ext.dedup import connected_components

    pairs = spark.createDataFrame([(7, 3), (9, 9)], "doc1 long, doc2 long")
    got = {
        r["doc_id"]: (r["component"], r["is_keeper"])
        for r in connected_components(pairs).collect()
    }
    assert got == {3: (3, True), 7: (3, False), 9: (9, True)}


def test_connected_components_chain_and_isolated_pair(spark):
    """A 6-node path (needs multiple propagation rounds) plus a separate
    pair: every node must land on its component's min id, keepers are
    exactly the min-id nodes."""
    from airflow_kafka_spark_spark.ext.dedup import connected_components

    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 14), (14, 15), (50, 51)],
        "doc1 long, doc2 long",
    )
    got = {
        r["doc_id"]: (r["component"], r["is_keeper"])
        for r in connected_components(pairs).collect()
    }
    assert got == {
        10: (10, True), 11: (10, False), 12: (10, False),
        13: (10, False), 14: (10, False), 15: (10, False),
        50: (50, True), 51: (50, False),
    }


def test_strip_duplicate_chunks_semantics(spark):
    """A chunk shared by two docs is stripped from BOTH; a doc whose
    every chunk is corpus-duplicated survives with empty clean_text
    (never dropped); unique chunks keep their original order."""
    from airflow_kafka_spark_spark.ext.dedup import strip_duplicate_chunks

    docs = spark.createDataFrame(
        [
            (0, "a b c x y z"),       # chunk "a b c" shared with doc 1
            (1, "a b c"),             # fully duplicated → empty survivor
            (2, "p q r s t u"),       # untouched
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in strip_duplicate_chunks(docs, chunk_words=3).collect()
    }
    assert len(out) == 3
    assert out[0]["clean_text"] == "x y z"
    assert (out[0]["kept_chunks"], out[0]["removed_chunks"]) == (1, 1)
    assert out[1]["clean_text"] == "" and out[1]["kept_chunks"] == 0
    assert out[2]["clean_text"] == "p q r s t u"
    assert out[2]["removed_chunks"] == 0


def test_funnel_stage_ordering(spark):
    """A purchase BEFORE the first view must not count: the funnel is
    strictly ordered per key, first-touch anchored."""
    from airflow_kafka_spark_spark.operators.temporal import funnel_stages

    rows = [
        # user 1: purchase precedes view → reaches view only
        (1, "purchase", "2024-01-01 00:00:00"),
        (1, "view", "2024-01-02 00:00:00"),
        # user 2: full ordered path
        (2, "view", "2024-01-01 00:00:00"),
        (2, "click", "2024-01-02 00:00:00"),
        (2, "purchase", "2024-01-03 00:00:00"),
        # user 3: click at the SAME instant as view → strictly-after fails
        (3, "view", "2024-01-01 00:00:00"),
        (3, "click", "2024-01-01 00:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts_s string")
    ev = ev.selectExpr("user_id", "event_type", "CAST(ts_s AS TIMESTAMP) AS ts")
    row = funnel_stages(ev, ["view", "click", "purchase"]).collect()[0]
    assert row["keys_total"] == 3
    assert row["reached_view"] == 3
    assert row["reached_click"] == 1
    assert row["reached_purchase"] == 1


def test_containment_catches_subset_jaccard_misses(spark):
    """A snippet fully contained in a much larger doc: containment ≈ 1
    in the snippet→page direction while Jaccard stays tiny — the exact
    case the operator exists for."""
    from airflow_kafka_spark_spark.ext.dedup import containment_pairs, jaccard_pairs

    snippet = "alpha beta gamma delta epsilon zeta"
    page = snippet + " " + " ".join(f"tok{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, snippet), (2, page)], "doc_id long, text string"
    )
    cont = {
        (r["doc1"], r["doc2"]): (r["c1_in_2"], r["c2_in_1"])
        for r in containment_pairs(df, threshold=0.9).collect()
    }
    assert (1, 2) in cont
    c12, c21 = cont[(1, 2)]
    assert c12 == 1.0          # every snippet shingle is in the page
    assert c21 < 0.1           # the page is mostly NOT the snippet
    # Jaccard at the same 0.9 bar finds nothing
    assert jaccard_pairs(df, threshold=0.9).count() == 0


def test_zscore_flags_planted_outlier(spark):
    """A single extreme value among near-constant ones must be the only
    flagged row, with a large positive z."""
    from airflow_kafka_spark_spark.ext.outliers import zscore_outliers

    rows = [(i, "a", 10.0 + (i % 3) * 0.01) for i in range(50)] + [(99, "a", 1000.0)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = zscore_outliers(df, threshold=3.0).collect()
    assert [r["event_id"] for r in out] == [99]
    assert out[0]["z"] > 6


def test_mad_outliers_survive_contamination_that_masks_zscore(spark):
    """The reason mad_outliers exists: plant a cluster of extreme values
    big enough to inflate the group's stddev so much that z-score masks
    MODERATE outliers — median/MAD (50% breakdown) still flags them."""
    from airflow_kafka_spark_spark.ext.outliers import mad_outliers, zscore_outliers

    rows = (
        [(i, "a", 10.0 + (i % 5) * 0.01) for i in range(80)]
        + [(200 + i, "a", 25.0) for i in range(4)]  # moderate outliers
        + [(300 + i, "a", 100000.0) for i in range(8)]  # contamination
    )
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    z_ids = {r["event_id"] for r in zscore_outliers(df, threshold=3.0).collect()}
    mad_ids = {r["event_id"] for r in mad_outliers(df, threshold=3.5).collect()}
    moderate = {200, 201, 202, 203}
    extreme = {300 + i for i in range(8)}
    assert not (z_ids & moderate)  # z-score is blinded by the contamination
    assert moderate <= mad_ids and extreme <= mad_ids
    assert not (mad_ids & set(range(80)))  # inliers stay unflagged


def test_mad_outliers_constant_majority_group_emits_nothing(spark):
    """MAD = 0 when a majority of the group is one constant — every row
    would divide by zero; the contract is an empty result, not NULLs."""
    from airflow_kafka_spark_spark.ext.outliers import mad_outliers

    rows = [(i, "a", 5.0) for i in range(20)] + [(99, "a", 500.0)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    assert mad_outliers(df).count() == 0


def test_bm25_ranks_term_dense_doc_first(spark):
    """A doc saturated with the query term outranks one that mentions it
    once amid filler; docs without the term never appear."""
    from airflow_kafka_spark_spark.ext.textstats import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark spark spark spark spark runs fast"),
            (2, "spark " + " ".join(f"word{i}" for i in range(100))),
            (3, "no relevant terms here at all"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(df, ["spark"], k=10).collect()
    assert [r["doc_id"] for r in out] == [1, 2]
    assert out[0]["score"] > out[1]["score"]


def test_tvd_drift_known_values(spark):
    """Hand-computable TVD: window A = 3 click / 1 view, window B =
    1 click / 3 view -> p=(0.75,0.25), q=(0.25,0.75), TVD = 0.5.
    A category absent from one window must still contribute (cnt 0),
    and an empty window yields NULL tvd, not a fake 0."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.ext.drift import tvd_drift

    rows = [
        # cohort 1: the 0.5 case
        *[(1, 0, "click")] * 3, (1, 0, "view"),
        (1, 1, "click"), *[(1, 1, "view")] * 3,
        # cohort 2: identical windows -> TVD 0
        (2, 0, "click"), (2, 0, "view"), (2, 1, "click"), (2, 1, "view"),
        # cohort 3: category 'error' only in window B
        (3, 0, "click"), (3, 1, "error"),
        # cohort 4: empty window B
        (4, 0, "click"),
        # NULL cohort: must form its own group, not vanish
        (None, 0, "click"), (None, 1, "view"),
    ]
    df = spark.createDataFrame(rows, "cohort int, half int, event_type string")
    got = {
        r["cohort"]: r
        for r in tvd_drift(
            df, cohort=F.col("cohort"), split=F.col("half"), category="event_type"
        ).collect()
    }
    assert got[1]["tvd"] == 0.5 and got[1]["tvd_num"] == 16  # |3·4-1·4|+|1·4-3·4|
    assert got[2]["tvd"] == 0.0
    assert got[3]["tvd"] == 1.0  # disjoint supports
    assert got[4]["n_b"] == 0 and got[4]["tvd"] is None
    assert got[None]["tvd"] == 1.0  # NULL cohort kept, disjoint supports


def _chi2_reference(rows):
    """Pure-Python replica of chi2_drift's exact arithmetic sequence
    (BIGINT diffs, double square/divide/scale, floor) — any engine
    implementing the same sequence must agree bit for bit."""
    import math
    from collections import Counter

    out = {}
    for c in {r[0] for r in rows}:
        sub = [r for r in rows if r[0] == c]
        a = Counter(r[2] for r in sub if r[1] == 0)
        b = Counter(r[2] for r in sub if r[1] == 1)
        na, nb = sum(a.values()), sum(b.values())
        n = na + nb
        cats = sorted(set(a) | set(b))
        if na == 0 or nb == 0 or len(cats) <= 1:
            out[c] = (na, nb, len(cats) - 1, None, None)
            continue
        q = 0
        for i in cats:
            ci = a.get(i, 0) + b.get(i, 0)
            for o, nw in ((a.get(i, 0), na), (b.get(i, 0), nb)):
                diff = float(n * o - nw * ci)
                # per-factor double multiplies, left-assoc — the exact
                # sequence the engine and oracle use (a single-rounded
                # float(n*nw*ci) diverges by 1 ulp above 2^53)
                denom = float(n) * float(nw) * float(ci)
                q += math.floor(diff * diff / denom * 1e6)
        out[c] = (na, nb, len(cats) - 1, q, q / 1e6)
    return out


def test_chi2_drift_reference_and_edge_cases(spark):
    """chi2_drift == the exact-sequence Python reference on a
    hand-checkable table; identical windows give 0; an empty window or
    single-category cohort gives NULL with the dof rider."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.ext.drift import chi2_drift

    rows = [
        # cohort 1: classic 2x2 (a-window 30/10, b-window 10/30)
        *[(1, 0, "x")] * 30, *[(1, 0, "y")] * 10,
        *[(1, 1, "x")] * 10, *[(1, 1, "y")] * 30,
        # cohort 2: identical windows -> chi2 == 0
        (2, 0, "x"), (2, 0, "y"), (2, 1, "x"), (2, 1, "y"),
        # cohort 3: empty window B -> NULL
        (3, 0, "x"),
        # cohort 4: one category only -> dof 0 -> NULL
        (4, 0, "x"), (4, 1, "x"),
    ]
    df = spark.createDataFrame(rows, "cohort int, half int, event_type string")
    got = {
        r["cohort"]: r
        for r in chi2_drift(
            df, cohort=F.col("cohort"), split=F.col("half"), category="event_type"
        ).collect()
    }
    ref = _chi2_reference(rows)
    assert set(got) == set(ref)
    for c, (na, nb, dof, q, chi2) in ref.items():
        r = got[c]
        assert (r["n_a"], r["n_b"], r["dof"]) == (na, nb, dof), c
        assert r["chi2_q"] == q and r["chi2"] == chi2, c
    # hand check: 2x2 with margins 40/40, 40/40 -> chi2 = 80*(30*30-10*10)^2
    # / (40*40*40*40) = 20.0 exactly
    assert got[1]["chi2"] == 20.0
    assert got[2]["chi2"] == 0.0
    assert got[3]["chi2"] is None and got[4]["chi2"] is None


def _ks_reference(rows):
    """Pure-Python exact KS: per cohort, D_num = max over data points x
    of |cum_a(x)·N_b − cum_b(x)·N_a| (all integer), ks = D_num/(N_a·N_b)
    with per-factor double casts — the engine/oracle sequence."""
    out = {}
    for c in {r[0] for r in rows}:
        sub = [r for r in rows if r[0] == c and r[1] in (0, 1) and r[2] is not None]
        if not sub:
            continue
        xs = sorted({r[2] for r in sub})
        na = sum(1 for r in sub if r[1] == 0)
        nb = sum(1 for r in sub if r[1] == 1)
        num = 0
        for x in xs:
            ca = sum(1 for r in sub if r[1] == 0 and r[2] <= x)
            cb = sum(1 for r in sub if r[1] == 1 and r[2] <= x)
            num = max(num, abs(ca * nb - cb * na))
        ks = (
            num / (float(na) * float(nb)) if na > 0 and nb > 0 else None
        )
        out[c] = (na, nb, num, ks)
    return out


def test_ks_drift_known_values_and_edges(spark):
    """ks_drift == the exact integer reference on a hand-checkable
    table; identical samples give 0; disjoint supports give 1; an
    empty window gives NULL ks; NULL values and out-of-contract split
    rows are excluded; a NULL cohort survives."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.ext.drift import ks_drift

    rows = [
        # cohort 1: classic shifted samples
        (1, 0, 1.0), (1, 0, 2.0), (1, 0, 3.0),
        (1, 1, 2.5), (1, 1, 3.5), (1, 1, 4.0), (1, 1, 5.0),
        # cohort 2: identical samples -> ks == 0
        (2, 0, 1.0), (2, 0, 2.0), (2, 1, 1.0), (2, 1, 2.0),
        # cohort 3: disjoint supports -> ks == 1
        (3, 0, 1.0), (3, 0, 2.0), (3, 1, 10.0),
        # cohort 4: empty window B -> NULL ks
        (4, 0, 1.0),
        # excluded rows: NULL value, out-of-contract split
        (1, 0, None), (1, None, 9.0), (1, 7, 9.0),
        # NULL cohort with real drift
        (None, 0, 1.0), (None, 1, 2.0),
    ]
    df = spark.createDataFrame(rows, "cohort int, half int, value double")
    got = {
        r["cohort"]: r
        for r in ks_drift(
            df, cohort=F.col("cohort"), split=F.col("half"), value=F.col("value")
        ).collect()
    }
    ref = _ks_reference(rows)
    assert set(got) == set(ref)
    for c, (na, nb, num, ks) in ref.items():
        r = got[c]
        assert (r["n_a"], r["n_b"], r["ks_num"]) == (na, nb, num), c
        assert r["ks"] == ks, c
    # hand check cohort 1: at x=3.0, cum_a=3 of 3, cum_b=1 of 4 -> |3*4-1*3|=9
    assert got[1]["ks_num"] == 9 and got[1]["ks"] == 0.75
    assert got[2]["ks"] == 0.0
    assert got[3]["ks"] == 1.0
    assert got[4]["ks"] is None
    assert got[None]["ks"] == 1.0


def _mw_reference(rows):
    """Pure-Python exact Mann–Whitney: per cohort the DOUBLED U for
    window A via pair counts — u2 = Σ_{a∈A} (2·#{b<a} + #{b==a}) —
    and auc = u2/(2·N_a·N_b) with per-factor double casts (the
    engine/oracle sequence)."""
    out = {}
    for c in {r[0] for r in rows}:
        sub = [r for r in rows if r[0] == c and r[1] in (0, 1) and r[2] is not None]
        if not sub:
            continue
        a = [r[2] for r in sub if r[1] == 0]
        b = [r[2] for r in sub if r[1] == 1]
        na, nb = len(a), len(b)
        u2 = sum(
            2 * sum(1 for y in b if y < x) + sum(1 for y in b if y == x)
            for x in a
        )
        auc = (
            u2 / (2.0 * float(na) * float(nb)) if na > 0 and nb > 0 else None
        )
        out[c] = (na, nb, u2, auc)
    return out


def test_mw_drift_known_values_and_edges(spark):
    """mw_drift == the exact pair-count reference on a hand-checkable
    table; identical samples give auc exactly 0.5; disjoint supports
    give 0 (or 1 flipped); an empty window gives NULL auc; NULL values
    and out-of-contract split rows are excluded; a NULL cohort
    survives."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.ext.drift import mw_drift

    rows = [
        # cohort 1: shifted samples (same fixture as the KS test)
        (1, 0, 1.0), (1, 0, 2.0), (1, 0, 3.0),
        (1, 1, 2.5), (1, 1, 3.5), (1, 1, 4.0), (1, 1, 5.0),
        # cohort 2: identical samples -> auc == 0.5 exactly
        (2, 0, 1.0), (2, 0, 2.0), (2, 1, 1.0), (2, 1, 2.0),
        # cohort 3: disjoint supports, A entirely below B -> auc == 0
        (3, 0, 1.0), (3, 0, 2.0), (3, 1, 10.0),
        # cohort 4: empty window B -> NULL auc
        (4, 0, 1.0),
        # excluded rows: NULL value, out-of-contract split
        (1, 0, None), (1, None, 9.0), (1, 7, 9.0),
        # NULL cohort, A below B
        (None, 0, 1.0), (None, 1, 2.0),
    ]
    df = spark.createDataFrame(rows, "cohort int, half int, value double")
    got = {
        r["cohort"]: r
        for r in mw_drift(
            df, cohort=F.col("cohort"), split=F.col("half"), value=F.col("value")
        ).collect()
    }
    ref = _mw_reference(rows)
    assert set(got) == set(ref)
    for c, (na, nb, u2, auc) in ref.items():
        r = got[c]
        assert (r["n_a"], r["n_b"], r["u2_a"]) == (na, nb, u2), c
        assert r["auc"] == auc, c
    # hand check cohort 1: only a=3.0 beats b=2.5 -> u2 = 2, no ties
    assert got[1]["u2_a"] == 2 and got[1]["auc"] == 2 / 24.0
    assert got[2]["auc"] == 0.5
    assert got[3]["auc"] == 0.0
    assert got[4]["auc"] is None
    assert got[None]["auc"] == 0.0


def test_chi2_drift_ignores_out_of_contract_split(spark):
    """Rows whose split is neither 0 nor 1 (e.g. NULL) are filtered
    out: they create no category (no c_i = 0 divide-by-zero hazard),
    don't inflate dof, and a cohort with only such rows vanishes."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.ext.drift import chi2_drift

    rows = [
        # cohort 1: valid 2x2 plus a NULL-split row carrying an
        # otherwise-unseen category 'z' (would make c_z = 0)
        *[(1, 0, "x")] * 3, (1, 0, "y"),
        (1, 1, "x"), *[(1, 1, "y")] * 3,
        (1, None, "z"),
        # cohort 2: only out-of-contract rows -> no output row
        (2, None, "x"), (2, 7, "y"),
    ]
    df = spark.createDataFrame(rows, "cohort int, half int, event_type string")
    got = {
        r["cohort"]: r
        for r in chi2_drift(
            df, cohort=F.col("cohort"), split=F.col("half"), category="event_type"
        ).collect()
    }
    assert set(got) == {1}
    ref = _chi2_reference([r for r in rows if r[1] in (0, 1)])
    na, nb, dof, q, chi2 = ref[1]
    assert (got[1]["n_a"], got[1]["n_b"], got[1]["dof"]) == (na, nb, dof)
    assert got[1]["chi2_q"] == q and got[1]["chi2"] == chi2
    assert dof == 1  # 'z' never became a category


def test_chi2_drift_overflow_scale(spark):
    """The denominator N·n_w·c_i is computed in double per factor: at
    4.5M rows/cohort the BIGINT triple product (~2.6e19) would wrap
    int64 (bound ~2.1e6 rows) and silently corrupt chi2. Counts are
    exact by construction; the reference replays the engine's exact
    double sequence (per-factor casts, left-assoc multiplies)."""
    import math

    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.ext.drift import chi2_drift

    # window A: 1.5M 'x' + 1.0M 'y'; window B: 0.8M 'x' + 1.2M 'y'
    n_ax, n_ay, n_bx, n_by = 1_500_000, 1_000_000, 800_000, 1_200_000
    n = n_ax + n_ay + n_bx + n_by  # 4.5e6
    b0, b1, b2 = n_ax, n_ax + n_ay, n_ax + n_ay + n_bx
    df = spark.range(n).select(
        F.when(F.col("id") < b1, 0).otherwise(1).alias("half"),
        F.when(
            (F.col("id") < b0) | ((F.col("id") >= b1) & (F.col("id") < b2)), "x"
        ).otherwise("y").alias("event_type"),
    )
    [row] = chi2_drift(
        df, cohort=F.lit(0), split=F.col("half"), category="event_type"
    ).collect()

    na, nb = n_ax + n_ay, n_bx + n_by
    q = 0
    for ci, (oa, ob) in ((n_ax + n_bx, (n_ax, n_bx)), (n_ay + n_by, (n_ay, n_by))):
        for o, nw in ((oa, na), (ob, nb)):
            assert n * nw * ci > 2**63  # the old BIGINT product wraps here
            diff = float(n * o - nw * ci)
            denom = float(n) * float(nw) * float(ci)
            q += math.floor(diff * diff / denom * 1e6)
    assert (row["n_a"], row["n_b"], row["dof"]) == (na, nb, 1)
    assert row["chi2_q"] == q
    assert row["chi2"] == q / 1e6 > 0


def test_merge_upsert_semantics(spark):
    """Update beats target row, insert lands, untouched rows survive."""
    from airflow_kafka_spark_spark.operators.relational import merge_upsert

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    source = spark.createDataFrame(
        [(2, "B"), (4, "D")], "k long, v string"
    )
    out = {r["k"]: r["v"] for r in merge_upsert(target, source, ["k"]).collect()}
    assert out == {1: "a", 2: "B", 3: "c", 4: "D"}


def test_scd2_interval_chain(spark):
    """Intervals chain per key: each valid_to equals the next
    valid_from; exactly one open (current) row per key."""
    from airflow_kafka_spark_spark.operators.relational import scd2_intervals

    df = spark.createDataFrame(
        [(1, 10, "x"), (1, 20, "y"), (1, 30, "z"), (2, 5, "q")],
        "k long, ts long, attr string",
    )
    rows = sorted(
        scd2_intervals(df, ["k"], "ts", ["attr"]).collect(),
        key=lambda r: (r["k"], r["valid_from"]),
    )
    k1 = [r for r in rows if r["k"] == 1]
    assert [(r["valid_from"], r["valid_to"]) for r in k1] == [
        (10, 20), (20, 30), (30, None)
    ]
    assert [r["is_current"] for r in k1] == [False, False, True]
    assert [r for r in rows if r["k"] == 2][0]["is_current"] is True


def test_pq_ann_recall_and_determinism(spark):
    """PQ ADC + rerank must recover most of the exact top-10 (recall@10
    ≥ 0.6 on the fixture corpus) and encode deterministically across
    runs."""
    from airflow_kafka_spark_spark.ext.similarity import (
        ann_topk_pq,
        cosine_topk,
        pq_codebooks,
        pq_encode,
    )
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {r["vec_id"] for r in cosine_topk(emb, 0, k=10).collect()}
    approx = {r["vec_id"] for r in ann_topk_pq(emb, 0, k=10).collect()}
    assert len(exact & approx) >= 6, (exact, approx)

    books = pq_codebooks(emb)
    c1 = pq_encode(emb, books).orderBy("vec_id").limit(20).collect()
    c2 = pq_encode(emb, books).orderBy("vec_id").limit(20).collect()
    assert [r["codes"] for r in c1] == [r["codes"] for r in c2]
    # codes are within range
    m, n_codes = len(books), len(books[0])
    for r in c1:
        assert len(r["codes"]) == m
        assert all(0 <= c < n_codes for c in r["codes"])


def test_semantic_dedup_subset_and_single_cell_exact(spark):
    """SemDeDup pairs are exact-cosine verified: every returned pair is a
    true >=threshold pair with the brute-force score, and with a single
    cluster (n_lists=1) the result IS the brute-force pair set."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.ext.similarity import (
        _dot,
        _norm,
        semantic_dedup_pairs,
    )
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").limit(120)
    a = emb.select(F.col("vec_id").alias("vec1"), F.col("embedding").alias("v1"))
    b = emb.select(F.col("vec_id").alias("vec2"), F.col("embedding").alias("v2"))
    cos = _dot(F.col("v1"), F.col("v2")) / (_norm(F.col("v1")) * _norm(F.col("v2")))
    brute = {
        (r["vec1"], r["vec2"]): r["cosine"]
        for r in a.join(b, F.col("vec1") < F.col("vec2"))
        .select("vec1", "vec2", (F.round(cos, 6) + F.lit(0.0)).alias("cosine"))
        .filter(F.col("cosine") >= 0.3)
        .collect()
    }
    assert brute  # threshold low enough that the fixture has pairs

    single = {
        (r["vec1"], r["vec2"]): r["cosine"]
        for r in semantic_dedup_pairs(emb, threshold=0.3, n_lists=1).collect()
    }
    assert single == brute

    clustered = {
        (r["vec1"], r["vec2"]): r["cosine"]
        for r in semantic_dedup_pairs(emb, threshold=0.3).collect()
    }
    assert set(clustered) <= set(brute)
    for k, v in clustered.items():
        assert v == brute[k], k


def test_pq_encode_edge_batches(spark):
    """Empty Arrow batches must yield an empty result (not IndexError on
    the 2-D slice), and a null embedding must fail with the documented
    non-null contract message rather than a numpy shape error."""
    import pytest
    from pyspark.errors.exceptions.base import PySparkException

    from airflow_kafka_spark_spark.ext.similarity import pq_codebooks, pq_encode
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    books = pq_codebooks(emb)

    empty = spark.createDataFrame([], emb.schema)
    assert pq_encode(empty, books).count() == 0
    # filter pushed below the UDF can also hand it zero-row batches
    assert pq_encode(emb.filter("vec_id < 0"), books).count() == 0

    schema = "vec_id long, embedding array<double>"
    with_null = spark.createDataFrame(
        [(1, [0.0] * len(books) * len(books[0][0])), (2, None)], schema
    )
    with pytest.raises(PySparkException, match="null embedding"):
        pq_encode(with_null, books).collect()


def test_semantic_dedup_recall_on_planted_near_dups(spark):
    """Recall property (VERDICT r4 item 4): plant near-identical pairs
    (eps-perturbed copies, cosine ~ 1 >> threshold) in a random corpus
    and require semantic_dedup_pairs to recover >= 0.85 of them at every
    operating n_lists. Near-identical points share a nearest centroid
    unless they straddle a cell boundary, so recall degrades only with
    boundary mass — which the bound makes measurable instead of
    hand-waved. Precision needs no bound: every emitted pair is
    exact-cosine verified (test above pins emitted == brute-force
    scores)."""
    import numpy as np

    from airflow_kafka_spark_spark.ext.similarity import semantic_dedup_pairs

    rng = np.random.default_rng(7)
    dim, n_base, n_planted = 16, 200, 40
    base = rng.normal(size=(n_base, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    planted = set()
    for j in range(n_planted):
        twin_id = n_base + j
        twin = base[j] + 0.001 * rng.normal(size=dim)
        rows.append((twin_id, [float(x) for x in twin]))
        planted.add((j, twin_id))
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )

    for n_lists in (1, 4, 16):
        found = {
            (r["vec1"], r["vec2"])
            for r in semantic_dedup_pairs(
                emb, threshold=0.95, n_lists=n_lists
            ).collect()
        }
        recall = len(found & planted) / len(planted)
        assert recall >= 0.85, (n_lists, recall)
    # n_lists=1 is brute force: recall must be exactly 1
    found1 = {
        (r["vec1"], r["vec2"])
        for r in semantic_dedup_pairs(emb, threshold=0.95, n_lists=1).collect()
    }
    assert planted <= found1


def test_semantic_dedup_to_components_one_survivor_per_cluster(spark):
    """The SemDeDup dedup ACTION (examples/training_pipeline.py stage
    3c): semantic pairs -> connected_components must keep exactly ONE
    doc per planted semantic cluster and leave isolated docs alone
    (they never appear in the pair set)."""
    import numpy as np

    from airflow_kafka_spark_spark.ext.dedup import connected_components
    from airflow_kafka_spark_spark.ext.similarity import semantic_dedup_pairs
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    dim = 12
    rows, clusters = [], []
    next_id = 0
    for _ in range(3):  # three planted clusters of 4 near-identical docs
        center = rng.normal(size=dim)
        center /= np.linalg.norm(center)
        members = []
        for _ in range(4):
            v = center + 0.0005 * rng.normal(size=dim)
            rows.append((next_id, [float(x) for x in v]))
            members.append(next_id)
            next_id += 1
        clusters.append(members)
    isolated = set()
    for _ in range(20):  # spread singletons
        v = rng.normal(size=dim)
        rows.append((next_id, [float(x) for x in v]))
        isolated.add(next_id)
        next_id += 1
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    pairs = semantic_dedup_pairs(emb, threshold=0.99, n_lists=4).select(
        F.col("vec1").alias("doc1"), F.col("vec2").alias("doc2")
    )
    cc = connected_components(pairs).collect()
    by_doc = {r["doc_id"]: r for r in cc}
    # isolated docs form no pairs, so CC never sees them (nothing dropped)
    assert isolated.isdisjoint(by_doc)
    for members in clusters:
        got = [by_doc[m] for m in members if m in by_doc]
        # the whole planted cluster must be resolved...
        assert len(got) == len(members), members
        # ...to a single component with exactly one keeper
        assert len({r["component"] for r in got}) == 1
        assert sum(1 for r in got if r["is_keeper"]) == 1


def test_incremental_dedup_gate_classifies_planted_docs(spark):
    """Plant controlled docs on both sides of the md5 split and pin each
    status tier: an exact textual copy of a corpus doc -> 'exact', a
    one-word-changed copy -> 'near' (Jaccard >= 0.5 on 3-shingles), an
    unrelated doc -> 'new'. The split itself is the deterministic md5
    bucket, so find ids for each side first."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.ext.dedup import incremental_dedup_gate

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota OMEGA"
    other = "one two three four five six seven eight nine ten"
    # pick ids landing in batch (<20) and corpus (>=20) buckets
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    ids = spark.range(0, 200).select(F.col("id").alias("doc_id"), bucket.alias("b"))
    rows = {r["doc_id"]: r["b"] for r in ids.collect()}
    batch_ids = [i for i, b in sorted(rows.items()) if b < 20]
    corpus_ids = [i for i, b in sorted(rows.items()) if b >= 20]
    assert len(batch_ids) >= 3 and len(corpus_ids) >= 1

    docs = spark.createDataFrame(
        [
            (corpus_ids[0], base),      # standing corpus doc
            (batch_ids[0], base),       # exact copy in the batch
            (batch_ids[1], near),       # near-dup in the batch
            (batch_ids[2], other),      # unrelated batch doc
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r["status"]
        for r in incremental_dedup_gate(docs, batch_pct=20, threshold=0.5).collect()
    }
    assert got == {
        batch_ids[0]: "exact",
        batch_ids[1]: "near",
        batch_ids[2]: "new",
    }


def test_canonical_docs_keep_longest_tie_to_lower_id(spark):
    """Quality-based canonical pick: the longest member wins its
    cluster, equal lengths tie to the lower doc_id, and member counts
    come from the same single window partitioning."""
    from airflow_kafka_spark_spark.ext.dedup import canonical_docs

    comp = spark.createDataFrame(
        [(1, 1, True), (2, 1, False), (3, 1, False), (5, 5, True), (6, 5, False)],
        "doc_id long, component long, is_keeper boolean",
    )
    docs = spark.createDataFrame(
        [
            (1, "short"),
            (2, "the longest document of cluster one"),
            (3, "medium text"),
            (5, "same size"),
            (6, "same size"),
            (7, "not in any cluster"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["component"]: (r["canonical_id"], r["n_chars"], r["n_members"])
        for r in canonical_docs(comp, docs).collect()
    }
    assert rows == {1: (2, 35, 3), 5: (5, 9, 2)}


def test_residual_codebooks_reject_dim_mismatch(spark):
    """pq_codebooks(centroids=...) must refuse coarse centroids whose
    dimension differs from the sampled vectors (an index trained on
    different vectors) instead of broadcasting garbage residuals."""
    import pytest as _pytest

    from airflow_kafka_spark_spark.ext.similarity import pq_codebooks
    from airflow_kafka_spark_spark.sources.files import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    with _pytest.raises(ValueError, match="centroid dim"):
        pq_codebooks(emb, centroids=[[0.0, 1.0], [1.0, 0.0]])


def test_contamination_spans_planted_run(spark):
    """A doc embedding a verbatim benchmark slice reports max_run equal
    to the slice's shingle span; a doc with the same benchmark words
    scattered reports max_run 1; clean docs report 0."""
    from airflow_kafka_spark_spark.ext.textstats import contamination_spans

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            # 10 tokens: positions 3-6 hold the 4-shingle benchmark run
            (0, "one two three alpha beta gamma delta epsilon zeta ten"),
            # benchmark trigram appears once, surrounded by clean text
            (1, "one alpha beta gamma two three four five six seven"),
            (2, "entirely clean text with no benchmark overlap at all"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["n_sh"], r["n_hits"], r["max_run"])
        for r in contamination_spans(docs, bench).collect()
    }
    # doc 0: tokens 4..9 are the 6 benchmark words -> shingles at
    # positions 4..7 (1-based) hit = run of 4
    assert rows[0] == (8, 4, 4), rows
    assert rows[1] == (8, 1, 1), rows
    assert rows[2] == (7, 0, 0), rows  # 9 tokens -> 7 positional shingles


def test_url_dedup_domain_cap_normalization_and_cap(spark):
    """Every normalization rule on handcrafted URLs: scheme + case +
    www. + trailing slash + query + fragment all collapse to one
    normalized URL (keeper = min doc_id); a cdn. subdomain stays a
    DISTINCT url_norm but the SAME registered domain; the per-domain
    cap keeps exactly `cap` keepers in md5(doc_id) order."""
    from airflow_kafka_spark_spark.ext.dedup import url_dedup_domain_cap

    docs = spark.createDataFrame(
        [
            (1, "HTTPS://WWW.Site.COM/A/"),       # case+www+slash
            (2, "http://site.com/a?utm=x"),        # scheme+query
            (3, "https://site.com/a#frag"),        # fragment
            (4, "https://site.com/a"),             # already canonical
            (5, "https://cdn.site.com/a"),         # distinct host, same domain
            (6, "https://site.com/b"),
            (7, "https://other.org/x/"),
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in url_dedup_domain_cap(docs, cap=2).collect()}

    for d in (1, 2, 3, 4):
        assert out[d]["url_norm"] == "site.com/a", out[d]
        assert out[d]["domain"] == "site.com", out[d]
    assert out[1]["is_url_keeper"] == 1  # min doc_id wins
    for d in (2, 3, 4):
        assert out[d]["is_url_keeper"] == 0
        assert out[d]["domain_rank"] is None
        assert out[d]["kept"] == 0
    assert out[5]["url_norm"] == "cdn.site.com/a"  # not over-collapsed
    assert out[5]["domain"] == "site.com"
    assert out[7]["url_norm"] == "other.org/x"
    assert out[7]["domain"] == "other.org"

    # site.com keepers: docs 1, 5, 6 — cap=2 keeps the first two in
    # md5(id) order; md5("6")=1679… < md5("1")=c4ca… < md5("5")=e4da…
    site = sorted(
        (r["domain_rank"], d)
        for d, r in out.items()
        if r["domain"] == "site.com" and r["is_url_keeper"] == 1
    )
    assert site == [(1, 6), (2, 1), (3, 5)], site
    assert out[6]["kept"] == 1 and out[1]["kept"] == 1 and out[5]["kept"] == 0
    assert out[7]["kept"] == 1  # other.org under its own cap


def test_linear_quality_scores_bias_and_threshold_exact(spark):
    """Docs with no vocabulary tokens still get a row (score = bias);
    the kept flag is an EXACT >= threshold comparison (a doc landing
    precisely on the threshold is kept); repeated tokens weigh by
    count."""
    from airflow_kafka_spark_spark.ext.textstats import linear_quality_scores

    docs = spark.createDataFrame(
        [
            (1, "data data query"),   # 2*3 + 2 = 8
            (2, "junk words only"),   # no vocab → bias only
            (3, "data slow"),         # 3 - 1 = 2 → +bias = 7 == threshold
        ],
        "doc_id long, text string",
    )
    weights = [("data", 3), ("query", 2), ("slow", -1)]
    out = {
        r["doc_id"]: (r["quality_score"], r["kept"])
        for r in linear_quality_scores(
            docs, weights, bias=5, threshold=7
        ).collect()
    }
    assert out == {1: (13, 1), 2: (5, 0), 3: (7, 1)}, out


def test_linear_quality_scores_char_ngrams(spark):
    """The char_ngrams leg: within-token substrings of length lo..hi
    join the SAME weight table — a token shorter than n yields no
    n-grams (never a sub-length gram through the sequence clamp), a
    length-n vocabulary word fires BOTH the word leg and its own
    n-gram, and repeated grams weigh by count. (lo, hi) must satisfy
    1 <= lo <= hi."""
    import pytest as _pytest

    from airflow_kafka_spark_spark.ext.textstats import linear_quality_scores

    docs = spark.createDataFrame(
        [
            (1, "scan"),      # 3-grams: sca(7) + can; 4-gram: scan
            (2, "sc"),        # shorter than 3 -> no grams, no vocab
            (3, "agg"),       # word agg(100) + own 3-gram agg(100)
            (4, "scascan x"), # sca twice (pos 1 and 4): 7*2
        ],
        "doc_id long, text string",
    )
    weights = [("agg", 100), ("sca", 7), ("scan", 3)]
    out = {
        r["doc_id"]: r["quality_score"]
        for r in linear_quality_scores(
            docs, weights, bias=0, threshold=0, char_ngrams=(3, 4)
        ).collect()
    }
    # doc 1: word "scan"=3, grams sca=7, scan(4-gram)=3 -> 13
    # doc 4: "scascan" grams include sca@1, sca@4 (7*2), scan@4 (3),
    #        plus 4-gram "scas"? no weight; word "scascan" no weight
    assert out == {1: 13, 2: 0, 3: 200, 4: 17}, out

    with _pytest.raises(ValueError, match="char_ngrams"):
        linear_quality_scores(docs, weights, char_ngrams=(0, 2))
    with _pytest.raises(ValueError, match="char_ngrams"):
        linear_quality_scores(docs, weights, char_ngrams=(3, 2))


def test_language_id_scores_argmax_margin_gate(spark):
    """Multi-class linear language ID (VERDICT r11 item 4): per-doc
    argmax over k BIGINT dot products with ties broken by DECLARED
    language order; margin = best − second-best; no-vocab docs score
    bias-only in every language; kept = predicted-lang-in-keep_langs
    AND margin >= min_margin (exact >=)."""
    import pytest as _pytest

    from airflow_kafka_spark_spark.ext.textstats import language_id_scores

    docs = spark.createDataFrame(
        [
            (1, "der und der x"),       # de: 2*10+8=28, en: 0 -> de m=28-bias
            (2, "the the of"),          # en: 2*7+4=18
            (3, "junk only"),           # no vocab -> biases only
            (4, "the der"),             # en 7+2, de 10+1 -> tie at 11? no
            (5, "shared shared"),       # same weight both langs -> TIE
        ],
        "doc_id long, text string",
    )
    lw = {
        "en": [("the", 7), ("of", 4), ("shared", 5)],
        "de": [("der", 10), ("und", 8), ("shared", 5)],
    }
    out = {
        r["doc_id"]: (r["lang"], r["lang_score"], r["margin"], r["kept"])
        for r in language_id_scores(
            docs, lw, biases={"en": 2, "de": 1}, keep_langs=("de",),
            min_margin=5,
        ).collect()
    }
    # doc 1: en=0+2=2, de=28+1=29 -> de, margin 27, kept (de, >=5)
    assert out[1] == ("de", 29, 27, 1)
    # doc 2: en=18+2=20, de=0+1=1 -> en, margin 19, kept 0 (not in keep)
    assert out[2] == ("en", 20, 19, 0)
    # doc 3: biases only -> en=2 > de=1, margin 1
    assert out[3] == ("en", 2, 1, 0)
    # doc 4: en=7+2=9, de=10+1=11 -> de, margin 2, kept 0 (margin < 5)
    assert out[4] == ("de", 11, 2, 0)
    # doc 5: en=10+2=12, de=10+1=11 -> en (argmax, not tie)
    assert out[5] == ("en", 12, 1, 0)

    # exact tie -> FIRST DECLARED language wins, margin 0
    tie = language_id_scores(
        spark.createDataFrame([(9, "shared")], "doc_id long, text string"),
        lw,
    ).collect()[0]
    assert (tie["lang"], tie["margin"]) == ("en", 0)
    # declared order flipped -> the tie flips
    tie2 = language_id_scores(
        spark.createDataFrame([(9, "shared")], "doc_id long, text string"),
        {"de": lw["de"], "en": lw["en"]},
    ).collect()[0]
    assert tie2["lang"] == "de"

    with _pytest.raises(ValueError, match="2 languages"):
        language_id_scores(docs, {"en": lw["en"]})


def test_language_id_scores_char_ngrams_and_bruteforce(spark):
    """The shared subword expansion rides language ID too: char n-grams
    of every token join the same k-column weight table. Checked against
    a python brute force over a small planted corpus."""
    from airflow_kafka_spark_spark.ext.textstats import language_id_scores

    rows = [
        (1, "fish fingers"),
        (2, "fisch stich"),
        (3, "sh ch x"),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    lw = {
        "en": [("ish", 5), ("nge", 3), ("fish", 11)],
        "de": [("sch", 6), ("ich", 4), ("tich", 2)],
    }
    biases = {"en": 1, "de": 0}

    def brute(text):
        toks = text.lower().split(" ")
        feats = list(toks)
        for n in (3, 4):
            for t in toks:
                feats += [t[i : i + n] for i in range(len(t) - n + 1)]
        scores = {}
        for lang in lw:
            scores[lang] = biases[lang] + sum(
                w for tok, w in lw[lang] for f in feats if f == tok
            )
        best = max(scores.values())
        lang = next(k for k in lw if scores[k] == best)
        second = sorted(scores.values())[-2]
        return lang, best, best - second

    got = {
        r["doc_id"]: (r["lang"], r["lang_score"], r["margin"])
        for r in language_id_scores(
            docs, lw, biases=biases, char_ngrams=(3, 4)
        ).collect()
    }
    want = {i: brute(t) for i, t in rows}
    assert got == want, (got, want)


def test_language_id_400_languages_compiles_and_scores(spark):
    """Pin the r12 staged-select fix AT THE SCALE IT MATTERS: a
    400-language model (fastText's lid.176 ships 176; headroom 2x).
    Before the fix, best/second/pick built from the raw coalesce+bias
    expressions inlined the k-term score battery O(k²) times into one
    Project — measured during the fix's verification: the old shape
    survives k=50 (codegen subexpression elimination) but planned
    2.4x slower at k=200 and DIED at k=400 (the serialized O(k²)
    expression tree OOMs task deserialization), while the staged shape
    ran k=400 in 5 s. `spark.sql.codegen.fallback=false` additionally
    turns any silent interpreted fallback into an error; scores are
    cross-checked against a python brute force."""
    from airflow_kafka_spark_spark.ext.textstats import language_id_scores

    k = 400
    langs = [f"l{i:03d}" for i in range(k)]
    lw = {
        lang: [(f"m{i}a", 90 + i), (f"m{i}b", 40 + i)]
        for i, lang in enumerate(langs)
    }
    biases = {lang: k - i for i, lang in enumerate(langs)}
    rows = [
        (0, "m0a m0a m7b plain"),      # l000 dominates, l007 second
        (1, f"m{k-1}a m{k-1}b m{k-1}b"),  # last language everywhere
        (2, "novocab only"),           # bias-only -> l000 (bias k)
        (3, "m25a m26a"),              # close race between l025/l026
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def brute(text):
        toks = text.lower().split(" ")
        scores = {
            lang: biases[lang]
            + sum(w for tok, w in lw[lang] for t in toks if t == tok)
            for lang in langs
        }
        best = max(scores.values())
        lang = next(k for k in langs if scores[k] == best)
        second = sorted(scores.values())[-2]
        return lang, best, best - second

    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        got = {
            r["doc_id"]: (r["lang"], r["lang_score"], r["margin"])
            for r in language_id_scores(docs, lw, biases=biases).collect()
        }
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
    want = {i: brute(t) for i, t in rows}
    assert got == want, (got, want)


def test_language_id_entry_recovers_planted_languages(spark):
    """The catalog entry's planted-marker fixture: every marker-bearing
    doc's predicted language equals the documents table's ground-truth
    `lang` column (the markers dominate the shared-vocab noise
    weights); the doc_id%10==7 holdout flows through the no-marker
    path and still yields a row."""
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.plans.catalog import CATALOG
    from airflow_kafka_spark_spark.sources.files import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    pred = CATALOG["language_id"].fn(spark, sf)
    joined = pred.join(
        docs.select("doc_id", F.col("lang").alias("truth")), "doc_id"
    )
    marked = joined.filter((F.col("doc_id") % 10) != 7)
    n_marked = marked.count()
    assert n_marked > 0
    assert marked.filter(F.col("lang") != F.col("truth")).count() == 0
    assert joined.count() == docs.count()  # holdout rows present too


def test_unicode_normalize_text_classes(spark):
    """Unicode normalization (VERDICT r11 item 5): invisibles removed
    (even mid-token — a ZWSP inside a word must not become a space),
    controls stripped, every Unicode space variant collapses to one
    ASCII space, typographic quotes/dashes/ellipsis canonicalized,
    runs collapsed + trimmed; NULL passes through; combining sequences
    pass through UNTOUCHED under nfc=False."""
    from airflow_kafka_spark_spark.ext.textstats import unicode_normalize_text

    rows = [
        (1, "a\u200bb\u200c c\u00add"),           # invisibles mid-token
        (2, "x\x07\x01y\x9fz"),                    # C0 + C1 controls
        (3, "a\u00a0b\u2003c\u3000d\te\nf"),      # space zoo
        (4, "\u2018q\u2019 \u201cd\u201d \u2013 \u2014 \u2026"),
        (5, "  lots   of    runs  "),
        (6, None),
        (7, "cafe\u0301 stays"),                    # combining acute
        (8, "\ufeffBOM lead"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["text_norm"], r["raw_len"], r["norm_len"])
        for r in unicode_normalize_text(docs).collect()
    }
    assert out[1] == ("ab cd", 8, 5)
    assert out[2] == ("xyz", 6, 3)
    assert out[3] == ("a b c d e f", 11, 11)
    assert out[4] == ("'q' \"d\" - - ...", 13, 15)
    assert out[5] == ("lots of runs", 21, 12)
    assert out[6] == (None, None, None)
    assert out[7][0] == "cafe\u0301 stays"          # NOT composed
    assert out[8] == ("BOM lead", 9, 8)


def test_unicode_normalize_nfc_leg_matches_python_and_duckdb(spark):
    """The nfc=True slow-path leg (Arrow pandas UDF over unicodedata):
    combining sequences compose BEFORE the chain, matching both
    CPython's NFC and DuckDB's nfc_normalize byte for byte on the
    planted fixture."""
    import duckdb
    import unicodedata

    from airflow_kafka_spark_spark.ext.textstats import unicode_normalize_text

    rows = [
        (1, "cafe\u0301 composes"),
        (2, "already \u00e9 composed"),
        (3, "A\u030a ring"),            # A + combining ring -> U+00C5
        (4, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["text_norm"]
        for r in unicode_normalize_text(docs, nfc=True).collect()
    }
    for i, t in rows:
        want = None if t is None else unicodedata.normalize("NFC", t)
        assert got[i] == want, (i, got[i], want)
        if t is not None:
            duck = duckdb.sql(
                "select nfc_normalize(?)", params=[t]
            ).fetchone()[0]
            assert got[i] == duck, (i, got[i], duck)
    assert got[1] == "caf\u00e9 composes" and got[3] == "\u00c5 ring"


def test_vocab_coverage_includes_crossing_word(spark):
    """The smallest set REACHING coverage includes the word that
    crosses the target (r12 review class: filtering cum <= coverage
    returned a set that never reached it, and a head word with share
    above the target answered 'how many words cover 90%?' with 0)."""
    from airflow_kafka_spark_spark.ext.textstats import vocab_coverage

    docs = spark.createDataFrame(
        [(1, "a a a a a b b b c c")], "doc_id long, text string"
    )
    rows = vocab_coverage(docs, coverage=0.9).orderBy("rank").collect()
    assert [(r["word"], r["cum_share"]) for r in rows] == [
        ("a", 0.5),
        ("b", 0.8),
        ("c", 1.0),  # the crossing word IS in the set
    ]
    head = spark.createDataFrame(
        [(1, " ".join(["a"] * 19 + ["b"]))], "doc_id long, text string"
    )
    got = vocab_coverage(head, coverage=0.9).collect()
    assert len(got) == 1 and got[0]["word"] == "a"  # 1 word, not 0


def test_dsir_importance_empty_target_raises(spark):
    """An empty target subset has no importance distribution: the gate
    must raise loudly (r12 review class: the BIGINT div-by-zero under
    non-ANSI Spark silently NULLed every score and kept flag)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from airflow_kafka_spark_spark.ext.textstats import dsir_importance

    docs = spark.createDataFrame(
        [(1, "some words here"), (2, "more words")],
        "doc_id long, text string",
    )
    with _pytest.raises(ValueError, match="empty target"):
        dsir_importance(docs, F.lit(False))


def test_query_terms_and_vocab_lowercase_on_entry(spark):
    """tokens() lowercases all text, so mixed-case caller input was
    silently dead (r12 review class): a 'SPARK' query term matched
    nothing, a ('SPARK', w) model row never joined. Both surfaces now
    lowercase on entry and must score identically to lowercase
    input."""
    from airflow_kafka_spark_spark.ext.textstats import (
        bm25_topk,
        linear_quality_scores,
    )

    docs = spark.createDataFrame(
        [(1, "spark shuffles data fast"), (2, "other words entirely")],
        "doc_id long, text string",
    )
    lo = {(r["doc_id"], r["score"]) for r in bm25_topk(docs, ["spark"]).collect()}
    up = {(r["doc_id"], r["score"]) for r in bm25_topk(docs, ["SPARK"]).collect()}
    assert lo == up and lo  # non-empty and identical
    s_lo = {
        r["doc_id"]: r["quality_score"]
        for r in linear_quality_scores(docs, [("spark", 10)]).collect()
    }
    s_up = {
        r["doc_id"]: r["quality_score"]
        for r in linear_quality_scores(docs, [("SPARK", 10)]).collect()
    }
    assert s_lo == s_up and s_lo[1] == 10


def test_pack_token_shards_rejects_nonpositive_budget(spark):
    import pytest as _pytest

    from airflow_kafka_spark_spark.ext.textstats import pack_token_shards

    docs = spark.createDataFrame(
        [(1, "en", "words")], "doc_id long, lang string, text string"
    )
    for bad in (0, -5):
        with _pytest.raises(ValueError, match="budget must be > 0"):
            pack_token_shards(docs, budget=bad)


def test_contamination_ignores_empty_benchmark_shingles(spark):
    """A NULL/empty benchmark row shingles to [''] — not benchmark
    CONTENT (r12 review class: one such row marked every NULL/empty
    corpus doc 100% contaminated and span-dropped it — the NULL-
    pooling data-loss class). The bench set now excludes the empty
    shingle in both the fraction and span paths."""
    from airflow_kafka_spark_spark.ext.textstats import (
        contamination_scores,
        contamination_spans,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "real words in here now")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, None), (10, ""), (11, "real words in here also")],
        "doc_id long, text string",
    )
    frac = {r["doc_id"]: r for r in contamination_scores(docs, bench).collect()}
    assert frac[1]["n_hits"] == 0 and frac[1]["contamination"] == 0.0
    assert frac[2]["n_hits"] == 0 and frac[2]["contamination"] == 0.0
    assert frac[3]["n_hits"] > 0  # real overlap still detected
    spans = {r["doc_id"]: r for r in contamination_spans(docs, bench).collect()}
    assert spans[1]["max_run"] == 0 and spans[2]["max_run"] == 0
    assert spans[3]["max_run"] > 0


def test_charlm_scores_rank_typical_over_rare_bigrams(spark):
    """Sanity ordering on the floor-quantized charlm score (the
    round→decimal quantization was the decimal_sum tie-prone class;
    the score semantics must survive the floor rewrite): a doc made of
    corpus-typical bigrams outscores a doc of corpus-rare ones."""
    from airflow_kafka_spark_spark.ext.textstats import charlm_scores

    docs = spark.createDataFrame(
        [
            (1, "banana banana banana"),
            (2, "banana bandana cabana"),
            (3, "qzxqjv wkqzx"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["char_lm_score"] for r in charlm_scores(docs).collect()}
    assert out[1] > out[3] and out[2] > out[3]


def test_exact_duplicates_null_text_is_not_a_duplicate_group(spark):
    """NULL text carries no dedup evidence (r12 review class): each
    NULL-text doc must be its OWN group with itself as keeper — the
    naive groupBy pooled them all under one NULL fingerprint, and a
    keeper filter then silently discarded every null-text doc but
    one."""
    from airflow_kafka_spark_spark.ext.dedup import exact_duplicates

    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, None), (4, None), (5, None)],
        "doc_id long, text string",
    )
    rows = exact_duplicates(docs).collect()
    keepers = {r["keep_doc_id"]: r["n_copies"] for r in rows}
    assert keepers == {1: 2, 3: 1, 4: 1, 5: 1}
    assert all(r["fingerprint"] is None for r in rows if r["keep_doc_id"] >= 3)


def test_minhash_lsh_rejects_bad_band_split(spark):
    """bands must evenly divide num_hashes (r12 review class): a
    0-rows-per-band split makes every band key a constant — the
    candidate join silently degenerates to all-pairs O(n²)."""
    import pytest as _pytest

    from airflow_kafka_spark_spark.ext.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="evenly divide"):
        minhash_lsh_pairs(docs, num_hashes=8, bands=16)
    with _pytest.raises(ValueError, match="evenly divide"):
        minhash_lsh_pairs(docs, num_hashes=8, bands=3)


def test_simhash_md5_rejects_n_bits_over_32(spark):
    """Only 32 md5 hash bits exist: n_bits=64 would silently produce
    fingerprints whose top 32 bits are zero for every doc."""
    import pytest as _pytest

    from airflow_kafka_spark_spark.ext.dedup import simhash_md5

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError, match=r"\[1, 32\]"):
        simhash_md5(docs, n_bits=64)


def test_strip_duplicate_chunks_null_text_numeric_contract(spark):
    """A NULL-text doc must survive with clean_text '' and ZERO counts
    (r12 review class: split(NULL) gave NULL total_chunks and
    removed_chunks = NULL - 0 = NULL, breaking sum()/filter gates)."""
    from airflow_kafka_spark_spark.ext.dedup import strip_duplicate_chunks

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in strip_duplicate_chunks(docs, chunk_words=3).collect()}
    assert out[3]["clean_text"] == ""
    assert (out[3]["kept_chunks"], out[3]["removed_chunks"]) == (0, 0)
    # the duplicated docs still lose their corpus-duplicated chunks
    assert out[1]["removed_chunks"] == 2 and out[1]["clean_text"] == ""


def test_point_paths_raise_on_missing_query_id(spark):
    """cosine_topk and ann_topk_bucketed must fail fast on a missing
    query_vec_id like every other point path (r12 review class: they
    silently returned an EMPTY frame, which reads as 'no neighbors'
    instead of 'bad id')."""
    import pytest as _pytest

    from airflow_kafka_spark_spark.ext.similarity import (
        ann_topk_bucketed,
        cosine_topk,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="cosine_topk: no row"):
        cosine_topk(emb, query_vec_id=999)
    with _pytest.raises(ValueError, match="ann_topk_bucketed: no row"):
        ann_topk_bucketed(emb, query_vec_id=999)


def test_ivfpq_batch_rejects_stale_residual_codes(spark):
    """Residual codes carry the cell ids they were encoded under: a
    codes frame whose list_id disagrees with the index's assignments
    silently drops candidates from the ADC join (r12 review class) —
    the bounded provenance sample must raise instead."""
    import pytest as _pytest

    from airflow_kafka_spark_spark.ext.similarity import (
        ann_topk_ivfpq_batch,
        ivf_assignments,
        pq_codebooks,
        pq_encode_residual,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), 1.0, 0.5]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    from pyspark.sql import functions as F

    index = ivf_assignments(emb, n_lists=4)
    books = pq_codebooks(emb, m=2, n_codes=4, centroids=index[1])
    good = pq_encode_residual(emb, books, index)
    # sanity: matching provenance serves fine
    assert (
        ann_topk_ivfpq_batch(
            emb, [0], k=3, index=index, codebooks=books, codes=good,
            residual=True,
        ).count()
        > 0
    )
    stale = good.withColumn(
        "list_id", ((F.col("list_id") + 1) % 4).cast(good.schema["list_id"].dataType)
    )
    with _pytest.raises(ValueError, match="different/stale"):
        ann_topk_ivfpq_batch(
            emb, [0], k=3, index=index, codebooks=books, codes=stale,
            residual=True,
        )


def test_pii_redact_classes(spark):
    """PII redaction (upgraded r12): each category redacts to its
    typed placeholder with a per-stage replaced count; near-misses
    (version strings, decimal times, TLD-less a@b, sub-6-digit runs)
    survive untouched; an email whose host LOOKS like an IP redacts as
    ONE email (sequential order); an overlong digit run is NOT a
    truncated phone but IS an account-shaped <NUM>; NULL passes
    through as NULL."""
    from airflow_kafka_spark_spark.ext.textstats import pii_redact

    rows = [
        (1, "mail john+tag@ex.co or admin@sub.example.org today"),
        (2, "host 192.168.0.1:8080 and bare 1.2.3.4. done"),
        (3, "call +84901234567 or (415) 555-0000, or 555-123-4567"),
        (4, "dotted 555.123.4567 works too"),
        (5, "v1.2.3 at 12.30 see a@b. id +12345678901234567890 x"),
        (6, "mail bob@10.0.0.1.com please"),  # email wins over IP
        (7, "five groups 1.2.3.4.5 end"),
        (8, "acct 900123456 but 12345 stays"),
        (9, None),
        # the two DOCUMENTED over-redaction classes (excluding them
        # needs lookbehind, unavailable in the RE2 ∩ Java subset):
        (10, "release 1.2.3.4 shipped"),   # 4-part version is IP-shaped
        (11, "pi is 3.14159265 ok"),       # >=6-digit fraction -> <NUM>
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (
            r["text_redacted"],
            r["n_email"],
            r["n_ip"],
            r["n_phone"],
            r["n_longnum"],
        )
        for r in pii_redact(docs).collect()
    }
    assert out[1] == ("mail <EMAIL> or <EMAIL> today", 2, 0, 0, 0)
    assert out[2] == ("host <IP>:8080 and bare <IP>. done", 0, 2, 0, 0)
    assert out[3] == ("call <PHONE> or <PHONE>, or <PHONE>", 0, 0, 3, 0)
    assert out[4] == ("dotted <PHONE> works too", 0, 0, 1, 0)
    # a 20-digit run after '+' is an id, not a phone — \b anchoring
    # disqualifies the whole phone match instead of truncating it to
    # 15 digits; the longnum catch-all then claims the bare run
    assert out[5] == (
        "v1.2.3 at 12.30 see a@b. id +<NUM> x", 0, 0, 0, 1,
    )
    assert out[6] == ("mail <EMAIL> please", 1, 0, 0, 0)
    # leftmost-first: the first four octets match, the fifth survives
    assert out[7] == ("five groups <IP>.5 end", 0, 1, 0, 0)
    assert out[8] == ("acct <NUM> but 12345 stays", 0, 0, 0, 1)
    assert out[9] == (None, None, None, None, None)
    assert out[10] == ("release <IP> shipped", 0, 1, 0, 0)
    assert out[11] == ("pi is 3.<NUM> ok", 0, 0, 0, 1)


def test_pii_redact_matches_duckdb_on_adversarial_strings(spark):
    """The redaction chain must be byte-identical between Spark (Java
    regex) and DuckDB (RE2) on the boundary-heavy strings — the same
    cross-engine verification html_extract/unicode_normalize banked.
    Patterns are imported, not retyped, so a pattern edit re-verifies
    itself here before the sf0.01 oracle ever sees it."""
    import duckdb

    from airflow_kafka_spark_spark.ext.textstats import (
        _PII_EMAIL_RE,
        _PII_IPV4_RE,
        _PII_LONGNUM_RE,
        _PII_PHONE_RE,
        pii_redact,
    )

    texts = [
        "mail john+tag@ex.co or admin@sub.example.org today",
        "host 192.168.0.1:8080 and bare 1.2.3.4. done",
        "call +84901234567 or (415) 555-0000, or 555-123-4567",
        "dotted 555.123.4567 works too",
        "v1.2.3 at 12.30 see a@b. id +12345678901234567890 x",
        "mail bob@10.0.0.1.com please",
        "five groups 1.2.3.4.5 end",
        "(415)555-0000 tight parens",
        "+1234567 shortest e164, +123456 too short",
        "edge 999.999.999.999 is still shaped like an IP",
        "a.b@c.d.ee dots everywhere",
        "wrap (1.2.3.4) and [5.6.7.8] in brackets",
        "card 4111111111111111 acct 900123 pin 12345",
        "mixed a1234567b embedded run is not word-bounded",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["text_redacted"],
            r["n_email"],
            r["n_ip"],
            r["n_phone"],
            r["n_longnum"],
        )
        for r in pii_redact(docs).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        want = con.execute(
            f"""
            WITH a AS (SELECT
                CAST(length(regexp_extract_all(?, '{_PII_EMAIL_RE}')) AS BIGINT) AS n_email,
                regexp_replace(?, '{_PII_EMAIL_RE}', '<EMAIL>', 'g') AS t1),
            b AS (SELECT n_email,
                CAST(length(regexp_extract_all(t1, '{_PII_IPV4_RE}')) AS BIGINT) AS n_ip,
                regexp_replace(t1, '{_PII_IPV4_RE}', '<IP>', 'g') AS t2 FROM a),
            c AS (SELECT n_email, n_ip,
                CAST(length(regexp_extract_all(t2, '{_PII_PHONE_RE}')) AS BIGINT) AS n_phone,
                regexp_replace(t2, '{_PII_PHONE_RE}', '<PHONE>', 'g') AS t3 FROM b)
            SELECT regexp_replace(t3, '{_PII_LONGNUM_RE}', '<NUM>', 'g'),
                n_email, n_ip, n_phone,
                CAST(length(regexp_extract_all(t3, '{_PII_LONGNUM_RE}')) AS BIGINT)
            FROM c
            """,
            [t, t],
        ).fetchone()
        assert got[i] == want, (i, t, got[i], want)


def test_url_dedup_missing_url_keep_exempt_contract(spark):
    """Docs with NULL / blank / normalizes-to-nothing URLs carry no
    dedup evidence: each passes through KEPT as its own keeper with
    NULL url_norm/domain/rank (the naive NULL window partition would
    silently keep ONE of them all). Single-label hosts are their own
    registered domain, not a shared '' pseudo-domain."""
    from airflow_kafka_spark_spark.ext.dedup import url_dedup_domain_cap

    docs = spark.createDataFrame(
        [
            (1, None),                      # NULL url
            (2, None),                      # NULL url — must NOT dedup vs 1
            (3, "   "),                     # blank
            (4, "https://"),                # normalizes to nothing
            (5, "http://localhost/admin"),  # single-label host
            (6, "http://intranet/wiki"),    # another single-label host
            (7, "https://site.com/a"),
            (8, "https://site.com/a?x=1"),  # real duplicate of 7
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in url_dedup_domain_cap(docs, cap=5).collect()}

    for d in (1, 2, 3, 4):  # evidence-free: kept, own keeper, all NULLs
        r = out[d]
        assert (r["url_norm"], r["domain"], r["domain_rank"]) == (None, None, None), r
        assert r["is_url_keeper"] == 1 and r["kept"] == 1, r

    assert out[5]["domain"] == "localhost"
    assert out[6]["domain"] == "intranet"   # not pooled with 5
    assert out[5]["kept"] == 1 and out[6]["kept"] == 1

    assert out[7]["is_url_keeper"] == 1 and out[7]["kept"] == 1
    assert out[8]["is_url_keeper"] == 0 and out[8]["kept"] == 0  # real dup


def test_url_dedup_public_suffix_registered_domains(spark):
    """The bundled public-suffix tiers (VERDICT r10 item 1): under a
    2-label public suffix the registered domain is the last THREE
    labels — a.co.uk and b.co.uk are DISTINCT domains (the
    last-two-labels regex pooled them all into 'co.uk', silently
    capping away whole ccTLD corpora) and cdn.a.co.uk groups under
    a.co.uk; under a 3-label suffix (k12.ca.us) it is the last FOUR;
    plain TLDs keep the last-two-labels answer; a host that IS a bare
    public suffix stays its own domain."""
    from airflow_kafka_spark_spark.ext.dedup import url_dedup_domain_cap

    docs = spark.createDataFrame(
        [
            (1, "https://a.co.uk/x"),
            (2, "https://b.co.uk/x"),
            (3, "https://cdn.a.co.uk/y"),
            (4, "https://www.a.co.uk/z"),          # www. stripped first
            (5, "https://school.k12.ca.us/home"),
            (6, "https://www.district.k12.ca.us/home"),
            (7, "https://cdn.site.com/a"),          # plain TLD default
            (8, "https://co.uk/odd"),               # bare suffix host
            (9, "https://shop.example.com.au/p"),
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in url_dedup_domain_cap(docs, cap=9).collect()}

    assert out[1]["domain"] == "a.co.uk"
    assert out[2]["domain"] == "b.co.uk"            # NOT pooled with 1
    assert out[3]["domain"] == "a.co.uk"            # subdomain groups
    assert out[4]["domain"] == "a.co.uk"
    assert out[5]["domain"] == "school.k12.ca.us"   # 3-label suffix tier
    assert out[6]["domain"] == "district.k12.ca.us"
    assert out[7]["domain"] == "site.com"
    assert out[8]["domain"] == "co.uk"              # own domain, not ''
    assert out[9]["domain"] == "example.com.au"
    assert all(r["kept"] == 1 for r in out.values())  # all distinct URLs


def test_url_dedup_psl_private_section_platform_domains(spark):
    """PSL PRIVATE section (VERDICT r11 item 2): user sites on a
    hosting platform are DISTINCT registered domains —
    alice.github.io ≠ bob.github.io (pre-fix both pooled under one
    capped 'github.io' pseudo-domain, silently discarding most
    platform-hosted content); a subdomain still groups under its user
    site; 3-label private suffixes (s3.amazonaws.com,
    blogspot.co.uk) yield 4-label domains; a platform apex host stays
    its own domain."""
    from airflow_kafka_spark_spark.ext.dedup import url_dedup_domain_cap

    docs = spark.createDataFrame(
        [
            (1, "https://alice.github.io/p"),
            (2, "https://bob.github.io/p"),
            (3, "https://cdn.alice.github.io/img"),
            (4, "https://www.alice.github.io/about"),  # www. stripped
            (5, "https://mysite.herokuapp.com/api"),
            (6, "https://data.s3.amazonaws.com/key"),
            (7, "https://assets.data.s3.amazonaws.com/key"),
            (8, "https://alice.blogspot.co.uk/post"),
            (9, "https://github.io/odd"),              # bare suffix host
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in url_dedup_domain_cap(docs, cap=9).collect()}

    assert out[1]["domain"] == "alice.github.io"
    assert out[2]["domain"] == "bob.github.io"        # NOT pooled with 1
    assert out[3]["domain"] == "alice.github.io"      # subdomain groups
    assert out[4]["domain"] == "alice.github.io"
    assert out[5]["domain"] == "mysite.herokuapp.com"
    assert out[6]["domain"] == "data.s3.amazonaws.com"  # 3-label private
    assert out[7]["domain"] == "data.s3.amazonaws.com"
    assert out[8]["domain"] == "alice.blogspot.co.uk"
    assert out[9]["domain"] == "github.io"            # own domain, not ''
    assert all(r["kept"] == 1 for r in out.values())


def test_url_dedup_ports_userinfo_and_ipv6_hosts(spark):
    """r12 review class: an explicit :port must NOT split a domain into
    its own capped pseudo-domain (the host for domain purposes is
    portless, while the port stays in url_norm — a non-default port is
    a distinct service/URL); userinfo is credentials, not identity —
    it strips from url_norm entirely, so user:pw@ variants collapse
    with their bare URL; an @ in the QUERY is untouched by that strip;
    bracketed IPv6 literals stay whole as their own domains."""
    from airflow_kafka_spark_spark.ext.dedup import url_dedup_domain_cap

    docs = spark.createDataFrame(
        [
            (1, "https://ex.com/a"),
            (2, "https://ex.com:8080/a"),       # distinct URL, same domain
            (3, "http://user:pw@ex.com/a"),     # collapses into doc 1
            (4, "https://ex.com/m?mail=a@b.c"), # @ in query: host survives
            (5, "http://[2001:db8::1]:8080/x"), # IPv6 + port
            (6, "https://a.co.uk:443/p"),       # port on a PSL ccTLD host
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in url_dedup_domain_cap(docs, cap=9).collect()}
    assert out[1]["url_norm"] == "ex.com/a" and out[1]["domain"] == "ex.com"
    # port kept in the URL identity, dropped from the domain
    assert out[2]["url_norm"] == "ex.com:8080/a"
    assert out[2]["domain"] == "ex.com"
    # credentials stripped -> same url_norm as doc 1, doc 1 keeps (min id)
    assert out[3]["url_norm"] == "ex.com/a"
    assert (out[1]["is_url_keeper"], out[3]["is_url_keeper"]) == (1, 0)
    # the userinfo strip must not eat 'ex.com/m?mail=' up to the @
    assert out[4]["url_norm"] == "ex.com/m" and out[4]["domain"] == "ex.com"
    assert out[5]["domain"] == "[2001:db8::1]"
    assert out[6]["domain"] == "a.co.uk"  # PSL tier applies to the portless host


def test_url_dedup_empty_host_cap_exempt_still_dedups(spark):
    """ADVICE r10: a URL whose host normalizes to EMPTY
    ('https:///path' -> url_norm '/path') carries no domain evidence —
    domain is NULL and the row is CAP-exempt with a per-doc window key
    (no shared '' pseudo-domain pool) — but URL dedup still applies:
    two docs with the same hostless URL keep only the min id."""
    from airflow_kafka_spark_spark.ext.dedup import url_dedup_domain_cap

    docs = spark.createDataFrame(
        [
            (1, "https:///path"),
            (2, "https:///path?q=1"),   # same hostless url_norm
            (3, "https:///other"),
            (4, "https://site.com/a"),
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in url_dedup_domain_cap(docs, cap=1).collect()}

    for d in (1, 2, 3):
        assert out[d]["url_norm"] is not None, out[d]
        assert out[d]["domain"] is None, out[d]
        assert out[d]["domain_rank"] is None, out[d]
    assert out[1]["is_url_keeper"] == 1 and out[1]["kept"] == 1
    assert out[2]["is_url_keeper"] == 0 and out[2]["kept"] == 0  # dedups!
    assert out[3]["is_url_keeper"] == 1 and out[3]["kept"] == 1
    assert out[4]["kept"] == 1


def test_url_dedup_exempt_keys_immune_to_sentinel_shaped_urls(spark):
    """The exempt-row window keys are (is-exempt, value) column pairs,
    not sentinel-prefixed strings: a corrupt URL that literally
    contains the old "\\x00nourl:<id>" byte pattern (normalization
    strips nothing inside the string) must NOT pool with the url-less
    doc of that id — and two such corrupt URLs still dedup against
    each other as ordinary equal url_norms."""
    from airflow_kafka_spark_spark.ext.dedup import url_dedup_domain_cap

    docs = spark.createDataFrame(
        [
            (1, None),                # exempt: per-doc key from uid "1"
            (2, "\x00nourl:1"),       # corrupt URL shaped like the old key
            (3, "\x00nourl:1"),       # its genuine duplicate
            (4, "1"),                 # url_norm "1" == uid of doc 1
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in url_dedup_domain_cap(docs, cap=5).collect()}

    assert out[1]["url_norm"] is None and out[1]["kept"] == 1
    assert out[2]["url_norm"] == "\x00nourl:1"
    assert out[2]["is_url_keeper"] == 1 and out[2]["kept"] == 1
    assert out[3]["is_url_keeper"] == 0 and out[3]["kept"] == 0  # real dup
    # url_norm "1" must not collide with exempt doc 1's uid-keyed group
    assert out[4]["is_url_keeper"] == 1 and out[4]["kept"] == 1


def test_url_dedup_salted_bit_identical_to_unsalted(spark):
    """The salted two-phase domain rank (VERDICT r10 item 2) is
    BIT-identical to the single-window path on a skew-shaped fixture —
    one hot domain holding most rows, URL duplicates, a second domain,
    ccTLD hosts, NULL/blank/hostless URLs — across several salt counts
    (including P > distinct md5 prefixes and P = 1, the degenerate
    single-bucket case)."""
    from airflow_kafka_spark_spark.ext.dedup import url_dedup_domain_cap

    rows = []
    for i in range(60):
        rows.append((i, f"https://hot.com/page/{i}"))          # hot domain
    rows += [
        (100, "https://hot.com/page/0"),                       # URL dup
        (101, "HTTP://WWW.HOT.COM/page/1/"),                   # URL dup
        (102, "https://cold.org/a"),
        (103, "https://cold.org/b"),
        (104, "https://x.co.uk/a"),
        (105, "https://cdn.x.co.uk/b"),
        (106, None),
        (107, "  "),
        (108, "https:///hostless"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")

    def canon(df):
        return sorted(map(tuple, df.collect()))

    base = canon(url_dedup_domain_cap(docs, cap=5))
    for p in (1, 4, 16, 257):
        got = canon(url_dedup_domain_cap(docs, cap=5, salt_partitions=p))
        assert got == base, f"salt_partitions={p} diverged"


def test_html_text_extract_edges(spark):
    """Markup stripping edges: script/style bodies vanish wholesale
    (case-insensitive, multi-line, multiple blocks), comments vanish,
    tags become word separators (a<br>b stays two words), the six
    bundled entities decode in an order that never double-decodes
    ('&amp;lt;' -> '&lt;', not '<'), whitespace collapses, and NULL /
    empty html pass through as NULL clean_text / NULL ratio."""
    from airflow_kafka_spark_spark.ext.textstats import html_text_extract

    docs = spark.createDataFrame(
        [
            (1, "a<SCRIPT a=1>x\ny</script>b<script>z</script>c"),
            (2, "<style>p {color: red}</style>hello<!-- note -->world"),
            (3, "a<br>b<div class='x'>c</div>"),
            (8, "a < b and c > d 1<3 <!DOCTYPE html>ok"),
            (4, "&lt;tag&gt; &quot;q&quot; &#39;s&#39; x&nbsp;y &amp;lt;"),
            (5, "   lots\n\tof    space   "),
            (6, None),
            (7, ""),
        ],
        "doc_id long, html string",
    )
    out = {r["doc_id"]: r for r in html_text_extract(docs).collect()}

    assert out[1]["clean_text"] == "a b c"
    assert out[2]["clean_text"] == "hello world"
    assert out[3]["clean_text"] == "a b c"
    # bare '<' in prose survives; DOCTYPE and real tags do not
    assert out[8]["clean_text"] == "a < b and c > d 1<3 ok"
    assert out[4]["clean_text"] == "<tag> \"q\" 's' x y &lt;"
    assert out[5]["clean_text"] == "lots of space"
    assert out[6]["clean_text"] is None
    assert out[6]["raw_len"] is None and out[6]["text_ratio"] is None
    assert out[7]["clean_text"] == "" and out[7]["raw_len"] == 0
    assert out[7]["text_ratio"] is None  # 0-length raw: no ratio
    assert out[1]["raw_len"] == 45 and out[1]["text_len"] == 5


def test_residual_provenance_check_memoized_and_type_derived(spark):
    """The residual cell-provenance check is memoized per (codes,
    assigned) OBJECT pair (ADVICE r12: re-running two Spark jobs per
    batch against an already-verified prebuilt index eroded the batch
    amortization the operator exists for), and the probe's ids frame
    derives its id type from the codes schema (hardcoded `long` broke
    int-typed id columns with an unrelated-looking join error)."""
    from unittest import mock

    from airflow_kafka_spark_spark.ext.similarity import (
        _RESIDUAL_PROVENANCE_OK,
        _verify_residual_code_provenance,
        ivf_assignments,
        pq_codebooks,
        pq_encode_residual,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), 1.0, 0.5]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    index = ivf_assignments(emb, n_lists=4)
    books = pq_codebooks(emb, m=2, n_codes=4, centroids=index[1])
    codes = pq_encode_residual(emb, books, index)
    _verify_residual_code_provenance(codes, index[0], "vec_id")
    assert index[0] in _RESIDUAL_PROVENANCE_OK[codes]
    # memoized: the second call must not touch the frames at all
    with mock.patch.object(
        type(codes), "select", side_effect=AssertionError("re-ran check")
    ):
        _verify_residual_code_provenance(codes, index[0], "vec_id")
    # a different assigned OBJECT re-checks (conservative direction)
    reindex = ivf_assignments(emb, n_lists=4)
    _verify_residual_code_provenance(codes, reindex[0], "vec_id")
    assert reindex[0] in _RESIDUAL_PROVENANCE_OK[codes]

    # int-typed id column: the probe frame follows the codes schema
    from pyspark.sql import functions as F

    emb_int = emb.withColumn("vec_id", F.col("vec_id").cast("int"))
    index_i = ivf_assignments(emb_int, n_lists=4)
    books_i = pq_codebooks(emb_int, m=2, n_codes=4, centroids=index_i[1])
    codes_i = pq_encode_residual(emb_int, books_i, index_i)
    assert dict(codes_i.dtypes)["vec_id"] == "int"
    _verify_residual_code_provenance(codes_i, index_i[0], "vec_id")


def test_point_paths_single_scan_query_row(spark):
    """cosine_topk / ann_topk_bucketed fold the missing-id check into
    the one bounded query-row collect (ADVICE r12: a separate eager
    existence job + an in-plan corpus re-filter for the same row), and
    the collected vector re-enters as a literal broadcast frame — so
    the executed plan must NOT re-scan the corpus for the query row."""
    from airflow_kafka_spark_spark.ext.similarity import (
        ann_topk_bucketed,
        cosine_topk,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, float(i % 3)]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    for fn in (cosine_topk, ann_topk_bucketed):
        out = fn(emb, query_vec_id=3, k=5)
        rows = out.collect()
        assert rows and all(r["vec_id"] != 3 for r in rows)
        # the broadcast query side is a local literal frame, not a
        # second filtered pass over the embeddings lineage: the only
        # query-id predicate left in the plan is the EXCLUSION filter
        # (NOT vec_id = 3) — the r12 shape also carried the q-side
        # equality filter (vec_id = 3), i.e. two occurrences. AQE
        # prints Final + Initial plans; count within the final only.
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("= 3)") == 1, plan


def test_language_id_min_score_unknown_verdict(spark):
    """min_score adds the UNKNOWN verdict (VERDICT r12 item 4): a doc
    whose BEST score sits below the absolute floor gets lang NULL and
    kept 0 — a bias-only doc otherwise 'predicts' the argmax language
    with full confidence in nothing. Boundary is inclusive (best ==
    floor is KNOWN); lang_score/margin stay reported either way; the
    default (None) keeps the always-pick behavior."""
    from airflow_kafka_spark_spark.ext.textstats import language_id_scores

    docs = spark.createDataFrame(
        [
            (1, "der und der x"),   # de: 29 with bias -> above floor
            (2, "junk only"),       # bias-only: en=2 -> UNKNOWN
            (3, "the of"),          # en: 11+2=13 == floor -> KNOWN
        ],
        "doc_id long, text string",
    )
    lw = {
        "en": [("the", 7), ("of", 4)],
        "de": [("der", 10), ("und", 8)],
    }
    out = {
        r["doc_id"]: (r["lang"], r["lang_score"], r["margin"], r["kept"])
        for r in language_id_scores(
            docs, lw, biases={"en": 2, "de": 1}, min_score=13
        ).collect()
    }
    assert out[1] == ("de", 29, 27, 1)
    assert out[2] == (None, 2, 1, 0)       # UNKNOWN: evidence reported
    assert out[3] == ("en", 13, 12, 1)     # boundary: best == floor
    # default None: the bias-only doc still picks the argmax language
    dflt = {
        r["doc_id"]: r["lang"]
        for r in language_id_scores(
            docs, lw, biases={"en": 2, "de": 1}
        ).collect()
    }
    assert dflt[2] == "en"


def test_url_dedup_psl_wildcard_tlds_and_exception(spark):
    """PSL WILDCARD rules (VERDICT r12 item 5): under `*.mm`-class TLDs
    every label directly below the TLD is itself a public suffix, so
    registrants are the last THREE labels — shop.example.mm and
    blog.example.mm are INDEPENDENT domains (pre-wildcard tiers pooled
    both under example.mm, one level too high), and subdomains group
    under their 3-label registrant; a bare 2-label host under a
    wildcard TLD keeps itself; the `!www.ck` exception carves www.ck
    OUT of `*.ck` — it and its subdomains are the registered domain
    www.ck, while sibling hosts under .ck stay wildcard-ruled."""
    from airflow_kafka_spark_spark.ext.dedup import url_dedup_domain_cap

    docs = spark.createDataFrame(
        [
            (1, "https://shop.example.mm/p"),
            (2, "https://blog.example.mm/p"),     # NOT pooled with 1
            (3, "https://cdn.shop.example.mm/i"),  # groups under 1
            (4, "https://example.mm/odd"),         # bare PS host: itself
            (5, "https://a.b.gov.np/x"),           # deeper subdomain
            # NOTE: a BARE www.ck URL loses its www. to the normalizer
            # (the strip is a pre-PSL heuristic) — host "ck" keeps
            # itself; the exception rule applies to subdomain forms
            (6, "https://www.ck/home"),
            (7, "https://mail.www.ck/inbox"),      # groups under www.ck
            (8, "https://other.ck/z"),             # sibling: wildcard PS
            (9, "https://site.other.ck/z"),        # 3-label registrant
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in url_dedup_domain_cap(docs, cap=9).collect()}

    assert out[1]["domain"] == "shop.example.mm"
    assert out[2]["domain"] == "blog.example.mm"
    assert out[3]["domain"] == "shop.example.mm"
    assert out[4]["domain"] == "example.mm"
    assert out[5]["domain"] == "b.gov.np"
    assert out[6]["domain"] == "ck"       # www-stripped single label
    assert out[7]["domain"] == "www.ck"
    assert out[8]["domain"] == "other.ck"
    assert out[9]["domain"] == "site.other.ck"
    assert all(r["kept"] == 1 for r in out.values())


def test_psl_bundle_is_full_generated_snapshot():
    """r15 (VERDICT item 2, the twice-deferred widening, completed to
    the FULL algorithm): the suffix tables are the complete generated
    PSL snapshot (ext/psl_data.py, from tools/gen_psl_data.py) with
    EVERY rule shape expressed exactly — plain 2..5-label suffixes,
    wildcard bases of 1..4 labels at their own depth (no more
    down-projection), and exception rules at depths 2 and 3. Floors,
    representative members old and NEW, punycode twins for IDN rules,
    and a ZERO out-of-scope census — so a regeneration that silently
    lost a rule class fails here, not in production."""
    from airflow_kafka_spark_spark.ext.dedup import (
        _SUFFIXES_2,
        _SUFFIXES_3,
        _SUFFIXES_4,
        _SUFFIXES_5,
        _WILDCARD_BASES_2,
        _WILDCARD_BASES_3,
        _WILDCARD_BASES_4,
        _WILDCARD_EXCEPTIONS_2,
        _WILDCARD_EXCEPTIONS_3,
        _WILDCARD_SUFFIX_TLDS,
    )
    from airflow_kafka_spark_spark.ext.psl_data import (
        PSL_OUT_OF_SCOPE_COUNTS,
        PSL_VERSION,
    )

    # full-snapshot floors (old bundle: 885 / 84)
    assert len(_SUFFIXES_2) > 5000
    assert len(_SUFFIXES_3) > 2000
    assert len(_SUFFIXES_4) >= 50
    assert len(_SUFFIXES_5) >= 50
    # hand-curated-era members survive
    assert {"co.uk", "github.io", "blogspot.com"} <= set(_SUFFIXES_2)
    assert "s3.amazonaws.com" in _SUFFIXES_3
    # members ONLY the full list carries (absent from the old bundle)
    assert "js.org" in _SUFFIXES_2
    assert "priv.no" in _SUFFIXES_2
    assert "a.prod.fastly.net" in _SUFFIXES_4
    assert "app.os.stg.fedoraproject.org" in _SUFFIXES_5
    # multi-label wildcard bases live in their OWN per-depth tables
    # (exact rules) — and are NOT down-projected into the plain tiers
    assert {"sch.uk", "kawasaki.jp"} <= set(_WILDCARD_BASES_2)
    assert "compute.amazonaws.com" in _WILDCARD_BASES_3
    assert "compute.amazonaws.com.cn" in _WILDCARD_BASES_4
    assert "sch.uk" not in _SUFFIXES_2
    assert "compute.amazonaws.com" not in _SUFFIXES_3
    # IDN rules ship in unicode AND punycode forms
    assert any(s.startswith("xn--") for s in _SUFFIXES_2)
    assert any(not s.isascii() for s in _SUFFIXES_2)
    # wildcard TLD / exception tiers
    assert _WILDCARD_SUFFIX_TLDS == (
        "bd", "ck", "er", "fk", "jm", "kh", "mm", "np", "pg",
    )
    assert _WILDCARD_EXCEPTIONS_2 == ("www.ck",)
    assert "city.kawasaki.jp" in _WILDCARD_EXCEPTIONS_3
    assert len(_WILDCARD_EXCEPTIONS_3) == 7
    # the census is EMPTY: every snapshot rule is expressed exactly
    assert PSL_OUT_OF_SCOPE_COUNTS == {}
    assert PSL_VERSION and PSL_VERSION != "unknown"


def test_url_dedup_exact_wildcard_bases_and_deep_tiers(spark):
    """Multi-label wildcard bases (`*.sch.uk` / `*.kawasaki.jp` /
    `*.compute.amazonaws.com` / `*.compute.amazonaws.com.cn`) resolve
    EXACTLY per the PSL algorithm (r15 full tiers; the earlier
    down-projection was one level coarser for deep hosts): every label
    directly under the base is itself a public suffix — it keeps
    itself, never pooled into the base — and hosts below it register
    at base+2 labels (the canonical PSL test vectors' `b.test.ck` →
    `b.test.ck` shape). Exception rules at depth 3
    (`!city.kawasaki.jp`) beat their covering wildcard; 4- and 5-label
    PLAIN suffixes register one label above themselves; a host exactly
    equal to a plain suffix keeps itself even when its parent isn't a
    suffix (the fall-through would pool it — the data-loss
    direction)."""
    from airflow_kafka_spark_spark.ext.dedup import url_dedup_domain_cap

    docs = spark.createDataFrame(
        [
            (1, "https://abbey.sch.uk/home"),       # <x>.base: PS, itself
            (2, "https://mail.abbey.sch.uk/inbox"),  # registers at base+2
            (3, "https://other.sch.uk/home"),        # NOT pooled with 1
            (4, "https://city.kawasaki.jp/ward"),    # the exception host
            (5, "https://a.city.kawasaki.jp/x"),     # groups under it
            # *.kawasaki.jp (non-exception label): ward.x is a PS;
            # deeper registers at 4 labels
            (6, "https://ward.kawasaki.jp/x"),
            (7, "https://lib.ward.kawasaki.jp/x"),
            # *.compute.amazonaws.com: per-REGION label is the PS, so
            # each ec2 host is its own registered domain (exact rule;
            # the down-projection pooled a whole region)
            (8, "https://ec2-1-2-3-4.us-east-1.compute.amazonaws.com/i"),
            (9, "https://ec2-9-9-9-9.us-east-1.compute.amazonaws.com/i"),
            # 4-label wildcard base (*.compute.amazonaws.com.cn)
            (10, "https://ec2-1.cn-north-1.compute.amazonaws.com.cn/i"),
            # 4-label plain suffix: a.prod.fastly.net
            (11, "https://site.a.prod.fastly.net/x"),
            (12, "https://cdn.site.a.prod.fastly.net/x"),
            # 5-label plain suffix
            (13, "https://app.app.os.stg.fedoraproject.org/x"),
            # host == 4-label plain suffix: keeps itself (its parent
            # prod.fastly.net is NOT a suffix — fall-through would
            # pool it there)
            (14, "https://a.prod.fastly.net/x"),
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in url_dedup_domain_cap(docs, cap=9).collect()}

    assert out[1]["domain"] == "abbey.sch.uk"
    assert out[2]["domain"] == "mail.abbey.sch.uk"
    assert out[3]["domain"] == "other.sch.uk"
    assert out[4]["domain"] == "city.kawasaki.jp"
    assert out[5]["domain"] == "city.kawasaki.jp"
    assert out[6]["domain"] == "ward.kawasaki.jp"
    assert out[7]["domain"] == "lib.ward.kawasaki.jp"
    assert out[8]["domain"] == "ec2-1-2-3-4.us-east-1.compute.amazonaws.com"
    assert out[9]["domain"] == "ec2-9-9-9-9.us-east-1.compute.amazonaws.com"
    assert out[10]["domain"] == "ec2-1.cn-north-1.compute.amazonaws.com.cn"
    assert out[11]["domain"] == "site.a.prod.fastly.net"
    assert out[12]["domain"] == "site.a.prod.fastly.net"
    assert out[13]["domain"] == "app.app.os.stg.fedoraproject.org"
    assert out[14]["domain"] == "a.prod.fastly.net"


def test_url_dedup_canonical_psl_vectors(spark):
    """The publicsuffix.org CANONICAL test vectors (the project's own
    checkPublicSuffix suite — public data), adapted to the engine's
    two documented conventions: a host that IS a public suffix keeps
    itself (canonical: null registrable domain), and the normalizer
    strips ONE leading ``www.`` before derivation (so the canonical
    bare-``www.ck`` vector is asserted at its documented deviation).
    The jp block alone walks a plain 2-label rule (ac.jp), a 2-label
    rule that is also a geo name (kyoto.jp), a plain 3-label rule
    (ide.kyoto.jp), a 2-label WILDCARD base (*.kobe.jp) and its
    3-label EXCEPTION (!city.kobe.jp) — every r15 tier against the
    algorithm's reference answers, not our own expectations."""
    from airflow_kafka_spark_spark.ext.dedup import url_dedup_domain_cap

    # (host, canonical registrable domain; None = host is a public
    # suffix → engine keeps it as its own domain)
    vectors = [
        # Mixed case / unlisted TLD
        ("example.COM", "example.com"),
        ("a.b.example.com", "example.com"),
        ("example.example", "example.example"),
        ("b.example.example", "example.example"),
        # TLD with only 1 (implicit) rule
        ("domain.biz", "domain.biz"),
        ("b.domain.biz", "domain.biz"),
        # uk
        ("example.co.uk", "example.co.uk"),
        ("b.example.co.uk", "example.co.uk"),
        # jp: plain 2-label, geo 2-label, plain 3-label, wildcard
        # *.kobe.jp and its !city.kobe.jp exception
        ("test.jp", "test.jp"),
        ("ac.jp", None),
        ("test.ac.jp", "test.ac.jp"),
        ("www2.test.ac.jp", "test.ac.jp"),
        ("kyoto.jp", None),
        ("test.kyoto.jp", "test.kyoto.jp"),
        ("ide.kyoto.jp", None),
        ("b.ide.kyoto.jp", "b.ide.kyoto.jp"),
        ("a.b.ide.kyoto.jp", "b.ide.kyoto.jp"),
        ("c.kobe.jp", None),
        ("b.c.kobe.jp", "b.c.kobe.jp"),
        ("a.b.c.kobe.jp", "b.c.kobe.jp"),
        ("city.kobe.jp", "city.kobe.jp"),
        ("sub.city.kobe.jp", "city.kobe.jp"),
        # ck: wildcard TLD + !www.ck exception (subdomain form — the
        # bare form is the documented www-strip deviation, below)
        ("test.ck", None),
        ("b.test.ck", "b.test.ck"),
        ("a.b.test.ck", "b.test.ck"),
        ("www.www.ck", "www.ck"),
        # us: state 2-label + k12 3-label
        ("test.us", "test.us"),
        ("ak.us", None),
        ("test.ak.us", "test.ak.us"),
        ("www2.test.ak.us", "test.ak.us"),
        ("k12.ak.us", None),
        ("test.k12.ak.us", "test.k12.ak.us"),
        # IDN: unicode form and its punycode twin resolve identically
        ("食狮.com.cn", "食狮.com.cn"),
        ("www2.食狮.com.cn", "食狮.com.cn"),
        ("xn--85x722f.com.cn", "xn--85x722f.com.cn"),
        ("www2.xn--85x722f.com.cn", "xn--85x722f.com.cn"),
    ]
    docs = spark.createDataFrame(
        [(i, f"https://{h}/x") for i, (h, _) in enumerate(vectors)],
        "doc_id long, url string",
    )
    out = {
        r["doc_id"]: r["domain"]
        for r in url_dedup_domain_cap(docs, cap=99).collect()
    }
    for i, (host, want) in enumerate(vectors):
        expect = want if want is not None else host.lower()
        assert out[i] == expect, (host, want, out[i])

    # the documented www-strip deviation: the canonical vector says
    # www.ck registers as www.ck, but a BARE www.ck URL loses its www.
    # to the pre-PSL normalizer and reaches the tiers as host "ck"
    bare = spark.createDataFrame(
        [(0, "https://www.ck/x")], "doc_id long, url string"
    )
    assert url_dedup_domain_cap(bare, cap=9).collect()[0]["domain"] == "ck"


def test_point_paths_null_vector_raises_descriptive(spark):
    """A PRESENT query row with a NULL vector must raise the module's
    descriptive ValueError, not a bare TypeError from iterating None
    (r13 review: the collect-to-literal change would otherwise crash
    with no hint about the bad corpus row)."""
    import pytest as _pytest

    from airflow_kafka_spark_spark.ext.similarity import (
        ann_topk_bucketed,
        cosine_topk,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None), (2, [0.5, 0.1])],
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="cosine_topk: .*NULL vector"):
        cosine_topk(emb, query_vec_id=1)
    with _pytest.raises(ValueError, match="ann_topk_bucketed: .*NULL vector"):
        ann_topk_bucketed(emb, query_vec_id=1)
