"""Similarity search over embedding columns (SURVEY.md §2.12).

Brute-force cosine top-k is the exact baseline: the query vector is
broadcast (a one-row cross join Catalyst turns into
BroadcastNestedLoopJoin), the dot product folds left-to-right with
``aggregate(zip_with(...))`` — JVM-side, no UDF, deterministic summation
order so the DuckDB oracle matches bit-for-bit before rounding.

Scale path: brute force is O(n·d) per query — fine fanned out over
executors for single queries, wrong for query *batches*. ``lsh_buckets``
provides the bucketed-ANN skeleton: sign-random-projection bucket keys so
candidate sets shrink to one bucket (+ probes). Hyperplanes are derived
deterministically from the vectors themselves (element order flips), so
no cross-engine RNG is needed.
"""

from __future__ import annotations

import weakref

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _query_vec_as_double(row, vec_key: str, caller: str, ident: str) -> list:
    """The collected query vector as a plain double list for a literal
    broadcast frame (float→double widening is exact). A PRESENT row
    with a NULL vector raises the module's descriptive ValueError —
    without the guard the list comprehension throws a bare TypeError
    that points nowhere near the bad corpus row."""
    vec = row[vec_key]
    if vec is None:
        raise ValueError(f"{caller}: row with {ident} has a NULL vector")
    return [float(x) for x in vec]


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in float64, left-to-right fold — matches the SQL oracle's
    ``list_sum(list_transform(...))`` evaluation exactly."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _probe_distances(
    qvec: list[float], centroids: list[list[float]]
) -> list[tuple[float, int]]:
    """(squared-distance, list_id) per centroid, computed with the SAME
    IEEE sequence the batch path's JVM expression uses: per-element
    ``(x - c)²`` accumulated left-to-right in double. Sorting the
    returned tuples reproduces the batch path's (d, j) struct sort
    exactly — including the index tiebreak on equal distances."""
    out = []
    for j, cent in enumerate(centroids):
        if len(qvec) != len(cent):
            # zip() would silently truncate to the common prefix and
            # probe plausible-but-wrong cells (the old numpy broadcast
            # raised here; keep that contract)
            raise ValueError(
                f"_probe_distances: query dim {len(qvec)} != centroid "
                f"dim {len(cent)} — index trained on different vectors?"
            )
        acc = 0.0
        for x, c in zip(qvec, cent):
            d = float(x) - c
            acc += d * d
        out.append((acc, j))
    return out


def _collect_query_rows(
    embeddings: DataFrame,
    query_vec_ids: list[int],
    vec_col: str,
    id_col: str,
    caller: str,
) -> list:
    """ONE pushed-down scan collects the batch's query vectors (bounded
    by the batch size — the legitimate collect class). Missing ids are
    detected by comparing the found-id SET (a row-count compare could
    be masked by duplicate vec_ids in the corpus)."""
    q_rows = (
        embeddings.filter(F.col(id_col).isin(list(query_vec_ids)))
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .collect()
    )
    found = {r["query_id"] for r in q_rows}
    missing = sorted(set(query_vec_ids) - found)
    if missing:
        raise ValueError(f"{caller}: missing query ids {missing}")
    # Duplicate vec_ids in the corpus would otherwise propagate into the
    # rerank broadcast frame and multiply candidate rows (duplicate
    # (query_id, id) pairs then occupy top-k slots). Identical duplicate
    # vectors collapse to one row; conflicting vectors are ambiguous.
    by_id: dict[int, object] = {}
    for r in q_rows:
        prev = by_id.setdefault(r["query_id"], r)
        if prev is not r and list(prev["qvec"]) != list(r["qvec"]):
            raise ValueError(
                f"{caller}: duplicate {id_col}={r['query_id']} with "
                "conflicting vectors in the corpus"
            )
    return sorted(by_id.values(), key=lambda r: r["query_id"])


def _adc_table_rows(q_rows: list, books: list) -> list[tuple]:
    """Per-query ADC distance tables as (query_id, j, code, d2) rows —
    m·n_codes doubles per query, computed driver-side in one numpy pass
    over the collected query vectors and shipped as a broadcast FRAME
    (plan size O(1) in batch size; literal tables would blow codegen
    past ~100 queries)."""
    import numpy as np

    sub_d = len(books[0][0])
    # one ndarray per codebook for the whole call (ADVICE r9: per-cent
    # np.array() conversions dominated table builds); (book - qs)**2
    # row-sums are bit-identical to the scalar loop — same subtraction
    # (negation-symmetric square), same contiguous last-axis reduction.
    book_arrs = [np.asarray(b, dtype=np.float64) for b in books]
    rows = []
    for r in q_rows:
        qid = int(r["query_id"])
        qvec = np.array(r["qvec"], dtype=np.float64)
        for j, book_arr in enumerate(book_arrs):
            qs = qvec[j * sub_d : (j + 1) * sub_d]
            d2s = ((book_arr - qs) ** 2).sum(axis=1)
            rows.extend(
                (qid, j, code, float(d2)) for code, d2 in enumerate(d2s)
            )
    return rows


def _adc_table_rows_residual(
    q_rows: list,
    books: list,
    centroids: list[list[float]],
    probes_by_q: dict[int, list[int]],
) -> list[tuple]:
    """Per-(query, probed cell) ADC distance tables for RESIDUAL codes:
    a vector in cell c was encoded as (x − centroid_c), so the query's
    lookup table for that cell is built from (q − centroid_c). Output
    rows (query_id, list_id, j, code, d2) — n_probe·m·n_codes doubles
    per query, still kilobytes, shipped as a broadcast FRAME like the
    raw-code tables."""
    import numpy as np

    sub_d = len(books[0][0])
    # ndarray conversions hoisted out of the inner loops (ADVICE r9:
    # the residual path builds n_probe× the raw path's rows, so the
    # per-cent np.array() cost was O(|Q|·n_probe·m·n_codes)); the
    # vectorized (book - qs)**2 row-sum is bit-identical to the scalar
    # loop (negation-symmetric square, same last-axis reduction order).
    book_arrs = [np.asarray(b, dtype=np.float64) for b in books]
    cent_arr = np.asarray(centroids, dtype=np.float64)
    rows = []
    for r in q_rows:
        qid = int(r["query_id"])
        qvec = np.array(r["qvec"], dtype=np.float64)
        for cell in probes_by_q[qid]:
            res = qvec - cent_arr[cell]
            for j, book_arr in enumerate(book_arrs):
                qs = res[j * sub_d : (j + 1) * sub_d]
                d2s = ((book_arr - qs) ** 2).sum(axis=1)
                rows.extend(
                    (qid, cell, j, code, float(d2))
                    for code, d2 in enumerate(d2s)
                )
    return rows


def _validate_codes(codes: DataFrame, codebooks, caller: str) -> None:
    """A prebuilt ``codes`` frame must match the codebooks it is about
    to be ADC-joined against: codes encoded with a different m or
    n_codes (or a different quantizer entirely) silently drop or
    mismatch subvector terms in the (j, code) equi-join, producing
    biased distances and degraded recall with NO error. ONE driver
    action — a map-side min/max aggregate over the whole frame (ADVICE
    r9: a single-row ``.first()`` sample let mixed-provenance frames
    through and TypeError'd on NULL code elements) — checks every row;
    the scan is map-only and cheap next to the m-way posexplode the
    same frame is about to feed."""
    if codebooks is None:
        raise ValueError(
            f"{caller}: prebuilt codes= requires the codebooks= they "
            "were encoded with (in-call-trained books would not match)"
        )
    m = len(codebooks)
    n_codes = max(len(b) for b in codebooks)
    row = codes.select(
        F.min(F.size("codes")).alias("m_min"),
        F.max(F.size("codes")).alias("m_max"),
        F.min(F.array_min("codes")).alias("mn"),
        F.max(F.array_max("codes")).alias("mx"),
        F.max(
            F.exists("codes", lambda x: x.isNull()).cast("int")
        ).alias("has_null"),
        # a whole-row NULL array slips past every aggregate above
        # (exists(NULL) is NULL → ignored by max; min/max skip NULLs)
        # and then silently vanishes in the posexplode — count it
        F.sum(F.col("codes").isNull().cast("long")).alias("null_rows"),
        F.count(F.lit(1)).alias("n_rows"),
    ).first()
    if row["n_rows"] == 0:
        return  # empty frame — nothing will join, nothing to validate
    if row["null_rows"]:
        raise ValueError(
            f"{caller}: null code value in codes frame "
            f"({row['null_rows']} whole-row NULL arrays)"
        )
    if row["m_min"] != m or row["m_max"] != m:
        raise ValueError(
            f"{caller}: codes rows have {row['m_min']}..{row['m_max']} "
            f"subvector codes, codebooks have m={m} — encoded with a "
            "different quantizer (or mixed provenance)?"
        )
    if row["has_null"] or row["mn"] is None or row["mx"] is None:
        raise ValueError(f"{caller}: null code value in codes frame")
    if row["mn"] < 0 or row["mx"] >= n_codes:
        raise ValueError(
            f"{caller}: code values span [{row['mn']}, {row['mx']}], "
            f"outside the codebook range [0, {n_codes - 1}]"
        )


def _adc_fold(joined: DataFrame, id_col: str) -> Column:
    """Sum the m ADC terms of a (query_id, id, j, d2) frame in FIXED
    j-ascending order: collect the (j, d2) pairs, array_sort (j is
    unique per group → sorts by j), sequential left-to-right double
    fold — the exact order the point path's j-ascending literal chain
    uses. A plain F.sum over the exploded rows would depend on row
    order within the aggregation (posexplode contiguity is not
    guaranteed under sort-based fallback or an upstream repartition),
    shifting adist by ulps. This is THE single source of the
    point/batch decision-identity contract — both batch paths call it.
    Returns the (query_id, id, adist) frame with query rows excluded.

    The array_distinct collapses the repeats a DUPLICATED corpus id
    injects (ADVICE r10: an id stored twice with the identical vector
    doubles every (j, d2) term through the codes/candidate joins,
    doubling adist and silently pushing the document OUT of the rerank
    candidate set). Legitimate terms are unique in j per (query, id)
    group, so only duplicate-id repeats are removed; conflicting-code
    duplicates (different d2 for one j) remain the caller's risk, as
    documented on the batch entry points."""
    return (
        joined.groupBy("query_id", id_col)
        .agg(
            F.array_distinct(
                F.array_sort(F.collect_list(F.struct("j", "d2")))
            ).alias("__terms")
        )
        .select(
            "query_id",
            id_col,
            F.aggregate(
                F.col("__terms"),
                F.lit(0.0).cast("double"),
                lambda acc, s: acc + s["d2"],
            ).alias("adist"),
        )
        .filter(F.col(id_col) != F.col("query_id"))
    )


def _adc_candidates(adist: DataFrame, id_col: str, n: int) -> DataFrame:
    """Top-n ADC candidates per query with the total (adist, id)
    ordering."""
    from pyspark.sql import Window

    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col(id_col).asc()
    )
    return (
        adist.withColumn("__rk", F.row_number().over(w_adc))
        .filter(F.col("__rk") <= n)
        .select("query_id", id_col)
    )


def _topk_dedup_ids(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """Per-query top-k over the total (cosine desc, id asc) ordering
    with duplicated corpus ids collapsed to ONE slot (ADVICE r10): a
    corpus id stored twice with the IDENTICAL vector yields two
    identical (query_id, id, cosine) rows through the retrieval joins,
    and a bare row_number would hand one document two top-k slots for
    EVERY query. Equal (cosine, id) rows are ADJACENT under the
    window's ordering, so a lag() over the SAME window spec marks the
    repeats and the row_number stacks on the same sort — the dedup
    costs ZERO extra exchanges (one hashpartitioning(query_id), one
    sort, two window functions). Conflicting-vector corpus duplicates
    (different cosines for one id) remain the caller's risk — the
    validated batch paths raise for QUERY ids only, and no bounded
    action can certify the whole corpus."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__prev", F.lag(id_col).over(w))
        .filter(F.col("__prev").isNull() | (F.col("__prev") != F.col(id_col)))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__prev", "__rk")
    )


def _rerank_topk(
    embeddings: DataFrame,
    cand_ids: DataFrame,
    q_rows: list,
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Exact cosine rerank of per-query candidate ids, top-k by the
    total (cosine desc, id asc) ordering. Query vectors are rebuilt
    from the bounded collect instead of a second corpus scan
    (float→double widening is exact, so the cosines are bit-identical
    to an in-plan cast)."""
    spark = embeddings.sparkSession
    q = spark.createDataFrame(
        [(int(r["query_id"]), [float(x) for x in r["qvec"]]) for r in q_rows],
        "query_id long, qvec array<double>",
    )
    # cand_ids is bounded by contract (≤ |Q|·rerank_factor·k rows), so
    # IT is the broadcast build — never the corpus: without the pin,
    # AQE broadcast-builds the small-stats embeddings side at test
    # scale (the 1g-driver OOM class from the repo notes) and that
    # build side wouldn't exist at 10^9 vectors.
    cand = embeddings.join(F.broadcast(cand_ids), id_col).join(
        F.broadcast(q), "query_id"
    )
    cos = _dot(F.col(vec_col), F.col("qvec")) / (
        _norm(F.col(vec_col)) * _norm(F.col("qvec"))
    )
    scored = cand.select(
        "query_id", F.col(id_col), (F.round(cos, 6) + F.lit(0.0)).alias("cosine")
    )
    return _topk_dedup_ids(scored, id_col, k)


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to the row with ``query_vec_id``.

    The query side is one row → broadcast; ordering is total
    (cosine desc, vec_id asc) for determinism. The query row itself is
    excluded. A missing ``query_vec_id`` raises (the module's point-path
    contract, same as ann_topk_ivf/_pq) — the silent alternative is an
    empty frame that reads as "no neighbors" instead of "bad id". Like
    the batch paths' bounded query collect, the check and the query
    vector share ONE pushed-down scan (r12 ran a separate existence
    job and then re-filtered the corpus in-plan for the same row);
    the collected vector re-enters as a literal broadcast frame —
    float→double widening is exact, so the cosines are bit-identical.
    """
    q_row = (
        embeddings.filter(F.col(id_col) == query_vec_id)
        .select(F.col(vec_col).alias("qvec"))
        .first()
    )
    if q_row is None:
        raise ValueError(
            f"cosine_topk: no row with {id_col}={query_vec_id!r}"
        )
    q = embeddings.sparkSession.createDataFrame(
        [
            (
                _query_vec_as_double(
                    q_row,
                    "qvec",
                    "cosine_topk",
                    f"{id_col}={query_vec_id!r}",
                ),
            )
        ],
        "qvec array<double>",
    )
    joined = embeddings.filter(F.col(id_col) != query_vec_id).crossJoin(
        F.broadcast(q)
    )
    cos = _dot(F.col(vec_col), F.col("qvec")) / (
        _norm(F.col(vec_col)) * _norm(F.col("qvec"))
    )
    return (
        joined.select(F.col(id_col), (F.round(cos, 6) + F.lit(0.0)).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def lsh_buckets(
    embeddings: DataFrame,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Sign-random-projection bucket keys for ANN.

    Plane p scores a vector by Σ sᵢ·vᵢ where the sign pattern
    sᵢ = ±1 alternates with period p+2 — a fixed, data-independent family
    that needs no RNG and is reproducible in plain SQL. Bucket key =
    concatenated sign bits. Real deployments would swap in Gaussian
    hyperplanes broadcast from the driver; the plumbing (bucketing,
    candidate lookup by equal key) is identical.
    """
    v = F.col(vec_col)
    bits = []
    for p in range(n_planes):
        period = p + 2
        proj = F.aggregate(
            F.zip_with(
                F.sequence(F.lit(0), F.size(v) - 1),
                v,
                lambda i, x: F.when((i % period) * 2 < period, x.cast("double"))
                .otherwise(-x.cast("double")),
            ),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return embeddings.select(
        F.col(id_col), F.concat(*bits).alias("bucket"), F.col(vec_col)
    )


_RESIDUAL_PROVENANCE_OK: "weakref.WeakKeyDictionary" = (
    weakref.WeakKeyDictionary()
)


def _verify_residual_code_provenance(
    codes: DataFrame, assigned: DataFrame, id_col: str
) -> None:
    """Bounded cell-provenance check for residual codes: a codes frame
    encoded against a DIFFERENT ivf_assignments run carries stale
    list_ids — candidate ids come from THIS index's probed cells, so
    the (query_id, list_id, j, code) table lookup finds no row and the
    candidate silently vanishes from the rerank pool (degraded recall,
    zero errors). A retrained quantizer moves most vectors, so a
    bounded sample catches staleness with near-certainty; the full
    certification would be a corpus-scale join per batch — residual
    conflicts outside the sample stay the caller's risk (the
    _check_sample_id_conflicts bound class).

    The verdict is memoized per (codes, assigned) OBJECT pair (weak
    refs — no frame outlives its caller because of the cache): batch
    serving exists to amortize per-call work, and re-running two extra
    Spark jobs per batch against an already-verified prebuilt index
    eroded exactly that advantage (ADVICE r12). A caller that rebuilds
    either frame object gets a fresh check, which is the conservative
    direction.

    Immutable-input assumption (the flip side of keying on object
    identity): the frames are LAZY — if the parquet/source backing
    ``codes`` or ``assigned`` is overwritten between batches, the same
    long-lived objects re-execute over the NEW data while the cached
    verdict silently stands. Batch-serving callers that hold frame
    objects across index rebuilds must re-create the frames (or treat
    the index directory as write-once), same as every other prebuilt
    Spark input."""
    seen = _RESIDUAL_PROVENANCE_OK.get(codes)
    if seen is not None and assigned in seen:
        return
    sample = codes.select(id_col, "list_id").limit(1000).collect()
    if sample:
        want = {r[id_col]: r["list_id"] for r in sample}
        spark_s = codes.sparkSession
        # id type follows the codes frame (hardcoding long broke
        # int/string-typed id columns with a join-type error that
        # pointed nowhere near the staleness being checked)
        from pyspark.sql import types as T

        ids_df = spark_s.createDataFrame(
            [(i,) for i in want],
            T.StructType(
                [T.StructField(id_col, codes.schema[id_col].dataType)]
            ),
        )
        got = {
            r[id_col]: r["list_id"]
            for r in assigned.join(F.broadcast(ids_df), id_col)
            .select(id_col, "list_id")
            .collect()
        }
        bad = [i for i, c in want.items() if got.get(i) != c]
        if bad:
            raise ValueError(
                "ann_topk_ivfpq_batch: codes list_id disagrees "
                f"with the index's assignments for {len(bad)} of "
                f"{len(want)} sampled ids (e.g. {bad[:3]}) — "
                "codes encoded against a different/stale "
                "ivf_assignments run?"
            )
    if seen is None:
        seen = weakref.WeakSet()
        _RESIDUAL_PROVENANCE_OK[codes] = seen
    seen.add(assigned)


def _check_sample_id_conflicts(rows: list, id_col: str, caller: str) -> None:
    """Bounded conflicting-duplicate guard on the k-means training
    sample (VERDICT r11 item 6): an id stored twice with DIFFERENT
    vectors violates the unique-id contract, and downstream the
    identical-vector dedup (`_topk_dedup_ids` / `_adc_fold`) would
    turn it into silently order-dependent top-k results rather than an
    error. Where it is cheaply provable — inside the already-collected
    bounded sample — raise instead. Identical-vector duplicates pass
    (they train the quantizer exactly as one row would, twice-weighted,
    same as before this guard). The honest caveat stands: no bounded
    action can certify the WHOLE corpus; conflicts outside the sample
    remain the caller's risk, as documented on the batch entry
    points."""
    by_id: dict = {}
    for r in rows:
        prev = by_id.setdefault(r[0], r)
        if prev is not r and list(prev[1]) != list(r[1]):
            raise ValueError(
                f"{caller}: duplicate {id_col}={r[0]} with conflicting "
                "vectors in the training sample — the corpus violates "
                "the unique-id contract"
            )


def ivf_assignments(
    embeddings: DataFrame,
    n_lists: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: k-means centroids (driver-trained on a
    sample, broadcast back) + per-vector nearest-centroid assignment.

    The centroid model is tiny (n_lists × dim floats) — the classic
    train-small/apply-big split: training touches a bounded sample,
    assignment is one broadcast + JVM-side dot products over the full
    corpus. Returns (assignments df [id, list_id], centroids).

    The assignment frame is ``localCheckpoint``-cut before return: an
    index is shared across many probe actions (the whole point of the
    ``index=`` split), and an uncut frame would re-run the full-corpus
    nearest-centroid scan on every probe — the first probe materializes
    (id, int) rows, the on-disk size of any real inverted-file index,
    computed exactly once.
    """
    import numpy as np

    rows = (
        embeddings.select(id_col, vec_col)
        .sort(id_col)  # deterministic sample
        .limit(max(n_lists * 20, 256))
        .collect()
    )
    _check_sample_id_conflicts(rows, id_col, "ivf_assignments")
    sample = np.array([list(r[1]) for r in rows], dtype=np.float64)
    if len(sample) == 0:
        raise ValueError("ivf_assignments: embeddings table is empty")
    n_lists = min(n_lists, len(sample))  # tiny corpus → fewer lists
    rng = np.random.default_rng(seed)
    centroids = sample[rng.choice(len(sample), size=n_lists, replace=False)]
    for _ in range(10):  # fixed-iteration Lloyd's — deterministic
        d2 = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(n_lists):
            members = sample[assign == j]
            if len(members):
                centroids[j] = members.mean(axis=0)

    cent_cols = [
        F.array(*[F.lit(float(x)) for x in c]).alias(f"c{j}")
        for j, c in enumerate(centroids)
    ]
    v = F.col(vec_col)

    def _sq(a_, b_):
        # (a-b)*(a-b), not **2: Column ** lowers to POWER/Math.pow,
        # which is not correctly-rounded; multiply is (repo float rule)
        d = a_.cast("double") - b_
        return d * d

    d2_cols = [
        F.aggregate(
            F.zip_with(v, F.col(f"c{j}"), _sq),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for j in range(n_lists)
    ]
    best = F.array_position(
        F.array(*d2_cols), F.array_min(F.array(*d2_cols))
    ) - 1
    with_cents = embeddings.select(F.col(id_col), F.col(vec_col), *cent_cols)
    assigned = with_cents.select(
        F.col(id_col), best.cast("int").alias("list_id")
    ).localCheckpoint(eager=False)
    return assigned, [list(map(float, c)) for c in centroids]


def ann_topk_ivf(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index: tuple[DataFrame, list[list[float]]] | None = None,
) -> DataFrame:
    """IVF ANN: exact cosine rerank restricted to the ``n_probe``
    inverted lists whose centroids are nearest the query. The
    assignments join is an equi-join on ``list_id`` — candidate volume
    drops to ~n_probe/n_lists of the corpus, the same contract as a
    FAISS IVF-Flat index but expressed as DataFrame joins.

    ``index`` takes a prebuilt ``ivf_assignments(...)`` result so many
    queries share ONE coarse quantizer — the FAISS train/search split.
    An index is built per call only when omitted (one-shot
    convenience); any real serving path builds once and probes many
    times. At sf0.01 the shared index is a measured ~16% of
    ``ann_recall_bounded``'s cost (the training sample is bounded and
    tiny); at corpus scale the per-call build is a full assignment
    SCAN per query, which is the difference between an index and a
    table scan.

    Probe selection replays the batch path's exact arithmetic — a
    left-to-right sequential double fold per centroid and a sort keyed
    (distance, list_id) — so point and batch paths pick identical
    probe lists even on tied centroid distances (numpy's pairwise
    summation + unstable argsort could diverge by an ulp/tie).

    Duplicate-corpus-id note: this one-shot convenience path assumes
    unique ids (a duplicated id's identical rows would occupy multiple
    top-k slots through the TakeOrdered); the BATCH paths collapse such
    repeats (:func:`_topk_dedup_ids`) — serve through them."""
    assigned, centroids = (
        index
        if index is not None
        else ivf_assignments(embeddings, n_lists, vec_col=vec_col, id_col=id_col)
    )
    q_row = (
        embeddings.filter(F.col(id_col) == query_vec_id).select(vec_col).first()
    )
    if q_row is None:
        raise ValueError(
            f"ann_topk_ivf: no row with {id_col}={query_vec_id!r}"
        )
    probe = [j for _, j in sorted(_probe_distances(q_row[0], centroids))[:n_probe]]

    cand_ids = assigned.filter(F.col("list_id").isin(probe)).select(id_col)
    # both sides are corpus-scale (candidates are ~n_probe/n_lists of
    # the corpus): pin a shuffled hash join so neither side is ever a
    # broadcast build (the repo's 1g-driver OOM class; at 10^9 vectors
    # neither side is broadcastable anyway)
    cand = embeddings.join(cand_ids.hint("shuffle_hash"), id_col).filter(
        F.col(id_col) != query_vec_id
    )
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("qvec")
    )
    joined = cand.crossJoin(F.broadcast(q))
    cos = _dot(F.col(vec_col), F.col("qvec")) / (
        _norm(F.col(vec_col)) * _norm(F.col("qvec"))
    )
    return (
        joined.select(F.col(id_col), (F.round(cos, 6) + F.lit(0.0)).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ann_topk_ivf_batch(
    embeddings: DataFrame,
    query_vec_ids: list[int],
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index: tuple[DataFrame, list[list[float]]] | None = None,
) -> DataFrame:
    """Batched IVF ANN serving: one plan answers N queries, with ZERO
    per-query driver actions — the missing half of the train/search
    split. (It spends ONE bounded action — :func:`_collect_query_rows`,
    the same pushed-down query scan the PQ batch path uses — to raise
    on query ids absent from the corpus or duplicated with conflicting
    vectors, matching the point path's error contract instead of
    silently returning truncated or candidate-doubled result sets; the
    deduplicated collected rows then BECOME the query frame, so
    validation costs no extra scan.) A corpus id duplicated with an
    IDENTICAL vector occupies at most one top-k slot per query —
    :func:`_topk_dedup_ids` collapses
    the repeated candidate rows the assigned/embeddings joins inject
    (ADVICE r10); conflicting-vector corpus duplicates remain the
    caller's risk. :func:`ann_topk_ivf` is the point-lookup contract (two
    driver round-trips per call: the query-vector ``first()`` and the
    numpy centroid argsort); a 1000-query batch through it would
    serialize 1000 round-trips. Here the whole batch is data-plane:

    - query vectors come from one ``isin`` filter over the corpus —
      collected once, rebuilt as a deduplicated local relation and
      broadcast to the executors;
    - centroid probe selection is a JVM expression per query row —
      distances to the (literal, kilobyte-sized) centroids are
      ``array_sort``-ed as (dist, list) structs and the first
      ``n_probe`` kept — the point path replays the identical IEEE
      sequence via :func:`_probe_distances`, so both paths pick the
      same probes even on tied distances;
    - ONE equi-join of (query, list) probe pairs against the shared
      assignment frame yields all candidates, ONE join retrieves their
      vectors, and a ``row_number`` window partitioned by query takes
      each top-k — per-query cost amortizes to two joins total.

    Output: ``(query_id, vec_id, cosine)``, top-k per query by
    (cosine desc, vec_id asc), query rows themselves excluded.
    ``index`` shares a prebuilt :func:`ivf_assignments` result exactly
    as the point path does; omitted → built in-call.
    """
    assigned, centroids = (
        index
        if index is not None
        else ivf_assignments(embeddings, n_lists, vec_col=vec_col, id_col=id_col)
    )
    n_lists_eff = len(centroids)
    # Shared validation contract with the PQ/IVFPQ batch paths: missing
    # ids raise, duplicate ids with conflicting vectors raise,
    # identical-vector duplicates collapse to one row. The collected
    # (deduplicated) rows are the query frame — a duplicated corpus id
    # would otherwise double every candidate row downstream of the q join.
    q_rows = _collect_query_rows(
        embeddings, query_vec_ids, vec_col, id_col, "ann_topk_ivf_batch"
    )
    q_schema = embeddings.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).schema
    q = embeddings.sparkSession.createDataFrame(
        [(r["query_id"], r["qvec"]) for r in q_rows], q_schema
    )
    cent_cols = [
        F.array(*[F.lit(float(x)) for x in c]).alias(f"c{j}")
        for j, c in enumerate(centroids)
    ]
    qv = F.col("qvec")

    def _sq(a_, b_):
        # multiply, not **2 (POWER is not correctly-rounded; repo rule)
        d = a_.cast("double") - b_
        return d * d

    d2_cols = [
        F.aggregate(
            F.zip_with(qv, F.col(f"c{j}"), _sq),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for j in range(n_lists_eff)
    ]
    # argsort with index tiebreak: sort (dist, list_id) structs, keep n_probe
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(d2_cols[j].alias("d"), F.lit(j).alias("j"))
                for j in range(n_lists_eff)
            ]
        )
    )
    probe_lists = F.transform(
        F.slice(ranked, 1, min(n_probe, n_lists_eff)), lambda s: s["j"]
    )
    probes = q.select("query_id", "qvec", *cent_cols).select(
        "query_id", F.explode(probe_lists).alias("list_id")
    )
    cand_ids = assigned.join(F.broadcast(probes), "list_id").select(
        "query_id", id_col
    )
    # corpus-scale ⋈ corpus-scale (candidates are |Q|·n_probe/n_lists
    # of the corpus): shuffled hash, never a broadcast build
    cand = (
        embeddings.join(cand_ids.hint("shuffle_hash"), id_col)
        .join(F.broadcast(q), "query_id")
        .filter(F.col(id_col) != F.col("query_id"))
    )
    cos = _dot(F.col(vec_col), F.col("qvec")) / (
        _norm(F.col(vec_col)) * _norm(F.col("qvec"))
    )
    scored = cand.select(
        "query_id", F.col(id_col), (F.round(cos, 6) + F.lit(0.0)).alias("cosine")
    )
    # duplicated corpus ids would otherwise hold multiple top-k slots
    # through the assigned/embeddings joins (ADVICE r10) — collapse
    # identical-vector repeats on the same window sort, zero extra cost
    return _topk_dedup_ids(scored, id_col, k)


def ann_topk_pq_batch(
    embeddings: DataFrame,
    query_vec_ids: list[int],
    k: int = 10,
    m: int = 8,
    n_codes: int = 32,
    rerank_factor: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[list[float]]] | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Batched PQ ANN serving: N queries against one shared codebook
    with ONE bounded driver action for the whole batch (the point path
    :func:`ann_topk_pq` costs one ``first()`` per query). The per-query
    ADC tables (:func:`_adc_table_rows`) ship as a BROADCAST FRAME of
    (query_id, subvector j, code, d2) rows rather than plan literals,
    so the plan size stays O(1) in the batch size.

    Scan shape: codes posexplode to (id, j, code) — m× row inflation,
    map-only — then ONE broadcast-hash join against the table frame
    fans each row out per query, and :func:`_adc_fold` folds the m ADC
    terms in fixed j-ascending order; per-query ``row_number``
    windows take the rerank_factor·k ADC candidates and the exact
    cosine top-k, both with (value, id) total orderings. Scales in
    corpus size (one shuffle of the pre-combined ADC sums) and in
    batch size (broadcast side is |Q|·m·n_codes rows — kilobytes per
    query).

    ``codebooks``/``codes`` share a prebuilt :func:`pq_codebooks`
    model and :func:`pq_encode` frame across batches (codes ARE the
    stored index payload — a deployment encodes once at add time);
    either is built in-call when omitted.

    Output: ``(query_id, vec_id, cosine)``, top-k per query, query
    rows excluded.
    """
    if codes is not None:
        _validate_codes(codes, codebooks, "ann_topk_pq_batch")
    books = (
        codebooks
        if codebooks is not None
        else pq_codebooks(
            embeddings, m=m, n_codes=n_codes, vec_col=vec_col, id_col=id_col
        )
    )
    q_rows = _collect_query_rows(
        embeddings, query_vec_ids, vec_col, id_col, "ann_topk_pq_batch"
    )
    spark = embeddings.sparkSession
    tables = spark.createDataFrame(
        _adc_table_rows(q_rows, books), "query_id long, j int, code int, d2 double"
    )

    all_codes = (
        codes
        if codes is not None
        else pq_encode(embeddings, books, vec_col=vec_col, id_col=id_col)
    )
    exploded = all_codes.select(
        F.col(id_col), F.posexplode("codes").alias("j", "code")
    )
    adist = _adc_fold(
        exploded.join(F.broadcast(tables), ["j", "code"]), id_col
    )
    cand_ids = _adc_candidates(adist, id_col, rerank_factor * k)
    return _rerank_topk(embeddings, cand_ids, q_rows, k, vec_col, id_col)


def ann_topk_ivfpq_batch(
    embeddings: DataFrame,
    query_vec_ids: list[int],
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 32,
    rerank_factor: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index: tuple[DataFrame, list[list[float]]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    codes: DataFrame | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ composition — the standard large-scale ANN layout
    (FAISS ``IndexIVFPQ``): IVF cell probing bounds WHICH vectors are
    scored, PQ asymmetric distances bound HOW MUCH each scoring costs,
    and an exact cosine rerank recovers accuracy. Batched serving from
    day one: one data-plane plan answers N queries with ONE bounded
    driver action (the query-vector collect).

    Pipeline per batch:

    - ONE pushed-down scan collects the |Q| query vectors (bounded by
      the batch size — the legitimate collect class). Probe cells are
      selected driver-side with :func:`_probe_distances` — the exact
      IEEE sequence the IVF point/batch paths use, so all three paths
      probe identical cells — and shipped as a |Q|·n_probe-row
      broadcast;
    - candidate ids come from ONE equi-join of the probe pairs against
      the shared assignment frame — candidate volume is ~n_probe/
      n_lists of the corpus per query, the IVF pruning contract;
    - ADC scoring touches ONLY in-cell candidates: their codes
      posexplode to (query, id, j, code) and ONE broadcast join
      against the per-query distance tables (|Q|·m·n_codes rows —
      kilobytes/query) feeds the fixed j-ascending fold from
      :func:`ann_topk_pq_batch` — versus PQ-alone, the explode+agg
      volume drops by the probe fraction;
    - the best ``rerank_factor·k`` ADC candidates per query get the
      exact cosine rerank; both selections use total (value, id)
      orderings.

    ``index``/``codebooks``/``codes`` share a prebuilt
    :func:`ivf_assignments` result, :func:`pq_codebooks` model and
    :func:`pq_encode` frame across batches — the full FAISS
    train/add/search split (codes ARE the stored index payload; a real
    deployment encodes the corpus once at add time). Any omitted piece
    is built in-call for one-shot convenience.

    ``residual=True`` switches to the full FAISS ``IndexIVFPQ`` code
    layout: vectors are encoded as offsets from their cell centroid
    (:func:`pq_encode_residual`) against residual-trained codebooks
    (``pq_codebooks(..., centroids=...)``), and the query's ADC tables
    become per-(query, probed cell) — built from (q − centroid_cell) —
    so the lookup join keys on ``(query_id, list_id, j, code)``.
    Residuals concentrate the quantizer's dynamic range around the cell
    centers, lifting ADC candidate quality at the same code budget.
    With ``residual=False`` (default) codes quantize RAW vectors —
    sharable with the plain PQ path (one quantizer contract across
    ``ann_topk_pq``/``ann_topk_pq_batch``/this); residual codebooks are
    cell-coupled and cannot be shared, the classic FAISS trade.

    Output: ``(query_id, vec_id, cosine)``, top-k per query by
    (cosine desc, vec_id asc), query rows excluded.
    """
    assigned, centroids = (
        index
        if index is not None
        else ivf_assignments(embeddings, n_lists, vec_col=vec_col, id_col=id_col)
    )
    if codes is not None:
        _validate_codes(codes, codebooks, "ann_topk_ivfpq_batch")
        if residual and "list_id" not in codes.columns:
            raise ValueError(
                "ann_topk_ivfpq_batch: residual=True needs codes with a "
                "list_id column (a pq_encode_residual frame) — got raw "
                "pq_encode codes?"
            )
        if residual:
            # bounded + memoized per (codes, assigned) pair — see the
            # helper; repeated batches against one prebuilt index pay
            # the two verification jobs once
            _verify_residual_code_provenance(codes, assigned, id_col)
    books = (
        codebooks
        if codebooks is not None
        else pq_codebooks(
            embeddings,
            m=m,
            n_codes=n_codes,
            vec_col=vec_col,
            id_col=id_col,
            centroids=centroids if residual else None,
        )
    )
    q_rows = _collect_query_rows(
        embeddings, query_vec_ids, vec_col, id_col, "ann_topk_ivfpq_batch"
    )
    spark = embeddings.sparkSession
    n_probe_eff = min(n_probe, len(centroids))
    probe_rows = [
        (int(r["query_id"]), j)
        for r in q_rows
        for _, j in sorted(_probe_distances(r["qvec"], centroids))[:n_probe_eff]
    ]
    probes = spark.createDataFrame(probe_rows, "query_id long, list_id int")

    cand_ids = assigned.join(F.broadcast(probes), "list_id").select(
        "query_id", id_col
    )
    if residual:
        probes_by_q: dict[int, list[int]] = {}
        for qid, cell in probe_rows:
            probes_by_q.setdefault(qid, []).append(cell)
        tables = spark.createDataFrame(
            _adc_table_rows_residual(q_rows, books, centroids, probes_by_q),
            "query_id long, list_id int, j int, code int, d2 double",
        )
        all_codes = (
            codes
            if codes is not None
            else pq_encode_residual(
                embeddings,
                books,
                (assigned, centroids),
                vec_col=vec_col,
                id_col=id_col,
            )
        )
        # codes and candidates are BOTH corpus-scale: shuffled hash on
        # the id key (see the raw branch below). list_id rides along —
        # residual ADC tables are per-cell, so the lookup join carries it.
        exploded = all_codes.join(cand_ids.hint("shuffle_hash"), id_col).select(
            "query_id",
            F.col(id_col),
            "list_id",
            F.posexplode("codes").alias("j", "code"),
        )
        adist = _adc_fold(
            exploded.join(
                F.broadcast(tables), ["query_id", "list_id", "j", "code"]
            ),
            id_col,
        )
    else:
        tables = spark.createDataFrame(
            _adc_table_rows(q_rows, books),
            "query_id long, j int, code int, d2 double",
        )
        all_codes = (
            codes
            if codes is not None
            else pq_encode(embeddings, books, vec_col=vec_col, id_col=id_col)
        )
        # codes and candidates are BOTH corpus-scale (candidates are
        # |Q|·n_probe/n_lists of the corpus): shuffled hash on the id key —
        # without the pin AQE broadcast-builds the small-stats codes side
        # (the full encoded corpus) at test scale, the 1g-driver OOM class
        exploded = all_codes.join(cand_ids.hint("shuffle_hash"), id_col).select(
            "query_id", F.col(id_col), F.posexplode("codes").alias("j", "code")
        )
        # candidates are per-query already, so the ADC join matches on
        # query_id too; the fold itself is the shared fixed-order contract
        adist = _adc_fold(
            exploded.join(F.broadcast(tables), ["query_id", "j", "code"]), id_col
        )
    rerank_ids = _adc_candidates(adist, id_col, rerank_factor * k)
    return _rerank_topk(embeddings, rerank_ids, q_rows, k, vec_col, id_col)


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space near-duplicate pairs: all (vec1 < vec2) pairs whose
    cosine similarity ≥ ``threshold``, with candidates pruned to LSH
    co-bucketed pairs.

    Each vector lands in exactly ONE bucket (its concatenated sign bits),
    so the self-equi-join on the bucket key emits each candidate pair at
    most once — no dedup step needed, unlike banded MinHash. The join is a
    shuffle on the bucket key; with b planes the candidate set shrinks to
    ~2^-b of the n² pairs, and each bucket's pairs are verified with the
    exact JVM-side `aggregate`/`zip_with` dot product (no UDF). At 100 TB
    this is the standard scale path: raise n_planes so buckets stay
    executor-sized, and salt any pathological hot bucket.
    """
    bucketed = lsh_buckets(embeddings, n_planes, vec_col, id_col)
    a = bucketed.select(
        F.col(id_col).alias("vec1"),
        F.col("bucket"),
        F.col(vec_col).alias("v1"),
    )
    b = bucketed.select(
        F.col(id_col).alias("vec2"),
        F.col("bucket"),
        F.col(vec_col).alias("v2"),
    )
    # corpus-scale self-join: shuffled hash pin so neither side is ever
    # a broadcast build (at 10^9 docs neither is broadcastable; at
    # small stats AQE would broadcast-build one side — the 1g-driver
    # OOM class, same sweep as the ANN serving pins)
    pairs = a.join(b.hint("shuffle_hash"), "bucket").filter(
        F.col("vec1") < F.col("vec2")
    )
    cos = _dot(F.col("v1"), F.col("v2")) / (_norm(F.col("v1")) * _norm(F.col("v2")))
    return (
        pairs.select("vec1", "vec2", (F.round(cos, 6) + F.lit(0.0)).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_lists: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication",
    public): cluster with the IVF coarse quantizer's k-means, then verify
    EXACT cosine only within each cluster — all (vec1 < vec2) pairs with
    cosine ≥ ``threshold`` whose members share a cluster.

    Same shape as :func:`cosine_near_dup_pairs` but with density-adaptive
    k-means cells instead of fixed hyperplane buckets: clusters follow
    the corpus distribution, so near-identical points co-locate even
    when a hyperplane would split them (the hyperplane miss-mode), at
    the cost of driver-side training on a bounded sample. Candidate
    volume per cluster is |cluster|², so at 100 TB raise ``n_lists``
    until cells are executor-sized (SemDeDup's own recipe) and salt any
    pathological mega-cluster. The join is one shuffle on the cluster
    id; verification is the JVM-side dot product — no UDF.
    """
    assigned, _ = ivf_assignments(
        embeddings, n_lists=n_lists, vec_col=vec_col, id_col=id_col
    )
    # both joins below are corpus-scale ⋈ corpus-scale: shuffled hash
    # pins so no side is ever a broadcast build (the 1g-driver OOM
    # class; not broadcastable at 10^9 vectors anyway)
    clustered = embeddings.join(assigned.hint("shuffle_hash"), id_col)
    a = clustered.select(
        F.col(id_col).alias("vec1"), "list_id", F.col(vec_col).alias("v1")
    )
    b = clustered.select(
        F.col(id_col).alias("vec2"), "list_id", F.col(vec_col).alias("v2")
    )
    pairs = a.join(b.hint("shuffle_hash"), "list_id").filter(
        F.col("vec1") < F.col("vec2")
    )
    cos = _dot(F.col("v1"), F.col("v2")) / (_norm(F.col("v1")) * _norm(F.col("v2")))
    return pairs.select(
        "vec1", "vec2", (F.round(cos, 6) + F.lit(0.0)).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def ann_topk_bucketed(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to the query's
    LSH bucket. One equi-join on the bucket key replaces the full scan —
    the join prunes to a ~2^-n_planes fraction of the corpus. A missing
    ``query_vec_id`` raises (the module's point-path contract); the
    check shares the query row's ONE pushed-down scan — bucket and
    vector come back from the same ``first()`` and re-enter as a
    literal broadcast frame (r12 paid a separate existence job, then
    re-derived the query's bucket from the corpus in-plan)."""
    bucketed = lsh_buckets(embeddings, n_planes, vec_col, id_col)
    q_row = (
        bucketed.filter(F.col(id_col) == query_vec_id)
        .select("bucket", vec_col)
        .first()
    )
    if q_row is None:
        raise ValueError(
            f"ann_topk_bucketed: no row with {id_col}={query_vec_id!r}"
        )
    q = embeddings.sparkSession.createDataFrame(
        [
            (
                q_row["bucket"],
                _query_vec_as_double(
                    q_row,
                    vec_col,
                    "ann_topk_bucketed",
                    f"{id_col}={query_vec_id!r}",
                ),
            )
        ],
        "qbucket string, qvec array<double>",
    )
    cand = bucketed.filter(F.col(id_col) != query_vec_id).join(
        F.broadcast(q), F.col("bucket") == F.col("qbucket")
    )
    cos = _dot(F.col(vec_col), F.col("qvec")) / (
        _norm(F.col(vec_col)) * _norm(F.col("qvec"))
    )
    return (
        cand.select(F.col(id_col), (F.round(cos, 6) + F.lit(0.0)).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def quantize_embeddings(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the storage /
    bandwidth step an ANN index build runs before sharding vectors
    (scale = max|v|/127 per vector, q = round(v/scale)).

    Map-only: per-vector scale is a JVM higher-order fold, values
    posexplode to (id, pos, qval) rows — no shuffle, no Python, so
    it streams through a 100 TB corpus at scan speed. Rounding is
    ``floor(x + 0.5)`` written out explicitly because engines disagree on
    round-half-to-even; floor is exact in IEEE double everywhere.
    """
    maxabs = F.aggregate(
        F.col(vec_col),
        F.lit(0.0).cast("double"),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scale = maxabs / F.lit(127.0)
    pe = embeddings.select(
        id_col,
        scale.alias("scale"),
        F.posexplode(vec_col).alias("pos", "v"),
    )
    qval = F.when(F.col("scale") == 0.0, F.lit(0)).otherwise(
        F.floor(F.col("v").cast("double") / F.col("scale") + F.lit(0.5))
    )
    return pe.select(
        id_col,
        # 1-based to match SQL generate_subscripts
        (F.col("pos") + 1).cast("long").alias("pos"),
        qval.cast("long").alias("qval"),
        (F.round(F.col("scale"), 6) + F.lit(0.0)).alias("scale_r"),
    )


_PQ_DEFAULT_SEED = 7


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 32,
    seed: int = _PQ_DEFAULT_SEED,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", public): split each vector
    into ``m`` contiguous subvectors and train an ``n_codes``-centroid
    k-means per subvector on a BOUNDED deterministic sample — the same
    train-small/apply-big contract as :func:`ivf_assignments`. The model
    is m·n_codes·(d/m) floats (= n_codes·d — kilobytes), broadcast as
    literals; training never touches more than the sample.

    ``centroids`` (an :func:`ivf_assignments` coarse-quantizer model)
    switches training to RESIDUALS — each sampled vector is replaced by
    its offset from its nearest coarse centroid before the per-subvector
    k-means, the FAISS ``IndexIVFPQ`` layout: residuals concentrate the
    quantizer's dynamic range around the cell centers, lifting recall at
    the same code budget. Pair with :func:`pq_encode_residual` and
    ``ann_topk_ivfpq_batch(..., residual=True)``.
    """
    import numpy as np

    rows = (
        embeddings.select(id_col, vec_col)
        .sort(id_col)
        .limit(max(n_codes * 20, 256))
        .collect()
    )
    return _pq_train_books(rows, m, n_codes, seed, id_col, centroids)


def _pq_train_books(
    rows: list,
    m: int,
    n_codes: int,
    seed: int,
    id_col: str,
    centroids: list[list[float]] | None,
) -> list[list[list[float]]]:
    """Driver-side PQ k-means over an already-collected bounded sample —
    split out of :func:`pq_codebooks` so a one-shot serving path can
    fetch the sample and its query vector in ONE job (see
    :func:`ann_topk_pq`) and still train identically."""
    import numpy as np

    _check_sample_id_conflicts(rows, id_col, "pq_codebooks")
    sample = np.array([list(r[1]) for r in rows], dtype=np.float64)
    if len(sample) == 0:
        raise ValueError("pq_codebooks: embeddings table is empty")
    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
        if cents.shape[1] != sample.shape[1]:
            raise ValueError(
                f"pq_codebooks: centroid dim {cents.shape[1]} != vector "
                f"dim {sample.shape[1]} — coarse quantizer trained on "
                "different vectors?"
            )
        # driver-side nearest-centroid assignment of the bounded sample
        # (numpy argmin's first-min tiebreak matches the corpus
        # assignment's array_position rule; training only shapes the
        # books, so exact IEEE parity with the JVM path is not needed)
        d2c = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        sample = sample - cents[d2c.argmin(axis=1)]
    d = sample.shape[1]
    if d % m != 0:
        raise ValueError(f"pq_codebooks: dim {d} not divisible by m={m}")
    sub_d = d // m
    rng = np.random.default_rng(seed)
    books: list[list[list[float]]] = []
    for j in range(m):
        sub = sample[:, j * sub_d : (j + 1) * sub_d]
        k_eff = min(n_codes, len(sub))
        cents = sub[rng.choice(len(sub), size=k_eff, replace=False)].copy()
        for _ in range(10):  # fixed-iteration Lloyd's — deterministic
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k_eff):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append([list(map(float, c)) for c in cents])
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector its PQ code word per subvector — an
    Arrow-vectorized pandas UDF, the sanctioned exception to the
    JVM-only rule: the assignment is an argmin over m·n_codes centroid
    distances per row, which as built-in expressions becomes a ~256-fold
    codegen blob that measured 2 kvec/s, while one numpy broadcast over
    each Arrow batch does the identical math at vector-math speed (2 →
    33 kvec/s at 10× the sf0.1 embeddings, CHANGELOG Round 3). Still a
    pure map: no shuffle, no per-row Python (batch-at-a-time), codebooks
    ride into the workers as a closure (kilobytes). Ties break to the
    first minimal index — the same rule the previous expression form
    (``array_position(array_min)``) used, so codes are identical.
    """
    import numpy as np

    # module-level pandas import (below) — with `from __future__ import
    # annotations` pandas_udf resolves the string type hints against
    # module globals, so a function-local `import pandas` breaks it
    from pyspark.sql.functions import pandas_udf

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    sub_d = books[0].shape[1]

    @pandas_udf("array<int>")
    def encode(col: pd.Series) -> pd.Series:
        # empty Arrow batches happen (empty partition / pushed-down
        # filter): np.array([]) is shape (0,) and the 2-D subvector
        # slice below would raise IndexError
        if len(col) == 0:
            return pd.Series([], dtype=object)
        if col.isna().any():
            # a single null makes tolist() ragged → object-dtype array
            # that breaks the broadcast arithmetic with a shape error
            # far from the cause; fail with the contract instead
            raise ValueError(
                "pq_encode: null embedding in batch — filter nulls "
                f"before encoding ({vec_col} must be non-null)"
            )
        x = np.array(col.tolist(), dtype=np.float64)
        codes = np.empty((x.shape[0], m), dtype=np.int32)
        for j, book in enumerate(books):
            sub = x[:, j * sub_d : (j + 1) * sub_d]
            d2 = ((sub[:, None, :] - book[None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series([c.tolist() for c in codes])

    return embeddings.select(
        F.col(id_col), encode(F.col(vec_col)).alias("codes")
    )


def pq_encode_residual(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    index: tuple[DataFrame, list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Residual PQ encoding (FAISS ``IndexIVFPQ`` add step): each vector
    is encoded as its offset from its IVF cell centroid, against
    codebooks trained on residuals (``pq_codebooks(...,
    centroids=...)``). Output ``(id, list_id, codes)`` — the cell rides
    along because residual ADC lookups are per-cell
    (:func:`_adc_table_rows_residual`).

    Same Arrow-vectorized kernel rationale as :func:`pq_encode`; the
    centroid matrix (n_lists·d floats — kilobytes) rides into the
    workers as a closure. The embeddings⋈assignment join is
    corpus-scale ⋈ corpus-scale → shuffled hash on the id key, never a
    broadcast build (the repo's 1g-driver OOM class; at 10⁹ vectors
    neither side is broadcastable anyway).
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    assigned, centroids = index
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    cents = np.asarray(centroids, dtype=np.float64)
    m = len(books)
    sub_d = books[0].shape[1]

    @pandas_udf("array<int>")
    def encode_res(vec: pd.Series, cell: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        if vec.isna().any() or cell.isna().any():
            raise ValueError(
                "pq_encode_residual: null embedding or list_id in batch "
                f"— filter nulls before encoding ({vec_col} must be "
                "non-null and every id must have an assignment)"
            )
        x = np.array(vec.tolist(), dtype=np.float64)
        x = x - cents[cell.to_numpy(dtype=np.int64)]
        codes_arr = np.empty((x.shape[0], m), dtype=np.int32)
        for j, book in enumerate(books):
            sub = x[:, j * sub_d : (j + 1) * sub_d]
            d2 = ((sub[:, None, :] - book[None, :, :]) ** 2).sum(axis=2)
            codes_arr[:, j] = d2.argmin(axis=1)
        return pd.Series([c.tolist() for c in codes_arr])

    with_cell = embeddings.select(id_col, vec_col).join(
        assigned.hint("shuffle_hash"), id_col
    )
    return with_cell.select(
        F.col(id_col),
        F.col("list_id"),
        encode_res(F.col(vec_col), F.col("list_id")).alias("codes"),
    )


def ann_topk_pq(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    m: int = 8,
    n_codes: int = 32,
    rerank_factor: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ ANN with asymmetric distance computation (ADC) + exact rerank:
    the query stays un-quantized; each corpus vector's approximate L2
    distance is a table lookup per subvector (the per-centroid distance
    table is m·n_codes doubles computed driver-side and broadcast as
    literals), so the scan does m ``element_at`` lookups per row instead
    of d multiplies. The best ``rerank_factor·k`` ADC candidates get an
    exact cosine rerank — the standard PQ accuracy recovery. Both
    selection steps are TakeOrdered with total orderings (ties → id), so
    results are deterministic.

    ``codebooks`` takes a prebuilt ``pq_codebooks(...)`` model so many
    queries share ONE quantizer (the FAISS train/search split — only
    the query-specific ADC tables are rebuilt per call); omit it for
    one-shot convenience and the model trains in-call.

    Duplicate-corpus-id note: this one-shot convenience path assumes
    unique ids; the BATCH paths collapse identical-vector repeats to
    one top-k slot (:func:`_topk_dedup_ids`) — serve through them.
    """
    import numpy as np

    if codebooks is not None:
        books = codebooks
        q_row = (
            embeddings.filter(F.col(id_col) == query_vec_id)
            .select(vec_col)
            .first()
        )
        if q_row is None:
            raise ValueError(
                f"ann_topk_pq: no row with {id_col}={query_vec_id!r}"
            )
        qvec = np.array(q_row[0], dtype=np.float64)
    else:
        # train-in-call: the bounded training sample and the query row
        # are TWO pushed-down lookups over the same table — union them
        # into ONE collect so the one-shot path pays one driver job
        # (and one scheduling round-trip at serving scale) instead of
        # two. Rows and training are identical to pq_codebooks +
        # first(): same sort+limit sample, same Lloyd's iterations.
        lim = max(n_codes * 20, 256)
        tagged = (
            embeddings.select(id_col, vec_col)
            .sort(id_col)
            .limit(lim)
            .withColumn("__q", F.lit(False))
            .unionByName(
                embeddings.filter(F.col(id_col) == query_vec_id)
                .select(id_col, vec_col)
                .withColumn("__q", F.lit(True))
            )
            .collect()
        )
        q_rows = [r for r in tagged if r["__q"]]
        if not q_rows:
            raise ValueError(
                f"ann_topk_pq: no row with {id_col}={query_vec_id!r}"
            )
        # union+collect promises no row order: restore pq_codebooks'
        # id order (nulls first, as Spark's ascending sort) so the
        # books train identically whatever order the rows came back in
        sample = sorted(
            (r for r in tagged if not r["__q"]),
            key=lambda r: (r[0] is not None, r[0]),
        )
        books = _pq_train_books(
            sample, m, n_codes, _PQ_DEFAULT_SEED, id_col, None
        )
        qvec = np.array(list(q_rows[0][1]), dtype=np.float64)
    sub_d = len(books[0][0])
    tables = []  # tables[j][c] = ||q_sub_j - centroid_c||²
    for j, book in enumerate(books):
        qs = qvec[j * sub_d : (j + 1) * sub_d]
        tables.append([float(((qs - np.array(c)) ** 2).sum()) for c in book])

    codes = pq_encode(embeddings, books, vec_col=vec_col, id_col=id_col)
    adist = None
    for j, table in enumerate(tables):
        term = F.element_at(
            F.array(*[F.lit(x) for x in table]),
            F.element_at(F.col("codes"), j + 1) + 1,
        )
        adist = term if adist is None else adist + term
    cand_ids = (
        codes.filter(F.col(id_col) != query_vec_id)
        .select(F.col(id_col), adist.alias("adist"))
        .orderBy(F.col("adist").asc(), F.col(id_col))
        .limit(rerank_factor * k)
        .select(id_col)
    )
    # bounded side (≤ rerank_factor·k rows) is the broadcast build —
    # never the corpus (see _rerank_topk)
    cand = embeddings.join(F.broadcast(cand_ids), id_col)
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("qvec")
    )
    joined = cand.crossJoin(F.broadcast(q))
    cos = _dot(F.col(vec_col), F.col("qvec")) / (
        _norm(F.col(vec_col)) * _norm(F.col("qvec"))
    )
    return (
        joined.select(F.col(id_col), (F.round(cos, 6) + F.lit(0.0)).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )
