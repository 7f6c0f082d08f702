"""Document deduplication (SURVEY.md §2.12): exact, n-gram Jaccard,
MinHash+LSH.

Scale design (100 TB): exact dedup is a single hash aggregate on a
fingerprint (map-side combine, one shuffle). Near-dup avoids the O(n²)
all-pairs comparison with MinHash-LSH: per-doc signatures are computed
with JVM-side higher-order functions, banded, and only docs sharing a
band bucket are joined — candidate count scales with true-duplicate
density, not n². The exact-Jaccard verifier joins only on shared shingles
(inverted-index join), which is the standard scalable verifier; hot
shingles can be dropped by document frequency when a corpus makes them
skew (the ``max_shingle_df`` knob on :func:`jaccard_pairs`).

Hashing uses md5 (byte-identical in Spark and DuckDB) so every step is
oracle-checkable across engines — murmur/xxhash would be engine-specific.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of the lowercased, space-split text.
    Documents shorter than n words yield a single whole-text shingle so
    they still participate in dedup."""
    toks = F.split(F.lower(text), " ")
    joined = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + k + 1).cast("int")) for k in range(n)]
        ),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, joined).otherwise(
            F.array(F.concat_ws(" ", toks))
        )
    )


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup groups: md5 fingerprint of normalized text → keeper
    (min doc_id) + copy count. One hash aggregate; no joins.

    NULL text carries no dedup evidence (absence of evidence, the
    ``url_dedup_domain_cap`` contract): each NULL-text doc is its OWN
    group (NULL fingerprint, itself the keeper, n_copies=1) via a
    (flag, value) exempt key in the same aggregate — the naive
    groupBy pooled every null-text doc into ONE "duplicate group"
    whose downstream keeper-filter silently discarded all but one."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " ")
    return (
        docs.select(F.md5(norm.cast("binary")).alias("fingerprint"), "doc_id")
        .groupBy(
            "fingerprint",
            F.when(F.col("fingerprint").isNull(), F.col("doc_id")).alias(
                "__exempt"
            ),
        )
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("fingerprint", "keep_doc_id", "n_copies")
    )


def _doc_shingles(docs: DataFrame, text_col: str, n: int) -> DataFrame:
    # Shingling + hashing is CPU-heavy per row, but a document corpus often
    # arrives in few/small files → few input partitions (one 650 KB parquet
    # = 1 partition = single-threaded md5). Repartition by doc_id first so
    # the compute fans out to every core/executor; the pre-compute shuffle
    # is tiny relative to the hashing it parallelizes.
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(parallelism, "doc_id").select(
        "doc_id", word_shingles(F.col(text_col), n).alias("shingles")
    )


def _common_shingle_counts(
    docs: DataFrame,
    text_col: str,
    n: int,
    max_shingle_df: int | None,
) -> DataFrame:
    """Shared inverted-index self-join behind jaccard_pairs and
    containment_pairs: ``(doc1, doc2, n1, n2, n_common)`` for every
    unordered doc pair sharing ≥1 surviving shingle.

    ``max_shingle_df`` caps document frequency in the INDEX only (each
    doc's total shingle count ``n_sh`` is unaffected), so downstream
    scores computed from ``n_common`` are lower bounds when capped."""
    sh = _doc_shingles(docs, text_col, n)
    # the ONE cut, on the sized shingle frame: the index below is read
    # by both self-join sides (uncapped) or by the df-count and the
    # expand (capped), and uncut each reader re-runs the shingle
    # compute, the query's costliest stage. Same-session A/B at sf0.1,
    # median of 7 interleaved runs: 0.95/1.00/1.05x the old persist +
    # index cut on jaccard_pairs/_capped/containment_pairs_capped;
    # cutting the exploded index instead measured 2.4-3.9x slower.
    sized = sh.select(
        "doc_id", "shingles", F.size("shingles").alias("n_sh")
    ).localCheckpoint(eager=False)
    inv = sized.select(
        "doc_id", "n_sh", F.explode("shingles").alias("shingle")
    )
    if max_shingle_df is not None:
        # join back via the HOT list, not the kept list: shingles with
        # df > cap are few by definition (that's why they're worth
        # dropping), so they broadcast and the filter is a map-side anti
        # join — no second shuffle of the full inverted index. The kept
        # list is the same size as the index and would shuffle it twice.
        # Caveat: an aggressively low cap on a huge corpus can make the
        # hot list itself large — if it nears the broadcast limit, drop
        # the hint and let AQE pick the join side.
        hot = (
            inv.groupBy("shingle")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > max_shingle_df)
        )
        kept = inv.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
        # Capped path: every surviving shingle has df <= cap, so its
        # posting list is a BOUNDED array — collect it and expand the
        # C(d,2) ordered pairs map-side (the basket_pairs idiom) instead
        # of self-joining the index. One consumer pass over the index
        # replaces the join's two (the anti-join subtree re-ran per
        # side) and the per-partition hash-table build disappears; the
        # r16 interleaved A/B measured 4.03 -> 3.40 s min at sf0.1 with
        # byte-identical (doc1, doc2, n1, n2, n_common) frames at all
        # three SFs. UNCAPPED stays the self-join below: an unbounded
        # collect of a boilerplate shingle's posting list is exactly
        # the skew hazard the join form streams through.
        # NULL doc_ids pair with nothing in the join form (NULL < x is
        # NULL) — drop them here so both forms agree on any input.
        by_shingle = (
            kept.filter(F.col("doc_id").isNotNull())
            .groupBy("shingle")
            .agg(
                F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias(
                    "__docs"
                )
            )
        )
        pair_expr = F.expr(
            "flatten(transform(__docs, (x, i) -> "
            "transform(slice(__docs, i + 2, size(__docs)), "
            "y -> struct(x.doc_id AS doc1, x.n_sh AS n1, "
            "y.doc_id AS doc2, y.n_sh AS n2))))"
        )
        cand = by_shingle.select(F.explode(pair_expr).alias("__p")).select(
            F.col("__p.doc1").alias("doc1"),
            F.col("__p.doc2").alias("doc2"),
            F.col("__p.n1").alias("n1"),
            F.col("__p.n2").alias("n2"),
        )
        return cand.groupBy("doc1", "doc2", "n1", "n2").agg(
            F.count("*").alias("n_common")
        )
    a, b = inv.alias("a"), inv.alias("b")
    # the inverted-index self-join is corpus×shingles-scale on BOTH
    # sides: shuffle_hash pin so neither is ever a broadcast build (at
    # small stats AQE broadcast-built one side — the 1g-driver OOM
    # class; not broadcastable at 10^9 docs). The hot-list broadcast
    # above is the opposite, deliberate case: bounded by definition.
    return (
        a.join(b.hint("shuffle_hash"), (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            F.col("a.n_sh").alias("n1"),
            F.col("b.n_sh").alias("n2"),
        )
        .agg(F.count("*").alias("n_common"))
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.4,
    n: int = 3,
    text_col: str = "text",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index self-join:
    explode distinct shingles, join docs sharing a shingle, count common
    shingles, Jaccard = |∩| / (|A|+|B|−|∩|). Only pairs with ≥1 shared
    shingle are ever materialized.

    ``max_shingle_df``: the skew knob for huge corpora. A shingle shared
    by d documents contributes O(d²) candidate pairs, so one boilerplate
    shingle ("all rights reserved …") can dominate the whole join; capping
    document frequency drops shingles with df > cap from the *index* while
    keeping them in each doc's shingle count. This is a one-sided
    approximation: capped shingles no longer count toward |∩|, so
    reported jaccard values are LOWER BOUNDS and pairs whose overlap is
    mostly high-df shingles can drop below the threshold even if they
    also share some rare ones (surviving pairs are always true ≥threshold
    pairs under the deflated score). ``None`` (default) keeps exact
    semantics and oracle parity."""
    common = _common_shingle_counts(docs, text_col, n, max_shingle_df)
    jac = F.col("n_common").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("n_common")
    ).cast("double")
    return (
        common.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT — the measure that
    catches subset/superset duplication Jaccard dilutes: a snippet quoted
    whole inside a much larger page has C(snippet→page) ≈ 1 but tiny
    Jaccard. Standard companion to Jaccard dedup (Broder's containment).

    Same inverted-index join as :func:`jaccard_pairs` (only docs sharing
    ≥1 shingle ever pair — candidate count scales with shared-shingle
    density, not n²); emits each unordered pair once with BOTH directed
    containments ``c1_in_2 = |∩|/|A|`` and ``c2_in_1 = |∩|/|B|``, kept
    when either direction reaches ``threshold``.

    ``max_shingle_df`` is the same skew knob as jaccard_pairs — a single
    boilerplate shingle shared by d docs otherwise yields O(d²) candidate
    pairs. Capped shingles leave the index but stay in each doc's
    ``n_sh``, so both directed containments become LOWER BOUNDS (every
    surviving pair truly reaches ``threshold`` under the deflated score;
    pairs whose overlap is mostly high-df shingles can be missed).
    ``None`` (default) keeps exact semantics and oracle parity.
    """
    common = _common_shingle_counts(docs, text_col, n, max_shingle_df)
    c12 = F.round(F.col("n_common").cast("double") / F.col("n1").cast("double"), 6)
    c21 = F.round(F.col("n_common").cast("double") / F.col("n2").cast("double"), 6)
    return (
        common.withColumn("c1_in_2", c12 + F.lit(0.0))
        .withColumn("c2_in_1", c21 + F.lit(0.0))
        .filter(F.greatest("c1_in_2", "c2_in_1") >= threshold)
        .select("doc1", "doc2", "c1_in_2", "c2_in_1")
    )


def minhash_signature(shingles: Column, num_hashes: int = 8) -> list[Column]:
    """MinHash signature: hash i takes the min over shingles of an
    8-hex-char (32-bit) slice of md5('<seed>|' || shingle), where four
    hashes share one md5 (seed = i // 4, slice = i % 4). String-min over
    uniform hex slices is a valid min-hash family surrogate and engine-
    portable. The shared-digest structure needs ceil(n/4) distinct md5s
    per shingle; measured locally it is wash-to-slightly-faster (Spark
    does not subexpression-eliminate across separate higher-order
    lambdas), but engines/codegens that do share it get the 4× for
    free, and min over 8-char slices compares cheaper than over 32-char
    digests."""
    return [
        F.array_min(
            F.transform(
                shingles,
                lambda s: F.substring(
                    F.md5(F.concat(F.lit(f"{i // 4}|"), s)), (i % 4) * 8 + 1, 8
                ),
            )
        ).alias(f"mh{i}")
        for i in range(num_hashes)
    ]


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.4,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """MinHash+LSH near-dup candidates, verified with exact Jaccard.

    signature (num_hashes mins) → ``bands`` band keys (md5 of the
    concatenated rows of each band) → docs sharing any band key become
    candidate pairs → exact Jaccard on the candidates only. At scale the
    candidate join replaces the all-pairs blowup; the verify join touches
    only candidate docs.
    """
    if bands < 1 or num_hashes % bands != 0:
        # bands > num_hashes makes rows_per_band 0 and every band key a
        # CONSTANT — the candidate join silently degenerates into the
        # all-pairs O(n²) blowup LSH exists to avoid; a non-divisible
        # split silently drops the trailing hashes from every band,
        # changing the candidate-recall contract with no warning
        raise ValueError(
            f"minhash_lsh_pairs: bands ({bands}) must evenly divide "
            f"num_hashes ({num_hashes})"
        )
    rows_per_band = num_hashes // bands
    # the shingle frame feeds the signature AND both sides of the verify
    # join — cut so one action computes it once (the blocks spill to
    # disk, so an oversized corpus does not OOM).
    sh = _doc_shingles(docs, text_col, n).localCheckpoint(eager=False)
    sig = sh.select(
        "doc_id", "shingles", *minhash_signature(F.col("shingles"), num_hashes)
    )
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band_key")
    )
    # LAZY plan cut: banded feeds BOTH sides of the self-join, so the
    # signature compute (num_hashes md5s over every shingle — the
    # query's heaviest per-row stage) is otherwise planned twice and
    # relies on runtime exchange reuse to run once; the checkpoint
    # guarantees ONE signature pass and halves the plan (r17 A/B at
    # sf0.1: med ratio 0.82 vs the un-cut form, results identical).
    # Rows are (doc_id, band_key) — corpus × bands, narrow.
    banded = banded.localCheckpoint(eager=False)
    a, b_ = banded.alias("a"), banded.alias("b")
    # candidate pairs carry only ids — the (potentially large) shingle
    # arrays are joined back per *candidate doc*, not per band collision.
    # Every join here is corpus-scale on BOTH sides (banded is corpus ×
    # bands rows, the shingle frames are the corpus, candidates are
    # data-dependent): shuffle_hash pins so no side is ever a broadcast
    # build — at small stats AQE broadcast-built the exploded band side
    # AND both shingle frames (the 1g-driver OOM class; none of them is
    # broadcastable at 10^9 docs).
    candidates = (
        a.join(b_.hint("shuffle_hash"), (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
        )
        # dedup keyed by doc1 ONLY (hash-partitioning on a subset
        # satisfies the (doc1, doc2) clustered distribution, and all
        # copies of a pair share doc1): the dedup's exchange then IS
        # the first verify join's exchange — one less shuffle of the
        # candidate pairs (guide §2.4 "two operations keyed the same
        # way share one exchange"; r17 A/B med ratio 0.94). No new
        # skew exposure: a celebrity doc1 lands on one reducer in the
        # doc1-keyed verify join regardless, and the dedup aggregate
        # still partial-aggregates map-side first.
        .repartition("doc1")
        .dropDuplicates(["doc1", "doc2"])
    )
    s1 = sh.select(F.col("doc_id").alias("doc1"), F.col("shingles").alias("sh1"))
    s2 = sh.select(F.col("doc_id").alias("doc2"), F.col("shingles").alias("sh2"))
    verified = candidates.join(s1.hint("shuffle_hash"), "doc1").join(
        s2.hint("shuffle_hash"), "doc2"
    )
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = F.size(F.array_union("sh1", "sh2")).cast("double")
    return (
        verified.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc1",
    dst: str = "doc2",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-CLUSTER resolution: connected components over near-dup
    pairs via iterative min-label propagation — each node's label
    converges to the minimum doc_id reachable from it, so ``label`` is a
    deterministic cluster id AND the canonical keeper (keep the doc whose
    id equals its label, drop the rest).

    Per iteration: one join edges⋈labels + one min-aggregate, PLUS a
    pointer-jump join (each node also adopts its label's label — the
    path-halving step), all shuffling on a node key with no driver-side
    graph. The jump makes convergence O(log diameter) instead of
    O(diameter) (cf. Kiveris et al., "Connected Components in MapReduce
    and Beyond" — the neighbor-min-only variant needed one iteration
    per hop, which was fine for shallow near-dup cliques but walked a
    high-diameter co-purchase giant component one edge at a time).
    The label frame is localCheckpoint'd EVERY iteration: each uncut
    iteration's logical plan nests the last THREE times over
    (neighbor-min, jump, base) — a ~20-round
    run OOM'd the driver on plan bookkeeping alone with no cut at all
    (examples/graph_analytics.py, round 5), and the interim
    every-5-rounds cadence still left 3^5-way nested plans that the
    per-round convergence probe re-planned in full. All label-side
    joins are hinted ``shuffle_hash``: labels are node-sized (not
    broadcastable at 10^10 docs) and the AQE-chosen broadcast BUILD of
    such tables is the constrained-driver OOM pagerank hit at sf0.1.
    Exhausting ``max_iter`` without convergence raises instead of
    returning silently-partial labels. The convergence check is a
    limit(1).count() probe, not a collect.
    """
    e = pairs.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    # the seed labels and every round's neighbor-min join read the edge
    # list: cut so the pair generation upstream runs once, not per round
    edges = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = edges.select("u").distinct().withColumn("label", F.col("u"))
    labels = labels.localCheckpoint(eager=False)
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col("u").alias("v"), "label").hint("shuffle_hash"),
                "v",
            )
            .groupBy("u")
            .agg(F.min("label").alias("nbr_min"))
        )
        # pointer jump: label(label(u)) — labels only shrink, so the
        # label column always names a node that has its own label row
        jump = labels.select(
            F.col("u").alias("__p"), F.col("label").alias("jump_min")
        )
        new_labels = (
            labels.join(nbr_min.hint("shuffle_hash"), "u", "left")
            .join(jump.hint("shuffle_hash"), labels["label"] == F.col("__p"), "left")
            .select(
                "u",
                F.least(
                    F.col("label"),
                    F.coalesce("nbr_min", F.col("label")),
                    F.coalesce("jump_min", F.col("label")),
                ).alias("label"),
            )
        )
        # cut lineage EVERY iteration: labels appears three times per
        # round (neighbor-min, jump, base), so an uncut plan tree
        # triples each iteration and the probe re-plans the whole 3^k
        # tree (measured: 1000+ join nodes in the returned plan with
        # checkpoint_every=5, and the AQE-chosen broadcasts of those
        # node-sized label tables are the same constrained-driver build
        # hazard pagerank hit — hence the shuffle_hash hints above too).
        # The convergence probe below is the action that materializes it.
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = (
            new_labels.join(
                labels.withColumnRenamed("label", "old").hint("shuffle_hash"), "u"
            )
            .filter(F.col("label") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: not converged after {max_iter} "
            "iterations — with pointer jumping this needs a graph of "
            f"diameter ≳ 2^{max_iter}; raise max_iter (or check the "
            "pair generation for an unexpected giant component)"
        )
    return labels.select(
        F.col("u").alias("doc_id"),
        F.col("label").alias("component"),
        (F.col("u") == F.col("label")).alias("is_keeper"),
    )


def canonical_docs(
    components: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-based canonical selection per duplicate cluster — the
    step a dedup pipeline ends with: :func:`connected_components` keeps
    the MIN-ID doc per cluster (``is_keeper``), but production dedup
    (RefinedWeb / SemDeDup style) keeps the HIGHEST-QUALITY member.
    Quality here is character length (the standard keep-longest rule —
    deterministic, engine-identical); ties break to the lower doc_id so
    the pick is total.

    Output one row per cluster: ``(component, canonical_id, n_chars,
    n_members)``.

    Scale shape: the components frame is node-sized (one row per doc
    that appears in any pair) joined to the docs quality projection —
    a node-table attach join, ``shuffle_hash``-pinned per the repo rule
    (an AQE broadcast BUILD of a node-sized table is the
    constrained-driver OOM class, and at 10¹⁰ docs it isn't
    broadcastable anyway). The rank and the member count share ONE
    window partitioning on ``component`` → one Exchange total after
    the join.
    """
    from pyspark.sql import Window

    quality = docs.select(
        F.col(id_col), F.length(text_col).cast("bigint").alias("n_chars")
    )
    joined = components.select(id_col, "component").join(
        quality.hint("shuffle_hash"), id_col
    )
    w_ord = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col(id_col).asc()
    )
    w_all = Window.partitionBy("component")
    return (
        joined.select(
            "component",
            F.col(id_col),
            "n_chars",
            F.row_number().over(w_ord).alias("__rk"),
            F.count(F.lit(1)).over(w_all).alias("n_members"),
        )
        .filter(F.col("__rk") == 1)
        .select(
            "component",
            F.col(id_col).alias("canonical_id"),
            "n_chars",
            "n_members",
        )
    )


def _simhash_from_hashed(hashed: DataFrame, n_bits: int) -> DataFrame:
    """Shared SimHash tail: (doc_id, h) token hashes → per-bit ±1 vote
    sums (ONE hash aggregate) → sign fold into the fingerprint. Both
    hash variants ride this — a vote-logic fix applies once, not twice
    (the two bodies had drifted into copy-paste)."""
    bit_sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{i}")
            for i in range(n_bits)
        ]
    )
    fingerprint = None
    for i in range(n_bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        fingerprint = term if fingerprint is None else fingerprint.bitwiseXOR(term)
    return bit_sums.select("doc_id", fingerprint.alias("simhash"))


def simhash64(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash over word tokens: per token take 64 bits of
    xxhash64, sum ±1 per bit position weighted by term frequency, sign →
    fingerprint bit. Engine-specific hash ⇒ no cross-engine oracle; pinned
    by unit tests instead (the driver records a rows-only check)."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    exploded = docs.select("doc_id", F.explode(toks).alias("tok"))
    hashed = exploded.select(
        "doc_id", F.xxhash64("tok").alias("h")
    )
    return _simhash_from_hashed(hashed, 64)


def simhash_md5(docs: DataFrame, text_col: str = "text", n_bits: int = 32) -> DataFrame:
    """Portable-hash SimHash: same algorithm as :func:`simhash64` but the
    per-token hash is the first 32 bits of md5 — byte-identical in every
    engine, so the whole fingerprint is oracle-checkable cross-engine
    (unlike the faster xxhash64 variant). Term frequency weights ±1 votes
    per bit; sum > 0 → bit set."""
    if not 1 <= n_bits <= 32:
        # only 32 hash bits exist (first 8 md5 hex chars): bits 32+
        # would be all-zero for every doc — the caller would calibrate
        # Hamming thresholds for n_bits while effectively getting 32
        raise ValueError(
            f"simhash_md5: n_bits must be in [1, 32], got {n_bits}"
        )
    toks = F.split(F.lower(F.col(text_col)), " ")
    exploded = docs.select("doc_id", F.explode(toks).alias("tok"))
    hashed = exploded.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    return _simhash_from_hashed(hashed, n_bits)


def strip_duplicate_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 3,
    max_doc_freq: int = 1,
) -> DataFrame:
    """Cross-document chunk-level dedup (the RefinedWeb/CCNet "remove
    duplicated spans corpus-wide" pass): split each document into
    non-overlapping ``chunk_words``-word chunks, count how many DISTINCT
    documents each chunk appears in, and rebuild every document with the
    chunks whose document frequency exceeds ``max_doc_freq`` removed.

    Returns one row per input document:
    ``(id_col, clean_text, kept_chunks, removed_chunks)`` — a document
    whose every chunk is corpus-duplicated survives with an empty
    ``clean_text`` (callers filter, this operator never drops rows).

    Scale design (100 TB): chunking is a pure map (higher-order
    ``transform``/``slice`` on the split array — no explode needed to
    build chunks) and runs ONCE: the document-frequency gate is a
    window over the chunk key (``size(collect_set(doc_id))``) on the
    same shuffled rows the filter consumes, so the chunked frame is
    neither recomputed for a separate count aggregate nor joined back
    (the previous shape computed the chunk expansion twice — once under
    the df aggregate, once as the anti-join probe side — guide §2.4).
    The rebuild is one hash aggregate on the document id: two shuffles
    total, all on keys, no cartesian anywhere. Hot chunks (stop-phrase
    spans) land on one reducer either way — the old countDistinct
    aggregate also shipped every (chunk, doc_id) pair of a hot chunk to
    a single reducer (partial aggregation dedups only within map
    partitions), and both shapes bound per-reducer state by the chunk's
    distinct-doc set; WindowExec additionally spills its buffered rows.
    """
    words = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(chunk_words)).cast("int")
    chunks = F.when(
        F.size(words) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(words, (i * chunk_words + 1).cast("int"), chunk_words), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    chunked = docs.select(id_col, F.posexplode(chunks).alias("cidx", "chunk"))
    # document frequency via a window over the chunk key: the SAME
    # shuffle that would feed a df aggregate also feeds the filter, so
    # no second chunk-expansion pass and no join back. collect_set
    # (not a row count) because a chunk repeated inside one document
    # must count that document once.
    kept = (
        chunked.withColumn(
            "__doc_freq",
            F.size(
                F.collect_set(id_col).over(Window.partitionBy("chunk"))
            ),
        )
        .filter(F.col("__doc_freq") <= max_doc_freq)
        .drop("__doc_freq")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("cidx", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("kept_chunks"),
    )
    # coalesce: NULL text splits to a NULL array → NULL n_chunks, and
    # the docstring's numeric contract (row survives, counts are 0)
    # must hold for it too
    totals = docs.select(
        id_col,
        F.coalesce(
            n_chunks.cast("long"), F.lit(0).cast("long")
        ).alias("total_chunks"),
    )
    # totals and rebuilt are BOTH corpus-sized (one row per document,
    # rebuilt carries full clean_text): shuffle_hash pin so neither is
    # ever a broadcast build (at small stats AQE broadcast-built the
    # rebuilt corpus — the 1g-driver OOM class).
    return totals.join(rebuilt.hint("shuffle_hash"), id_col, "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("kept_chunks", F.lit(0).cast("long")).alias("kept_chunks"),
        (F.col("total_chunks") - F.coalesce("kept_chunks", F.lit(0).cast("long"))).alias(
            "removed_chunks"
        ),
    )


def incremental_dedup_gate(
    docs: DataFrame,
    batch_pct: int = 20,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup gate: classify each INCOMING
    document against the STANDING corpus as ``exact`` (fingerprint
    already present), ``near`` (n-gram Jaccard ≥ ``threshold`` with some
    corpus doc), or ``new``. This is the shape a continuously-ingesting
    100 TB pipeline actually runs — the self-join dedups (jaccard_pairs
    et al.) re-score the whole corpus; the gate scores only the delta.

    The incoming batch is carved deterministically here (md5 bucket <
    ``batch_pct``, same portable bucketing as hash_sample/mixture_sample)
    so the oracle can replay the split; production callers pass two
    frames' worth of data through the same logic with their own split.

    Scale design: the exact tier is a broadcast-ready semi-join on the
    md5 fingerprint (batch side is the small delta). The near tier is
    the standard inverted-index join — batch shingles against corpus
    shingles, equi-join on shingle — so candidates scale with shared-
    shingle density, and the batch side of every join is delta-sized,
    never corpus-sized. No self-join anywhere.
    """
    bucket = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    batch = docs.filter(bucket < batch_pct)
    corpus = docs.filter(bucket >= batch_pct)

    norm = F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " ")
    fp = F.md5(norm.cast("binary"))
    batch_fp = batch.select(F.col(id_col), fp.alias("fingerprint"))
    corpus_fp = corpus.select(fp.alias("fingerprint")).distinct()
    # left_semi can only build on the RIGHT side — which is the CORPUS
    # fingerprint set here, corpus-sized by construction: shuffle_hash
    # pin so it is never a broadcast build (at small stats AQE
    # broadcast-built it — the 1g-driver OOM class; the delta side
    # cannot be the build in this orientation)
    exact_ids = (
        batch_fp.join(corpus_fp.hint("shuffle_hash"), "fingerprint", "left_semi")
        .select(id_col)
        .withColumn("__exact", F.lit(1))
    )

    def sized_shingles(frame: DataFrame) -> DataFrame:
        sh = _doc_shingles(frame, text_col, n)
        return sh.select(
            id_col, F.size("shingles").alias("n_sh"), F.explode("shingles").alias("shingle")
        )

    inv_b = sized_shingles(batch)
    inv_c = sized_shingles(corpus)
    # batch shingles ⋈ corpus shingles: the corpus side is never a
    # broadcast build; the hinted (batch) side is the build — it is the
    # smaller one by the delta contract, and a shuffled build degrades
    # gracefully when a delta is large, where a broadcast build dies
    common = (
        inv_b.alias("b").hint("shuffle_hash")
        .join(inv_c.alias("c"), F.col("b.shingle") == F.col("c.shingle"))
        .groupBy(
            F.col(f"b.{id_col}").alias("batch_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
            F.col("b.n_sh").alias("n1"),
            F.col("c.n_sh").alias("n2"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    # round(·, 6) BEFORE the threshold compare, exactly like
    # jaccard_pairs — the two paths must agree on boundary pairs, or a
    # doc gated 'near' incrementally flips to not-near in the periodic
    # self-join re-dedup (and vice versa)
    jac = F.round(
        F.col("n_common").cast("double")
        / (F.col("n1") + F.col("n2") - F.col("n_common")).cast("double"),
        6,
    )
    near_ids = (
        common.filter(jac >= threshold)
        .select(F.col("batch_id").alias(id_col))
        .distinct()
        .withColumn("__near", F.lit(1))
    )

    return (
        batch.select(id_col)
        .join(exact_ids, id_col, "left")
        .join(near_ids, id_col, "left")
        .select(
            id_col,
            F.when(F.col("__exact") == 1, F.lit("exact"))
            .when(F.col("__near") == 1, F.lit("near"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


# Bundled Mozilla Public Suffix List snapshot (publicsuffix.org —
# public data, MPL 2.0), generated into ext/psl_data.py by
# tools/gen_psl_data.py from the OS-packaged list: the full ICANN +
# PRIVATE sections, expressed EXACTLY (out-of-scope census is zero as
# of the r15 widening). Single-label suffixes (com, org, de, …) need
# no table — the last-two-labels default already yields the registered
# domain under them. Plain k-label suffixes (k in 2..5) change the
# answer to last-(k+1) labels (a last-two-labels regex silently pools
# every *.co.uk site into one "co.uk" pseudo-domain — the r10-verdict
# data-loss class); the PRIVATE section matters the same way one
# platform up (alice.github.io and bob.github.io are independent
# registrants, r11 class). PSL WILDCARD rules `*.B` (base len 1..4 —
# `*.ck`, `*.sch.uk`, `*.compute.amazonaws.com` classes): every label
# directly under B is itself a public suffix, registered domain = last
# len(B)+2 labels (exact per-depth tiers since r15; the pre-r15 bundle
# down-projected multi-label bases one level coarser). Exception rules
# (`!www.ck` at depth 2, `!city.kawasaki.jp` class at depth 3) carve
# the host out as its own registered domain, checked before every
# other tier (PSL precedence: exceptions, then longest matched rule).
# The `www.ck` normalization interplay: the URL normalizer strips ONE
# leading `www.` BEFORE host extraction, so a BARE `www.ck` URL reaches
# the tiers as host `ck` (its own domain) and only subdomain forms
# (`mail.www.ck`) hit the exception — pinned by
# test_url_dedup_psl_wildcard_tlds_and_exception as an accepted
# pre-PSL-heuristic tradeoff, not an oversight.
from .psl_data import (  # noqa: E402  (data module, imported adjacent to use)
    PSL_SUFFIXES_2 as _SUFFIXES_2,
    PSL_SUFFIXES_3 as _SUFFIXES_3,
    PSL_SUFFIXES_4 as _SUFFIXES_4,
    PSL_SUFFIXES_5 as _SUFFIXES_5,
    PSL_WILDCARD_BASES_2 as _WILDCARD_BASES_2,
    PSL_WILDCARD_BASES_3 as _WILDCARD_BASES_3,
    PSL_WILDCARD_BASES_4 as _WILDCARD_BASES_4,
    PSL_WILDCARD_EXCEPTIONS_2 as _WILDCARD_EXCEPTIONS_2,
    PSL_WILDCARD_EXCEPTIONS_3 as _WILDCARD_EXCEPTIONS_3,
    PSL_WILDCARD_TLDS as _WILDCARD_SUFFIX_TLDS,
)


def url_dedup_domain_cap(
    docs: DataFrame,
    url_col: str = "url",
    cap: int = 5,
    id_col: str = "doc_id",
    salt_partitions: int | None = None,
) -> DataFrame:
    """URL-level dedup + per-domain share cap — the two web-corpus
    curation passes every crawl pipeline runs before content dedup
    (RefinedWeb, Penedo et al. 2023: dedupe by normalized URL, then
    bound any single domain's share of the corpus).

    Normalization (pure map, zero Exchange): lowercase; strip the
    scheme; strip query string and fragment; strip ONE leading ``www.``
    label; strip a trailing slash. The registered domain implements the
    FULL public-suffix algorithm over the bundled PSL snapshot (ICANN +
    private platform sections; ``alice.github.io`` and
    ``bob.github.io`` are distinct registered domains, not one pooled
    ``github.io``): exception rules first (``!www.ck``,
    ``!city.kawasaki.jp`` — the host itself registers), then the
    LONGEST matched rule — plain k-label suffixes for k in 5..2
    (domain = last k+1 labels: ``a.co.uk`` and ``b.co.uk`` are distinct
    domains; ``cdn.a.co.uk`` groups under ``a.co.uk``) interleaved with
    wildcard bases ``*.B`` for len(B) in 4..1 (every label directly
    under B is itself a public suffix, domain = last len(B)+2 labels:
    ``shop.example.mm`` and ``blog.example.mm`` are independent
    registrants, as are ``*.sch.uk`` schools); else the
    last-two-labels default (correct under every single-label TLD). A
    host that IS exactly a matched public suffix keeps itself — never
    pooled into its parent. The lookup is eight explicit-broadcast
    left joins against the bundled tables (the full ~8.3k-rule PSL is
    still kilobytes — bounded by contract) plus two tiny exception
    ``isin``s. (An InSet literal for the big tables was tried first
    and blew janino's 64 KB generated-method limit on the salted path
    — see the code comment.)

    Keep policy, fully deterministic (RNG-free, partition-stable, the
    ``stratified_sample`` idiom): the URL keeper is the MIN id per
    normalized URL; among keepers, each domain retains its first
    ``cap`` docs in (md5(id), id) order. Output one row per input doc:
    ``(doc_id, url_norm, domain, is_url_keeper INT, domain_rank
    BIGINT — NULL for non-keepers, kept INT)``.

    Missing-URL contract: a NULL or blank ``url_col`` is absence of
    evidence, not a duplicate group — such docs pass through KEPT
    (their own keeper, NULL url_norm/domain/rank). The naive window
    would instead pool every url-less doc into one NULL partition and
    silently keep ONE of millions — the data-loss class this guards;
    they also get per-doc window keys so the NULL pool never becomes a
    single sort partition. A single-label host (``localhost``) keeps
    itself as its registered domain rather than pooling into a shared
    ``""`` pseudo-domain; a host that extracts to EMPTY (``https:///p``
    → url_norm ``/p``) carries no domain evidence — its domain is NULL
    and it is cap-exempt with a per-doc window key (else every
    hostless row would pool into one ``""`` pseudo-domain, the same
    class). NULL-domain rows still URL-dedup: ``kept`` for them is
    ``is_url_keeper``, not unconditionally 1.

    Scale shape: two keyed window shuffles — (url_norm), then (domain)
    over ALL rows with a conditional running count, the single-pass way
    to rank the keeper subset without a branch-and-union (non-keepers
    ride through with a NULL rank; re-running the url_norm window per
    branch would double the dominant cost). The only joins are the three
    suffix broadcasts — both keep flags derive from windows over the
    same scan. The honest skew
    exposure: the url_norm key has bounded fan-in (a URL repeats a
    handful of times), but one genuinely hot DOMAIN sorts in one
    partition — window partitions get no AQE skew-split.

    ``salt_partitions=P`` bounds that sort: the domain window becomes a
    two-phase rank over (domain, salt) where salt is derived from the
    FIRST 16 BITS of the same md5 sort key (``floor(prefix·P/65536)``)
    — monotone in the sort key, so salt buckets are CONTIGUOUS md5
    ranges and the exact global rank recomposes as per-bucket running
    count + the summed keeper counts of earlier buckets (a domain×P
    -sized aggregate, windowed per domain, attached back with a
    shuffle_hash-pinned equi-join — the node-table-attach rule). The
    output is BIT-IDENTICAL to the unsalted path (the `url_dedup_salted`
    catalog entry certifies it against the same oracle SQL) while each
    sort partition holds ~1/P of the hottest domain. Measured both
    ways (same-run face-offs, CHANGELOG Round 12):
    on an UNskewed sf0.1 fixture the two-phase shape costs ~1.4x the
    single window (1.35 -> 1.86 s min-of-3, P=8); on a PLANTED hot
    domain holding 40% of a 3.2M-row corpus it wins 1.35-1.6x at P=8
    and 1.56-1.9x at P=32 across two recorded runs (artifact run:
    8.2 -> 6.1 -> 5.3 s best-of-2; standalone: 10.4 -> 6.3 -> 5.6 s)
    — turn the knob on when one domain's keeper count approaches a
    sort-partition-sized corpus share (the win grows with the hot
    share; at 100 TB the unsalted hot sort is a single-task
    straggler), leave it off otherwise.
    """
    from pyspark.sql import Window

    no_url = F.col(url_col).isNull() | (F.trim(F.col(url_col)) == "")
    lowered = F.lower(F.col(url_col))
    no_scheme = F.regexp_replace(lowered, r"^[a-z][a-z0-9+.-]*://", "")
    # credentials are not identity: http://user:pw@host/p is the same
    # page as http://host/p. The class excludes '/', '?' AND '#' —
    # userinfo ends at the authority, so an '@' in the path, query or
    # fragment ("?mail=a@b.c") must never trigger the strip (the strip
    # runs BEFORE query removal, which would otherwise eat the host)
    no_user = F.regexp_replace(no_scheme, r"^[^/?#]*@", "")
    no_qf = F.regexp_replace(no_user, r"[?#].*$", "")
    no_www = F.regexp_replace(no_qf, r"^www\.", "")
    norm_raw = F.regexp_replace(no_www, r"/$", "")
    # a URL that normalizes to nothing ("https://", "?q=1") carries no
    # evidence either — same keep-exempt path as NULL/blank
    url_norm = F.when(~no_url & (norm_raw != ""), norm_raw)
    # staged projections, each deriving from the PREVIOUS stage's
    # column: constructing host/last-k from the url_norm *expression*
    # would inline the regexp chain a dozen times over (the generated
    # aggregate method blew past janino's limits and fell back to
    # interpreted eval); referenced-more-than-once non-cheap exprs stay
    # un-collapsed, so each regexp runs once per row
    # host for DOMAIN purposes excludes an explicit :port (a hot domain
    # serving on several ports is ONE domain for the cap — the old
    # ^([^/]+) split example.com:8080 into its own pseudo-domain that
    # got its own cap allowance) and keeps bracketed IPv6 literals
    # whole. The port STAYS in url_norm: a non-default port is a
    # different service, so it is a distinct URL for dedup (default-
    # port stripping would need scheme-aware logic pre-strip — out of
    # scope, documented). A host regexp_extract miss (e.g. url_norm
    # ":8080/p") yields "" → the NULL-domain keep-exempt path.
    staged = docs.select(F.col(id_col), url_norm.alias("url_norm")).select(
        id_col,
        "url_norm",
        F.regexp_extract(
            F.col("url_norm"), r"^(\[[^\]]*\]|[^/:@]+)", 1
        ).alias("__host"),
    )
    hostc = F.col("__host")
    def _last_k(k: int):
        return F.regexp_extract(
            hostc, r"(" + r"\.".join([r"[^.]+"] * k) + r")$", 1
        )

    staged = staged.select(
        id_col,
        "url_norm",
        "__host",
        *[_last_k(k).alias(f"__l{k}") for k in range(1, 7)],
    )
    l2, l3, l4 = F.col("__l2"), F.col("__l3"), F.col("__l4")
    l5, l6 = F.col("__l5"), F.col("__l6")
    # public-suffix tiers as eight explicit-broadcast left joins against
    # the bundled tables (bounded BY CONTRACT — the full ~8.3k-rule PSL
    # is still kilobytes): a matched suffix plus one more label is the
    # registered domain, a matched wildcard base plus two. An InSet literal
    # expression was tried first and blew the salted path's generated
    # aggregate past janino's 64 KB method limit (whole-stage fell back
    # to interpreted eval); the join keeps codegen small and the suffix
    # table swappable. Single-label hosts (no dot) are their OWN
    # registered domain, not a shared "" pool; an EMPTY host
    # ("https:///p") is no domain evidence at all -> NULL (host is NULL
    # exactly when url_norm is — the no-url keep-exempt rows)
    spark = docs.sparkSession
    tiers = (
        ("__psl2", _SUFFIXES_2, "__l2"),
        ("__psl3", _SUFFIXES_3, "__l3"),
        ("__psl4", _SUFFIXES_4, "__l4"),
        ("__psl5", _SUFFIXES_5, "__l5"),
        ("__pslw", _WILDCARD_SUFFIX_TLDS, "__l1"),
        ("__pslw2", _WILDCARD_BASES_2, "__l2"),
        ("__pslw3", _WILDCARD_BASES_3, "__l3"),
        ("__pslw4", _WILDCARD_BASES_4, "__l4"),
    )
    for flag, table, key in tiers:
        tdf = spark.createDataFrame([(s,) for s in table], f"{flag} string")
        staged = staged.join(
            F.broadcast(tdf), F.col(key) == tdf[flag], "left"
        )
    # tier order = PSL rule precedence: exceptions beat everything
    # (longest first); then the LONGEST matched rule. A plain k-label
    # suffix and a wildcard base of k-1 labels both make a k-label
    # suffix, so they share a precedence slot (either order gives the
    # same registered domain); a wildcard rule `*.B` only matches
    # hosts with at least one label UNDER B (the extra `l != ""`
    # guard). Per tier, a host that IS exactly the matched public
    # suffix has no registrable label above it and keeps itself —
    # falling through to a shorter tier instead would pool it into its
    # parent suffix (e.g. every *.sch.uk school into "sch.uk"), the
    # data-loss direction the whole table exists to prevent.
    def _tier(dom):
        return F.when(dom != "", dom).otherwise(hostc)

    domain = F.when(
        hostc.isNotNull() & (hostc != ""),
        F.when(l3.isin(list(_WILDCARD_EXCEPTIONS_3)), l3)
        .when(l2.isin(list(_WILDCARD_EXCEPTIONS_2)), l2)
        .when(F.col("__psl5").isNotNull(), _tier(l6))
        .when(F.col("__pslw4").isNotNull() & (l5 != ""), _tier(l6))
        .when(F.col("__psl4").isNotNull(), _tier(l5))
        .when(F.col("__pslw3").isNotNull() & (l4 != ""), _tier(l5))
        .when(F.col("__psl3").isNotNull(), _tier(l4))
        .when(F.col("__pslw2").isNotNull() & (l3 != ""), _tier(l4))
        .when(F.col("__psl2").isNotNull(), _tier(l3))
        .when(F.col("__pslw").isNotNull() & (l2 != ""), _tier(l3))
        .when(l2 != "", l2)
        .otherwise(hostc),
    )

    base = staged.select(
        F.col(id_col),
        F.col("url_norm"),
        domain.alias("domain"),
    )
    # url-less rows get a per-doc partition key so the NULL pool is
    # neither one giant sort partition nor one dedup group. The key is
    # a (is-exempt, value) COLUMN PAIR, not a sentinel-prefixed string:
    # a sentinel like "\x00nourl:<id>" could collide with a corrupt URL
    # that genuinely contains \x00 bytes (normalization strips nothing
    # inside the string), silently pooling an exempt row with a real
    # one — the flag column makes collision structurally impossible
    uid = F.col(id_col).cast("string")
    url_exempt = F.col("url_norm").isNull()
    url_key = F.coalesce(F.col("url_norm"), uid)
    w_url = Window.partitionBy(url_exempt, url_key).orderBy(
        F.col(id_col).asc()
    )
    keepers = base.withColumn(
        "is_url_keeper",
        (F.row_number().over(w_url) == 1).cast("int"),
    )
    h = F.md5(F.col(id_col).cast("string").cast("binary"))
    dom_exempt = F.col("domain").isNull()
    dom_key = F.coalesce(F.col("domain"), uid)
    rank_cond = (F.col("is_url_keeper") == 1) & F.col("domain").isNotNull()
    if salt_partitions is None:
        w_dom = Window.partitionBy(dom_exempt, dom_key).orderBy(
            h.asc(), F.col(id_col).asc()
        )
        ranked = keepers.withColumn(
            "domain_rank",
            F.when(
                rank_cond,
                F.sum("is_url_keeper").over(
                    w_dom.rowsBetween(Window.unboundedPreceding, 0)
                ),
            ),
        )
    else:
        # The rank rows and the offset aggregate both derive from
        # `keepers`, and column pruning gives the two subtrees
        # DIFFERENT schemas — AQE's stage dedup never fires (verified:
        # no ReusedExchange, documents scanned + url-windowed twice).
        # A LAZY localCheckpoint materializes keepers once on first
        # use and both branches read the same blocks — no extra driver
        # action, lineage truncated, and the duplicate corpus
        # scan+shuffle is gone (at 100 TB that duplicate is a full
        # extra pass over the corpus).
        keepers = keepers.localCheckpoint(eager=False)
        # salt = a CONTIGUOUS range of the md5 sort key (bucket by its
        # first 16 bits), so per-bucket ranks offset-compose exactly
        p = int(salt_partitions)
        prefix16 = F.conv(F.substring(h, 1, 4), 16, 10).cast("long")
        salted = (
            keepers.withColumn("__dx", dom_exempt)
            .withColumn("__dk", dom_key)
            .withColumn(
                "__salt",
                F.floor(prefix16 * F.lit(p) / F.lit(65536)).cast("int"),
            )
        )
        w_ds = Window.partitionBy("__dx", "__dk", "__salt").orderBy(
            h.asc(), F.col(id_col).asc()
        )
        local = salted.withColumn(
            "__local",
            F.when(
                rank_cond,
                F.sum("is_url_keeper").over(
                    w_ds.rowsBetween(Window.unboundedPreceding, 0)
                ),
            ),
        )
        # keeper count per (domain, salt) -> running offset of EARLIER
        # buckets; domain×P rows, windowed per domain, then attached
        # back shuffle_hash-pinned (node-table attach: never let AQE
        # broadcast-BUILD an unbounded side). Both this aggregate and
        # the rank rows read the checkpointed keepers blocks above.
        w_off = (
            Window.partitionBy("__dx", "__dk")
            .orderBy("__salt")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = (
            local.groupBy("__dx", "__dk", "__salt")
            .agg(F.sum(F.when(rank_cond, 1).otherwise(0)).alias("__cnt"))
            .withColumn("__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)))
            .select("__dx", "__dk", "__salt", "__off")
        )
        ranked = (
            local.join(offsets.hint("shuffle_hash"), ["__dx", "__dk", "__salt"])
            .withColumn(
                "domain_rank",
                F.when(rank_cond, F.col("__local") + F.col("__off")),
            )
        )
    return ranked.select(
        id_col,
        "url_norm",
        "domain",
        "is_url_keeper",
        F.col("domain_rank").cast("long").alias("domain_rank"),
        # NULL-domain rows (url-less or empty-host) are CAP-exempt, not
        # dedup-exempt: kept follows the URL keeper flag
        F.when(F.col("domain").isNull(), F.col("is_url_keeper"))
        .otherwise(
            (
                (F.col("is_url_keeper") == 1)
                & (F.col("domain_rank") <= F.lit(int(cap)))
            ).cast("int")
        )
        .alias("kept"),
    )
