"""Text analysis over document tables (SURVEY.md §2.12 extension surface).

Tokenization is a plain single-space split (the fixture corpus is
space-separated); every statistic is built from JVM-side higher-order
array functions — no Python in the hot path. Integer arithmetic and
double division keep results bit-identical to the SQL oracle.
"""

from __future__ import annotations

# module-level: with `from __future__ import annotations` pandas_udf
# resolves string type hints against module globals (the banked
# similarity.py lesson) — a function-local import breaks it
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny deterministic stopword list shared verbatim with the SQL oracle
STOPWORDS = ["the", "a", "and", "of", "to"]

# BPE-ish lexer: words | numbers | single non-space symbol
TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def tokens(text: Column) -> Column:
    return F.split(F.lower(text), " ")


def with_text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats: token counts, distinct ratio, average token
    length, stopword ratio, and a rule-based quality flag."""
    t = tokens(F.col(text_col))
    n_tokens = F.size(t)
    n_distinct = F.size(F.array_distinct(t))
    total_len = F.aggregate(
        F.transform(t, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_stop = F.size(F.filter(t, lambda x: x.isin(STOPWORDS)))
    stop_ratio = n_stop.cast("double") / n_tokens.cast("double")
    distinct_ratio = n_distinct.cast("double") / n_tokens.cast("double")
    avg_len = total_len.cast("double") / n_tokens.cast("double")
    quality = (
        (n_tokens >= 10)
        & (n_tokens <= 10_000)
        & (distinct_ratio >= 0.2)
        & (stop_ratio <= 0.5)
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        F.round(avg_len, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        quality.cast("int").alias("is_quality"),
    )


def with_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the whitespace-normalized lowercase
    text (md5 is available and byte-identical in Spark and DuckDB, so the
    fingerprint — unlike murmur/xxhash — is portable across engines)."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " ")
    return docs.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("fingerprint"),
        F.length(norm).alias("norm_len"),
    )


def bpe_token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus token accounting with a BPE-ish regex lexer, grouped by
    source: total tokens, average per doc."""
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_REGEX), 0)
    per_doc = docs.select(
        "source", F.size(toks).cast("long").alias("n_bpe_tokens")
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bpe_tokens").alias("total_tokens"),
        F.round(
            F.sum("n_bpe_tokens").cast("double") / F.count("*").cast("double"), 6
        ).alias("avg_tokens_per_doc"),
    )


def language_profile(docs: DataFrame) -> DataFrame:
    """Per-language corpus profile + a trivial n-gram language heuristic
    (english-stopword hit rate) evaluated against the labeled ``lang``
    column. The heuristic is deliberately simple and deterministic; it is
    the *plumbing* (per-doc scoring, corpus rollup) that matters."""
    t = tokens(F.col("text"))
    n_tokens = F.size(t)
    n_stop = F.size(F.filter(t, lambda x: x.isin(STOPWORDS)))
    looks_en = (
        n_stop.cast("double") / n_tokens.cast("double") >= 0.05
    ).cast("int")
    per_doc = docs.select("lang", "source", "n_chars", looks_en.alias("looks_en"))
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(
            F.sum("n_chars").cast("double") / F.count("*").cast("double"), 6
        ).alias("avg_chars"),
        F.sum("looks_en").cast("long").alias("n_looks_en"),
    )


def pack_token_shards(
    docs: DataFrame, budget: int = 2048, text_col: str = "text"
) -> DataFrame:
    """Sequence packing: assign documents to fixed token-budget training
    shards. Docs are ordered deterministically per language (md5 of
    doc_id — reproducible under re-runs, partitioning, and cluster
    size), then greedily packed: a doc's shard is the number of FULL
    budgets consumed before it (running-sum prefix // budget).

    One shuffle on the stratum key; the running sum is a Window prefix
    sum — per-language sequential by construction (packing is an ordered
    assignment), but languages pack in parallel and shard ids are stable.
    """
    if budget <= 0:
        # budget 0 divides +Inf/NaN through the non-ANSI double→long
        # cast (saturated max / 0) — silently nonsensical shard ids
        raise ValueError(f"pack_token_shards: budget must be > 0, got {budget}")
    from pyspark.sql import Window

    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_REGEX), 0)
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    t = docs.select(
        "lang",
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        h.alias("__h"),
    )
    w = Window.partitionBy("lang").orderBy("__h", "doc_id")
    cum = F.sum("n_tokens").over(w)
    return t.select(
        "lang",
        "doc_id",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")).cast("double") / F.lit(float(budget)))
        .cast("long")
        .alias("shard"),
    )


def contamination_scores(
    docs: DataFrame, benchmark: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Benchmark decontamination: per-document n-gram overlap against the
    distinct shingle set of a benchmark corpus — the standard check that
    training data does not contain evaluation data.

    The benchmark shingle set is small relative to the corpus (that's
    the premise), so it broadcasts and the overlap count is a map-side
    join + one aggregate on doc_id; corpus shingles are never collected
    or shuffled whole. contamination = hits / doc shingles, in [0, 1].
    """
    from .dedup import word_shingles

    d = docs.select(
        "doc_id", word_shingles(F.col(text_col), n).alias("__sh")
    ).select("doc_id", "__sh", F.size("__sh").cast("long").alias("n_sh"))
    bench = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), n)).alias("shingle")
        )
        # NULL/empty benchmark text shingles to [''] — an empty string
        # is not benchmark CONTENT, and one such row would otherwise
        # mark every NULL/empty corpus doc 100% contaminated (the
        # NULL-pooling class exact_duplicates guards against)
        .filter(F.col("shingle") != "")
        .distinct()
    )
    hits = (
        d.select("doc_id", F.explode("__sh").alias("shingle"))
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
    return (
        # the per-doc frames on BOTH sides are corpus-sized (the bench
        # broadcast above is the deliberate bounded-by-contract side):
        # shuffled hash pin so the hit counts are never a broadcast build
        d.select("doc_id", "n_sh")
        .join(hits.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            "n_sh",
            n_hits.alias("n_hits"),
            (
                F.round(n_hits.cast("double") / F.col("n_sh").cast("double"), 6)
                + F.lit(0.0)
            ).alias("contamination"),
        )
    )


def contamination_spans(
    docs: DataFrame, benchmark: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Span-level benchmark contamination: the longest CONSECUTIVE run
    of contaminated n-gram positions per document — the measure behind
    span-removal decontamination (Dolma / FineWeb style): a doc whose
    hits scatter as isolated shingles is noise, a doc with a long
    contiguous run embeds a verbatim slice of the benchmark.
    :func:`contamination_scores` gives the overlap FRACTION; this gives
    its worst-span shape. Fully integer output — no float anywhere.

    Output per doc: ``(doc_id, n_sh, n_hits, max_run)`` with
    ``max_run`` the longest streak of consecutive shingle positions
    whose shingle appears in the benchmark's distinct shingle set
    (0 when clean or shingle-less).

    Unlike the set-based dedup/score paths (``word_shingles`` is
    DISTINCT — fine for membership, wrong for spans: positions in a
    deduped list are not text positions, and distinct-order is not a
    cross-engine guarantee), the doc side here builds POSITIONAL
    shingles — one per token position, duplicates kept in order — so a
    run of k means k consecutive text positions. The benchmark side
    stays a distinct set (membership only).

    Scale shape: the benchmark shingle set broadcasts (the bounded
    premise, as contamination_scores); hit positions are map-side
    flagged, and the run detection is gaps-and-islands — ONE window
    partitioned by doc (pos − row_number is constant within a streak)
    over the hit rows only, then two hash aggregates. Per-doc frames
    join back under a ``shuffle_hash`` pin, never a broadcast build.
    """
    from pyspark.sql import Window

    from .dedup import word_shingles

    t = F.split(F.lower(F.col(text_col)), " ")
    gram = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, i + j) for j in range(n)]
        ),
    )
    pos_shingles = F.when(F.size(t) >= n, gram).otherwise(
        F.array(F.concat_ws(" ", t))
    )
    d = docs.select("doc_id", pos_shingles.alias("__sh")).select(
        "doc_id", "__sh", F.size("__sh").cast("long").alias("n_sh")
    )
    bench = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), n)).alias("shingle")
        )
        # same empty-shingle exclusion as contamination_scores
        .filter(F.col("shingle") != "")
        .distinct()
    )
    hit_pos = d.select(
        "doc_id", F.posexplode("__sh").alias("pos", "shingle")
    ).join(F.broadcast(bench), "shingle")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        hit_pos.select(
            "doc_id",
            (F.col("pos") - F.row_number().over(w)).alias("__grp"),
        )
        .groupBy("doc_id", "__grp")
        .agg(F.count(F.lit(1)).cast("long").alias("__run"))
    )
    per_doc = runs.groupBy("doc_id").agg(
        F.max("__run").alias("max_run"), F.sum("__run").alias("n_hits")
    )
    return (
        d.select("doc_id", "n_sh")
        .join(per_doc.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            "n_sh",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce(F.col("max_run"), F.lit(0)).cast("long").alias("max_run"),
        )
    )


def bigrams(t: Column) -> Column:
    """Adjacent token pairs as ``"a b"`` strings, JVM-side: two slices
    zipped — no explode needed to *build* them (consumers explode when
    they need per-bigram rows)."""
    n = F.greatest(F.size(t) - 1, F.lit(0))
    return F.zip_with(
        F.slice(t, 1, n),
        F.slice(t, 2, n),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, public):
    per document, the fraction of tokens taken by the most frequent
    unigram, by the most frequent bigram, and by bigrams occurring more
    than once. High values flag boilerplate / degenerate text.

    explode → two-level aggregate: per-(doc, gram) counts combine
    map-side, then per-doc maxima — one shuffle keyed on (doc_id, gram),
    no per-doc quadratic work, so arbitrarily large documents and corpora
    partition cleanly.
    """
    t = tokens(F.col(text_col))
    base = docs.select("doc_id", t.alias("t"), bigrams(t).alias("bg"))
    uni = (
        base.select("doc_id", F.explode("t").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_uni"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
    )
    bi = (
        base.select("doc_id", F.explode("bg").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_bi"),
            F.sum("c").alias("n_bigrams"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup_bi"),
        )
    )
    frac = lambda a, b: F.round(a.cast("double") / b.cast("double"), 6)  # noqa: E731
    zero = F.lit(0.0)
    return (
        # both sides are corpus-sized per-doc aggregates: shuffled hash
        # pin so neither is ever a broadcast build (the 1g-driver OOM
        # class at small stats; not broadcastable at 10^9 docs)
        uni.join(bi.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (frac(F.col("top_uni"), F.col("n_tokens")) + zero).alias(
                "top_unigram_frac"
            ),
            (F.coalesce(frac(F.col("top_bi"), F.col("n_bigrams")), zero) + zero)
            .alias("top_bigram_frac"),
            (F.coalesce(frac(F.col("dup_bi"), F.col("n_bigrams")), zero) + zero)
            .alias("dup_bigram_frac"),
        )
    )


# (The rule-based PII scrub lives in ``pii_redact`` below, next to its
# pattern battery.)


def tfidf_top_terms(docs: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """Per-document top-k terms by tf-idf (smoothed idf
    ``ln((N+1)/(df+1))``). The shape a keyword-extraction / corpus-search
    feature pipeline needs.

    Scale: term frequencies and document frequencies are two shuffles on
    (doc_id, term) / term with map-side combine; N arrives as a 1-row
    broadcast (no driver collect). Ranking windows over doc_id — the
    same key the tf aggregate already hashed on, so AQE coalesces
    without an extra exchange. Scores are rounded to 6dp BEFORE ranking
    so Spark and the SQL oracle order identically (ties break on term).
    Residual caveat (shared with ``bm25_topk``): the idf is a libm
    ``log`` whose last ulp can differ across engines — a documented
    exception to the no-log rule, traded for real tf-idf semantics.
    """
    from pyspark.sql import Window

    t = tokens(F.col(text_col))
    pairs = (
        docs.select("doc_id", F.explode(t).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfreq = pairs.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        # pairs is corpus×terms, dfreq is vocabulary-sized — neither is
        # broadcastable at web scale: shuffled hash pin on the term key
        pairs.join(dfreq.hint("shuffle_hash"), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf").cast("double")
                * F.log(
                    (F.col("n_docs") + 1).cast("double")
                    / (F.col("df") + 1).cast("double")
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("doc_id", "rnk", "term", (F.col("score") + F.lit(0.0)).alias("score"))
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """BM25 retrieval over the corpus for a fixed term query — the scoring
    a corpus-search / hard-negative-mining stage runs (Robertson/Zaragoza
    BM25, Lucene idf form ``ln((N − df + 0.5)/(df + 0.5) + 1)``).

    Scale design: per-doc term frequencies and doc length are higher-order
    array ops (pure map, no explode — the query has few terms, so one
    ``size(filter(...))`` per term beats exploding the whole corpus);
    corpus stats (N, Σdl, per-term df) are ONE single-row aggregate
    broadcast back; the final top-k is a TakeOrdered on
    ``(score desc, doc_id)`` — a total order, so the kept set is exact and
    deterministic with no global sort or single-partition window.

    Double-arithmetic order mirrors the SQL oracle expression-for-
    expression (literals combined the same way). Residual cross-engine
    caveat: ``idf`` is a libm ``log`` whose last ulp can differ across
    engines — a score landing within one ulp of a 6dp rounding tie
    could round differently per engine (no such tie has materialized
    across the gate's fixtures; the repo's no-log rule applies to new
    oracled paths, and this documented exception is the trade for
    real BM25 semantics).

    ``query_terms`` are lowercased on entry: ``tokens()`` lowercases
    all text, so a mixed-case term would otherwise silently match
    nothing and contribute zero to every score.
    """
    if not query_terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    query_terms = [str(term).lower() for term in query_terms]
    t = tokens(F.col(text_col))

    # closure factory: a `lambda x, term=term:` two-arg signature would
    # make F.filter pass (element, index) and bind the INDEX to term
    def _tf(term: str) -> Column:
        return F.size(F.filter(t, lambda x: x == F.lit(term))).cast("long")

    per_doc = docs.select(
        "doc_id",
        F.size(t).cast("long").alias("dl"),
        *[_tf(term).alias(f"tf{i}") for i, term in enumerate(query_terms)],
    )
    stats = per_doc.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).cast("long").alias(f"df{i}")
            for i in range(len(query_terms))
        ],
    )
    j = per_doc.crossJoin(F.broadcast(stats))
    n_d = F.col("n_docs").cast("double")
    avgdl = F.col("total_dl").cast("double") / n_d
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"tf{i}").cast("double")
        dfq = F.col(f"df{i}").cast("double")
        idf = F.log((n_d - dfq + F.lit(0.5)) / (dfq + F.lit(0.5)) + F.lit(1.0))
        s = (
            idf
            * (tf * (F.lit(k1) + F.lit(1.0)))
            / (
                tf
                + F.lit(k1)
                * (F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl").cast("double") / avgdl))
            )
        )
        score = s if score is None else score + s
    return (
        j.select("doc_id", (F.round(score, 6) + F.lit(0.0)).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def corpus_bigram_topk(docs: DataFrame, k: int = 20, text_col: str = "text") -> DataFrame:
    """Corpus-wide top-k bigrams — the n-gram census a tokenizer-training
    or domain-mix analysis step runs. One explode + one hash aggregate
    with map-side combine; the final top-k is a TakeOrdered over the
    aggregated (small) gram table, never over raw rows."""
    t = tokens(F.col(text_col))
    return (
        docs.select(F.explode(bigrams(t)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(k)
    )


def mixture_sample(
    docs: DataFrame,
    rates_pct: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic source-weighted corpus mixing: keep each row with
    its source's probability, decided by md5(id) bucket 0-99 — the
    training-mixture knob (upweight wiki, downsample crawl) with zero RNG
    state. The same row set is drawn under any partitioning, cluster
    size, or re-run, and any engine that can md5 draws it identically.

    ``rates_pct`` maps source → integer percent (0-100). Rows whose
    source is absent from the map are dropped (explicit mixture, no
    silent default). Scale design: the weights table is a broadcast join
    (a few hundred sources at most); the bucket filter is a pure map —
    no shuffle anywhere.
    """
    spark = docs.sparkSession
    rates = spark.createDataFrame(
        [(s, int(p)) for s, p in rates_pct.items()],
        f"{source_col} string, rate_pct int",
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    return docs.join(F.broadcast(rates), source_col, "inner").filter(
        bucket < F.col("rate_pct")
    )


def charlm_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Character-bigram corpus-likelihood quality score — the KenLM-style
    "does this look like the corpus?" gate of a pretraining pipeline
    (docs full of rare character sequences — mojibake, binary spill,
    wrong-script text — score low), with the LM reduced to its
    deterministic core: unigram-of-bigrams relative frequency.

    Two passes, both shuffle-light at 100 TB: (1) train — explode char
    bigrams (JVM ``sequence``/``substring``, no Python) and hash-agg
    count them; the model is vocab-sized (≤ charset², a few k rows) so
    it BROADCASTS back; (2) score — re-explode, broadcast-join the
    model, one hash-agg per doc. Cross-engine bit-stability: the per-
    bigram probability is a single IEEE double division (exact in both
    engines), quantized via ``floor(p · 10⁹)`` to BIGINT BEFORE the
    order-insensitive integer sum (the decimal_sum contract: derived
    doubles can tie exactly at the target scale, where Spark's
    half-up and DuckDB's half-even ROUND disagree — floor is pure
    IEEE, tie-free); the per-doc score is one BIGINT floor-division
    and one exact-operand IEEE division back to double. No float
    accumulation, no round(), no log() anywhere.

    Docs shorter than 2 chars have no bigrams and are absent from the
    output (inner-join semantics, same as the SQL oracle).
    """
    # materialize lower(text) in its OWN projection: inlined into the
    # bigram lambda it would re-lowercase the whole document once per
    # position — O(len²) per doc. Multiple references to a non-cheap
    # alias block Catalyst's CollapseProject, so the hoist survives
    # optimization. Bigrams come from split-to-chars + shifted zip_with
    # concat, NOT per-position substring(t, i, 2): UTF8 substring scans
    # from the string start each call (O(i)), which is quadratic again —
    # the zip_with form halves the measured stage time at sf0.1.
    lowered = docs.select("doc_id", F.lower(F.col(text_col)).alias("__t"))
    chars = F.split(F.col("__t"), "")
    tail_len = F.greatest(F.size(chars) - 1, F.lit(0))
    pref = F.slice(chars, 1, tail_len)
    suff = F.slice(chars, 2, tail_len)
    bgs = F.zip_with(pref, suff, lambda a, b: F.concat(a, b))
    bg = lowered.select("doc_id", F.explode(bgs).alias("bigram"))

    model = bg.groupBy("bigram").agg(F.count("*").alias("c"))
    total = model.agg(F.sum("c").alias("total"))
    p = F.col("c").cast("double") / F.col("total").cast("double")
    model_p = (
        model.crossJoin(F.broadcast(total))
        .select(
            "bigram",
            F.floor(p * F.lit(1000000000.0)).cast("long").alias("p9"),
        )
    )

    return (
        bg.join(F.broadcast(model_p), "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("p9").alias("__s9"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.expr("__s9 div n_bigrams").cast("double")
                / F.lit(1000000000.0)
                + F.lit(0.0)
            ).alias("char_lm_score"),
        )
    )


def vocab_coverage(
    docs: DataFrame, coverage: float = 0.9, text_col: str = "text"
) -> DataFrame:
    """Vocabulary coverage curve: the smallest frequency-ranked word set
    whose cumulative share of corpus tokens reaches ``coverage`` — the
    tokenizer-design / OOV-budget question ("how many words cover 90% of
    the corpus?") asked before any vocab induction.

    The explode + count is the scalable part (map-side combine, one
    shuffle on word); the ranking windows then run over the AGGREGATED
    vocab — corpus-size-independent (vocab grows ~log of corpus), so the
    single-partition global sort is a post-aggregation detail, not a
    scale hazard. Ties rank deterministically by (count desc, word).
    """
    from pyspark.sql import Window

    counts = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    order = [F.col("cnt").desc(), F.col("word").asc()]
    w_cum = (
        Window.orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy()
    cum = F.sum("cnt").over(w_cum)
    total = F.sum("cnt").over(w_all)
    ranked = counts.select(
        F.row_number().over(Window.orderBy(*order)).cast("long").alias("rank"),
        "word",
        "cnt",
        (F.col("cnt").cast("double") / total.cast("double")).alias("__share"),
        (cum.cast("double") / total.cast("double")).alias("__cum"),
        # prior cumulative share — the crossing word's PRIOR cum is
        # below coverage, so filtering on it INCLUDES the word that
        # actually reaches the target (filtering on __cum <= coverage
        # returned a set that never reached it: shares [.5 .3 .2] at
        # coverage .9 gave 2 words covering 80%, and a .95-share head
        # word answered "how many words cover 90%?" with ZERO)
        ((cum - F.col("cnt")).cast("double") / total.cast("double")).alias(
            "__prior"
        ),
    )
    return ranked.filter(F.col("__prior") < F.lit(coverage)).select(
        "rank",
        "word",
        "cnt",
        F.round("__share", 6).alias("share"),
        F.round("__cum", 6).alias("cum_share"),
    )


def merge_pair_counts(
    docs: DataFrame, text_col: str = "text", top_n: int = 50
) -> DataFrame:
    """Adjacent-token-pair census — the inner statistic of one BPE merge
    iteration (Sennrich et al. 2016: count all symbol bigrams, merge the
    most frequent). Output: the ``top_n`` pairs as ``(pair, n)``,
    ordered by count desc then pair asc (total order, so the cut is
    deterministic).

    Scale design: the pair expansion is a map-side higher-order
    ``transform`` over each document's token array (no explode-then-
    self-join, no window); the census is ONE hash aggregate on the pair
    string with map-side combine — at 100 TB the shuffle carries only
    the per-partition partial counts of the (vocab²-bounded, Zipf-
    concentrated) pair space, not the corpus. Top-n is a TakeOrdered,
    not a global sort.
    """
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_REGEX), 0)
    d = docs.select(toks.alias("__t"))
    pairs = F.when(
        F.size("__t") >= 2,
        F.expr(
            "transform(slice(__t, 1, size(__t) - 1), (x, i) -> concat(x, ' ', __t[i + 1]))"
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    c = (
        d.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return c.orderBy(F.col("n").desc(), F.col("pair").asc()).limit(top_n)


def dsir_importance(
    docs: DataFrame,
    target_cond: Column,
    text_col: str = "text",
    smoothing: int = 1,
) -> DataFrame:
    """DSIR-flavored importance scoring (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling" — public):
    score each document by how target-like its token distribution is,
    where the target is the subset satisfying ``target_cond`` (e.g. the
    quality rule) and the raw distribution is the whole corpus.

    Deviation from the paper, for replayability: the canonical score is
    a sum of log probability ratios; ``log`` is a libm call whose last
    ulp differs across engines, so this uses the LINEAR ratio instead —
    per token t, an integer-quantized smoothed ratio

        r_t = ((10^6 · (n_target_t + s)) div (n_raw_t + s)) · N_raw div N_target

    (all BIGINT floor-divisions, in exactly this association — the
    oracle must reproduce the same op order) and the document score is
    Σ occurrences · r_t — a monotone preference for target-like tokens
    with zero floating point anywhere, bit-identical on any engine and
    partitioning. ``kept`` flags docs at or above the median score
    (exact percentile_disc — an actual data value).

    Scale shape: one explode over the corpus, ONE hash aggregate for
    the per-token raw/target counts (conditional sum — no second scan
    for the target corpus), a two-BIGINT totals collect off the
    checkpointed vocab table (bounded by contract, and the loud
    empty-target guard — ``target_cond`` matching nothing raises
    instead of silently NULLing every score), one equi-join of the
    exploded tokens against the (vocab-sized) ratio table, one per-doc
    sum. Same shuffle economics as tf-idf.

    Raises ``ValueError`` when the target subset is empty.
    """
    t = tokens(F.col(text_col))
    ex = docs.select(
        "doc_id",
        target_cond.cast("long").alias("__tgt"),
        F.explode(t).alias("__tok"),
    )
    # the vocab-sized stats table is consumed twice (totals + ratio);
    # localCheckpoint materializes it once so the corpus-wide explode
    # and aggregate don't run per consumer (and the totals cross join
    # stops being a lineage self-join). Total corpus passes: two — the
    # stats aggregate and the scoring join; the vocab table is tiny.
    tok_stats = ex.groupBy("__tok").agg(
        F.count(F.lit(1)).alias("__n_raw"),
        F.sum("__tgt").alias("__n_tgt"),
    ).localCheckpoint(eager=False)
    # ONE row off the checkpointed vocab table (and its first read) — both a
    # BOUNDED collect (the totals are two BIGINTs) and the loud guard:
    # an empty target subset means __N_tgt = 0, and the div-by-zero
    # under non-ANSI Spark would silently NULL every score and kept
    # flag instead of failing (the module's other entry points raise).
    # Shipping the totals as literals also removes the crossJoin whose
    # lineage self-join needed the alias dance.
    trow = tok_stats.agg(
        F.sum("__n_raw").alias("__N_raw"), F.sum("__n_tgt").alias("__N_tgt")
    ).first()
    n_raw_total = int(trow["__N_raw"] or 0)
    n_tgt_total = int(trow["__N_tgt"] or 0)
    if n_tgt_total == 0:
        raise ValueError(
            "dsir_importance: target_cond matches no documents (or the "
            "target subset has no tokens) — the importance ratio is "
            "undefined for an empty target"
        )
    s = int(smoothing)
    ratio = tok_stats.select(
        "__tok",
        F.expr(
            f"((1000000 * (__n_tgt + {s})) div (__n_raw + {s}))"
            f" * {n_raw_total} div {n_tgt_total}"
        ).alias("__r"),
    )
    # scores feeds both the output and the median scalar — checkpoint
    # (doc-count-sized) so the corpus-wide scoring join runs once
    scores = (
        ex.join(ratio, "__tok")
        .groupBy("doc_id")
        .agg(F.sum("__r").alias("dsir_score"))
        .localCheckpoint(eager=False)
    )
    median = scores.agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY dsir_score)"
        ).alias("__m")
    )
    return scores.crossJoin(median).select(
        "doc_id",
        "dsir_score",
        (F.col("dsir_score") >= F.col("__m")).cast("int").alias("kept"),
    )


def _with_char_ngrams(toks, char_ngrams, caller: str):
    """The fastText-style subword expansion shared by the linear
    classifiers: every contiguous within-token substring of length
    lo..hi becomes an additional feature array concatenated onto the
    token array BEFORE the single explode. Pure HOF arithmetic — the
    caller's plan keeps exactly ONE Generate."""
    if char_ngrams is None:
        return toks
    lo, hi = int(char_ngrams[0]), int(char_ngrams[1])
    if not 1 <= lo <= hi:
        raise ValueError(
            f"{caller}: char_ngrams must be (lo, hi) "
            f"with 1 <= lo <= hi — got {char_ngrams!r}"
        )

    def grams_of(n):
        # sequence's stop is clamped to >= 1 (a descending
        # sequence(1, 0) would enumerate backwards, not empty);
        # the length filter drops the sub-length gram a too-short
        # token would otherwise emit through that clamp
        return F.flatten(
            F.transform(
                toks,
                lambda tok: F.filter(
                    F.transform(
                        F.sequence(
                            F.lit(1),
                            F.greatest(
                                F.length(tok) - F.lit(n - 1), F.lit(1)
                            ),
                        ),
                        lambda i: tok.substr(i, F.lit(n)),
                    ),
                    lambda g: F.length(g) == n,
                ),
            )
        )

    return F.concat(toks, *[grams_of(n) for n in range(lo, hi + 1)])


def linear_quality_scores(
    docs: DataFrame,
    weights: list[tuple[str, int]],
    bias: int = 0,
    threshold: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    char_ngrams: tuple[int, int] | None = None,
) -> DataFrame:
    """Linear quality-classifier INFERENCE — the CCNet/RefinedWeb-style
    production gate (Wenzek et al. 2020 score web text with a trained
    fastText classifier; the engine-side op is the same for any linear
    bag-of-words model: score = bias + Σ_t count(t) · w_t, keep at a
    threshold). Training happens offline; what a 100 TB pipeline needs
    from the engine is exactly this scoring pass.

    Cross-engine determinism (the DSIR trick, no log/pow anywhere):
    ``weights``/``bias``/``threshold`` are INTEGER-QUANTIZED — a real
    model's float weights are shipped as round(w · 10^s) BIGINTs — so
    the dot product is a pure BIGINT sum, bit-identical on any engine
    and any partitioning, and ``kept`` compares exactly.

    Scale shape: one tokenize-explode over the corpus, ONE broadcast
    hash join against the (model-vocab-sized) weights table — tokens
    outside the vocabulary contribute 0 via the inner join, never a
    row — and ONE per-doc hash aggregate with map-side combine. The
    final attach join puts every document back (empty/no-vocab docs
    score = bias); both sides are doc-count-scale, so it is pinned
    shuffle_hash — an AQE broadcast build of a corpus-sized side is
    the r7/r8 failure class.

    ``char_ngrams=(lo, hi)`` adds the fastText-style subword leg
    (VERDICT r10 item 5 — real CCNet gates hash word AND char n-grams,
    so a unigram vocabulary is blind to misspellings and boilerplate
    fragments): every contiguous within-token substring of length
    lo..hi becomes an ADDITIONAL feature looked up in the SAME weights
    table. The expansion is pure HOF arithmetic (sequence → substr →
    length filter, one array per n, concatenated onto the token array
    before the single explode) — the plan keeps exactly ONE Generate,
    the vocab-only broadcast, and the same two shuffles; only the
    explode fan-out grows (×~avg-token-length per n — the price any
    subword featurizer pays). A token shorter than n yields no n-grams.

    Output: ``(doc_id, quality_score BIGINT, kept INT)``.

    Weight-table keys are lowercased on entry (duplicate keys after
    lowering simply sum through the join fan-out): ``tokens()``
    lowercases all text, so a mixed-case vocabulary row would
    otherwise be silently dead model weight.
    """
    spark = docs.sparkSession
    w = spark.createDataFrame(
        [(str(t).lower(), int(v)) for t, v in weights],
        "__tok string, __w long",
    )
    feats = _with_char_ngrams(
        tokens(F.col(text_col)), char_ngrams, "linear_quality_scores"
    )
    ex = docs.select(F.col(id_col), F.explode(feats).alias("__tok"))
    scored = (
        ex.join(F.broadcast(w), "__tok")
        .groupBy(id_col)
        .agg(F.sum("__w").alias("__s"))
    )
    score = F.coalesce(F.col("__s"), F.lit(0)) + F.lit(int(bias))
    return (
        docs.select(id_col)
        .join(scored.hint("shuffle_hash"), id_col, "left")
        .select(
            F.col(id_col),
            score.cast("long").alias("quality_score"),
            (score >= F.lit(int(threshold))).cast("int").alias("kept"),
        )
    )


def language_id_scores(
    docs: DataFrame,
    lang_weights: dict[str, list[tuple[str, int]]],
    biases: dict[str, int] | None = None,
    keep_langs: tuple[str, ...] | None = None,
    min_margin: int = 0,
    min_score: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    char_ngrams: tuple[int, int] | None = None,
) -> DataFrame:
    """Per-document language-ID gate — the pass every real curation
    pipeline runs BEFORE quality scoring (CCNet langid.py/fastText,
    Wenzek et al. 2020; RefinedWeb gates on the predicted language +
    classifier confidence). The engine-side op is multi-class linear
    inference: k integer-quantized bag-of-words models (one per
    language, same quantization contract as ``linear_quality_scores``
    — ship round(w · 10^s) BIGINTs, never floats), argmax over the k
    BIGINT dot products with ties broken by DECLARED language order.

    Scale shape — identical to the binary classifier, the k classes
    ride the SAME scan: one tokenize-explode (plus the shared
    ``char_ngrams`` subword expansion — still exactly ONE Generate),
    ONE broadcast join against a vocab-sized table carrying k weight
    COLUMNS (the union of the per-language vocabularies; a token
    absent from language L's model carries weight 0 in L's column),
    ONE per-doc hash aggregate producing the k sums, and the pinned
    shuffle_hash attach join that puts back no-vocab docs (they score
    bias-only in every language — the argmax then falls to biases,
    ties to the first declared language).

    Output: ``(doc_id, lang STRING, lang_score BIGINT, margin BIGINT,
    kept INT)`` where margin = best − second-best (the integer
    confidence a gate thresholds on) and kept = 1 iff the predicted
    language is in ``keep_langs`` (None = all) AND margin ≥
    ``min_margin``. Needs ≥ 2 languages (margin is undefined for 1).

    ``min_score`` adds the UNKNOWN verdict real CCNet-style gates emit
    (VERDICT r12 item 4): a doc whose best score is below the absolute
    floor gets ``lang = NULL`` and ``kept = 0`` — without it, a
    bias-only document (no vocabulary hit at all) still "predicts" the
    argmax language with full confidence in nothing. ``lang_score``
    and ``margin`` stay reported (they are the evidence the floor
    judged). ``None`` (default) keeps the always-pick behavior.
    """
    langs = list(lang_weights)
    if len(langs) < 2:
        raise ValueError(
            f"language_id_scores: need >= 2 languages, got {langs!r}"
        )
    spark = docs.sparkSession
    k = len(langs)
    # keys lowercased on entry (the accumulating += merges collisions):
    # tokens() lowercases all text, so a mixed-case vocabulary row
    # would be silently dead model weight
    by_tok: dict[str, list[int]] = {}
    for i, lang in enumerate(langs):
        for tok, wt in lang_weights[lang]:
            by_tok.setdefault(str(tok).lower(), [0] * k)[i] += int(wt)
    w = spark.createDataFrame(
        [(t, *ws) for t, ws in sorted(by_tok.items())],
        "__tok string, " + ", ".join(f"__w{i} long" for i in range(k)),
    )
    feats = _with_char_ngrams(
        tokens(F.col(text_col)), char_ngrams, "language_id_scores"
    )
    ex = docs.select(F.col(id_col), F.explode(feats).alias("__tok"))
    scored = (
        ex.join(F.broadcast(w), "__tok")
        .groupBy(id_col)
        .agg(*[F.sum(f"__w{i}").alias(f"__s{i}") for i in range(k)])
    )
    bias = {lang: int((biases or {}).get(lang, 0)) for lang in langs}
    # staged .select()s — the janino-64KB lesson: best/second/pick each
    # reference every score, so building them from the raw
    # coalesce+bias expressions would inline the k-term battery O(k^2)
    # times into one Project (fine at k=5, interpreted-fallback
    # territory at a 50-language fastText-style model). Projecting the
    # biased scores ONCE keeps every downstream expression O(k).
    staged = (
        docs.select(id_col)
        .join(scored.hint("shuffle_hash"), id_col, "left")
        .select(
            F.col(id_col),
            *[
                (
                    F.coalesce(F.col(f"__s{i}"), F.lit(0))
                    + F.lit(bias[langs[i]])
                ).alias(f"__b{i}")
                for i in range(k)
            ],
        )
    )
    arr = F.array(*[F.col(f"__b{i}") for i in range(k)])
    ranked = staged.select(
        id_col,
        *[f"__b{i}" for i in range(k)],
        F.array_max(arr).alias("__best"),
        F.sort_array(arr, asc=False).getItem(1).alias("__second"),
    )
    pick = F.when(F.col("__b0") == F.col("__best"), F.lit(langs[0]))
    for i in range(1, k):
        pick = pick.when(
            F.col(f"__b{i}") == F.col("__best"), F.lit(langs[i])
        )
    margin = (F.col("__best") - F.col("__second")).cast("long")
    gate = margin >= F.lit(int(min_margin))
    if keep_langs is not None:
        gate = gate & pick.isin([str(x) for x in keep_langs])
    lang_col = pick
    if min_score is not None:
        known = F.col("__best") >= F.lit(int(min_score))
        lang_col = F.when(known, pick)  # NULL = UNKNOWN verdict
        gate = gate & known
    return ranked.select(
        F.col(id_col),
        lang_col.alias("lang"),
        F.col("__best").cast("long").alias("lang_score"),
        margin.alias("margin"),
        gate.cast("int").alias("kept"),
    )


# Unicode-normalization character classes, written with escaped
# hex (\x{..}) so the SAME pattern string is a valid Java regex
# (Spark) and RE2 pattern (DuckDB oracle) AND stays printable inside
# a SQL literal (raw NUL/control bytes would corrupt the SQL text).
_UNI_INVISIBLES_RE = r"[\x{200B}-\x{200D}\x{2060}\x{FEFF}\x{00AD}]"
_UNI_CONTROLS_RE = r"[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}\x{80}-\x{9F}]"
_UNI_SPACES_RE = (
    r"[\x{09}\x{0A}\x{0D}\x{A0}\x{1680}\x{2000}-\x{200A}"
    r"\x{202F}\x{205F}\x{3000}]"
)
# 1:1 typographic canonicalization (translate is JVM-side, one pass):
# curly/low-9 single quotes -> ', double variants -> ", dash family
# (en, em, figure, horizontal bar, non-breaking hyphen) -> -
_UNI_TRANSLATE_FROM = "’‘‚‛“”„‟–—‒―‑"
_UNI_TRANSLATE_TO = "''''\"\"\"\"-----"


def unicode_normalize_text(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    nfc: bool = False,
) -> DataFrame:
    """Unicode/text normalization — the standard pre-tokenization pass
    between ``html_text_extract`` and every downstream text op
    (dedup shingles, language ID, quality gates all assume one
    canonical byte form; a zero-width space inside a token silently
    splits every shingle that crosses it). Deterministic, map-only:

    1. remove invisibles (ZWSP/ZWNJ/ZWJ U+200B-D, word joiner U+2060,
       BOM U+FEFF, soft hyphen U+00AD);
    2. remove control chars except tab/newline/CR (C0, DEL, C1);
    3. canonicalize whitespace — tab/newline/CR and every Unicode
       space (NBSP, ogham, en/em/thin/ideographic, …) → ASCII space;
    4. 1:1 typographic canonicalization via ``translate`` (curly
       quotes → straight, dash family → hyphen) and ellipsis → ``...``;
    5. collapse space runs, trim.

    All five steps are JVM-side regexp/translate chains whose escaped
    -hex patterns are verified byte-identical between Java regex and
    RE2 — the oracle reproduces the output exactly (the
    ``html_extract`` verification pattern). NULL text passes through
    as NULL (absence of evidence).

    ``nfc=True`` prepends true NFC composition (``e`` + combining
    acute → ``é``) as an Arrow-batched pandas UDF over CPython's
    ``unicodedata`` — the documented slow-path leg (ICU-class
    normalization is not expressible in built-in SQL functions; the
    pytest cross-checks it against DuckDB's ``nfc_normalize`` —
    composition of combining sequences is stable across Unicode
    versions). With ``nfc=False`` combining sequences pass through
    untouched.

    Output: ``(id, text_norm, raw_len BIGINT, norm_len BIGINT)``.
    Scale shape: map-only, zero Exchange, one scan.
    """
    base = F.col(text_col)
    if nfc:
        from pyspark.sql.types import StringType

        @F.pandas_udf(StringType())
        def _nfc(s: pd.Series) -> pd.Series:
            import unicodedata

            return s.map(
                lambda v: None
                if v is None
                else unicodedata.normalize("NFC", v)
            )

        base = _nfc(base)
    x = F.regexp_replace(base, _UNI_INVISIBLES_RE, "")
    x = F.regexp_replace(x, _UNI_CONTROLS_RE, "")
    x = F.regexp_replace(x, _UNI_SPACES_RE, " ")
    x = F.translate(x, _UNI_TRANSLATE_FROM, _UNI_TRANSLATE_TO)
    x = F.regexp_replace(x, r"\x{2026}", "...")
    x = F.trim(F.regexp_replace(x, " +", " "))
    staged = docs.select(
        F.col(id_col),
        # raw input length, measured BEFORE the optional NFC leg —
        # under nfc=True `base` is already the composed text, and a
        # shrinkage audit (raw_len vs norm_len) must count composition
        # as part of what normalization did
        F.length(F.col(text_col)).cast("long").alias("raw_len"),
        x.alias("text_norm"),
    )
    return staged.select(
        id_col,
        "text_norm",
        "raw_len",
        F.length("text_norm").cast("long").alias("norm_len"),
    )


# decode order matters: specific entities first, "&amp;" LAST —
# decoding it first would turn "&amp;lt;" into "&lt;" and then "<",
# double-decoding what the author escaped once
_HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def html_text_extract(
    docs: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """HTML → visible-text extraction — the FIRST pass of every
    web-curation pipeline (CCNet/RefinedWeb strip markup before any
    language-ID, quality gate, or dedup sees the text). Engine-side it
    is pure-map regexp work, deterministic and oracle-expressible:

    1. drop ``<script>``/``<style>`` blocks with their contents
       (non-greedy, case-insensitive, dotall — a script's body is not
       text) and HTML comments;
    2. strip remaining tags — ``</?[a-zA-Z!][^>]*>`` → space, so
       ``a<br>b`` stays two words instead of fusing, while a BARE
       ``<`` in prose survives (``a < b and c > d`` keeps all four
       words; the naive ``<[^>]+>`` would swallow ``< b and c >`` —
       real tags always open with a letter, ``/`` or ``!``);
    3. decode the six entities that dominate real markup
       (``&lt; &gt; &quot; &#39; &nbsp; &amp;`` — ``&amp;`` LAST, see
       ``_HTML_ENTITIES``);
    4. collapse whitespace runs and trim.

    Regex semantics are verified identical between Spark (Java regex,
    inline ``(?is)`` flags, global replace) and DuckDB (RE2 with
    ``'gis'`` options) — the oracle reproduces the output byte for
    byte. This is deliberately a MARKUP stripper, not a boilerplate
    classifier (trafilatura-style main-content extraction is a model,
    not an operator); ``text_ratio`` — visible-text share of raw bytes
    — is the standard cheap signal a downstream quality gate uses to
    drop chrome-heavy pages.

    Output: ``(id, clean_text, raw_len, text_len, text_ratio)`` —
    lengths as BIGINT, ratio ROUND(·,6)+0.0. NULL html passes through
    as NULL clean_text / NULL stats (absence of evidence, the
    ``url_dedup_domain_cap`` contract). Scale shape: map-only, zero
    Exchange, one scan — staged projections keep each regexp evaluated
    once per row (the janino-64KB lesson from the PSL work)."""
    x = F.col(html_col)
    x = F.regexp_replace(x, r"(?is)<script[^>]*>.*?</script>", " ")
    x = F.regexp_replace(x, r"(?is)<style[^>]*>.*?</style>", " ")
    x = F.regexp_replace(x, r"(?s)<!--.*?-->", " ")
    x = F.regexp_replace(x, r"(?s)</?[a-zA-Z!][^>]*>", " ")
    for ent, ch in _HTML_ENTITIES:
        x = F.replace(x, F.lit(ent), F.lit(ch))
    x = F.trim(F.regexp_replace(x, r"\s+", " "))
    staged = docs.select(
        F.col(id_col),
        F.length(F.col(html_col)).cast("long").alias("raw_len"),
        x.alias("clean_text"),
    )
    ratio = F.round(
        F.length("clean_text").cast("double")
        / F.col("raw_len").cast("double"),
        6,
    ) + F.lit(0.0)
    return staged.select(
        id_col,
        "clean_text",
        "raw_len",
        F.length("clean_text").cast("long").alias("text_len"),
        F.when(F.col("raw_len") > 0, ratio).alias("text_ratio"),
    )


# PII patterns restricted to the Java-regex ∩ RE2 shared subset (no
# lookaround, no backreferences): character classes, non-capturing
# groups, bounded repeats and ASCII \b mean the same thing in both
# engines, so the DuckDB oracle reproduces the redaction byte for byte
# (the html_extract verification pattern). Conservative where the
# shared subset allows (3-part versions, decimal times, short digit
# runs survive — pinned by test), with two KNOWN false-positive
# classes that would need lookbehind (unavailable in RE2) to exclude:
# a 4-part dotted number ("release 1.2.3.4") is IP-shaped and redacts
# as <IP>, and a decimal fraction of >= 6 digits ("3.14159265")
# redacts its fraction as <NUM> ('.' is a non-word char, so \b holds).
# Both are redaction-side errors (over-redaction), never leaks.
_PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
# E.164 (+ then 7-15 digits), US (NNN) NNN-NNNN, US NNN-NNN-NNNN /
# NNN.NNN.NNNN — each anchored so a longer digit run disqualifies the
# match instead of truncating it (a 16-digit run is an id, not a phone)
_PII_PHONE_RE = (
    r"\+\d{7,15}\b"
    r"|\(\d{3}\) ?\d{3}-\d{4}\b"
    r"|\b\d{3}[-.]\d{3}[-.]\d{4}\b"
)
# account/card-shaped bare digit runs — the catch-all AFTER the typed
# categories above have claimed their matches
_PII_LONGNUM_RE = r"\b\d{6,}\b"


def pii_redact(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """PII redaction — the pass every production curation pipeline
    (C4, ROOTS, FineWeb) runs before text is retained: emails, IPv4
    addresses, phone numbers, and account-shaped long digit runs are
    replaced by typed placeholder tokens (``<EMAIL>`` / ``<IP>`` /
    ``<PHONE>`` / ``<NUM>``), per-category match counts kept as the
    downstream gate signal (a doc that is mostly contact lines is
    directory chrome, not prose).

    Sequential, order-matters application — email first (an address's
    host part may look like an IP: it must redact as ONE email, not a
    partial IP), then IPv4, then phone, then the bare-digit-run
    catch-all LAST so the typed categories claim their matches before
    the generic one fires; each category's count is the number of
    matches ACTUALLY replaced at its stage, not an independent scan of
    the raw text. Patterns live in the Java-regex ∩ RE2 shared subset
    (see ``_PII_*_RE``), so the DuckDB oracle reproduces output byte
    for byte. NULL text passes through as NULL text/counts (absence of
    evidence, the ``url_dedup_domain_cap`` contract).

    This is a pattern redactor, not an NER model (names/addresses need
    a model, not an operator — the ``html_text_extract`` boundary).
    Output: ``(id, text_redacted, n_email BIGINT, n_ip BIGINT,
    n_phone BIGINT, n_longnum BIGINT)``. Scale shape: map-only, zero
    Exchange, one scan — staged projections keep each regexp evaluated
    once per row (the janino-64KB lesson)."""
    s1 = docs.select(
        F.col(id_col), F.col(text_col).alias("_t0")
    ).select(
        id_col,
        F.regexp_count(F.col("_t0"), F.lit(_PII_EMAIL_RE))
        .cast("long")
        .alias("n_email"),
        F.regexp_replace("_t0", _PII_EMAIL_RE, "<EMAIL>").alias("_t1"),
    )
    s2 = s1.select(
        id_col,
        "n_email",
        F.regexp_count(F.col("_t1"), F.lit(_PII_IPV4_RE))
        .cast("long")
        .alias("n_ip"),
        F.regexp_replace("_t1", _PII_IPV4_RE, "<IP>").alias("_t2"),
    )
    s3 = s2.select(
        id_col,
        "n_email",
        "n_ip",
        F.regexp_count(F.col("_t2"), F.lit(_PII_PHONE_RE))
        .cast("long")
        .alias("n_phone"),
        F.regexp_replace("_t2", _PII_PHONE_RE, "<PHONE>").alias("_t3"),
    )
    s4 = s3.select(
        id_col,
        "n_email",
        "n_ip",
        "n_phone",
        F.regexp_count(F.col("_t3"), F.lit(_PII_LONGNUM_RE))
        .cast("long")
        .alias("n_longnum"),
        F.regexp_replace("_t3", _PII_LONGNUM_RE, "<NUM>").alias(
            "text_redacted"
        ),
    )
    return s4.select(
        id_col, "text_redacted", "n_email", "n_ip", "n_phone", "n_longnum"
    )
