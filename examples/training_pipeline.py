#!/usr/bin/env python
"""End-to-end training-data pipeline over the documents table: the
operators a 100 TB pretraining-corpus build actually chains, in order.

    raw docs
      → schema audit           (relational.quality_checks — refuse to
                                train on a corpus failing its contract)
      → URL curation           (ext.dedup.url_dedup_domain_cap — dedupe
                                by normalized URL, cap per-domain share;
                                RefinedWeb runs this FIRST, before any
                                content pass touches the text)
      → quality gate           (ext.textstats.with_text_stats rule filter)
      → trained classifier     (ext.textstats.linear_quality_scores —
                                the CCNet/fastText-style model gate on
                                integer-quantized weights)
      → exact dedup            (md5 fingerprint, keep min doc_id)
      → near-dup resolution    (MinHash-LSH pairs → connected components
                                → drop non-keepers)
      → containment dedup      (drop docs ≥90% contained in a survivor)
      → semantic dedup         (SemDeDup: k-means-cell cosine pairs →
                                connected components → one survivor
                                per semantic cluster)
      → chunk-level dedup      (corpus-wide duplicated-span removal)
      → decontamination        (3-gram overlap vs benchmark shingles)
      → mixture sampling       (per-source md5-bucket keep rates)
      → sequence packing       (token-budget shards)
      → partitioned parquet    (lang-partitioned, shard-sorted)

Every stage is shuffle-on-key or broadcast — no collects, no cartesian
products, no per-row Python. Run: python examples/training_pipeline.py
[sf_dir] (default /root/testdata/sf0.01).
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from airflow_kafka_spark_spark.ext.dedup import (
        connected_components,
        exact_duplicates,
        minhash_lsh_pairs,
    )
    from airflow_kafka_spark_spark.ext.textstats import (
        contamination_scores,
        pack_token_shards,
        with_text_stats,
    )
    from airflow_kafka_spark_spark.session import build_session
    from airflow_kafka_spark_spark.sources.files import load_table

    from airflow_kafka_spark_spark.operators.relational import quality_checks

    spark = build_session(app_name="training-pipeline-example")
    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # 0. corpus contract audit: ingest bugs (null ids/text, duplicate
    # ids, absurd lengths) surface HERE as named counts, not as silent
    # skew twenty stages later. At 100 TB this is one scan + one hash
    # agg; the rows compose into a lake-wide audit table instead of a
    # driver-side boolean.
    audit = quality_checks(
        docs,
        not_null=["doc_id", "text", "lang", "source"],
        unique=[["doc_id"]],
        ranges={"n_chars": (1.0, 1e7)},
    )
    bad = {r["check"]: r["violations"] for r in audit.collect() if r["violations"]}
    assert not bad, f"corpus fails its contract: {bad}"

    # 0a. markup strip — a real crawl hands the pipeline HTML, not
    # text (ext.textstats.html_text_extract): script/style/comment
    # blocks drop wholesale, tags become separators, entities decode,
    # and text_ratio (visible-text share) gates out chrome-heavy pages
    # before any content stage pays to scan them. The fixtures carry
    # plain text, so each doc is wrapped in a page whose VISIBLE text
    # is exactly the original — the strip must recover it byte for
    # byte (asserted), and the funnel below is unaffected.
    from airflow_kafka_spark_spark.ext.textstats import html_text_extract

    page_html = F.concat(
        F.lit(
            "<html><head><title></title><style>body{margin:0}</style>"
            '<script type="text/javascript">var n='
        ),
        F.col("doc_id").cast("string"),
        F.lit(";</script></head><body><!-- crawler chrome --><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    stripped = html_text_extract(
        docs.withColumn("html", page_html), html_col="html"
    )
    mismatch = (
        stripped.join(docs.select("doc_id", "text"), "doc_id")
        .filter(
            (F.col("clean_text") != F.col("text"))
            | (F.col("text_ratio") <= 0.2)
        )
        .count()
    )
    assert mismatch == 0, f"{mismatch} docs did not strip cleanly"
    docs = docs.join(
        stripped.filter(F.col("text_ratio") > 0.2)
        .select("doc_id")
        .hint("shuffle_hash"),
        "doc_id",
        "left_semi",
    )
    n0a = docs.count()

    # 0a½. Unicode normalization — the standard pre-tokenization pass
    # between the markup strip and every downstream text op
    # (ext.textstats.unicode_normalize_text): invisibles stripped,
    # controls removed, Unicode whitespace canonicalized, typographic
    # variants folded. Map-only, zero Exchange — at 100 TB it rides
    # the same scan as the stage before it. The fixtures are clean
    # ASCII, so mess is planted (BOM prefix, NBSP spaces, a zero-width
    # space after every 'e') and the pass must restore the original
    # byte for byte (asserted) — downstream stages consume the
    # normalized text, as a real pipeline would.
    from airflow_kafka_spark_spark.ext.textstats import unicode_normalize_text

    messy = F.concat(
        F.lit("\ufeff"),
        F.replace(
            F.replace(F.col("text"), F.lit(" "), F.lit("\u00a0")),
            F.lit("e"),
            F.lit("e\u200b"),
        ),
    )
    normed = unicode_normalize_text(docs.withColumn("text", messy))
    not_restored = (
        normed.join(docs.select("doc_id", "text"), "doc_id")
        .filter(F.col("text_norm") != F.col("text"))
        .count()
    )
    assert not_restored == 0, f"{not_restored} docs did not normalize"
    docs = (
        docs.drop("text")
        .join(
            normed.select("doc_id", F.col("text_norm").alias("text"))
            .hint("shuffle_hash"),
            "doc_id",
        )
    )

    # 0a¾. PII redaction — emails / IPs / phone numbers → typed
    # placeholders BEFORE any text is retained (ext.textstats.
    # pii_redact): the pass C4/ROOTS/FineWeb all run. Map-only, zero
    # Exchange — rides the same scan as the stages around it. The
    # fixtures carry no PII, so a contact line is planted per doc and
    # the pass must strip every address (asserted); downstream stages
    # consume the redacted text, as a real pipeline would.
    from airflow_kafka_spark_spark.ext.textstats import pii_redact

    contact = F.concat(
        F.col("text"),
        F.lit(" Contact "),
        F.col("source"),
        F.lit("@example.com or +84901234567."),
    )
    # localCheckpoint cuts lineage HERE: redacted is consumed twice
    # (leak assert + re-attach join) on top of a plan that has already
    # doubled through three docs-self-join stages — without the cut the
    # logical tree compounds k^stages and the driver heap pays for it
    # (the stage-4 parquet boundary lesson, applied mid-funnel)
    redacted = pii_redact(docs.withColumn("text", contact)).localCheckpoint(eager=False)
    leaked = redacted.filter(
        (F.col("n_email") != 1)
        | (F.col("n_phone") != 1)
        | F.col("text_redacted").contains("@")
        | F.col("text_redacted").contains("+8490")
    ).count()
    assert leaked == 0, f"{leaked} docs kept PII past the redactor"
    docs = docs.drop("text").join(
        redacted.select(
            "doc_id", F.col("text_redacted").alias("text")
        ).hint("shuffle_hash"),
        "doc_id",
    )

    # 0b. URL curation — the first pass a crawl pipeline runs, BEFORE
    # any content is read: dedupe by normalized URL (a page crawled
    # under http/https/www./?utm= variants is one page) and cap any
    # single domain's share of the corpus. Pure map + two keyed
    # windows — no text touched, so at 100 TB this prunes the corpus
    # before the expensive content stages scan it. The fixtures carry
    # no URL column; a real crawl supplies one — here each doc gets a
    # deterministic messy URL (the q_url_dedup derivation).
    from airflow_kafka_spark_spark.ext.dedup import url_dedup_domain_cap

    # Scale-proportional crawl shape (every knob grows with the corpus,
    # so the funnel stays meaningful at any SF): ~25% of docs are
    # re-crawls of the previous page under a fresh ?session= (the
    # tracking param normalization strips — they collapse in URL
    # dedup); ~10% of docs live on one hot aggregator domain with
    # per-source paths (too many DISTINCT pages for dedup to touch —
    # that is what the domain cap bounds); the rest spread across
    # source×shard hosts the cap never binds. Cap = a 2% corpus share,
    # the RefinedWeb semantic, computed from the count the audit above
    # already paid for.
    j = F.expr("doc_id div 20")
    page = F.when(j % 4 == 0, j - 1).otherwise(j)
    is_hub = F.pmod(j, F.lit(10)) == 0
    host = F.when(is_hub, F.lit("hub")).otherwise(
        F.concat(F.col("source"), F.pmod(page, F.lit(5)).cast("string"))
    )
    path = F.when(
        is_hub,
        F.concat(F.lit("/r/"), F.col("source"), F.lit("/"), page.cast("string")),
    ).otherwise(F.concat(F.lit("/p/"), page.cast("string")))
    url = F.concat(
        F.lit("https://"), host, F.lit(".com"), path,
        F.lit("?session="), F.pmod(j, F.lit(7)).cast("string"),
    )
    url_keep = (
        url_dedup_domain_cap(docs.withColumn("url", url), cap=max(25, n0 // 50))
        .filter(F.col("kept") == 1)
        .select("doc_id")
    )
    docs = docs.join(url_keep, "doc_id", "left_semi")
    n0b = docs.count()

    # 1. quality gate (with_text_stats emits doc_id + stats + is_quality)
    good = with_text_stats(docs).filter(F.col("is_quality") == 1).select("doc_id")
    docs = docs.join(good, "doc_id", "left_semi").select(
        "doc_id", "text", "lang", "source"
    )
    n1 = docs.count()

    # 1b. trained-classifier gate — the rule gate above catches
    # structural junk; a production pipeline then scores with a TRAINED
    # linear model (CCNet/RefinedWeb ship fastText classifiers). The
    # model arrives integer-quantized (round(w·10³)), so the scoring
    # pass is a pure BIGINT dot product: one explode, one broadcast
    # vocab join, one per-doc aggregate.
    from airflow_kafka_spark_spark.ext.textstats import linear_quality_scores
    from airflow_kafka_spark_spark.plans.catalog import (
        _QUALITY_BIAS,
        _QUALITY_WEIGHTS,
    )

    # the catalog's oracled model constants — one definition, no drift;
    # threshold 0 (vs the catalog entry's 500) keeps a gentler gate for
    # the demo funnel
    scored = linear_quality_scores(
        docs, _QUALITY_WEIGHTS, bias=_QUALITY_BIAS, threshold=0
    )
    docs = docs.join(
        scored.filter(F.col("kept") == 1).select("doc_id"), "doc_id", "left_semi"
    )
    n1b = docs.count()

    # 2. exact dedup: keep each fingerprint's min doc_id
    keepers = exact_duplicates(docs).select(F.col("keep_doc_id").alias("doc_id"))
    docs = docs.join(keepers, "doc_id", "left_semi")
    n2 = docs.count()

    # 3. near-dup clusters → keep one doc per component. The pairs get
    # the SAME lineage cut stages 3b/3c already have: CC's loop would
    # otherwise replant the whole stage 0-2 plan under every iteration
    # (the compounded tree alone is the documented driver-heap blow-up
    # class)
    pairs = minhash_lsh_pairs(
        docs, num_hashes=8, bands=4, threshold=0.4
    ).localCheckpoint(eager=False)
    drop = connected_components(pairs).filter(~F.col("is_keeper")).select("doc_id")
    docs = docs.join(drop, "doc_id", "left_anti")
    n3 = docs.count()

    # 3b. containment dedup: drop docs ≥90% contained in another survivor
    # (snippet-inside-page duplication Jaccard dilutes past its threshold).
    # Chains need keeper resolution, same as stage 3: dropping every doc
    # flagged "contained" over-drops — in A ⊂ B ⊂ C both A and B get
    # flagged, leaving A with no surviving container. Feeding the
    # directed pairs through connected_components keeps exactly one doc
    # per containment cluster (never zero) — and HERE the keeper is the
    # production rule: canonical_docs keeps the LONGEST member per
    # cluster (for containment clusters that is the container itself,
    # the RefinedWeb-style pick), not the min-id.
    from airflow_kafka_spark_spark.ext.dedup import (
        canonical_docs,
        containment_pairs,
    )

    # localCheckpoint cuts the pairs' lineage before iterating: CC's
    # label-propagation loop otherwise replants the whole quality→dedup→
    # shingle-index plan under every iteration, and the compounded plan
    # tree alone blows the driver heap (same lineage-cut move as the
    # stage-4 parquet boundary below — pairs are tiny, so in-memory).
    cont = (
        containment_pairs(docs, threshold=0.9)
        .select("doc1", "doc2")
        .localCheckpoint(eager=False)
    )
    cont_comp = connected_components(cont)
    keep_longest = canonical_docs(cont_comp, docs).select(
        F.col("canonical_id").alias("doc_id")
    )
    drop_contained = cont_comp.select("doc_id").join(
        keep_longest, "doc_id", "left_anti"
    )
    docs = docs.join(drop_contained, "doc_id", "left_anti")
    n3a = docs.count()

    # 3c. semantic dedup (SemDeDup, Abbas et al.): the paper's actual
    # dedup ACTION — keep one survivor per semantic near-dup cluster.
    # Pairs come from k-means-cell-restricted exact cosine over the
    # document embeddings (vec_id == doc_id in the fixtures); the same
    # connected-components keeper resolution as stages 3/3b turns the
    # pair set into one-survivor-per-cluster (transitive: A~B, B~C drops
    # two of three even when A~C is below threshold). At 100 TB the
    # knob is n_lists — raise it until cells are executor-sized (see
    # ext.similarity.semantic_dedup_pairs, and CHANGELOG Round 5's
    # mega-cluster probe).
    from airflow_kafka_spark_spark.ext.similarity import semantic_dedup_pairs

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .join(docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi")
    )
    sem_pairs = (
        semantic_dedup_pairs(emb, threshold=0.999, n_lists=16)
        .select(F.col("vec1").alias("doc1"), F.col("vec2").alias("doc2"))
        .localCheckpoint(eager=False)  # same lineage cut as stage 3b
    )
    drop_semantic = (
        connected_components(sem_pairs).filter(~F.col("is_keeper")).select("doc_id")
    )
    docs = docs.join(drop_semantic, "doc_id", "left_anti")
    n3c = docs.count()

    # 4. strip corpus-duplicated spans (boilerplate) inside survivors
    from airflow_kafka_spark_spark.ext.dedup import strip_duplicate_chunks

    cleaned = strip_duplicate_chunks(docs, chunk_words=3).filter(
        F.col("kept_chunks") > 0
    )
    docs = (
        docs.join(cleaned.select("doc_id", "clean_text"), "doc_id")
        .drop("text")
        .withColumnRenamed("clean_text", "text")
    )
    # materialize the stage boundary: every stage above references `docs`
    # twice (self-join shapes), so the logical plan doubles per stage —
    # long pipelines cut lineage by writing the stage output and reading
    # it back (the same move a 100 TB pipeline makes for restartability)
    stage_dir = tempfile.mkdtemp(prefix="training_stage_")
    docs.write.mode("overwrite").parquet(stage_dir)
    docs = spark.read.parquet(stage_dir)
    n3b = docs.count()

    # 5. decontaminate against a held-out benchmark (2% md5 bucket here)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    benchmark = docs.filter(bucket < 2)
    clean_ids = contamination_scores(docs, benchmark).filter(
        F.col("contamination") < 0.5
    ).select("doc_id")
    docs = docs.join(clean_ids, "doc_id", "left_semi")
    n4 = docs.count()

    # 6. source-weighted mixture (deterministic md5-bucket keep rates)
    from airflow_kafka_spark_spark.ext.textstats import mixture_sample

    rates = {f"src{i}": 50 + 50 * (i % 2) for i in range(20)}  # 50%/100%
    docs = mixture_sample(docs, rates).drop("rate_pct")
    n4b = docs.count()

    # 7. pack into token-budget shards and write lang-partitioned parquet
    shards = pack_token_shards(docs, budget=2048)
    out = tempfile.mkdtemp(prefix="training_shards_")
    (
        docs.join(shards.select("doc_id", "n_tokens", "shard"), "doc_id")
        .repartition("lang")
        .sortWithinPartitions("shard", "doc_id")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(out)
    )
    n5 = spark.read.parquet(out).count()
    n_shards = spark.read.parquet(out).select("lang", "shard").distinct().count()

    print(
        f"raw={n0} html_stripped={n0a} url_curated={n0b} quality={n1} "
        f"classifier={n1b} "
        f"exact_dedup={n2} near_dup={n3} "
        f"containment={n3a} semantic_dedup={n3c} chunk_dedup={n3b} "
        f"decontaminated={n4} mixture={n4b} written={n5} "
        f"shards={n_shards} out={out}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
