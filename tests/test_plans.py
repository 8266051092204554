"""Plan-quality guards: pushdown, pruning, codegen, Python-boundary
count — the 100 TB invariants, asserted at test scale."""

import pyspark.sql.functions as F


def test_filter_pushdown_and_pruning(spark):
    from json_remedy_spark.plans.explain import scan_info

    df = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where(F.col("lang") == "en")
        .select("doc_id", "lang")
    )
    info = scan_info(df)
    assert info["pushed_filters"] and "lang" in info["pushed_filters"], info
    assert info["read_schema"] and "text" not in info["read_schema"], info


def test_pipeline_is_scalable_shape(spark):
    from json_remedy_spark.operators.pipeline import quality_filter
    from json_remedy_spark.plans.explain import assert_scalable
    from json_remedy_spark.sources.webpages import synthesize_corpus

    docs, _ = synthesize_corpus(spark, 50, partitions=2)
    assert_scalable(quality_filter(docs))


def test_cosine_topk_scans_corpus_once_map_only(spark):
    """The corpus side must stream map-only into the numpy block
    scorer (MapInPandas); the only shuffle allowed is the final
    ranking window over the already-reduced partial top-k rows —
    never an exchange of the full |N| x |Q| score set."""
    from json_remedy_spark.functions.similarity import cosine_topk
    from json_remedy_spark.plans.explain import executed_plan

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = e.where(F.col("vec_id") < 2).select(F.col("vec_id").alias("q_id"), "embedding")
    plan = executed_plan(cosine_topk(e, q, k=3))
    assert "MapInPandas" in plan
    assert plan.count("Exchange") <= 1


def test_shard_by_tokens_plan_shape(spark):
    """The corpus never funnels through one sort task: the doc-side
    window partitions by bucket (parallel sorts); the cross-bucket
    offsets — the only single-partition window — run over the TINY
    per-bucket aggregate and come back via broadcast join."""
    from json_remedy_spark.functions.corpus import shard_by_tokens
    from json_remedy_spark.plans.explain import executed_plan

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = executed_plan(shard_by_tokens(d, 2000, bucket_width=64))
    assert "BroadcastHashJoin" in plan  # offsets join, not a shuffle join
    assert "SortMergeJoin" not in plan
    # the full-table window partitions by bucket, not SinglePartition
    assert "hashpartitioning(bucket" in plan


def test_minhash_zero_shuffle(spark):
    """MinHash signatures are per-document math: the plan must be
    map-only — no Exchange at all."""
    from json_remedy_spark.functions.dedup import minhash_signatures
    from json_remedy_spark.plans.explain import executed_plan

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = executed_plan(minhash_signatures(d))
    assert "Exchange" not in plan, plan


def test_ngram_repetition_zero_shuffle(spark):
    """Per-document Gopher signals must stay map-only — the round-3
    explode+groupBy form cost 4 exchanges / 21 s at sf0.1."""
    from json_remedy_spark.functions.quality import ngram_repetition
    from json_remedy_spark.plans.explain import executed_plan

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = executed_plan(ngram_repetition(d))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan


def test_hashed_langid_zero_shuffle(spark):
    from json_remedy_spark.functions.langid import hashed_langid
    from json_remedy_spark.plans.explain import executed_plan

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = executed_plan(hashed_langid(d))
    assert "Exchange" not in plan, plan


def test_semantic_dedup_single_exchange(spark):
    """SemDeDup's only shuffle is the groupBy(cell) feeding the
    per-cell Arrow kernel; Lloyd refinement runs as separate bounded
    jobs, never in this plan."""
    from json_remedy_spark.functions.similarity import semantic_dedup
    from json_remedy_spark.plans.explain import executed_plan

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    plan = executed_plan(semantic_dedup(e, threshold=0.9, cells=8, iters=1))
    assert plan.count("Exchange") <= 1, plan
    assert "FlatMapGroupsInPandas" in plan


def test_quality_classifier_zero_shuffle(spark):
    from json_remedy_spark.functions.classifier import quality_classifier
    from json_remedy_spark.plans.explain import executed_plan

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = executed_plan(quality_classifier(d))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan


def test_url_dedup_single_exchange(spark):
    """Both window functions (count + row_number) must share the one
    canon_url shuffle."""
    from json_remedy_spark.functions.corpus import latest_crawl_per_url
    from json_remedy_spark.plans.explain import executed_plan

    pages = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(
            F.concat(F.lit("http://e.com/"), (F.col("doc_id") % 50).cast("string")).alias("url"),
            F.col("doc_id"),
            F.col("doc_id").alias("warc_ts"),
        )
    )
    plan = executed_plan(latest_crawl_per_url(pages))
    assert plan.count("Exchange") <= 1, plan


def test_outlink_stats_jvm_only(spark):
    """Extraction is pure column expressions — no Python hop; the only
    exchanges are the aggregation's."""
    from json_remedy_spark.functions.webgraph import outlink_host_stats
    from json_remedy_spark.plans.explain import executed_plan

    pages = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.concat(F.lit("p://"), F.col("doc_id").cast("string")).alias("url"),
        F.encode(F.lit('<a href="https://x.com/a">l</a>'), "utf-8").alias("html"),
    )
    plan = executed_plan(outlink_host_stats(pages))
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Exchange") <= 2, plan
