"""Lineage / metrics side-outputs (north_rule observability).

Mirrors the reference's analyze/debug surfaces
(``lib/json_remedy.ex:258-343``): repair-rule frequencies, layer-hit
counts, langid / perplexity histograms — all plain exploded groupBys
(partial aggregation map-side; the only shuffles in the job)."""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def repair_action_frequencies(result: DataFrame) -> DataFrame:
    """`analyze/1` as a table: explode the action log, count by action."""
    return (
        result.select(F.explode_outer("actions").alias("action"))
        .where(F.col("action").isNotNull())
        .groupBy("action")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"))
    )


def layer_hit_counts(result: DataFrame) -> DataFrame:
    return (
        result.select(F.explode_outer("layer_hits").alias("layer", "hits"))
        .where(F.col("layer").isNotNull())
        .groupBy("layer")
        .agg(F.sum("hits").alias("total_hits"), F.count("*").alias("docs"))
        .orderBy("layer")
    )


def langid_histogram(result: DataFrame) -> DataFrame:
    return result.groupBy("lang_id").agg(
        F.count("*").alias("n"),
        F.sum(F.col("keep").cast("int")).alias("kept"),
    ).orderBy("lang_id")


def perplexity_histogram(result: DataFrame, bucket: float = 1.0) -> DataFrame:
    return (
        result.select((F.floor(F.col("ppl") / bucket) * bucket).alias("ppl_bucket"))
        .groupBy("ppl_bucket")
        .agg(F.count("*").alias("n"))
        .orderBy("ppl_bucket")
    )
