"""The quality-filter DAG: scan -> langid -> repair -> heuristics ->
scrub -> keep/drop fusion -> outputs.

North-rule pipeline over the web-page table
``(url, warc_ts, html, text, lang)``.  Column stages fuse into
WholeStageCodegen; the repair kernel is the single Arrow hop.

Scale notes (100 TB / 1000 executors):
* map-only until the metrics aggregation — no shuffle in the hot path;
* ``salted_repartition`` available for skewed writes (long-doc skew);
* AQE left on; input splits sized by files.maxPartitionBytes;
* per-partition checkpoint manifest in operators/checkpoint.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import langid, perplexity, quality, scrub
from .repair_udf import make_repair_udf


def keep_expr(
    ok: Column, repaired: Column, lang: Column, ppl: Column, qual: Column
) -> Column:
    """keep/drop fusion (north_rule): repair succeeded with substance,
    English, natural-language perplexity, heuristics pass."""
    return (
        ok
        & repaired.isNotNull()
        & (repaired != F.lit('""'))
        & (lang == "en")
        & (ppl <= perplexity.MAX_PERPLEXITY)
        & qual
    )


def quality_filter(docs: DataFrame, with_actions: bool = True) -> DataFrame:
    """Full pipeline.  Input: the web-page table; output adds
    ``repaired, ok, fast_path, n_repairs, layer_hits, lang_id, ppl,
    q_pass, scrubbed, keep`` (+ ``actions`` unless disabled — the
    per-doc action strings are the widest Arrow payload; drop them
    when lineage detail isn't consumed downstream)."""
    repair_udf = make_repair_udf()

    text = F.col("text")
    repair_cols = [
        F.col("r.repaired").alias("repaired"),
        F.col("r.ok").alias("ok"),
        F.col("r.fast_path").alias("fast_path"),
        F.col("r.n_repairs").alias("n_repairs"),
        F.col("r.layer_hits").alias("layer_hits"),
        F.col("r.ppl").alias("ppl"),
    ]
    if with_actions:
        repair_cols.append(F.col("r.actions").alias("actions"))
    # Spark's ExtractPythonUDFs collects the quality kernel with the
    # repair UDF into ONE ArrowEvalPython node (both depend only on
    # `text`)
    hof = quality.hof_metrics(text)
    return (
        docs
        # JVM-side stages first: langid + regex quality fuse into the scan project
        .withColumn("lang_id", langid.detect_language(text))
        .withColumn("q_pass", quality.passes_quality(text, hof=hof))
        .withColumn("r", repair_udf(text))
        .select("*", *repair_cols)
        .drop("r")
        .withColumn("scrubbed", scrub.scrub(F.col("repaired")))
        .withColumn(
            "keep",
            keep_expr(F.col("ok"), F.col("repaired"), F.col("lang_id"), F.col("ppl"), F.col("q_pass")),
        )
    )


def salted_repartition(df: DataFrame, n_partitions: int, key: str = "url", salt_buckets: int = 16) -> DataFrame:
    """Skew-aware repartition: hash(key) xor a per-row salt bucket so a
    hot key (or a run of giant documents sharing a prefix) spreads over
    ``salt_buckets`` partitions (north_rule skew handling)."""
    salt = (F.xxhash64(F.col(key), F.lit(42)) % salt_buckets).cast("int")
    return df.repartition(n_partitions, F.xxhash64(F.col(key)), salt)
