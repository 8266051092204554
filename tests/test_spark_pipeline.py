"""End-to-end Spark pipeline: corpus -> quality_filter -> F1 + bytes."""

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_remedy_spark.operators.pipeline import quality_filter, salted_repartition
from json_remedy_spark.sources.webpages import synthesize_corpus

N = 2000


def score_f1(result: DataFrame, labels: DataFrame) -> dict:
    """keep/drop F1 vs ground-truth labels, broadcast join on url
    (labels are small relative to the corpus — dims broadcast)."""
    j = result.select("url", "keep", "repaired").join(
        F.broadcast(labels.select("url", "expected_keep", "expected_repaired")), "url"
    )
    agg = j.agg(
        F.sum(F.when(F.col("keep") & F.col("expected_keep"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("keep") & ~F.col("expected_keep"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("keep") & F.col("expected_keep"), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(F.col("repaired") == F.col("expected_repaired"), 1).otherwise(0)).alias("byte_identical"),
        F.count("*").alias("n"),
    ).collect()[0]
    tp, fp, fn = agg["tp"], agg["fp"], agg["fn"]
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "f1": f1,
        "precision": precision,
        "recall": recall,
        "byte_identical_rate": agg["byte_identical"] / agg["n"],
        "n": agg["n"],
    }


@pytest.fixture(scope="module")
def corpus(spark):
    docs, labels = synthesize_corpus(spark, N, partitions=4)
    return docs.cache(), labels.cache()


def test_f1_and_byte_identity(spark, corpus):
    docs, labels = corpus
    result = quality_filter(docs)
    m = score_f1(result, labels)
    assert m["n"] == N
    assert m["byte_identical_rate"] == 1.0, m
    assert m["f1"] >= 0.99, m


def test_output_schema(spark, corpus):
    docs, _ = corpus
    result = quality_filter(docs)
    names = set(result.columns)
    for c in ["url", "repaired", "ok", "keep", "scrubbed", "lang_id", "ppl", "layer_hits", "n_repairs"]:
        assert c in names


def test_with_repairs_projects_full_action_structs(spark, corpus):
    """Opt-in lineage: make_repair_udf(with_repairs=True) surfaces the
    reference's full repair_action structs (layer/action/position/
    original/replacement); the default UDF and the pipeline omit the
    field from the Arrow payload entirely."""
    docs, _ = corpus
    import pyspark.sql.functions as F

    from json_remedy_spark.operators.repair_udf import make_repair_udf

    assert "repairs" not in quality_filter(docs).columns
    default = docs.limit(1).select(make_repair_udf()(F.col("text")).alias("r"))
    assert "repairs" not in default.select("r.*").columns
    out = make_repair_udf(with_repairs=True)(F.col("text"))
    result = docs.limit(200).select(out["n_repairs"].alias("n_repairs"), out["repairs"].alias("repairs"))
    rows = result.where(F.col("n_repairs") > 0).select("repairs").head(5)
    assert rows
    for r in rows:
        for a in r["repairs"]:
            assert set(a.asDict()) == {"layer", "action", "position", "original", "replacement"}
            assert a["layer"] in {"layer1", "layer2", "layer3"}


def test_langid_accuracy(spark, corpus):
    docs, labels = corpus
    from json_remedy_spark.functions.langid import detect_language
    import pyspark.sql.functions as F

    got = docs.withColumn("lang_id", detect_language(F.col("text")))
    acc = (
        got.join(labels.select("url", F.col("lang").alias("true_lang"), "malformation_class"), "url")
        .where(F.col("malformation_class") != "garbage")  # symbols-only rows carry no language signal
        .agg(F.avg((F.col("lang_id") == F.col("true_lang")).cast("double")))
        .collect()[0][0]
    )
    assert acc >= 0.99, acc


def test_scrub_removes_pii(spark):
    import pyspark.sql.functions as F
    from json_remedy_spark.functions.scrub import scrub

    df = spark.createDataFrame(
        [("contact alice@example.com or 555-123-4567 ssn 123-45-6789 at 10.0.0.1",)],
        ["text"],
    )
    out = df.select(scrub(F.col("text")).alias("s")).collect()[0]["s"]
    assert "[EMAIL]" in out and "[SSN]" in out and "[IP]" in out
    assert "alice@example.com" not in out and "123-45-6789" not in out


def test_salted_repartition_spreads(spark, corpus):
    docs, _ = corpus
    rep = salted_repartition(docs, 8)
    sizes = rep.rdd.glom().map(len).collect()
    assert len(sizes) == 8
    assert max(sizes) < N  # not all rows in one partition


def test_plan_shape(spark, corpus):
    """The column stages must not multiply Python round-trips: exactly
    two ArrowEvalPython nodes (ppl + repair), scrub/keep in codegen."""
    docs, _ = corpus
    plan = quality_filter(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") <= 1, plan
