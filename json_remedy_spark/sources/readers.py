"""Input reader — reference ``from_file/2`` (lib/json_remedy.ex:182)
re-expressed as a Spark scan."""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def from_file(spark: SparkSession, path: str) -> DataFrame:
    """One whole file -> one row -> repaired (from_file parity)."""
    from ..operators.repair_udf import make_repair_udf

    df = spark.read.text(path, wholetext=True).withColumnRenamed("value", "text")
    r = make_repair_udf()(F.col("text"))
    return df.select(
        F.lit(path).alias("path"),
        r["repaired"].alias("repaired"),
        r["ok"].alias("ok"),
        r["n_repairs"].alias("n_repairs"),
    )
