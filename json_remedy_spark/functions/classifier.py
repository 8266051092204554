"""DCLM-style model-based quality classifier — fastText architecture.

The strongest public web-corpus quality filters are 2-class fastText
models scoring "high-quality / reference-like" vs "generic web" text
(DataComp-LM, Li et al. 2024; the original fastText classifier is
Joulin et al. 2016 — hashed bag-of-char-ngram features -> linear head
-> argmax).  This module is that architecture with a deterministic,
train-free weight table so the entire scoring path — hashing, bucket
collisions included, summation, margin, label — is exercised and
DuckDB-checkable bit-exactly.  A trained export drops in via
``model_path`` exactly like the langid head (same on-disk parquet
format, ``langid.export_ft_model``; classes come from the artifact).

Relationship to the heuristic rules: `functions/quality.py` is the
C4/Gopher rule side; this is the model side.  Production pipelines run
both (rules veto, model scores), which is what ``operators/pipeline``
composes.

Scale shape: scoring is the shared zero-shuffle ``langid.hashed_scores``
hop (vectorized utf-32 decode, per-batch distinct-bigram hashing); the
label/margin are JVM column expressions on the integer scores, so
everything downstream of the Arrow hop codegens.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_remedy_spark.functions.langid import (
    FT_BUCKETS,
    bigram_buckets,
    bucket_counts,
    ft_head,
    hashed_scores,
    padded_word_rows,
)

# class order is the score-column order; sorted so a loaded artifact
# (whose classes are sorted on read) lines up
QC_CLASSES = ["hi", "lo"]

# deterministic inventories: padded-word bigrams of these words form
# the weight table, mirroring ft_weight_rows for langid.  "hi" words
# mark reference-like/expository prose (the DCLM positive set is
# instruction/encyclopedic text); "lo" words mark boilerplate/spam.
_QC_WORDS = {
    "hi": [
        "because", "therefore", "research", "study", "method", "result",
        "example", "analysis", "evidence", "theory", "definition",
        "chapter", "history", "science", "learn", "explain",
    ],
    "lo": [
        "click", "subscribe", "buy", "free", "win", "cheap", "offer",
        "deal", "sale", "limited", "casino", "bonus", "download",
        "viagra", "jackpot", "unsubscribe",
    ],
}

# naive-Bayes training constants: add-alpha smoothing and the integer
# quantization scale of the log-probability weights
QC_ALPHA = 1.0
QC_SCALE = 1000.0


def qc_weight_rows() -> list[tuple[int, list[int]]]:
    """The built-in quality table: (bucket, [w_hi, w_lo]) over the
    class inventories (``langid.padded_word_rows``, as for langid, so
    collisions behave identically)."""
    return padded_word_rows(_QC_WORDS, QC_CLASSES)


def train_quality_classifier(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    handles: list | None = None,
) -> DataFrame:
    """Train the quality head IN-ENGINE — the DCLM bootstrap pattern
    (cheap teacher labels a sample, the fast hashed-bigram student
    scores the crawl): per-class smoothed naive-Bayes log-probability
    weights over the SAME hashed char-bigram features the scorer uses,

        w[b, c] = round(QC_SCALE * ln((cnt[b,c] + QC_ALPHA) /
                                      (tot[c] + FT_BUCKETS * QC_ALPHA)))

    quantized to integers so the trained table drops STRAIGHT into the
    existing bit-exact integer scorer (``quality_classifier`` via the
    ``export_ft_model`` parquet format — (bucket, lang, weight) long
    form; class margin = QC_SCALE x the doc log-likelihood ratio,
    class priors omitted as a constant shift a threshold sweep
    absorbs).

    Scale shape (the trigram-LM story again): ONE vocabulary-bounded
    aggregation — each Arrow batch emits per-class bucket-count
    partials (<= classes x FT_BUCKETS rows), the corpus itself never
    shuffles, and the driver sees nothing (the weight grid is a
    classes x FT_BUCKETS DataFrame).  Counting bincounts the scorer's
    own ``bigram_buckets``, so train and score cannot disagree on
    tokenization, hashing, or collisions."""
    import numpy as np

    src = labeled.select(
        F.lower(F.col(text_col)).alias("t"), F.col(label_col).alias("y")
    )

    def gen(batches):
        for pdf in batches:
            ids = bigram_buckets(pdf["t"].fillna("").tolist())
            ys = pdf["y"].tolist()
            out = {"y": [], "bucket": [], "cnt": []}
            for cls in pd.unique(pdf["y"]):
                m = bucket_counts([a for a, y in zip(ids, ys) if y == cls])
                nz = np.nonzero(m)[0]
                out["y"].extend([cls] * len(nz))
                out["bucket"].extend(nz.tolist())
                out["cnt"].extend(m[nz].tolist())
            yield pd.DataFrame(out)

    partials = src.mapInPandas(gen, schema="y string, bucket int, cnt long")
    # persist the (<= classes x 256)-row aggregate: totals AND the grid
    # join both read it — without this the corpus is counted twice
    counts = partials.groupBy("y", "bucket").agg(F.sum("cnt").alias("cnt")).persist()
    if handles is not None:
        handles.append(counts)
    totals = counts.groupBy("y").agg(F.sum("cnt").alias("tot"))

    spark = labeled.sparkSession
    grid = spark.range(FT_BUCKETS).select(
        F.col("id").cast("int").alias("bucket")
    ).crossJoin(totals)  # classes x buckets, with tot attached
    full = grid.join(counts, ["y", "bucket"], "left").select(
        "y",
        "bucket",
        F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        "tot",
    )
    return full.select(
        F.col("bucket"),
        F.col("y").alias("lang"),
        F.round(
            F.lit(QC_SCALE)
            * F.log(
                (F.col("cnt") + F.lit(QC_ALPHA))
                / (F.col("tot") + F.lit(QC_ALPHA * FT_BUCKETS))
            ),
            0,
        ).cast("long").alias("weight"),
    )


def quality_classifier(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    model_path: str | None = None,
    extra_cols: tuple = (),
) -> DataFrame:
    """Score each doc with the 2-class fastText quality head:
    ``(doc_id, *extra_cols, s_hi, s_lo, margin, quality_label)``.

    ``margin = s_hi - s_lo`` (the integer analogue of the DCLM score
    used for threshold sweeps); ``quality_label`` is 'high' iff the
    margin is positive (ties and no-signal docs fall to 'low' — a
    filter should never keep a page the model has no evidence for).

    The id keeps its input type (string url keys work), and
    ``extra_cols`` ride through the Arrow hop unchanged so a pipeline
    can gate on the label without a join-back shuffle
    (``langid.hashed_scores``).

    ``model_path``: trained-model drop-in (``langid.ft_head``),
    ``langid.export_ft_model`` parquet format; class names come from
    the artifact (sorted), and the output score columns are
    ``s_<class>``.
    """
    classes, weights = ft_head(docs, qc_weight_rows(), QC_CLASSES, model_path)
    score_cols = [f"s_{c}" for c in classes]
    scored = hashed_scores(docs, weights, score_cols, id_col, text_col, extra_cols)
    if len(classes) == 2:
        a, b = (F.col(c) for c in score_cols)
        return scored.select(
            "doc_id",
            *extra_cols,
            *score_cols,
            (a - b).alias("margin"),
            F.when(a - b > 0, F.lit("high")).otherwise(F.lit("low")).alias("quality_label"),
        )
    return scored
