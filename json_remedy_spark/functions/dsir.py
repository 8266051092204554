"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169, NeurIPS).

Select raw web documents whose hashed-ngram feature distribution looks
like a small target corpus (Wikipedia/books in the paper): fit
bag-of-hashed-bigram unigram models ``p`` (target) and ``q`` (raw)
over ``B`` hash buckets, weight each raw document by

    log w(x) = sum_i [ log p(b_i) - log q(b_i) ]

over its bigram occurrences, then resample without replacement via
Gumbel top-k (key = w/T + Gumbel noise; top-n keys ~ sampling
proportional to exp(w/T) without replacement).  This is the standard
importance-resampling data-selection move for pretraining corpora and
composes with the quality/langid gates in ``operators/pipeline``.

Spark-first shape (10^12-doc honest):

- bucket histograms: zero-shuffle ``mapInPandas`` partials (<= B rows
  per Arrow batch) + one groupBy over <= B keys — the shuffle is
  O(partitions x B), never O(corpus).
- the log-ratio table (B float64s) is built driver-side from the two
  tiny histograms and closure-captured into the scoring hop — the
  SAME ``langid.hashed_scores`` hop as the langid and classifier
  heads (one vectorized Arrow hop, no join, no per-row Python); the
  histograms bincount the same ``langid.bigram_buckets`` features.
- selection: deterministic Gumbel keys from portable md5 noise and
  ``orderBy(key).limit(n)`` — Spark plans TakeOrderedAndProject
  (per-partition top-n + driver merge), no global sort.

DuckDB-checkable end to end: histogram counts are integers, both
engines derive the same smoothed log-ratio via libm doubles, and the
driver queries round to 4 decimals (the perplexity-oracle precedent
for float aggregates).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from json_remedy_spark.functions.langid import (
    FT_BUCKETS,
    bigram_buckets,
    bucket_counts,
    hashed_scores,
)

DSIR_K = 0.5  # add-k smoothing for both unigram bucket models


def bigram_bucket_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level ``(bucket, cnt)`` histogram of hashed char bigrams
    of ``lower(text)``.  Each task emits <= FT_BUCKETS partial rows
    (``bucket_counts`` of the batch's ``bigram_buckets``); the groupBy
    aggregates <= FT_BUCKETS keys."""
    src = docs.select(F.lower(F.col(text_col)).alias("t"))

    def gen(batches):
        for pdf in batches:
            counts = bucket_counts(bigram_buckets(pdf["t"].fillna("").tolist()))
            nz = np.nonzero(counts)[0]
            yield pd.DataFrame(
                {"bucket": nz.astype(np.int64), "cnt": counts[nz]}
            )

    part = src.mapInPandas(gen, schema="bucket long, cnt long")
    return part.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def dsir_log_ratio(target_counts: DataFrame, raw_counts: DataFrame) -> np.ndarray:
    """Dense float64 ``log p(b) - log q(b)`` vector from the two
    histograms (driver-side: each input is <= FT_BUCKETS rows).
    Add-``DSIR_K`` smoothing keeps unseen buckets finite in both
    models."""

    def dense(df: DataFrame) -> np.ndarray:
        v = np.zeros(FT_BUCKETS, dtype=np.float64)
        for r in df.collect():
            v[r["bucket"]] = r["cnt"]
        return v

    # the two histogram jobs are independent — submit both so the
    # second's tasks back-fill the first's tail (guide §2.6); the
    # collected vectors are unchanged
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as ex:
        fp, fq = ex.submit(dense, target_counts), ex.submit(dense, raw_counts)
        p, q = fp.result(), fq.result()
    k = DSIR_K
    lp = np.log(p + k) - np.log(p.sum() + k * FT_BUCKETS)
    lq = np.log(q + k) - np.log(q.sum() + k * FT_BUCKETS)
    return lp - lq


def save_log_ratio(log_ratio: np.ndarray, path: str) -> None:
    """Persist a fitted log-ratio vector as (bucket, log_ratio)
    parquet — the at-rest form: fit once on samples, reuse across
    crawl dumps (the IVF-index / signature-table pattern)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lr = np.asarray(log_ratio, dtype=np.float64)
    pq.write_table(
        pa.table({"bucket": np.arange(len(lr), dtype=np.int64), "log_ratio": lr}),
        path,
    )


def load_log_ratio(path: str) -> np.ndarray:
    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pydict()
    lr = np.zeros(FT_BUCKETS, dtype=np.float64)
    lr[np.asarray(t["bucket"], dtype=np.int64)] = t["log_ratio"]
    return lr


def dsir_weights(
    raw: DataFrame,
    target: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    log_ratio: np.ndarray | None = None,
) -> DataFrame:
    """Per-doc DSIR importance log-weight: ``(doc_id, weight)``.

    Pass either ``target`` (the histograms + log-ratio are computed
    here: two tiny aggregate jobs, then one scoring pass) or a
    precomputed ``log_ratio`` vector (the at-rest form — a production
    run fits the ratio once on samples and reuses it across dumps).
    The id keeps its input type."""
    if log_ratio is None:
        if target is None:
            raise ValueError("dsir_weights needs target or log_ratio")
        log_ratio = dsir_log_ratio(
            bigram_bucket_counts(target, text_col),
            bigram_bucket_counts(raw, text_col),
        )
    weights = np.asarray(log_ratio, dtype=np.float64).reshape(-1, 1)
    return hashed_scores(raw, weights, ["weight"], id_col, text_col)


def gumbel_key(
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
    temperature: float = 1.0,
) -> Column:
    """Deterministic Gumbel-perturbed key, pure JVM columns:
    ``u = (md5-prefix(seed:id) + 0.5) / 2^32`` (never exactly 0 or 1),
    ``key = weight/T - ln(-ln(u))``.  md5 is the portable-hash family
    (``corpus.hash_mod_bucket``): identical integers in Spark and
    DuckDB, reproducible across runs and cluster sizes."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(float(2**32))
    return F.col(weight_col) / F.lit(float(temperature)) - F.log(-F.log(u))


def dsir_resample(
    weighted: DataFrame,
    n: int,
    id_col: str = "doc_id",
    weight_col: str = "weight",
    seed: int = 0,
    temperature: float = 1.0,
) -> DataFrame:
    """Gumbel top-k resampling WITHOUT replacement, proportional to
    ``exp(weight/T)`` (Vieira 2014; the DSIR paper's sampling step):
    add the deterministic Gumbel key and keep the top ``n``.

    ``orderBy(key desc, id).limit(n)`` plans as
    TakeOrderedAndProject — per-partition heaps + a driver merge of
    n-row partials, no global sort at any corpus size.  The id
    tie-break makes the cut deterministic even under (vanishingly
    unlikely) key collisions."""
    keyed = weighted.withColumn(
        "gkey", gumbel_key(weight_col, id_col, seed, temperature)
    )
    return keyed.orderBy(F.col("gkey").desc(), F.col(id_col)).limit(n)
