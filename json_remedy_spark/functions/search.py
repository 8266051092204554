"""BM25 keyword retrieval over the document corpus.

Reference scope: the reference (nshkrdotcom/json_remedy) is a repair
kernel; retrieval is graft-mandated pipeline tooling — the standard
way a training-data pipeline mines targeted subsets ("find docs about
X for the mixture", query-based decontamination, quality-probe
panels).  Okapi BM25 with the Lucene idf form:

    idf(t)  = ln((N - df + 0.5) / (df + 0.5) + 1)
    score   = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

Spark-first plan shape (100 TB notes):
  - tokenization is one JVM pass (lower + regexp split + explode) —
    no Python in the hot path; the postings table is (doc_id, term,
    tf, dl), built with ONE corpus-keyed aggregation;
  - document frequencies are a term-keyed agg whose output is
    vocabulary-sized, never corpus-sized;
  - ``max_df_frac`` drops stopword-grade terms BEFORE the score join
    (df > frac*N) — the skew guard: "the" would otherwise route the
    whole corpus through one join key.  Dropping ubiquitous terms is
    standard BM25 practice (their idf ~ 0 contribution anyway);
  - the query set is tiny and BROADCASTS to the postings; candidate
    docs = postings hitting any query term, so the final top-k window
    shuffles candidates only, bounded by |terms hit| x df-cap.
  - at rest, the postings table lands ``partitionBy(term-bucket)``
    like the LSH signature table; this module keeps the in-session
    form (one query population per run) — the write is the same
    recipe as ``write_signature_table``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from json_remedy_spark.localdf import local_frame

TOKEN_SPLIT = "[^a-z0-9]+"


def _tokens(col):
    """lower -> split on non-alphanumeric -> drop empties (JVM-side)."""
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT), lambda t: t != "")


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_frac: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    q_id_col: str = "q_id",
    q_text_col: str = "query",
    handles: list | None = None,
) -> DataFrame:
    """Top-``k`` documents per query by BM25.

    ``queries``: a small (q_id, query) frame — it broadcasts.
    Returns (q_id, doc_id, score, rank); score is rounded to 6
    decimals so the DuckDB oracle's independent recomputation matches
    exactly.  Deterministic tie-break: score desc, doc_id asc.

    The corpus is tokenized ONCE: the (doc_id, term, tf, dl) postings
    frame persists and feeds the stats scalar agg, the df agg and the
    score join from one materialization (without it Catalyst plans
    three separate tokenize+aggregate corpus passes).  Long-lived
    sessions pass ``handles`` to receive the persisted frame for
    unpersist; at 100 TB this is an at-rest postings table bucketed
    by term — the ``write_signature_table`` recipe."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(_tokens(F.col(text_col))).alias("term")
    )
    postings = (
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id")))
        .persist()
    )
    if handles is not None:
        handles.append(postings)

    # two scalars reach the driver (bounded agg — never corpus rows);
    # N counts token-bearing docs, matching the oracle's stats CTE.
    # dl values are exact integers, so avg is association-independent
    # and matches DuckDB bit-for-bit.
    stats = (
        postings.select("doc_id", "dl").distinct()
        .agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).first()
    )
    n_docs, avgdl = stats["n"], stats["avgdl"]

    df_tbl = postings.groupBy("term").agg(F.count("*").alias("df")).where(
        F.col("df") <= F.lit(float(max_df_frac)) * F.lit(float(n_docs))
    )

    q_terms = queries.select(
        F.col(q_id_col).alias("q_id"),
        F.explode(F.array_distinct(_tokens(F.col(q_text_col)))).alias("term"),
    )
    # idf on the (broadcast-sized) query-term x df join
    q_scored_terms = F.broadcast(q_terms).join(df_tbl, "term").withColumn(
        "idf", F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    )

    hits = postings.join(
        F.broadcast(q_scored_terms.select("q_id", "term", "idf")), "term"
    )
    contrib = hits.withColumn(
        "s",
        F.col("idf")
        * (F.col("tf") * (1.0 + float(k1)))
        / (
            F.col("tf")
            + float(k1) * (1.0 - float(b) + float(b) * F.col("dl") / F.lit(float(avgdl)))
        ),
    )
    scored = contrib.groupBy("q_id", "doc_id").agg(
        F.round(F.sum("s"), 6).alias("score")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def write_postings_table(
    docs: DataFrame,
    out_dir: str,
    n_buckets: int = 64,
    max_df_frac: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Materialize the BM25 index AT REST — the searchable-corpus form
    of ``bm25_topk``'s in-session postings, mirroring the LSH
    signature table and the IVF cell layout: postings land
    ``partitionBy(bucket)`` where ``bucket = xxhash64(term) % n``, so
    a query's terms map to PARTITION PRUNING at the scan (a q-term
    query touches at most q of n buckets).  Corpus stats (N, avgdl)
    and the df table land beside them; df-capped terms are dropped at
    WRITE time so the stopword skew never reaches disk.  Returns the
    bucket-directory count."""
    import os

    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(_tokens(F.col(text_col))).alias("term")
    )
    postings = (
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("dl", F.sum("tf").over(Window.partitionBy("doc_id")))
        .persist()
    )
    stats = (
        postings.select("doc_id", "dl").distinct()
        .agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).first()
    )
    # n_buckets rides along so the reader hashes query terms the way
    # the table was written
    spark = docs.sparkSession
    # Arrow-backed local frame (localdf.py): the list form costs ~5 s
    # of Python-worker round-trips per coalesce(1) write at local[32]
    local_frame(
        spark,
        [(int(stats["n"]), float(stats["avgdl"]), int(n_buckets))],
        "n long, avgdl double, n_buckets int",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "stats"))

    df_tbl = postings.groupBy("term").agg(F.count("*").alias("df")).where(
        F.col("df") <= F.lit(float(max_df_frac)) * F.lit(float(stats["n"]))
    )
    df_tbl.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "df"))

    kept = postings.join(df_tbl.select("term"), "term", "left_semi").withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    )
    kept.repartition(F.col("bucket")).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(os.path.join(out_dir, "postings"))
    postings.unpersist()
    return sum(
        1
        for d in os.listdir(os.path.join(out_dir, "postings"))
        if d.startswith("bucket=")
    )


def bm25_topk_from_postings(
    spark,
    out_dir: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 64,
    q_id_col: str = "q_id",
    q_text_col: str = "query",
) -> DataFrame:
    """Query the AT-REST postings table: query terms hash to their
    buckets driver-side (a tiny collect — |distinct query terms|
    values), the postings scan prunes to those bucket partitions, and
    the scoring math is byte-identical to ``bm25_topk`` over the same
    corpus and parameters (pytest-pinned)."""
    import os

    srow = spark.read.parquet(os.path.join(out_dir, "stats")).first()
    n_docs, avgdl = srow["n"], srow["avgdl"]
    n_buckets = srow["n_buckets"] if "n_buckets" in srow.__fields__ else n_buckets

    q_terms = queries.select(
        F.col(q_id_col).alias("q_id"),
        F.explode(F.array_distinct(_tokens(F.col(q_text_col)))).alias("term"),
    ).withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"))
    probed = sorted({r["bucket"] for r in q_terms.select("bucket").distinct().collect()})

    df_tbl = spark.read.parquet(os.path.join(out_dir, "df")).where(
        F.col("bucket").isin(probed)
    )
    q_idf = F.broadcast(q_terms.select("q_id", "term")).join(df_tbl, "term").withColumn(
        "idf", F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    )

    postings = spark.read.parquet(os.path.join(out_dir, "postings")).where(
        F.col("bucket").isin(probed)  # -> PartitionFilters at the scan
    )
    hits = postings.join(
        F.broadcast(q_idf.select("q_id", "term", "idf")), "term"
    )
    contrib = hits.withColumn(
        "s",
        F.col("idf")
        * (F.col("tf") * (1.0 + float(k1)))
        / (
            F.col("tf")
            + float(k1) * (1.0 - float(b) + float(b) * F.col("dl") / F.lit(float(avgdl)))
        ),
    )
    scored = contrib.groupBy("q_id", "doc_id").agg(
        F.round(F.sum("s"), 6).alias("score")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def bm25_sql(
    query_rows: list[tuple],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_frac: float = 0.5,
) -> str:
    """The DuckDB replay of ``bm25_topk`` over the ``documents`` view:
    same tokenizer regex, same Lucene idf, same rounding and
    tie-break — an independent recomputation, not an export."""
    qvals = ", ".join(
        f"({qid}, '{text.replace(chr(39), chr(39) * 2)}')" for qid, text in query_rows
    )
    return f"""
      WITH q(q_id, query) AS (VALUES {qvals}),
      toks AS (
        SELECT doc_id, unnest(list_filter(
          regexp_split_to_array(lower(text), '{TOKEN_SPLIT}'), t -> t != '')) AS term
        FROM documents
      ),
      postings AS (
        SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2
      ),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM postings GROUP BY 1),
      stats AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl),
      dfs AS (
        SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1
      ),
      qterms AS (
        SELECT DISTINCT q_id, unnest(list_filter(
          regexp_split_to_array(lower(query), '{TOKEN_SPLIT}'), t -> t != '')) AS term
        FROM q
      ),
      qidf AS (
        SELECT q.q_id, q.term,
               ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0) AS idf
        FROM qterms q JOIN dfs d ON d.term = q.term CROSS JOIN stats s
        WHERE d.df <= {max_df_frac} * s.n
      ),
      contrib AS (
        SELECT qi.q_id, p.doc_id,
               qi.idf * (p.tf * (1.0 + {k1})) /
                 (p.tf + {k1} * (1.0 - {b} + {b} * l.dl / s.avgdl)) AS s
        FROM postings p
        JOIN dl l ON l.doc_id = p.doc_id
        JOIN qidf qi ON qi.term = p.term
        CROSS JOIN stats s
      ),
      scored AS (
        SELECT q_id, doc_id, round(sum(s), 6) AS score FROM contrib GROUP BY 1, 2
      )
      SELECT q_id::BIGINT AS q_id, doc_id::BIGINT AS doc_id, score::DOUBLE AS score,
             rank::BIGINT AS rank
      FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
        FROM scored
      ) WHERE rank <= {k}
    """
