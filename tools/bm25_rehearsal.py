"""BM25 at-rest scale rehearsal: the postings table a decade apart.

Closes the round-5 gap (VERDICT r5 #6): the IVF index has a
200k -> 2M row in BASELINE.md, the BM25 postings table did not.
Protocol mirrors tools/ann_rehearsal.py: build the term-bucketed
postings table (``write_postings_table``) at 200k and 2M docs over
the same deterministic corpus the corpus-job rehearsal uses, then
query both with the same fixed query set and record:

  - build wall time (must scale ~linearly: one tokenize pass, one
    (doc,term) agg, one repartitioned bucketed write),
  - at-rest size + bucket-file count (repartition(bucket) before
    partitionBy keeps one file per bucket at any parallelism),
  - query-side latency from the PRUNED scan (a q-term query touches
    at most q of n_buckets partitions — the probed fraction is
    reported; per-bucket postings grow linearly with the corpus, so
    query wall grows with df, not with corpus file count),
  - parity: the at-rest top-k equals the in-session ``bm25_topk``
    top-k on the same corpus (checked at the small decade),
  - the in-session query cost at both decades for contrast — it
    re-tokenizes the whole corpus per query batch, which is exactly
    what the at-rest table amortizes away.

Usage:
  PYSPARK_SUBMIT_ARGS="--driver-memory 8g pyspark-shell" \
      python tools/bm25_rehearsal.py [--small 200000] [--big 2000000]
"""

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from bench import make_spark  # noqa: E402
from sf1_rehearsal import ensure_corpus  # noqa: E402 (shared corpus cache)

TMP = "/tmp/jrs_bm25_rehearsal"
N_BUCKETS = 64
K = 10


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def make_queries(spark, out_dir: str):
    """Deterministic queries from the corpus's own df table: terms
    ranked 50.. by (df desc, term) — common enough to have deep
    postings, not df-capped — paired into 2-term queries."""
    from pyspark.sql import functions as F

    terms = [
        r["term"]
        for r in spark.read.parquet(os.path.join(out_dir, "df"))
        .orderBy(F.col("df").desc(), "term")
        .limit(66)
        .collect()
    ][50:]
    rows = [(i, f"{terms[2 * i]} {terms[2 * i + 1]}") for i in range(8)]
    return spark.createDataFrame(rows, "q_id long, query string")


def run_size(spark, n_docs: int) -> dict:
    from pyspark.sql import functions as F

    from json_remedy_spark.functions.search import (
        bm25_topk,
        bm25_topk_from_postings,
        write_postings_table,
    )

    corpus = ensure_corpus(n_docs) + "_docs"
    docs = spark.read.parquet(corpus)
    idx = os.path.join(TMP, f"postings_{n_docs}")
    shutil.rmtree(idx, ignore_errors=True)

    t0 = time.time()
    n_buckets = write_postings_table(docs, idx, n_buckets=N_BUCKETS)
    t_build = round(time.time() - t0, 1)

    queries = make_queries(spark, idx).cache()
    queries.count()

    # probed fraction: distinct term-hash buckets of the query terms
    from json_remedy_spark.functions.search import _tokens

    probed = (
        queries.select(F.explode(F.array_distinct(_tokens(F.col("query")))).alias("t"))
        .select(F.pmod(F.xxhash64("t"), F.lit(N_BUCKETS)).cast("int").alias("b"))
        .distinct()
        .count()
    )

    t0 = time.time()
    at_rest = {
        (r["q_id"], r["doc_id"])
        for r in bm25_topk_from_postings(spark, idx, queries, k=K).collect()
    }
    t_query = round(time.time() - t0, 1)

    t0 = time.time()
    in_session = {
        (r["q_id"], r["doc_id"])
        for r in bm25_topk(docs, queries, k=K).collect()
    }
    t_session = round(time.time() - t0, 1)

    queries.unpersist()
    files = sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(os.path.join(idx, "postings"))
    )
    return {
        "n_docs": n_docs,
        "buckets": n_buckets,
        "postings_files": files,
        "postings_mb": round(_du(os.path.join(idx, "postings")) / 1e6, 1),
        "build_sec": t_build,
        "probed_buckets": probed,
        "at_rest_query_sec": t_query,
        "in_session_query_sec": t_session,
        "parity": at_rest == in_session,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", type=int, default=200_000)
    ap.add_argument("--big", type=int, default=2_000_000)
    args = ap.parse_args()
    os.makedirs(TMP, exist_ok=True)
    spark = make_spark(app="bm25-rehearsal")

    out = {}
    for n in (args.small, args.big):
        out[str(n)] = run_size(spark, n)
        print(json.dumps(out[str(n)]), flush=True)

    s, b = out[str(args.small)], out[str(args.big)]
    print(json.dumps({
        "input_ratio": args.big / args.small,
        "build_ratio": round(b["build_sec"] / s["build_sec"], 2),
        "at_rest_query_ratio": round(
            b["at_rest_query_sec"] / s["at_rest_query_sec"], 2
        ),
        "in_session_query_ratio": round(
            b["in_session_query_sec"] / s["in_session_query_sec"], 2
        ),
        "parity_small": s["parity"],
        "parity_big": b["parity"],
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
