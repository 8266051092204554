"""ANN scale rehearsal: the at-rest IVF index a decade apart.

Completes the round-5 rehearsal triptych (corpus job, dedup job,
similarity path): build the partition-pruned IVF index
(``write_ivf_index``) at 200k and 2M vectors over the same
deterministic clustered corpus (``sources/vectors.py``), query both
with the same 100 held-out vectors, and score IVF recall@10 against
the exact brute-force ``cosine_topk`` truth.

What the two decades must show for the 100 TB design to hold:
  - index build scales ~linearly (one centroid pass + one cell
    assignment map + one repartitioned write),
  - recall@10 stays flat at a constant probe FRACTION (cells grow as
    sqrt(N), so per-cell population grows sqrt(N) too — probing the
    same fraction keeps the same neighborhoods),
  - the POINT-LOOKUP regime (few queries, constant nprobe) is where
    partition pruning pays: the probed-cell set stays ~constant while
    the corpus grows 10x, so query latency decouples from corpus
    size.  The 100-query batch regime is measured too and is honestly
    adversarial: 100 queries x probes covers nearly every cell, so
    the scan prunes nothing and a single brute-force Arrow pass wins
    — an index only beats a scan when the probed set is a small
    fraction of the data, exactly like any database index,
  - append_to_ivf_index grows the 2M index by 10% without rebuild:
    append cost ~ the appended fraction of build cost, and the
    appended vectors are immediately queryable.

Usage:
  PYSPARK_SUBMIT_ARGS="--driver-memory 8g pyspark-shell" \
      python tools/ann_rehearsal.py [--small 200000] [--big 2000000] [--md]
"""

import argparse
import json
import math
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import make_spark  # noqa: E402

TMP = "/tmp/jrs_ann"
N_QUERIES = 100
K = 10
DIMS = 64
LABELS = 64
PROBE_FRACTION = 16  # batch regime: probes = cells // PROBE_FRACTION
POINT_QUERIES = 8    # point regime: few lookups, constant nprobe
POINT_NPROBE = 32


def ensure_vectors(spark, n: int) -> tuple:
    """Corpus = vec_id < n, queries = the next N_QUERIES ids of the
    SAME distribution (same seed -> same centers; disjoint ids)."""
    path = os.path.join(TMP, f"vectors_{n}")
    qpath = os.path.join(TMP, f"queries_{n}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from json_remedy_spark.sources.vectors import synthesize_vectors

        all_v = synthesize_vectors(
            spark, n + N_QUERIES, dims=DIMS, n_labels=LABELS, partitions=max(32, n // 50_000)
        )
        all_v.where(f"vec_id < {n}").write.mode("overwrite").parquet(path)
        all_v.where(f"vec_id >= {n}").selectExpr(
            "vec_id AS q_id", "embedding"
        ).coalesce(1).write.mode("overwrite").parquet(qpath)
    return path, qpath


def run_size(spark, n: int) -> dict:
    from pyspark.sql import functions as F

    from json_remedy_spark.functions.similarity import (
        cosine_topk,
        ivf_topk_from_index,
        write_ivf_index,
    )

    vpath, qpath = ensure_vectors(spark, n)
    vectors = spark.read.parquet(vpath)
    queries = spark.read.parquet(qpath)
    cells = int(math.sqrt(n))
    probes = max(4, cells // PROBE_FRACTION)
    idx = os.path.join(TMP, f"ivf_{n}")
    shutil.rmtree(idx, ignore_errors=True)

    t0 = time.time()
    n_cells = write_ivf_index(vectors, idx, cells=cells, refine=1)
    t_build = round(time.time() - t0, 1)

    t0 = time.time()
    got = ivf_topk_from_index(spark, idx, queries, k=K, probes=probes)
    ivf_rows = {(r["q_id"], r["vec_id"]) for r in got.collect()}
    t_query = round(time.time() - t0, 1)

    t0 = time.time()
    truth = cosine_topk(vectors, queries, k=K, id_col="vec_id")
    truth_rows = {(r["q_id"], r["vec_id"]) for r in truth.collect()}
    t_brute = round(time.time() - t0, 1)

    recall = round(len(ivf_rows & truth_rows) / len(truth_rows), 4)
    files = sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(os.path.join(idx, "vectors"))
    )

    # point-lookup regime: constant nprobe, few queries — the probed
    # cell set is <= POINT_QUERIES * POINT_NPROBE regardless of corpus
    # size, so partition pruning actually engages
    pq = queries.limit(POINT_QUERIES).cache()
    pq_ids = [r["q_id"] for r in pq.select("q_id").collect()]
    t0 = time.time()
    pgot = ivf_topk_from_index(spark, idx, pq, k=K, probes=POINT_NPROBE)
    point_rows = {(r["q_id"], r["vec_id"]) for r in pgot.collect()}
    t_point = round(time.time() - t0, 1)
    point_truth = {(q, v) for (q, v) in truth_rows if q in set(pq_ids)}
    point_recall = round(len(point_rows & point_truth) / len(point_truth), 4)
    from json_remedy_spark.functions.similarity import read_ivf_centroids, with_ivf_cell
    from json_remedy_spark.functions.similarity import with_unit_norm
    cen = read_ivf_centroids(spark, idx)
    probed_cells = (
        with_ivf_cell(with_unit_norm(pq, "embedding"), cen, "embedding", n_probes=POINT_NPROBE)
        .select(F.explode("ivf_cells").alias("cell")).distinct().count()
    )
    pq.unpersist()

    return {
        "n": n,
        "cells": n_cells,
        "probes": probes,
        "index_files": files,
        "build_sec": t_build,
        "ivf_query_sec": t_query,
        "brute_force_sec": t_brute,
        "recall_at_10": recall,
        "point_query_sec": t_point,
        "point_probed_cells": probed_cells,
        "point_recall_at_10": point_recall,
    }


def run_append(spark, n_big: int) -> dict:
    """Grow the big index by 10% without rebuild; appended ids must be
    immediately queryable with flat recall."""
    from json_remedy_spark.functions.similarity import (
        append_to_ivf_index,
        cosine_topk,
        ivf_topk_from_index,
    )
    from json_remedy_spark.sources.vectors import synthesize_vectors

    idx = os.path.join(TMP, f"ivf_{n_big}")
    qpath = os.path.join(TMP, f"queries_{n_big}")
    queries = spark.read.parquet(qpath).limit(POINT_QUERIES).cache()
    n_extra = n_big // 10
    # fresh ids past the corpus + held-out query block
    extra = synthesize_vectors(
        spark, n_big + N_QUERIES + n_extra, dims=DIMS, n_labels=LABELS,
        partitions=max(32, n_extra // 50_000),
    ).where(f"vec_id >= {n_big + N_QUERIES}")

    t0 = time.time()
    append_to_ivf_index(spark, idx, extra)
    t_append = round(time.time() - t0, 1)

    t0 = time.time()
    got = ivf_topk_from_index(spark, idx, queries, k=K, probes=POINT_NPROBE)
    grown_rows = {(r["q_id"], r["vec_id"]) for r in got.collect()}
    t_query = round(time.time() - t0, 1)

    grown = spark.read.parquet(os.path.join(idx, "vectors")).selectExpr(
        "vec_id", "embedding"
    )
    truth = cosine_topk(grown, queries, k=K, id_col="vec_id")
    truth_rows = {(r["q_id"], r["vec_id"]) for r in truth.collect()}
    recall = round(len(grown_rows & truth_rows) / len(truth_rows), 4)
    from_appended = sum(1 for (_, v) in truth_rows if v >= n_big + N_QUERIES)
    queries.unpersist()
    return {
        "appended": n_extra,
        "append_sec": t_append,
        "point_query_sec_after": t_query,
        "recall_at_10_after": recall,
        "truth_hits_from_appended": from_appended,
    }


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def run_sq8(spark, n: int) -> dict:
    """Quantized decade: same corpus, sq8 layout — bytes per probed
    cell drop ~4x vs the float32 source (the 100 TB scan-cost lever);
    recall must hold."""
    from json_remedy_spark.functions.similarity import (
        cosine_topk,
        ivf_topk_from_index,
        write_ivf_index,
    )

    vpath, qpath = ensure_vectors(spark, n)
    vectors = spark.read.parquet(vpath)
    queries = spark.read.parquet(qpath).limit(POINT_QUERIES).cache()
    cells = int(math.sqrt(n))
    idx = os.path.join(TMP, f"ivf_sq8_{n}")
    shutil.rmtree(idx, ignore_errors=True)

    t0 = time.time()
    write_ivf_index(vectors, idx, cells=cells, quantize="sq8")
    t_build = round(time.time() - t0, 1)

    t0 = time.time()
    got = ivf_topk_from_index(spark, idx, queries, k=K, probes=POINT_NPROBE)
    rows = {(r["q_id"], r["vec_id"]) for r in got.collect()}
    t_query = round(time.time() - t0, 1)

    truth = cosine_topk(vectors, queries, k=K, id_col="vec_id")
    truth_rows = {(r["q_id"], r["vec_id"]) for r in truth.collect()}
    recall = round(len(rows & truth_rows) / len(truth_rows), 4)
    out = {
        "n": n,
        "sq8_build_sec": t_build,
        "sq8_point_query_sec": t_query,
        "sq8_recall_at_10": recall,
        "sq8_index_mb": round(_du(os.path.join(idx, "vectors")) / 1e6, 1),
        "float_index_mb": round(_du(os.path.join(TMP, f"ivf_{n}", "vectors")) / 1e6, 1),
    }
    queries.unpersist()
    return out


def _exact_mean_cos(spark, vectors, queries, pairs_df) -> float:
    """Mean EXACT cosine of a returned (q_id, vec_id) set — the honest
    ANN metric when true neighbors are near-ties: recall@k punishes
    returning an equally-near tie, cosine regret does not."""
    from pyspark.sql import functions as F

    from json_remedy_spark.functions.similarity import make_dot_udf, with_unit_norm

    v = with_unit_norm(vectors, "embedding").select("vec_id", F.col("unit").alias("vu"))
    q = with_unit_norm(queries, "embedding").select("q_id", F.col("unit").alias("qu"))
    dot = make_dot_udf()
    j = pairs_df.select("q_id", "vec_id").join(v, "vec_id").join(F.broadcast(q), "q_id")
    return j.select(dot(F.col("vu"), F.col("qu")).alias("c")).agg(F.avg("c")).first()[0]


def run_pq(spark, n: int, pq_m: int = 16) -> dict:
    """Product-quantized decade: ``pq_m`` one-byte codes per vector —
    bytes per probed cell drop 16-32x vs float32 at rest (the deepest
    scan-cost lever).  Recall@10 is PARTICULARLY stressed by this
    synthetic corpus: true neighbors cluster as near-ties (~n/64
    same-label members), so coarse codes scramble the within-cluster
    ordering — much harsher than real embedding corpora (the sf0.01
    embeddings table gives ADC 0.7 at m=8).  Two honest readings are
    reported: recall@10 against the exact top-10, and MEAN EXACT
    COSINE of what was returned vs the truth's (cosine regret — the
    metric that does not punish returning an equally-near tie).  The
    production recipe (FAISS) reranks an ADC shortlist with exact
    scores (factor 50 = 500 rows/query, still a point lookup)."""
    from pyspark.sql import functions as F

    from json_remedy_spark.functions.similarity import (
        cosine_topk,
        ivf_topk_from_index,
        write_ivf_index,
    )

    vpath, qpath = ensure_vectors(spark, n)
    vectors = spark.read.parquet(vpath)
    queries = spark.read.parquet(qpath).limit(POINT_QUERIES).cache()
    cells = int(math.sqrt(n))
    idx = os.path.join(TMP, f"ivf_pq{pq_m}_{n}")
    shutil.rmtree(idx, ignore_errors=True)

    t0 = time.time()
    write_ivf_index(vectors, idx, cells=cells, quantize="pq", pq_m=pq_m)
    t_build = round(time.time() - t0, 1)

    t0 = time.time()
    got = ivf_topk_from_index(spark, idx, queries, k=K, probes=POINT_NPROBE).cache()
    rows = {(r["q_id"], r["vec_id"]) for r in got.collect()}
    t_query = round(time.time() - t0, 1)

    truth = cosine_topk(vectors, queries, k=K, id_col="vec_id").cache()
    truth_rows = {(r["q_id"], r["vec_id"]) for r in truth.collect()}
    recall = round(len(rows & truth_rows) / len(truth_rows), 4)
    truth_cos = truth.agg(F.avg("cos")).first()[0]

    t0 = time.time()
    rgot = ivf_topk_from_index(
        spark, idx, queries, k=K, probes=POINT_NPROBE,
        rerank_from=vectors, rerank_factor=50,
    ).cache()
    rrows = {(r["q_id"], r["vec_id"]) for r in rgot.collect()}
    t_rerank = round(time.time() - t0, 1)
    rrecall = round(len(rrows & truth_rows) / len(truth_rows), 4)

    out = {
        "n": n,
        "pq_m": pq_m,
        "pq_build_sec": t_build,
        "pq_point_query_sec": t_query,
        "pq_adc_recall_at_10": recall,
        "pq_rerank_query_sec": t_rerank,
        "pq_rerank_recall_at_10": rrecall,
        "truth_mean_cos": round(truth_cos, 6),
        "pq_adc_mean_cos": round(_exact_mean_cos(spark, vectors, queries, got), 6),
        "pq_rerank_mean_cos": round(_exact_mean_cos(spark, vectors, queries, rgot), 6),
        "pq_index_mb": round(_du(os.path.join(idx, "vectors")) / 1e6, 1),
    }
    for h in (got, truth, rgot):
        h.unpersist()
    # byte compare only against a PRISTINE float index (run_append
    # mutates ivf_<n> by +10%, which would inflate the ratio)
    fdir = os.path.join(TMP, f"ivf_{n}", "vectors")
    if os.path.exists(fdir):
        out["float_index_mb_possibly_appended"] = round(_du(fdir) / 1e6, 1)
    queries.unpersist()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", type=int, default=200_000)
    ap.add_argument("--big", type=int, default=2_000_000)
    ap.add_argument("--md", action="store_true")
    ap.add_argument(
        "--pq-only", action="store_true",
        help="run just the PQ decade at --big (vectors cached from a "
        "prior full run)",
    )
    args = ap.parse_args()
    os.makedirs(TMP, exist_ok=True)
    spark = make_spark(app="ann-rehearsal")

    if args.pq_only:
        for n in (args.small, args.big):
            for m in (8, 16):
                print(json.dumps(run_pq(spark, n, pq_m=m)), flush=True)
        spark.stop()
        return

    out = {}
    for n in (args.small, args.big):
        out[str(n)] = run_size(spark, n)
        print(json.dumps(out[str(n)]), flush=True)

    s, b = out[str(args.small)], out[str(args.big)]
    ratio = args.big / args.small
    summary = {
        "input_ratio": ratio,
        "build_ratio": round(b["build_sec"] / s["build_sec"], 2),
        "batch_query_ratio": round(b["ivf_query_sec"] / s["ivf_query_sec"], 2),
        "point_query_ratio": round(b["point_query_sec"] / s["point_query_sec"], 2),
        "brute_ratio": round(b["brute_force_sec"] / s["brute_force_sec"], 2),
        "recall_small": s["recall_at_10"],
        "recall_big": b["recall_at_10"],
    }
    print(json.dumps(summary), flush=True)

    # sq8 decade BEFORE the append mutates ivf_<big> (fair byte compare)
    sq8 = run_sq8(spark, args.big)
    print(json.dumps(sq8), flush=True)

    pq = run_pq(spark, args.big)
    print(json.dumps(pq), flush=True)

    app = run_append(spark, args.big)
    print(json.dumps(app), flush=True)

    if args.md:
        def row(r):
            return (
                f"| {r['n']} | {r['cells']} | {r['probes']} | {r['index_files']} | "
                f"{r['build_sec']} | {r['ivf_query_sec']} | {r['brute_force_sec']} | "
                f"{r['recall_at_10']} | {r['point_query_sec']} | "
                f"{r['point_probed_cells']} | {r['point_recall_at_10']} |"
            )

        print(
            "| n | cells | probes | files | build s | batch q s | brute s | "
            "recall@10 | point q s | point cells | point recall |\n"
            "|---|---|---|---|---|---|---|---|---|---|---|\n"
            + row(s) + "\n" + row(b)
        )
    spark.stop()


if __name__ == "__main__":
    main()
