"""Production fuzzy-dedup job — spark-submit --py-files launcher.

  spark-submit --py-files dist/json_remedy_spark.zip jobs/run_dedup.py \
      --input  <parquet dir | iceberg table>   (needs doc_id, text) \
      --sig-dir <dir>      at-rest banded signature table (resume unit) \
      --output <dir>       (doc_id, rep_id, is_canonical) parquet \
      [--threshold 0.8] [--buckets 64] [--id-col doc_id] [--text-col text]
      [--embeddings] [--emb-col embedding]   semantic mode over vectors

The 100 TB shape, stage by stage:

1. signatures land AT REST bucketed by band signature
   (``write_signature_table``) — the expensive shingle+minhash kernel
   is checkpoint-resumable: a killed run recomputes only uncommitted
   buckets;
2. candidate pairs come from the stored table
   (``lsh_candidate_pairs_from_table``) — the kernel never re-runs;
3. exact jaccard verifies candidates only
   (``jaccard_verify_candidates``), with one fresh shingle pass
   semi-joined down to candidate docs;
4. ``components_from_pairs`` assigns one canonical representative per
   near-dup cluster; filtering ``is_canonical`` downstream yields the
   deduplicated corpus.

``--embeddings`` switches to the SEMANTIC path over (id, embedding)
vectors: multi-table hyperplane LSH candidates scored by the Arrow
cosine kernel (``embedding_near_dup``), then the same components last
mile.  No at-rest signature stage there — the sign-pattern bucketing
is cheap column math over the already-at-rest embedding table, unlike
the shingle+minhash kernel that justifies checkpointing text
signatures.
"""

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--sig-dir", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument(
        "--max-bucket", type=int, default=512,
        help="band-bucket size above which candidate generation "
        "switches from exact all-pairs to verified star edges against "
        "--hubs smallest members (quadratic-blowup guard for huge "
        "boilerplate families; 0 disables the guard).  512 bounds "
        "worst-case candidates at 256*N (linear): the sf1 rehearsal "
        "measured 357M pre-distinct pairs at cap 4096 on 2M docs "
        "(13.6x the 200k load for 10x input — verify join exhausts "
        "/tmp) vs 52M at cap 512 (2x for 10x input)",
    )
    ap.add_argument("--hubs", type=int, default=2)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--embeddings", action="store_true")
    ap.add_argument("--emb-col", default="embedding")
    ap.add_argument(
        "--seen-signatures", default=None,
        help="at-rest signature table of ALL previously-processed dumps "
        "(the --sig-dir of prior runs, or their union dir): switches to "
        "dump-over-dump incremental mode — the minhash kernel runs over "
        "--input (the NEW dump) only; (seen x seen) pairs are never "
        "regenerated.  Requires --seen-docs and --seen-components.  Doc "
        "ids must be globally unique across dumps, and --threshold must "
        "match the prior runs'.",
    )
    ap.add_argument(
        "--seen-docs", default=None,
        help="prior dumps' (doc_id, text) table — read ONLY for docs "
        "matched by a cross-dump candidate pair (semi-join before the "
        "shingle explode), for the exact-jaccard verify stage",
    )
    ap.add_argument(
        "--seen-components", default=None,
        help="prior run's --output (doc_id, rep_id, is_canonical): its "
        "star edges carry the already-verified clustering into the "
        "incremental components, so the union labeling is reproduced "
        "without recomputing it",
    )
    return ap


def run(spark, args) -> str:
    """The dedup job against a caller-owned session — importable so
    tests can drive either path in-process and assert cache hygiene
    afterwards (VERDICT r3 #8).  Returns the summary line."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from json_remedy_spark.functions.dedup import (
        components_from_pairs,
        jaccard_verify_candidates,
        lsh_candidate_pairs_from_table,
        minhash_signatures,
        shingles,
        write_signature_table,
    )
    from json_remedy_spark.sources.catalog import read_table, write_table

    if args.seen_signatures and not (args.seen_docs and args.seen_components):
        raise SystemExit(
            "--seen-signatures requires --seen-docs and --seen-components"
        )

    if args.embeddings:
        from json_remedy_spark.functions.similarity import embedding_near_dup

        vectors = read_table(spark, args.input).select(
            F.col(args.id_col).alias("vec_id"),
            F.col(args.emb_col).cast("array<double>").alias("embedding"),
        )
        pairs = embedding_near_dup(vectors, threshold=args.threshold).select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        )
        comp = components_from_pairs(
            vectors.select(F.col("vec_id").alias("doc_id")), pairs
        )
        write_table(comp, args.output, mode="overwrite")
        n_docs = comp.count()
        n_kept = comp.where("is_canonical").count()
        return (
            f"signatures=embedding-lsh docs={n_docs} kept={n_kept} "
            f"dropped={n_docs - n_kept} -> {args.output}"
        )

    docs = read_table(spark, args.input).select(
        F.col(args.id_col).alias("doc_id"), F.col(args.text_col).alias("text")
    )

    # Shingle-SET collapse BEFORE banding (the exact-dup-first
    # ordering of Lee et al. 2022, strengthened to set identity).
    # Docs with identical shingle sets — byte-identical texts, but
    # also template boilerplate that permutes/repeats the same words —
    # have jaccard 1 with each other and IDENTICAL jaccard against
    # every third doc, so they are fully interchangeable in the
    # LSH->verify->components graph: collapsing each set-group to its
    # min-id representative and re-expanding afterwards provably
    # reproduces the uncollapsed labeling (parity-tested).  Without
    # it a k-doc set-identical group lands whole in ONE bucket of
    # EVERY band: k(k-1)/2 candidate pairs, QUADRATIC in k.  The sf1
    # scale rehearsal caught this live — a 56k-doc boilerplate family
    # at 200k docs = 9x10^9 intra-bucket pairs; the verify join never
    # finished.  The signature kernel still runs exactly once over
    # the full corpus (set_hash rides the same Arrow pass); the
    # verify-side shingle pass now touches only representatives.
    sigs = minhash_signatures(docs, with_set_hash=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    groups = sigs.groupBy("set_hash").agg(F.min("doc_id").alias("grp_rep"))
    rep_ids = groups.select(F.col("grp_rep").alias("doc_id"))
    rep_sigs = sigs.join(rep_ids, "doc_id").drop("set_hash")

    fmt = write_signature_table(
        docs, args.sig_dir, n_buckets=args.buckets, signatures=rep_sigs
    )
    if args.seen_signatures:
        # Dump-over-dump incremental mode (CCNet/FineWeb cadence):
        # this dump's kernel output just landed in --sig-dir; the
        # accumulated corpus participates only through its AT-REST
        # signatures, its candidate-matched text rows, and its prior
        # components' star edges.  Provably reproduces the one-shot
        # union labeling (see incremental_near_dup_components;
        # parity-tested in test_jobs_cache_hygiene).
        from json_remedy_spark.functions.dedup import (
            cross_dump_candidate_pairs,
            read_signature_table,
        )

        new_banded = read_signature_table(spark, args.sig_dir)
        seen_banded = read_signature_table(spark, args.seen_signatures)
        cand = cross_dump_candidate_pairs(
            new_banded, seen_banded,
            hub_cap=args.max_bucket or None, n_hubs=args.hubs,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        cand_ids = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .union(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        old = read_table(spark, args.seen_docs).select(
            F.col(args.id_col).alias("doc_id"), F.col(args.text_col).alias("text")
        )
        # semi-join the DOC rows before the shingle explode: prior
        # dumps are never re-shingled wholesale
        old_matched = old.join(cand_ids, "doc_id", "left_semi")
        sh = shingles(
            docs.join(rep_ids, "doc_id").unionByName(old_matched)
        ).persist(StorageLevel.MEMORY_AND_DISK)
        verified = jaccard_verify_candidates(sh, cand, threshold=args.threshold)
        prior = read_table(spark, args.seen_components).select("doc_id", "rep_id")
        prior_edges = prior.where(F.col("doc_id") != F.col("rep_id")).select(
            F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
        comp_rep = components_from_pairs(
            prior.select("doc_id").unionByName(rep_ids),
            verified.select("doc_a", "doc_b").unionByName(prior_edges),
        )
        comp_new = (
            sigs.select("doc_id", "set_hash")
            .join(groups, "set_hash")
            .join(
                comp_rep.withColumnRenamed("doc_id", "grp_rep").drop("is_canonical"),
                "grp_rep",
            )
            .select(
                "doc_id",
                "rep_id",
                (F.col("doc_id") == F.col("rep_id")).alias("is_canonical"),
            )
        )
        # prior docs pass through with their (possibly merged) labels
        comp = comp_rep.join(
            prior.select("doc_id"), "doc_id", "left_semi"
        ).unionByName(comp_new)
    else:
        cand = lsh_candidate_pairs_from_table(
            spark,
            args.sig_dir,
            hub_cap=args.max_bucket or None,
            n_hubs=args.hubs,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        sh = shingles(docs.join(rep_ids, "doc_id")).persist(StorageLevel.MEMORY_AND_DISK)
        verified = jaccard_verify_candidates(sh, cand, threshold=args.threshold)
        comp_rep = components_from_pairs(rep_ids, verified)
        comp = (
            sigs.select("doc_id", "set_hash")
            .join(groups, "set_hash")
            .join(
                comp_rep.withColumnRenamed("doc_id", "grp_rep").drop("is_canonical"),
                "grp_rep",
            )
            .select(
                "doc_id",
                "rep_id",
                (F.col("doc_id") == F.col("rep_id")).alias("is_canonical"),
            )
        )
    write_table(comp, args.output, mode="overwrite")
    n_docs = comp.count()
    n_kept = comp.where("is_canonical").count()
    # candidate-volume observability: at corpus scale the first thing
    # an operator needs when a dedup run slows down is whether the
    # bucket distribution went quadratic (the sf1 rehearsal's failure
    # mode) — both frames are already persisted, the counts are free
    n_reps = rep_ids.count()
    n_cand = cand.count()
    for h in (cand, sh, sigs):
        h.unpersist()
    return (
        f"signatures={fmt} docs={n_docs} reps={n_reps} cands={n_cand} "
        f"kept={n_kept} dropped={n_docs - n_kept} -> {args.output}"
    )


def main() -> None:
    from pyspark.sql import SparkSession

    args = build_parser().parse_args()
    spark = (
        SparkSession.builder.appName("jrs-dedup")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    print(run(spark, args))
    spark.stop()


if __name__ == "__main__":
    main()
