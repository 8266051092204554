"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship quality-filter pipeline over sf0.001.
``queries()``      — one entry per implemented operator (SURVEY.md §2 +
                     training-data ops); each (spark, sf_dir) -> DataFrame.
``oracle_sql()``   — DuckDB-runnable ANSI SQL equivalents for every
                     SQL-expressible query (identical column aliases).
Non-SQL-expressible ops (the repair kernel itself, perplexity model,
multimodal stubs) appear in ``queries()`` only -> rows-only checks.
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_remedy_spark.functions import corpus, dedup, langid, quality, scrub, search, textstats
from json_remedy_spark.localdf import local_frame
from json_remedy_spark.functions.dedup import MINHASH_K, LSH_BANDS
from json_remedy_spark.functions.multimodal import N_FEATURES as _N_FEATURES, N_FRAMES as _N_FRAMES

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _docs_as_webpages(docs: DataFrame) -> DataFrame:
    """Adapt the driver documents table to the web-page input shape."""
    return docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.encode(F.col("text"), "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full quality-filter DAG over sf0.001 — the prose
    documents table UNION web pages with embedded JSON constructed
    from orders (valid / truncated / single-quoted variants), so the
    smoke-check output exercises every branch: fast path, tolerant
    repairs, plain-text drops, keep/drop fusion."""
    from json_remedy_spark.operators.pipeline import quality_filter

    sf = "/root/testdata/sf0.001"
    docs = _docs_as_webpages(_t(spark, sf, "documents"))
    o = _t(spark, sf, "orders").withColumn(
        "payload", F.to_json(F.struct("o_orderkey", "o_orderstatus", "o_orderpriority"))
    )
    variant = F.pmod(F.col("o_orderkey"), F.lit(4))
    body = (
        F.when(variant == 0, F.col("payload"))
        .when(variant == 1, F.expr("substring(payload, 1, length(payload) - 1)"))
        .when(variant == 2, F.translate(F.col("payload"), '"', "'"))
        .otherwise(F.concat(F.lit("```json\n"), F.col("payload"), F.lit("\n```")))
    )
    text = F.concat(F.lit("The order record is "), body)
    json_docs = o.select(
        F.concat(F.lit("order://"), F.col("o_orderkey").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.encode(text, "utf-8").alias("html"),
        text.alias("text"),
        F.lit("en").alias("lang"),
    )
    out = quality_filter(docs.unionByName(json_docs))
    return out.select(
        "url", "lang_id", "ok", "fast_path", "n_repairs", "keep",
        F.round("ppl", 4).alias("ppl"), "repaired", "scrubbed",
    )


# --------------------------------------------------------------------------
# queries — each takes (spark, sf_dir)
# --------------------------------------------------------------------------

def q_exact_dedup(spark, sf_dir):
    # small-file input -> spread the map-side md5 over all cores
    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    return dedup.exact_dedup(d).select(
        "text_hash",
        F.col("keep_id").cast("long").alias("keep_id"),
        F.col("n_copies").cast("long").alias("n_copies"),
    )


def q_incremental_dedup(spark, sf_dir):
    """Bloom-prefiltered EXACT incremental dedup: new-batch docs
    (doc_id % 3 == 0) surviving against the at-rest store
    (doc_id % 2 == 0).  Bloom misses skip the anti-join entirely;
    hits go through the real join, so the result is exact and the
    oracle is the plain anti-join."""
    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    seen = d.where(F.col("doc_id") % 2 == 0)
    new = d.where(F.col("doc_id") % 3 == 0)
    return dedup.incremental_new_docs(new, seen).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text_hash"
    )


def q_minhash_signatures(spark, sf_dir):
    # small-file input -> spread the Arrow shingle kernel over all cores
    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    sig = dedup.minhash_signatures(d)
    return sig.select(F.col("doc_id").cast("long").alias("doc_id"), *[f"mh{k}" for k in range(MINHASH_K)])


def q_lsh_candidate_pairs(spark, sf_dir):
    # small-file input -> spread the Arrow shingle kernel over all cores
    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    return dedup.lsh_candidate_pairs(d).select(
        F.col("doc_a").cast("long").alias("doc_a"), F.col("doc_b").cast("long").alias("doc_b")
    )


def q_jaccard_pairs(spark, sf_dir):
    # small-file input -> spread the Arrow shingle kernel over all cores
    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    return dedup.jaccard_pairs(d, threshold=0.5).select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("jaccard").cast("double").alias("jaccard"),
    )


# Stop-shingle guard for the exact all-pairs verifier inside the
# lsh_recall evidence query (VERDICT r4 #3): a shingle shared by more
# than this many docs is dropped before the self-join on BOTH the
# Spark side and the DuckDB oracle, so the ground truth stays exactly
# mirrored while the worst join block is bounded at CAP^2 rows per hot
# shingle at ANY corpus size (a 1M-doc boilerplate phrase would
# otherwise produce a 10^12-row block).  At test scale (<=5k docs) no
# shingle exceeds it, so measured recall/precision are unchanged.
LSH_RECALL_MAX_DF = 1000


def q_lsh_recall(spark, sf_dir):
    """Banding-quality evidence (the minhash analogue of ann_recall):
    recall and precision of the LSH candidate set against EXACT
    all-pairs jaccard >= 0.5 ground truth, both computed in-engine.
    At 12 hashes / 4 bands the S-curve puts ~0.5-jaccard pairs near
    the collision knee — the measured numbers quantify it.  Exact
    oracle: DuckDB recomputes truth, candidates, and both ratios
    (with the same LSH_RECALL_MAX_DF stop-shingle cap on truth)."""
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # three scalar aggregates + the semi-join would otherwise re-run
    # the shingle kernel / band join once per consumer — persist the
    # (tiny) pair sets so each expensive pipeline executes once
    truth = (
        dedup.jaccard_pairs(d, threshold=0.5, max_shingle_df=LSH_RECALL_MAX_DF)
        .select("doc_a", "doc_b")
        .persist()
    )
    cand = dedup.lsh_candidate_pairs(d).persist()
    hit = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    t = truth.agg(F.count("*").alias("n_true"))
    c = cand.agg(F.count("*").alias("n_cand"))
    h = hit.agg(F.count("*").alias("n_hit"))
    return (
        t.crossJoin(c)
        .crossJoin(h)
        .select(
            F.col("n_true").cast("long").alias("n_true"),
            F.col("n_cand").cast("long").alias("n_cand"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.round(F.col("n_hit") / F.col("n_true"), 4).cast("double").alias("recall"),
            F.round(F.col("n_hit") / F.col("n_cand"), 4).cast("double").alias("precision"),
        )
    )


def q_simhash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash(d).select(
        F.col("doc_id").cast("long").alias("doc_id"), F.col("simhash").cast("long").alias("simhash")
    )


def q_simhash_near_dup(spark, sf_dir):
    """SimHash hamming-band near-dup join (exact recall at k=3)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_dup(d, max_hamming=3).select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def q_lsh_jaccard_verified(spark, sf_dir):
    """Fused LSH candidates -> exact jaccard verification — the
    composed 100 TB fuzzy-dedup recipe."""
    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    return dedup.lsh_verified_pairs(d, threshold=0.5).select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("jaccard").cast("double").alias("jaccard"),
    )


def q_dedup_components(spark, sf_dir):
    """Fuzzy-dedup last mile: verified near-dup pairs clustered into
    connected components, canonical representative = min doc_id;
    ``is_canonical`` is the keep set."""
    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    return dedup.near_dup_components(d, threshold=0.5).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rep_id").cast("long").alias("rep_id"),
        F.col("is_canonical").alias("is_canonical"),
    )


def q_incremental_fuzzy_dedup(spark, sf_dir):
    """Dump-over-dump incremental fuzzy dedup (the CCNet/FineWeb
    production cadence): docs with doc_id % 3 == 0 arrive as the NEW
    dump; the rest are the accumulated corpus, which participates only
    through its at-rest banded signatures, its candidate-matched text
    rows, and its prior components' star edges — the minhash kernel
    and the (seen x seen) pair join never re-run over it.  The oracle
    is the ONE-SHOT UNION replay (the same recursive-CTE components
    SQL as ``dedup_components``): a green row IS the driver-level
    proof that the incremental path reproduces the one-shot labeling
    exactly."""
    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    seen = d.where("doc_id % 3 <> 0")
    new = d.where("doc_id % 3 = 0")
    # One seen-side kernel pass for the whole query (r07): the prior
    # components run persists the seen shingle table (handles), the
    # at-rest banded signatures derive from THAT materialization, and
    # the incremental join reads matched old shingles from it too —
    # same rows as re-shingling (pure per-doc function; parity
    # pytest-pinned), one materialization instead of three.
    handles: list = []
    seen_comp = dedup.near_dup_components(seen, threshold=0.5, handles=handles)
    sh_seen = handles[0]  # persisted exploded (doc_id, shingle) of seen
    seen_banded = dedup.banded_signatures(dedup.minhash_from_shingles(sh_seen))
    out = dedup.incremental_near_dup_components(
        new, seen_banded, seen, seen_comp, threshold=0.5, seen_shingles=sh_seen
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rep_id").cast("long").alias("rep_id"),
        F.col("is_canonical").alias("is_canonical"),
    )


BM25_QUERIES = [(0, "hash join merge"), (1, "slow vector scan"), (2, "customer data batch filter")]


def q_bm25_topk(spark, sf_dir):
    """BM25 keyword retrieval (Lucene idf form) — how a pipeline mines
    targeted subsets (mixture seeds, quality probes, query-based
    decontamination).  Full independent DuckDB recomputation: same
    JVM tokenizer regex, idf, tf saturation, rounding and tie-break."""
    from json_remedy_spark.functions.search import bm25_topk

    d = _t(spark, sf_dir, "documents")
    queries = local_frame(spark, BM25_QUERIES, "q_id long, query string")
    # max_df_frac=1.0 HERE ONLY: the synthetic corpus draws from a
    # ~40-term vocabulary where every term tops the production 0.5
    # stopword cap; the cap's skew-guard behavior has its own unit test
    return bm25_topk(d, queries, k=10, max_df_frac=1.0).select(
        F.col("q_id").cast("long").alias("q_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("score").cast("double").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


_BM25_INDEX = os.path.join(tempfile.gettempdir(), "jrs_bm25_postings")


def q_bm25_index_topk(spark, sf_dir):
    """BM25 over the AT-REST postings table (term-bucketed partitions;
    query terms hash to probed buckets -> partition pruning at the
    scan).  Byte-identical to the in-session scorer, so the same full
    DuckDB recomputation verifies it.

    BENCH NOTE: this evidence query builds its at-rest artifact
    in-query so the oracle is self-contained — its bench timing is
    build+query, not query latency; the rehearsal tables in
    BASELINE.md carry the at-rest query-side numbers."""
    import shutil

    from json_remedy_spark.functions.search import (
        bm25_topk_from_postings,
        write_postings_table,
    )

    d = _t(spark, sf_dir, "documents")
    shutil.rmtree(_BM25_INDEX, ignore_errors=True)
    write_postings_table(d, _BM25_INDEX, n_buckets=16, max_df_frac=1.0)
    queries = local_frame(spark, BM25_QUERIES, "q_id long, query string")
    return bm25_topk_from_postings(
        spark, _BM25_INDEX, queries, k=10, n_buckets=16
    ).select(
        F.col("q_id").cast("long").alias("q_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("score").cast("double").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_chunk_documents(spark, sf_dir):
    """Fixed-token training windows (the context-window primitive
    between corpus construction and the loader): 64-token chunks at
    stride 48 (overlapping), trailing partials kept."""
    d = _t(spark, sf_dir, "documents")
    return corpus.chunk_documents(d, 64, stride=48).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "chunk_id",
        "n_tokens",
        "text",
    )


def q_pack_sequences(spark, sf_dir):
    """Exact sequence packing (GPT-style loader step): the corpus
    token stream cut into 128-token sequences, docs splitting across
    boundaries where they fall."""
    d = _t(spark, sf_dir, "documents")
    return corpus.pack_sequences(d, 128).select(
        "seq_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        "pos_in_seq",
        "n_tokens",
        "text",
    )


_QC_TRAINED_MODEL = os.path.join(tempfile.gettempdir(), "jrs_qc_trained.parquet")


def _qc_teacher_labeled(spark, sf_dir):
    """Teacher labels for classifier distillation: the SQL-expressible
    keep rule (en + heuristic quality) plays the expensive teacher,
    the hashed-bigram head is the fast student — the DCLM bootstrap."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        F.col("doc_id"),
        F.when(
            (langid.detect_language(t) == "en") & quality.passes_quality(t), "hi"
        ).otherwise("lo").alias("label"),
        t.alias("text"),
    )


def q_qc_train(spark, sf_dir):
    """IN-ENGINE quality-classifier training (third model family after
    the trigram LM and BPE: the full train -> export -> score loop
    lives in the engine): smoothed per-class NB log-prob weights over
    the scorer's own hashed char bigrams, integer-quantized into the
    export_ft_model format.  One vocabulary-bounded aggregation —
    the corpus never shuffles.  Closed-form oracle: DuckDB recomputes
    teacher labels, bigram bucket counts, smoothing, log and rounding."""
    from json_remedy_spark.functions.classifier import train_quality_classifier

    labeled = _qc_teacher_labeled(spark, sf_dir)
    return train_quality_classifier(labeled).select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("lang"),
        F.col("weight"),
    )


def q_qc_trained_scores(spark, sf_dir):
    """The trained head scoring the corpus it was distilled on — the
    complete loop as ONE driver query: train (q_qc_train's math),
    export the integer weight table, ship it via SparkFiles, score
    with the production ``quality_classifier`` path.  Fully
    closed-form oracle: DuckDB re-derives the weights AND the scores."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from json_remedy_spark.functions.classifier import (
        quality_classifier,
        train_quality_classifier,
    )

    labeled = _qc_teacher_labeled(spark, sf_dir)
    rows = train_quality_classifier(labeled).collect()  # classes x 256
    pq.write_table(
        pa.table(
            {
                "bucket": [r["bucket"] for r in rows],
                "lang": [r["lang"] for r in rows],
                "weight": [r["weight"] for r in rows],
            }
        ),
        _QC_TRAINED_MODEL,
    )
    d = _t(spark, sf_dir, "documents")
    return quality_classifier(d, model_path=_QC_TRAINED_MODEL).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "s_hi",
        "s_lo",
        "margin",
        "quality_label",
    )


def q_bpe_encode(spark, sf_dir):
    """Tokenizer APPLICATION (learn -> encode -> pack now closes on
    ids): every document encoded to (doc_id, pos, token_id) with the
    in-engine-learned merges and the deterministic train-time vocab
    (sorted alphabet, then merge products by rank; unk=0).  Oracle:
    DuckDB re-derives the vocabulary AND replays the greedy merges per
    word via the double-space replace CTE, then re-enumerates tokens."""
    from json_remedy_spark.functions.bpe import (
        bpe_encode,
        bpe_vocab,
        corpus_alphabet,
    )

    merges, _ = _bpe_learned(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    vocab = bpe_vocab(merges, corpus_alphabet(d))
    return bpe_encode(d, merges, vocab).select(
        F.col("doc_id").cast("long").alias("doc_id"), "pos", "token_id"
    )


def q_pack_token_ids(spark, sf_dir):
    """The loader loop end to end ON IDS: in-engine-learned merges ->
    corpus encode -> exact 128-id sequence packing.  Oracle composes
    the bpe_encode replay as a CTE with the prefix-sum placement."""
    from json_remedy_spark.functions.bpe import (
        bpe_encode,
        bpe_vocab,
        corpus_alphabet,
    )
    from json_remedy_spark.functions.corpus import pack_token_ids

    merges, _ = _bpe_learned(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    vocab = bpe_vocab(merges, corpus_alphabet(d))
    # the packer reads its input twice (per-doc counts + the token
    # join) and Catalyst does not dedupe the encode kernel — persist
    # so the corpus encodes ONCE (r07)
    enc = bpe_encode(d, merges, vocab).persist()
    return pack_token_ids(enc, 128).select(
        "seq_id",
        "pos_in_seq",
        F.col("doc_id").cast("long").alias("doc_id"),
        "token_id",
    )


def q_url_features(spark, sf_dir):
    """URL-level quality/spam signals (FineWeb/DCLM gate on these
    before touching page bytes): depth, lengths, query params, digit
    fractions, subdomains, port, tilde-user — pure JVM projection over
    constructed urls (same orders-derived construction on both sides)."""
    from json_remedy_spark.functions import webgraph

    # single-file scan plans 1 partition; spread the JVM regex/explode work (r07)
    o = _t(spark, sf_dir, "orders").repartition(spark.sparkContext.defaultParallelism)
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    url = F.concat(
        F.lit("https://sub"), (c % 3).cast("string"),
        F.lit(".site"), (k % 5).cast("string"), F.lit(".com"),
        F.when(k % 11 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.when(k % 13 == 0, F.lit("")).otherwise(
            F.concat(
                F.when(k % 17 == 0, F.lit("/~u")).otherwise(F.lit("/cat")),
                (k % 4).cast("string"),
                F.lit("/item"), (k % 1000).cast("string"),
            )
        ),
        F.when(k % 3 == 0, F.concat(F.lit("?a=1&b="), (k % 9).cast("string"))).otherwise(
            F.lit("")
        ),
    )
    pages = o.select(k.alias("page_id"), url.alias("url"))
    return webgraph.url_features(pages, id_col="page_id")


def q_soft_dedup_weights(spark, sf_dir):
    """SoftDeDup (He et al. 2024): reweight instead of drop — every
    doc kept, sampling weight = 1/cluster_size over the fuzzy near-dup
    components (a cluster's total weight is exactly 1.0, the hard-dedup
    equivalent mass, without deleting repeated-but-informative text)."""
    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    return dedup.soft_dedup_weights(d, threshold=0.5).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rep_id").cast("long").alias("rep_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.col("weight").cast("double").alias("weight"),
    )


def q_dedup_cluster_sizes(spark, sf_dir):
    """Cluster-size histogram of the near-dup components — the
    corpus-health metric an operator reads first (how much of the
    crawl is duplicated, and how big the blobs are).

    Input contract: ``doc_id`` is unique in ``documents``.  The driver
    route counts singletons as docs minus labeled-cluster members and
    raises ValueError when that goes negative (a broken contract)."""
    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    stats: dict = {}
    comp = dedup.near_dup_components(d, threshold=0.5, stats_out=stats)
    if "label_sizes" in stats:
        # driver union-find ran: every component's size is already on
        # the driver (labeled clusters, all >= 2); singletons = docs
        # outside the pair graph, each a size-1 cluster.  Same
        # integers as the double groupBy, zero shuffles (r07).
        from collections import Counter

        hist = Counter(stats["label_sizes"].values())
        n_singletons = d.count() - sum(stats["label_sizes"].values())
        if n_singletons < 0:
            raise ValueError(
                f"dedup_cluster_sizes: labeled clusters hold {-n_singletons} "
                "more docs than the input has; doc_id must be unique"
            )
        if n_singletons > 0:
            hist[1] += n_singletons
        return local_frame(
            spark,
            sorted((int(s), int(n)) for s, n in hist.items()),
            "cluster_size long, n_clusters long",
        )
    sizes = comp.groupBy("rep_id").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters")
    ).select(F.col("cluster_size").cast("long").alias("cluster_size"), "n_clusters")


PACK_BUDGET = 2_000  # tokens per language for the packing query
SAMPLE_PCT = 10


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: src0 plays the eval set; every other
    doc is flagged iff it shares a shingle with any src0 doc."""
    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    ev = d.where(F.col("source") == "src0")
    corp = d.where(F.col("source") != "src0")
    return corpus.decontaminate(corp, ev).select(
        F.col("doc_id").cast("long").alias("doc_id"), F.col("contaminated")
    )


def q_fuzzy_decontaminate(spark, sf_dir):
    """FUZZY decontamination (functions/dedup.py:fuzzy_decontaminate):
    bipartite minhash-LSH between the corpus and the src0 eval split,
    exact-jaccard verify of bucket candidates; the 0.5 gate rides as a
    column so the oracle checks both the scores and the decision.
    Bucket false-positives (jaccard ~ 0) appearing here and being
    gated out is the point of the verify stage."""
    from json_remedy_spark.functions.dedup import fuzzy_decontaminate

    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    ev = d.where(F.col("source") == "src0")
    corp = d.where(F.col("source") != "src0")
    pairs = fuzzy_decontaminate(corp, ev, threshold=0.0)
    return pairs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("eval_id").cast("long").alias("eval_id"),
        F.col("jaccard").cast("double").alias("jaccard"),
        (F.col("jaccard") >= 0.5).alias("contaminated"),
    )


def q_contamination_overlap(spark, sf_dir):
    """Per-doc contamination fraction vs the src0 eval split — the
    reported number behind decontaminate's binary gate."""
    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    ev = d.where(F.col("source") == "src0")
    corp = d.where(F.col("source") != "src0")
    return corpus.contamination_overlap(corp, ev).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_shingles",
        "n_matched",
        "overlap_frac",
    )


_BPE_MERGES_EXPORT = os.path.join(tempfile.gettempdir(), "jrs_bpe_merges")
BPE_N_MERGES = 20


def _bpe_learned(spark, sf_dir):
    """Learn the merges and (re)write the export both BPE queries'
    oracles read — idempotent (deterministic merges), so either query
    can run first."""
    from json_remedy_spark.functions.bpe import bpe_learn

    d = _t(spark, sf_dir, "documents")
    merges = bpe_learn(d, BPE_N_MERGES)
    df = local_frame(
        spark,
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, a string, b string",
    )
    df.write.mode("overwrite").parquet(_BPE_MERGES_EXPORT)
    return merges, df


def q_bpe_pair_counts(spark, sf_dir):
    """Round-0 BPE statistic (functions/bpe.py:pair_counts): weighted
    adjacent char-pair counts over the distributed word-frequency
    table.  Exact closed-form oracle."""
    from json_remedy_spark.functions.bpe import pair_counts, word_freqs

    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return pair_counts(word_freqs(d)).select(
        "a", "b", F.col("cnt").cast("long").alias("cnt")
    )


def q_bpe_merges(spark, sf_dir):
    """In-engine BPE tokenizer learning (Sennrich et al. 2016): the
    learned (rank, a, b) merge table.  The oracle replays the exported
    sequence with a recursive CTE — every intermediate segmentation
    and every round's pair counts recomputed from raw documents — and
    emits each round's INDEPENDENT argmax: a wrong merge at any round
    hash-mismatches."""
    _, df = _bpe_learned(spark, sf_dir)
    return df


def q_bpe_tokens(spark, sf_dir):
    """Corpus encoding under the learned merges
    (functions/bpe.py:bpe_token_counts): per-doc token counts from the
    zero-shuffle encoder kernel; the oracle re-derives the final
    segmentation of every vocabulary word via the recursive CTE and
    re-aggregates per doc."""
    from json_remedy_spark.functions.bpe import bpe_token_counts

    merges, _ = _bpe_learned(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return bpe_token_counts(d, merges).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


# byte-level BPE (GPT-2 style) — same export-and-replay protocol as
# the word-level family, over UTF-8 bytes of regex pre-tokens
_BYTE_BPE_MERGES_EXPORT = os.path.join(
    tempfile.gettempdir(), "jrs_byte_bpe_merges"
)
BYTE_BPE_N_MERGES = 32


def _byte_bpe_learned(spark, sf_dir):
    """Learn the byte-level merges and (re)write the export all three
    byte-BPE oracles read — idempotent (deterministic merges)."""
    from json_remedy_spark.functions.bpe import bpe_learn_bytes

    d = _t(spark, sf_dir, "documents")
    merges = bpe_learn_bytes(d, BYTE_BPE_N_MERGES)
    df = local_frame(
        spark,
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, a string, b string",
    )
    df.write.mode("overwrite").parquet(_BYTE_BPE_MERGES_EXPORT)
    return merges, df


def q_bpe_merges_bytes(spark, sf_dir):
    """Byte-level BPE learning (Radford et al. 2019; functions/bpe.py
    bpe_learn_bytes): GPT-2-style regex pre-tokens -> UTF-8 bytes ->
    weighted pair merges.  The oracle re-derives pre-token frequencies
    from raw documents with the SAME pattern in RE2, replays every
    round's segmentation over hex byte pairs via the double-space
    replace CTE, and recomputes each round's (count desc, pair asc)
    argmax independently — a wrong merge at any round mismatches."""
    _, df = _byte_bpe_learned(spark, sf_dir)
    return df


def q_bpe_encode_bytes(spark, sf_dir):
    """Byte-level tokenizer application (functions/bpe.py
    bpe_encode_bytes): every document encoded to (doc_id, pos,
    token_id) — ids 1..256 are raw bytes, 257+ merge products in rank
    order.  Pre-tokenization is JVM-side (the pre-token array rides
    into the Arrow kernel, Python runs no regex); the oracle replays
    pre-tokens, per-round merges, the deterministic vocab and per-doc
    token enumeration from raw documents."""
    from json_remedy_spark.functions.bpe import bpe_encode_bytes, byte_vocab

    merges, _ = _byte_bpe_learned(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    return bpe_encode_bytes(d, merges, byte_vocab(merges)).select(
        F.col("doc_id").cast("long").alias("doc_id"), "pos", "token_id"
    )


def q_pack_byte_token_ids(spark, sf_dir):
    """The REAL loader loop end to end: byte-level learn -> corpus
    encode to ids -> exact 256-id sequence packing (pack_token_ids
    unchanged on top — VERDICT r5 #2 closed).  Oracle composes the
    byte-encode replay as a CTE with the prefix-sum placement."""
    from json_remedy_spark.functions.bpe import bpe_encode_bytes, byte_vocab
    from json_remedy_spark.functions.corpus import pack_token_ids

    merges, _ = _byte_bpe_learned(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    # encode once; the packer reads it twice (see pack_token_ids note)
    enc = bpe_encode_bytes(d, merges, byte_vocab(merges)).persist()
    return pack_token_ids(enc, 256).select(
        "seq_id",
        "pos_in_seq",
        F.col("doc_id").cast("long").alias("doc_id"),
        "token_id",
    )


# driver mixture: drop src0, halve src1, quarter src2, 2.5x src3,
# everything else 1.0 — exercises drop / downsample / upsample /
# default in one query
MIXTURE_RATES = {"src0": 0.0, "src1": 0.5, "src2": 0.25, "src3": 2.5}


def q_mixture_sample(spark, sf_dir):
    """Deterministic source-mixture resampling (corpus.mixture_sample;
    The Pile per-set epochs / DoReMi domain weights): floor(rate) full
    copies + md5-fractional extra, map-only.  Exact oracle: DuckDB
    recomputes the md5 bucket, the copy count, and the unnested copy
    index per doc."""
    d = _t(spark, sf_dir, "documents")
    return corpus.mixture_sample(d.select("doc_id", "source"), MIXTURE_RATES).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("copy").cast("long").alias("copy"),
    )


def q_corpus_report(spark, sf_dir):
    """Per-language dataset-card rollup (corpus.corpus_report): doc
    counts, token totals, mean, and GRID-exact p50/p90 token cutoffs
    via the histogram trick — no per-language sort.  Exact oracle:
    DuckDB recomputes the histogram, cumulative window, and cutoffs."""
    d = _t(spark, sf_dir, "documents")
    return corpus.corpus_report(d).select(
        "lang", "n_docs", "total_tokens", "mean_tokens", "p50_tokens", "p90_tokens"
    )


def q_pack_token_budget(spark, sf_dir):
    """Per-language token packing: deterministic doc_id-ordered prefix
    whose cumulative token count reaches the budget (floor semantics)."""
    d = _t(spark, sf_dir, "documents")
    return corpus.pack_token_budget(d, PACK_BUDGET).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("lang"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


SHARD_TOKENS = 2_000  # tokens per output shard for the sharding query


def q_token_shards(spark, sf_dir):
    """Token-targeted shard assignment (training-data export): per-
    shard rollup of the deterministic contiguous cut — doc counts,
    token totals, and the doc_id span prove the assignment exactly."""
    d = _t(spark, sf_dir, "documents")
    s = corpus.shard_by_tokens(d, SHARD_TOKENS)
    return s.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    ).select(
        F.col("shard").cast("long").alias("shard"),
        "n_docs",
        "total_tokens",
        "first_doc",
        "last_doc",
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic md5-bucket 10% sample, stratified by language."""
    d = _t(spark, sf_dir, "documents")
    return corpus.stratified_sample(d, SAMPLE_PCT).select(
        F.col("doc_id").cast("long").alias("doc_id"), F.col("stratum")
    )


def _synthetic_pages(spark, sf_dir):
    """Deterministic multi-line web pages with messy URLs, synthesized
    from doc_id arithmetic IDENTICALLY in Spark and the DuckDB oracle:
    a universal cookie banner, a 10-way-shared nav line, the real
    document body, and a 3-way-shared footer — so line-level dedup has
    real cross-document duplicates to remove."""
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id").cast("string")
    url = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit("http://User:Pw@CDN.Example.ORG:8080/a/"), k),
    ).otherwise(
        F.concat(
            F.lit("https://www.Site"), (F.col("doc_id") % 20).cast("string"),
            F.lit(".com/Path/"), k,
        )
    )
    page = F.concat_ws(
        "\n",
        F.lit("Please enable cookies to continue"),
        F.concat(F.lit("section "), (F.col("doc_id") % 10).cast("string"), F.lit(" navigation menu")),
        F.substring(F.col("text"), 1, 80),
        F.concat(F.lit("copyright footer "), (F.col("doc_id") % 3).cast("string")),
    )
    return d.select("doc_id", url.alias("url"), page.alias("text"))


_PAGES_SQL = """
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN 'http://User:Pw@CDN.Example.ORG:8080/a/' || doc_id::VARCHAR
                  ELSE 'https://www.Site' || (doc_id % 20)::VARCHAR
                       || '.com/Path/' || doc_id::VARCHAR END AS url,
             'Please enable cookies to continue' || chr(10)
               || 'section ' || (doc_id % 10)::VARCHAR || ' navigation menu' || chr(10)
               || substr(text, 1, 80) || chr(10)
               || 'copyright footer ' || (doc_id % 3)::VARCHAR AS text
      FROM documents
"""

DOMAIN_CAP_K = 5


def q_line_dedup(spark, sf_dir):
    """C4/RefinedWeb-style global line dedup: first occurrence of each
    distinct line survives, documents reassembled from kept lines."""
    pages = _synthetic_pages(spark, sf_dir)
    return corpus.line_dedup(pages).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text"),
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
    )


def q_host_boilerplate(spark, sf_dir):
    """Per-host template removal: lines on >=50% of a host's pages are
    site chrome and every occurrence is dropped (line_dedup keeps the
    first; chrome carries no information anywhere)."""
    pages = _synthetic_pages(spark, sf_dir)
    return corpus.host_boilerplate_removal(pages).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text"),
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
    )


def q_dup_span_removal(spark, sf_dir):
    """Lee-et-al exact duplicate-substring removal: globally repeated
    4-token windows survive only at their first (doc_id, pos)
    occurrence; documents reassembled from surviving tokens."""
    pages = _synthetic_pages(spark, sf_dir)
    return corpus.dup_span_removal(pages, window=4).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
    )


_MOJI_MARKERS = [
    "it\u00e2\u20ac\u2122s \u00e2\u20ac\u0153quoted\u00e2\u20ac\u009d",  # â€™ / â€œ / â€\x9d
    "\u00c3\u00a9t\u00c3\u00a9 d\u00c3\u00a9j\u00c3\u00a0",                # Ã© / Ã 
    "Cafe\u0301 combining",                                                   # NFD -> NFC composition
    "plain",
]


def q_normalize_text(spark, sf_dir):
    """Unicode normalization pass: mojibake repair (sloppy-cp1252
    double encoding) + NFC composition, over documents with
    deterministic doc_id-derived mojibake markers (identical
    construction in the DuckDB oracle)."""
    from json_remedy_spark.functions import normalize

    d = _t(spark, sf_dir, "documents")
    marker = F.element_at(
        F.array(*[F.lit(m) for m in _MOJI_MARKERS]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    # coalesce: Spark concat is NULL-propagating while DuckDB's skips
    # NULL args — null-guard both sides identically (ADVICE r3)
    src = d.select(
        "doc_id",
        F.concat(
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 40),
            F.lit(" "),
            marker,
        ).alias("text"),
    )
    return normalize.nfc_normalize(src).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "changed"
    )


def q_domain_stats(spark, sf_dir):
    """Per-domain corpus aggregates (URL-filtering observability)."""
    pages = _synthetic_pages(spark, sf_dir)
    return corpus.domain_stats(pages).select(
        "domain",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_urls").cast("long").alias("n_urls"),
        F.col("avg_chars").cast("double").alias("avg_chars"),
    )


def q_domain_cap(spark, sf_dir):
    """Per-domain document cap (keep <= K docs per domain, url order)."""
    pages = _synthetic_pages(spark, sf_dir)
    return corpus.domain_cap(pages, DOMAIN_CAP_K).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "domain",
        F.col("rk").cast("long").alias("rk"),
    )


def q_ngram_repetition(spark, sf_dir):
    """Gopher n-gram repetition signals: top-2-gram and duplicated-
    5-gram character fractions per doc."""
    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    return quality.ngram_repetition(d).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("top2_frac").cast("double").alias("top2_frac"),
        F.col("dup5_frac").cast("double").alias("dup5_frac"),
    )


VOCAB_TOP_K = 50


def q_vocab_stats(spark, sf_dir):
    """Corpus vocabulary top-K (word, n_docs, n_occ) — deterministic
    (n_occ DESC, word) cut, identical in both engines."""
    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    return textstats.vocab_stats(d, top_k=VOCAB_TOP_K).select(
        "word",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_occ").cast("long").alias("n_occ"),
    )


def q_fasttext_langid(spark, sf_dir):
    """fastText-architecture hashed-bigram linear langid: integer
    per-language scores + argmax label, bit-exact vs the DuckDB
    explode-hash-join-sum oracle."""
    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    return langid.hashed_langid(d).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "ft_lang",
        *[F.col(f"s_{l}").cast("long").alias(f"s_{l}") for l in langid.FT_LANGS],
    )


def q_quality_classifier(spark, sf_dir):
    """DCLM-style 2-class fastText quality head (functions/classifier):
    integer class scores, margin, and the high/low label, bit-exact vs
    the DuckDB explode-hash-join-sum oracle.  Marker words are injected
    per doc_id in BOTH engines so both labels and the no-signal tie
    path are exercised."""
    from json_remedy_spark.functions.classifier import quality_classifier

    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    variant = F.pmod(F.col("doc_id"), F.lit(3))
    text2 = (
        F.when(variant == 0, F.concat(F.col("text"), F.lit(" because research study evidence")))
        .when(variant == 1, F.concat(F.col("text"), F.lit(" click subscribe free offer bonus")))
        .otherwise(F.col("text"))
    )
    return quality_classifier(d.withColumn("text", text2)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("s_hi").cast("long").alias("s_hi"),
        F.col("s_lo").cast("long").alias("s_lo"),
        F.col("margin").cast("long").alias("margin"),
        "quality_label",
    )


# every-5th-doc with reference-like markers appended: a deterministic
# synthetic "target domain" whose bigram distribution measurably
# differs from the raw corpus (same trick as the classifier oracle)
DSIR_TARGET_MARKER = " research study analysis because method"
DSIR_SELECT_N = 100


def _dsir_weighted(spark, sf_dir):
    from json_remedy_spark.functions import dsir

    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    target = d.where(F.pmod(F.col("doc_id"), F.lit(5)) == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(DSIR_TARGET_MARKER))
    )
    return dsir.dsir_weights(d, target)


def q_dsir_weights(spark, sf_dir):
    """DSIR importance log-weights (functions/dsir.py; Xie et al. 2023,
    arXiv:2302.03169): hashed-bigram bucket histograms for a synthetic
    target (every 5th doc with marker words appended) vs the raw
    corpus, smoothed log-ratio, per-doc occurrence-sum weight through
    the shared fastText scoring kernel.  Exact oracle: DuckDB
    recomputes both histograms, the libm log-ratio, and the per-doc
    sum; both sides round(4) (the perplexity-oracle precedent)."""
    return _dsir_weighted(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("weight", 4).cast("double").alias("weight"),
    )


def q_dsir_select(spark, sf_dir):
    """Gumbel top-k resampling over the DSIR weights — sampling
    without replacement proportional to exp(weight), with
    deterministic portable-md5 noise, planned as
    TakeOrderedAndProject (no global sort).  Exact oracle: DuckDB
    recomputes weights, noise, keys, and the same top-N cut."""
    from json_remedy_spark.functions import dsir

    sel = dsir.dsir_resample(_dsir_weighted(spark, sf_dir), DSIR_SELECT_N)
    return sel.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("weight", 4).cast("double").alias("weight"),
        F.round("gkey", 4).cast("double").alias("gkey"),
    )


def q_cosine_topk(spark, sf_dir):
    e = (
        _t(spark, sf_dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    from json_remedy_spark.functions.similarity import cosine_topk

    queries = e.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    return cosine_topk(e, queries, k=5).select(
        F.col("q_id").cast("long").alias("q_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cos").cast("double").alias("cos"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact threshold form so
    the oracle is deterministic; the banded-LSH variant is the scale
    path, covered rows-only by lsh_ann_topk).  Scoring is one numpy
    matmul per Arrow batch against the broadcast bounded slice."""
    from json_remedy_spark.functions.similarity import cosine_pairs_exact

    e = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 1000)  # exact O(n^2) verifier on a bounded slice
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return cosine_pairs_exact(e, threshold=0.4)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup: deterministic k-means cells + within-cell greedy
    near-dup pruning (keep the point farthest from the centroid).
    Rows-only by nature (Lloyd iterations are not one SQL query) —
    but its invariants ARE exactly checked: the companion
    ``semantic_dedup_verified`` query exports the cell/keep assignment
    and DuckDB independently recomputes the within-cell pair
    violations and witness counts (both zero, hash-compared); pytest
    pins the same invariants plus determinism."""
    from json_remedy_spark.functions.similarity import semantic_dedup

    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return semantic_dedup(e, threshold=0.9, cells=8, iters=1).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cell").cast("long").alias("cell"),
        F.col("centroid_sim"),
        F.col("keep"),
    )


def q_embedding_dedup_components(spark, sf_dir):
    """Cross-modal parity for the dedup last mile: the same
    components operator over EMBEDDING near-dup pairs (cosine >= 0.4
    on the bounded slice), canonical rep = min vec_id."""
    from json_remedy_spark.functions.similarity import cosine_pairs_exact

    e = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 1000)
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    pairs = cosine_pairs_exact(e, threshold=0.4).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    ids = e.select(F.col("vec_id").alias("doc_id"))
    return dedup.components_from_pairs(ids, pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rep_id").cast("long").alias("rep_id"),
        F.col("is_canonical"),
    )


def q_langid(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("lang_id", langid.detect_language(F.col("text")))
        .groupBy("lang_id")
        .agg(F.count("*").cast("long").alias("n"))
    )


def q_filter_funnel(spark, sf_dir):
    """RefinedWeb-style filter ablation table: per-rule violation
    counts over the corpus plus the fused keep count — the one-row
    summary a pipeline writeup reports.  Conditions reuse the exact
    metric expressions the bit-exact `quality_stats` oracle pins, so
    each comparison agrees across engines; one map-only pass, one
    scalar aggregate."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    h = quality.hof_metrics(t)
    nw, mwl, dr = (
        h.getField("n_words"),
        h.getField("mean_word_len"),
        h.getField("distinct_ratio"),
    )
    rules = {
        "too_few_words": nw < quality.MIN_WORDS,
        "too_many_words": nw > quality.MAX_WORDS,
        "bad_mean_word_len": (mwl < quality.MIN_MEAN_WORD_LEN)
        | (mwl > quality.MAX_MEAN_WORD_LEN),
        "symbol_heavy": quality.symbol_ratio(t) > quality.MAX_SYMBOL_RATIO,
        "no_stopword": ~quality.has_stopword(t),
        "low_distinct_ratio": dr < quality.MIN_DISTINCT_RATIO,
    }
    return d.agg(
        F.count("*").cast("long").alias("n_docs"),
        *[
            F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(name)
            for name, c in rules.items()
        ],
        F.sum(F.when(quality.passes_quality(t, hof=h), 1).otherwise(0))
        .cast("long")
        .alias("kept"),
    )


# synthesized page scaffold for the main-content query: a link-dense
# nav (dropped by density), the document body (kept when long enough —
# ' and the' guarantees a stopword), a short list item (dropped by
# length), and a link-dense footer (dropped by density)
_MC_PRE = (
    '<html><body><div class="nav"><a href="/">Home</a> '
    '<a href="/about">About</a> <a href="/contact">Contact</a></div><p>'
)
_MC_MID = " and the</p><li>short the</li><footer>© "
_MC_POST = (
    '<a href="/l">Legal</a> <a href="/p">Privacy</a> '
    '<a href="/t">Terms</a></footer></body></html>'
)


def q_main_content(spark, sf_dir):
    """Block-level main-content extraction (jusText-lite,
    functions/webgraph.py:main_content): nav/footer chrome dropped by
    link density, short blocks by length, non-prose by stopword
    absence.  Exact oracle: DuckDB re-runs the identical split /
    clean / score / keep chain over the same synthesized pages."""
    from json_remedy_spark.functions.webgraph import main_content

    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit(_MC_PRE), F.col("text"), F.lit(_MC_MID), F.lit(_MC_POST)
        ).alias("html"),
    )
    return main_content(pages).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "main_text",
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.col("n_kept").cast("long").alias("n_kept"),
    )


_PIPE_FUNNEL_EXPORT = os.path.join(tempfile.gettempdir(), "jrs_pipe_funnel")


def q_pipeline_funnel(spark, sf_dir):
    """The FUSED keep/drop decision decomposed per gate (repair ok,
    nonempty payload, English, perplexity, heuristics) — the
    north-star funnel over the full pipeline.  Hybrid oracle: the two
    kernel-only gates export per-doc flags (re-aggregated — the
    repair_metrics pattern); langid / perplexity / heuristics counts
    are recomputed CLOSED-FORM from documents; and n_keep is
    independently recomputed as the per-doc AND of all five gates, so
    a fusion bug in keep_expr (not just a gate-count bug)
    hash-mismatches."""
    from json_remedy_spark.functions.perplexity import MAX_PERPLEXITY
    from json_remedy_spark.operators.pipeline import quality_filter

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        "doc_id",
        "text",
        F.col("lang"),
    )
    res = quality_filter(pages, with_actions=False)
    flags = res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "ok",
        (F.col("repaired").isNotNull() & (F.col("repaired") != F.lit('""'))).alias(
            "nonempty"
        ),
        (F.col("lang_id") == "en").alias("lang_ok"),
        (F.col("ppl") <= MAX_PERPLEXITY).alias("ppl_ok"),
        "q_pass",
        "keep",
    ).persist()
    flags.select("doc_id", "ok", "nonempty").write.mode("overwrite").parquet(
        _PIPE_FUNNEL_EXPORT
    )
    z = F.lit(0)
    return flags.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(z)).cast("long").alias("n_repair_fail"),
        F.sum(F.when(F.col("ok") & ~F.col("nonempty"), 1).otherwise(z))
        .cast("long")
        .alias("n_empty_payload"),
        F.sum(F.when(~F.col("lang_ok"), 1).otherwise(z)).cast("long").alias("n_lang_fail"),
        F.sum(F.when(~F.col("ppl_ok"), 1).otherwise(z)).cast("long").alias("n_ppl_fail"),
        F.sum(F.when(~F.col("q_pass"), 1).otherwise(z)).cast("long").alias("n_quality_fail"),
        F.sum(F.when(F.col("keep"), 1).otherwise(z)).cast("long").alias("n_keep"),
    )


def q_quality_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    # one Arrow-kernel evaluation shared by every word-array metric and
    # the fused pass flag (VERDICT r3 #4: the HOF forms were interpreted
    # per element and instantiated twice)
    h = quality.hof_metrics(t)
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        h.getField("n_words").cast("long").alias("q_n_words"),
        F.round(h.getField("mean_word_len"), 4).cast("double").alias("q_mean_word_len"),
        F.round(quality.symbol_ratio(t), 4).cast("double").alias("q_symbol_ratio"),
        quality.has_stopword(t).alias("q_has_stopword"),
        F.round(h.getField("distinct_ratio"), 4).cast("double").alias("q_distinct_ratio"),
        F.round(quality.bullet_line_ratio(t), 4).cast("double").alias("q_bullet_ratio"),
        F.round(quality.ellipsis_line_ratio(t), 4).cast("double").alias("q_ellipsis_ratio"),
        F.round(h.getField("alpha_ratio"), 4).cast("double").alias("q_alpha_ratio"),
        quality.has_lorem_ipsum(t).alias("q_lorem_ipsum"),
        F.round(h.getField("dup_line_ratio"), 4).cast("double").alias("q_dup_line_ratio"),
        quality.passes_quality(t, hof=h).alias("q_pass"),
    )


def q_pii_scrub(spark, sf_dir):
    d = _t(spark, sf_dir, "events")
    return d.select(
        F.col("event_id").cast("long").alias("event_id"),
        scrub.scrub(F.col("props")).alias("scrubbed"),
    )


def q_token_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        textstats.token_count(t).cast("long").alias("token_count"),
        textstats.word_count(t).cast("long").alias("word_count"),
        textstats.line_count(t).cast("long").alias("line_count"),
        textstats.fingerprint(t).alias("fingerprint"),
    )


def q_repair_predicates(spark, sf_dir):
    """Reference supports?/1 detector set (SURVEY.md §2.2) as columns."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        t.contains("```").alias("has_fence"),
        t.contains("//").alias("has_line_comment"),
        t.contains("'").alias("has_single_quote"),
        t.rlike(r",\s*[}\]]").alias("has_trailing_comma"),
        (
            (F.length(t) - F.length(F.regexp_replace(t, r"\{", "")))
            != (F.length(t) - F.length(F.regexp_replace(t, r"\}", "")))
        ).alias("braces_unbalanced"),
    )


# leading zeros allowed — reference plain_text_detector.ex pattern
_NUMBER_RE = r"^-?[0-9]+(\.[0-9]+)?([eE][+-]?[0-9]+)?$"


def q_can_repair(spark, sf_dir):
    """`can_repair?/1` (lib/json_remedy.ex:235-239): any layer's
    supports? fires — exact column-expression form."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    trimmed = F.trim(t)
    supports = (
        t.contains("```") | t.contains("//") | t.contains("/*")
        | t.contains("<pre") | t.contains("<code") | t.contains("<json")
        | ((F.length(trimmed) > 100) & ~F.substring(trimmed, 1, 1).isin("{", "["))
    )
    repairable = (
        (trimmed != "")
        & (
            t.rlike(r"[{}\[\]'\":]")
            | trimmed.isin("true", "false", "null")
            | trimmed.rlike(_NUMBER_RE)
        )
    )
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (supports | repairable).alias("can_repair"),
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization over the events table
    (functions/events.py) — the batch twin of Structured Streaming's
    session_window; integer-microsecond arithmetic, exact oracle."""
    from json_remedy_spark.functions.events import sessionize

    e = _t(spark, sf_dir, "events")
    return sessionize(e).select(
        "user_id", "session_no", "n_events", "start_us", "end_us", "duration_us"
    )


def q_event_metrics(spark, sf_dir):
    """Metrics-style aggregation (north_rule metrics tables)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("value"), 4).cast("double").alias("avg_value"),
            F.countDistinct("user_id").cast("long").alias("users"),
        )
    )


def q_keep_drop(spark, sf_dir):
    """Langid + quality fusion over driver docs (SQL-expressible part
    of the keep rule; repair/ppl terms are covered rows-only)."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        ((langid.detect_language(t) == "en") & quality.passes_quality(t)).alias("keep"),
    )


def q_repair_ok_fastpath(spark, sf_dir):
    """Layer-4 strict-validation projection of the repair kernel with
    an independent DuckDB ``json_valid`` oracle (VERDICT r1 #5).

    Docs are constructed from the orders table in four variants —
    valid JSON / truncated / single-quoted / prose — and the REAL
    kernel classifies each: ``fast_path`` must equal strict JSON
    validity (reference lib/json_remedy/layer4/validation.ex:99-111)
    and ``ok`` must be true (all four classes are repairable)."""
    from json_remedy_spark.operators.repair_udf import make_repair_udf

    o = _t(spark, sf_dir, "orders").repartition(spark.sparkContext.defaultParallelism)
    payload = F.to_json(F.struct("o_orderkey", "o_orderstatus", "o_orderpriority"))
    o = o.withColumn("payload", payload)
    variant = F.pmod(F.col("o_orderkey"), F.lit(4))
    doc = (
        F.when(variant == 0, F.col("payload"))
        .when(variant == 1, F.expr("substring(payload, 1, length(payload) - 1)"))
        .when(variant == 2, F.translate(F.col("payload"), '"', "'"))
        .otherwise(F.concat(F.lit("order priority "), F.col("o_orderpriority"),
                            F.lit(" status "), F.col("o_orderstatus")))
    )
    d = o.select(F.col("o_orderkey").cast("long").alias("doc_id"), doc.alias("text"))
    r = make_repair_udf()(F.col("text"))
    return d.select("doc_id", r["fast_path"].alias("fast_path"), r["ok"].alias("ok"))


# ---- rows-only (non-SQL-expressible) --------------------------------------

def q_repair_documents(spark, sf_dir):
    """The repair kernel itself — byte-level state machine, rows-only."""
    from json_remedy_spark.operators.repair_udf import make_repair_udf

    d = _t(spark, sf_dir, "documents")
    r = make_repair_udf(with_repairs=True)(F.col("text"))
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        r["ok"].alias("ok"),
        r["fast_path"].alias("fast_path"),
        r["n_repairs"].cast("long").alias("n_repairs"),
        r["repaired"].alias("repaired"),
        # full lineage structs (layer/action/position/original/
        # replacement) flattened to a json string so the driver's
        # row-hash stays deterministic across Arrow struct orderings
        F.to_json(r["repairs"]).alias("repairs_json"),
    )


def q_perplexity(spark, sf_dir):
    from json_remedy_spark.functions.perplexity import make_perplexity_udf

    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(make_perplexity_udf()(F.col("text")), 4).alias("ppl"),
    )


_TRAINED_LM_DIR = os.path.join(tempfile.gettempdir(), "jrs_trained_lm")


def _lm_path(name: str, sf_dir: str) -> str:
    """Model-artifact path keyed by sf_dir: sc.addFile and the
    per-process model caches key by BASENAME, so two scale factors in
    one session must not share a filename (review finding — the second
    run would silently score with the first corpus's model)."""
    import hashlib

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(_TRAINED_LM_DIR, f"{name}_{h}.parquet")


def q_trigram_lm(spark, sf_dir):
    """In-engine char-trigram LM TRAINING (CCNet: train the n-gram LM
    on a reference corpus inside the engine —
    functions/perplexity.py:train_trigram_counts).  Returns the
    (tri, cnt) count table; exact oracle: DuckDB re-derives every
    utf-8 byte trigram of lower(text) via the hex-nibble CTE and
    re-aggregates independently."""
    from json_remedy_spark.functions.perplexity import train_trigram_counts

    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return train_trigram_counts(d).select(
        F.col("tri").cast("long").alias("tri"),
        F.col("cnt").cast("long").alias("cnt"),
    )


def q_ppl_trained(spark, sf_dir):
    """End-to-end train -> export -> ship -> score loop: the trigram
    LM is trained on the corpus in-engine, written in the
    export_model_tables parquet format, shipped to executors via
    SparkFiles, and the SAME corpus is scored with it (the production
    path a real KenLM artifact takes).  Closed-form oracle: DuckDB
    recomputes the counts AND the per-doc mean score from the
    documents table alone — no export is read."""
    from json_remedy_spark.functions.perplexity import (
        make_perplexity_udf,
        train_trigram_counts,
        write_trained_lm,
    )

    os.makedirs(_TRAINED_LM_DIR, exist_ok=True)
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    tri, bi = _lm_path("corpus_tri", sf_dir), _lm_path("corpus_bi", sf_dir)
    write_trained_lm(train_trigram_counts(d), tri, bi)
    ppl = make_perplexity_udf(model_paths=(tri, bi))
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(ppl(F.col("text")), 4).alias("ppl"),
    )




def q_kn_perplexity(spark, sf_dir):
    """Interpolated Kneser-Ney perplexity (the smoothing real KenLM
    uses; functions/perplexity.py:kn_logp_from_counts): trigram counts
    trained on the corpus in-engine, shipped as the raw sparse count
    artifact via SparkFiles, each worker building the dense KN table
    once.  Closed-form oracle: DuckDB recomputes every continuation /
    type count and the three-level interpolation formula from the
    documents table alone."""
    from json_remedy_spark.functions.perplexity import (
        make_kn_perplexity_udf,
        train_trigram_counts,
        write_trigram_counts,
    )

    os.makedirs(_TRAINED_LM_DIR, exist_ok=True)
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    counts_path = _lm_path("kn_counts", sf_dir)
    write_trigram_counts(train_trigram_counts(d), counts_path)
    ppl = make_kn_perplexity_udf(counts_path)
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(ppl(F.col("text")), 4).alias("ppl"),
    )


def q_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity stratification: per language,
    tertile cutoffs from a (lang x grid-bucket) histogram — never a
    per-language global sort — broadcast back for a map-side label."""
    from json_remedy_spark.functions.perplexity import (
        make_perplexity_udf,
        ppl_head_middle_tail,
    )

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("lang"),
        F.round(make_perplexity_udf()(F.col("text")), 4).alias("ppl"),
    )
    # the operator persists the scored frame; the driver's collect and
    # the histogram branch share that one Arrow materialization
    return ppl_head_middle_tail(scored).select(
        "doc_id", "lang", F.col("ppl").cast("double").alias("ppl"), "bucket"
    )


def q_script_mix(spark, sf_dir):
    """Unicode script-mix signal: Cyrillic/CJK/Greek/Hangul samples
    appended to the ASCII corpus by doc_id arithmetic in BOTH engines;
    counts + dominant script from the shared codepoint-range table."""
    from json_remedy_spark.functions.langid import script_mix

    d = _t(spark, sf_dir, "documents")
    extra = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(" привет мир"))
        .when(F.col("doc_id") % 4 == 1, F.lit(" 漢字とかな"))
        .when(F.col("doc_id") % 4 == 2, F.lit(" Ελληνικά και 한국어"))
        .otherwise(F.lit(""))
    )
    t = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(F.substring("text", 1, 80), extra).alias("text"),
    )
    return script_mix(t)


def q_canonical_url(spark, sf_dir):
    """URL canonicalization (dedup key for web tables): messy URLs are
    synthesized deterministically from doc_id in BOTH engines, then
    canonicalized — scheme/host lowercase, default ports dropped,
    fragments dropped, tracking params removed."""
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id").cast("string")
    messy = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit("HTTP://Example.COM:80/plain/"), k),
    ).otherwise(
        F.concat(
            F.lit("HTTPS://WWW.Site"), (F.col("doc_id") % 20).cast("string"),
            F.lit(".COM:443/Path/"), k,
            F.lit("?utm_source=feed&id="), k,
            F.lit("&utm_medium=x#frag"),
        )
    )
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        corpus.canonical_url(messy).alias("canon_url"),
    )


def q_url_dedup(spark, sf_dir):
    """Crawl-recency URL dedup (latest snapshot wins): three messy URL
    variants per canonical page are synthesized from orders in BOTH
    engines — host-case + :80 port, utm tracking param, #fragment —
    with an integer crawl timestamp from o_orderdate; the op must
    collapse them to one winner per canonical URL."""
    o = _t(spark, sf_dir, "orders")
    k = (F.col("o_orderkey") % 500).cast("string")
    variant = F.pmod(F.col("o_orderkey"), F.lit(3))
    messy = (
        F.when(variant == 0, F.concat(F.lit("HTTP://News.Example.COM:80/a/"), k))
        .when(variant == 1, F.concat(F.lit("http://news.example.com/a/"), k, F.lit("?utm_source=feed")))
        .otherwise(F.concat(F.lit("http://news.example.com/a/"), k, F.lit("#top")))
    )
    ts_num = (
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).cast("long") * 86400
        + F.col("o_orderkey") % 86400
    )
    pages = o.select(
        F.col("o_orderkey").cast("long").alias("doc_id"),
        messy.alias("url"),
        ts_num.alias("warc_ts"),
    )
    out = corpus.latest_crawl_per_url(pages)
    return out.select(
        "canon_url",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("crawl_ts").cast("long").alias("crawl_ts"),
        F.col("n_crawls").cast("long").alias("n_crawls"),
    )


def q_outlink_stats(spark, sf_dir):
    """Outlink extraction from the raw html binary column + per-host
    inlink stats (webgraph module).  Pages with two absolute anchors
    (one mixed-case, canonicalized by the host extractor) and one
    relative anchor (no host — must be filtered) are synthesized from
    orders in BOTH engines."""
    from json_remedy_spark.functions import webgraph

    # single-file scan plans 1 partition; spread the JVM regex/explode work (r07)
    o = _t(spark, sf_dir, "orders").repartition(spark.sparkContext.defaultParallelism)
    k1 = (F.col("o_orderkey") % 7).cast("string")
    k2 = (F.col("o_custkey") % 5).cast("string")
    html_text = F.concat(
        F.lit('<html><body><a href="https://site'), k1,
        F.lit('.com/p/'), F.col("o_orderkey").cast("string"),
        F.lit('">x</a> <a href="HTTPS://Site'), k2,
        F.lit('.ORG/q">y</a><a href="/relative/path">z</a></body></html>'),
    )
    pages = o.select(
        F.concat(F.lit("page://"), F.col("o_orderkey").cast("string")).alias("url"),
        F.encode(html_text, "utf-8").alias("html"),
    )
    return webgraph.outlink_host_stats(pages).select(
        "dst_host",
        F.col("n_links").cast("long").alias("n_links"),
        F.col("n_src_pages").cast("long").alias("n_src_pages"),
    )


def q_html_text(spark, sf_dir):
    """html -> visible text extraction (script/style/comment removal,
    tag strip, entity decode, whitespace collapse) — the WARC-to-
    input-table step; pages wrap the documents text in BOTH engines."""
    from json_remedy_spark.functions import webgraph

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><script>var x=1;</script><style>.css</style>"
              "</head><body><!-- c --><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.col("text"),
        F.lit(" &amp; more &lt;tags&gt;</p></body></html>"),
    )
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        webgraph.html_to_text(html).alias("text"),
    )


def q_blocklist_filter(spark, sf_dir):
    """UT1-style domain blocklist gate
    (functions/webgraph.py:blocklist_filter): a banned domain blocks
    itself AND every subdomain via the exploded host-suffix equi-join;
    an exact-subdomain entry blocks only that subdomain.  CLOSED-FORM
    oracle — hosts are synthesized by arithmetic, so the expected flag
    is known by construction."""
    from json_remedy_spark.functions import webgraph

    # single-file scan plans 1 partition; spread the JVM regex/explode work (r07)
    o = _t(spark, sf_dir, "orders").repartition(spark.sparkContext.defaultParallelism)
    k = F.col("o_orderkey")
    host = F.concat(
        F.when(F.pmod(k, 5) == 0, F.lit("cdn.")).otherwise(F.lit("")),
        F.lit("shop"),
        F.pmod(k, 10).cast("string"),
        F.lit(".example.com"),
    )
    pages = o.select(
        k.cast("long").alias("doc_id"),
        F.concat(F.lit("https://"), host, F.lit("/p"), k.cast("string")).alias("url"),
    )
    blocklist = local_frame(
        spark,
        [
            ("shop4.example.com", "commerce"),
            ("shop7.example.com", "adult"),
            ("cdn.shop2.example.com", "tracker"),
            ("example.net", "spam"),  # never matches this corpus
        ],
        "host string, category string",
    )
    return webgraph.blocklist_filter(pages, blocklist).select(
        "doc_id", "url", "block_category", "blocked"
    )


def q_robots_filter(spark, sf_dir):
    """Robots.txt crawl-politeness gate: parse per-host Disallow rules
    for the ``*`` agent (group runs, comments, empty-disallow,
    non-binding named-agent groups all synthesized) and flag pages
    whose path matches a prefix.  The oracle is CLOSED-FORM — the
    robots bodies are built by arithmetic, so the expected rule set is
    known by construction and DuckDB never re-parses (ground truth,
    not a parallel parser)."""
    from json_remedy_spark.functions import webgraph

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    path = (
        F.when(k % 4 == 0, F.lit("/admin/panel"))
        .when(k % 4 == 1, F.concat(F.lit("/products/"), k.cast("string")))
        .when(k % 4 == 2, F.concat(F.lit("/tmp/cache/"), k.cast("string")))
        .otherwise(F.lit("/"))
    )
    pages = o.select(
        k.cast("long").alias("doc_id"),
        F.concat(
            F.lit("https://shop"), (k % 10).cast("string"), F.lit(".example.com"), path
        ).alias("url"),
    )
    n_tbl = _t(spark, sf_dir, "nation")
    n = F.col("n_nationkey")
    body = F.concat(
        F.lit("User-agent: megabot\nDisallow: /products\n"),
        F.when(
            n % 3 == 0,
            F.lit(
                "User-agent: helper\nUser-agent: *\n"
                "DISALLOW: /admin # panel is private\nDisallow: /tmp/\nDisallow:\n"
            ),
        )
        .when(n % 3 == 1, F.lit("User-agent: *\n# nothing blocked\nDisallow:\n"))
        .otherwise(F.lit("")),
    )
    robots = n_tbl.where(n < 10).select(
        F.concat(F.lit("shop"), n.cast("string"), F.lit(".example.com")).alias("host"),
        body.alias("robots_txt"),
    )
    rules = webgraph.robots_disallow_rules(robots)
    return webgraph.robots_filter(pages, rules).select(
        "doc_id", "url", "robots_disallowed"
    )


def q_anchor_texts(spark, sf_dir):
    """(src_url, href, anchor) pairs — link-context extraction; two
    anchors per page synthesized from orders in BOTH engines, one with
    extra attributes between href and the text."""
    from json_remedy_spark.functions import webgraph

    # single-file scan plans 1 partition; spread the JVM regex/explode work (r07)
    o = _t(spark, sf_dir, "orders").repartition(spark.sparkContext.defaultParallelism)
    n = F.col("o_orderkey").cast("string")
    html_text = F.concat(
        F.lit('<p><a href="https://a'), (F.col("o_orderkey") % 9).cast("string"),
        F.lit('.com/x" class="big" rel="nofollow"> Order '), n,
        F.lit(' </a><a href="/local/'), n, F.lit('">home</a></p>'),
    )
    pages = o.select(
        F.concat(F.lit("page://"), n).alias("url"),
        F.encode(html_text, "utf-8").alias("html"),
    )
    return webgraph.extract_anchors(pages)


def q_page_meta(spark, sf_dir):
    """HTML-metadata gates (robots noindex, rel=canonical, title,
    declared lang) extracted from the raw html binary with the shared
    (?i) regex dialect; four page variants incl. a bare page and
    upper-case tags are synthesized from orders in BOTH engines."""
    from json_remedy_spark.functions import webgraph

    # single-file scan plans 1 partition; spread the JVM regex/explode work (r07)
    o = _t(spark, sf_dir, "orders").repartition(spark.sparkContext.defaultParallelism)
    n = F.col("o_orderkey").cast("string")
    v = F.pmod(F.col("o_orderkey"), F.lit(4))
    html_text = (
        F.when(v == 0, F.concat(
            F.lit('<html lang="en"><head><title>Order '), n,
            F.lit('</title><link rel="canonical" href="https://shop.example.com/o/'), n,
            F.lit('"/><meta name="robots" content="noindex,nofollow"></head><body>x</body></html>'),
        ))
        .when(v == 1, F.concat(
            F.lit('<html lang="de"><head><title>Bestellung '), n,
            F.lit('</title></head><body>x</body></html>'),
        ))
        .when(v == 2, F.lit("<html><body>plain</body></html>"))
        .otherwise(F.concat(
            F.lit('<HTML Lang="fr"><HEAD><TITLE>Commande '), n,
            F.lit("</TITLE></HEAD></HTML>"),
        ))
    )
    pages = o.select(
        F.concat(F.lit("page://"), n).alias("url"),
        F.encode(html_text, "utf-8").alias("html"),
    )
    return webgraph.page_meta(pages)


def q_domain_rank(spark, sf_dir):
    """Fixed-iteration PageRank (5 rounds, damping 0.85) over a host
    graph synthesized from orders; the DuckDB oracle unrolls the same
    five rounds as CTEs, so every join/degree/damping term is
    value-checked."""
    from json_remedy_spark.functions import webgraph

    o = _t(spark, sf_dir, "orders")
    e = (
        o.select(
            F.concat(F.lit("h"), (F.col("o_orderkey") % 40).cast("string")).alias("src"),
            F.concat(F.lit("h"), (F.col("o_custkey") % 40).cast("string")).alias("dst"),
        )
        .where(F.col("o_orderkey") % 40 != F.col("o_custkey") % 40)
        .distinct()
    )
    r = webgraph.pagerank(e, iters=5, damping=0.85)
    return r.select("node", F.round("rank", 4).cast("double").alias("rank"))


def q_ppl_histogram(spark, sf_dir):
    """North-rule metrics surface: the perplexity histogram (0.125-wide
    buckets, exactly representable in binary) — exact because the per-doc scores are exact (same
    float64 doubles both engines, proven by the `perplexity` oracle);
    floor of identical doubles is identical."""
    from json_remedy_spark.operators.metrics import perplexity_histogram

    return perplexity_histogram(q_perplexity(spark, sf_dir), bucket=0.125).select(
        F.col("ppl_bucket").cast("double").alias("ppl_bucket"),
        F.col("n").cast("long").alias("n"),
    )


def q_media_features(spark, sf_dir):
    """Multimodal feature extraction (stub decoder) — exploded to
    (url, feature_idx, value) scalar rows so the driver canonicalizer
    can sort/hash, and so a DuckDB hex-nibble-histogram oracle checks
    the mapInPandas plumbing bit-exactly."""
    from json_remedy_spark.functions.multimodal import image_features

    d = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.encode(F.col("text"), "utf-8").alias("html"),
    )
    feats = image_features(d)
    return feats.select(
        "url", F.posexplode("feature").alias("feature_idx", "value"), "n_bytes"
    ).select(
        "url",
        F.col("feature_idx").cast("long").alias("feature_idx"),
        F.col("value").cast("double").alias("value"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
    )


def _docs_as_binary(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.encode(F.col("text"), "utf-8").alias("html"),
    )


def q_media_meta(spark, sf_dir):
    """Magic-byte sniff over opaque binary payloads.  Only the
    ASCII-representable magics (GIF8 / RIFF / webm EBML / <html) can
    ever occur in utf-8-encoded text, so the DuckDB oracle enumerates
    exactly those prefixes."""
    from json_remedy_spark.functions.multimodal import media_meta

    return media_meta(_docs_as_binary(spark, sf_dir)).select(
        "url", "media_type", F.col("n_bytes").cast("long").alias("n_bytes")
    )


def q_frame_sample(spark, sf_dir):
    """Cardinality-changing frame sampler (1 doc -> N_FRAMES rows).
    The digest column has no SQL-reproducible form (DuckDB md5 takes
    VARCHAR only, slices are raw bytes), so the oracle checks the
    fan-out + exact per-frame byte counts; digest correctness is
    pinned by the pytest unit."""
    from json_remedy_spark.functions.multimodal import frame_sample

    return frame_sample(_docs_as_binary(spark, sf_dir)).select(
        "url",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("frame_bytes").cast("long").alias("frame_bytes"),
    )


def q_corpus_funnel(spark, sf_dir):
    """End-to-end evidence for the COMPOSED corpus job
    (jobs/run_corpus_pipeline.py): stage-by-stage surviving-doc counts
    through the same operator chain the job runs — robots gate -> URL
    dedup (canonical collapse, min-url representative) -> global line
    dedup with emptied docs dropped -> fuzzy near-dup components
    (canonical representatives survive) -> benchmark decontamination.

    Pages are synthesized deterministically from doc_id in BOTH
    engines (3 URL variants per canonical page; hosts shop0-9 with the
    q_robots_filter robots bodies; nav/footer chrome lines around the
    real text).  The oracle is CLOSED-FORM AND CHAINED: each stage is
    recomputed in DuckDB from the previous stage's recomputed survivor
    set (per-stage `documents`-shadowing CTEs re-use the proven
    component/shingle SQL), so a divergence at ANY stage shifts every
    downstream count."""
    from json_remedy_spark.functions import webgraph
    from json_remedy_spark.functions.corpus import canonical_url, decontaminate, line_dedup

    d_all = _t(spark, sf_dir, "documents")
    ev = d_all.where(F.col("source") == "src0").select("doc_id", "text")
    corp = d_all.where(F.col("source") != "src0")

    g = F.expr("doc_id DIV 3")
    h = F.pmod(g, 10).cast("string")
    gs = g.cast("string")
    path = (
        F.when(F.pmod(g, 4) == 0, F.concat(F.lit("/admin/panel"), gs))
        .when(F.pmod(g, 4) == 1, F.concat(F.lit("/products/"), gs))
        .when(F.pmod(g, 4) == 2, F.concat(F.lit("/tmp/cache/"), gs))
        .otherwise(F.concat(F.lit("/p/"), gs))
    )
    variant = F.pmod(F.col("doc_id"), 3)
    # every 7th page group serves from a nonstandard port — the URL
    # quality gate (stage 1, the cheapest filter, FineWeb ordering)
    # drops those before any page byte is read
    port = F.when(F.pmod(g, 7) == 0, F.lit(":8080")).otherwise(F.lit(""))
    url = (
        F.when(variant == 0, F.concat(F.lit("HTTP://Shop"), h, F.lit(".Example.COM"), port, path))
        .when(variant == 1, F.concat(F.lit("http://shop"), h, F.lit(".example.com"), port, path, F.lit("?utm_source=feed")))
        .otherwise(F.concat(F.lit("http://shop"), h, F.lit(".example.com"), port, path, F.lit("#top")))
    )
    # the per-doc ' marker N' suffix keeps duplicated source texts as
    # DISTINCT lines (so global line dedup can't erase the near-dup
    # structure before the fuzzy stage gets to see it)
    text = F.concat(
        F.lit("Please enable cookies to continue\n"),
        F.lit("section "), h, F.lit(" navigation menu\n"),
        F.substring(F.col("text"), 1, 80),
        F.lit(" marker "), F.pmod(F.col("doc_id"), 97).cast("string"),
        F.lit("\ncopyright footer "), variant.cast("string"),
    )
    dp = spark.sparkContext.defaultParallelism
    # single-file parquet scans plan ONE input partition and AQE
    # coalesces the tiny stage shuffles to ~one — repartition ahead of
    # the regex/shingle kernels so they use the full core count (r07)
    pages = corp.select(
        F.col("doc_id").cast("long").alias("doc_id"), url.alias("url"), text.alias("text")
    ).repartition(dp).persist()

    # stage 1: URL quality gate — url bytes only, before everything
    s0 = (
        webgraph.url_quality_gate(pages)
        .where(F.col("url_ok"))
        .select("doc_id", "url", "text")
        .persist()
    )

    # stage 2: robots gate (same rule synthesis as q_robots_filter)
    n_tbl = _t(spark, sf_dir, "nation")
    n = F.col("n_nationkey")
    body = F.concat(
        F.lit("User-agent: megabot\nDisallow: /products\n"),
        F.when(
            n % 3 == 0,
            F.lit(
                "User-agent: helper\nUser-agent: *\n"
                "DISALLOW: /admin # panel is private\nDisallow: /tmp/\nDisallow:\n"
            ),
        )
        .when(n % 3 == 1, F.lit("User-agent: *\n# nothing blocked\nDisallow:\n"))
        .otherwise(F.lit("")),
    )
    robots = n_tbl.where(n < 10).select(
        F.concat(F.lit("shop"), n.cast("string"), F.lit(".example.com")).alias("host"),
        body.alias("robots_txt"),
    )
    rules = webgraph.robots_disallow_rules(robots)
    s1 = (
        webgraph.robots_filter(s0, rules)
        .where(~F.col("robots_disallowed"))
        .select("doc_id", "url", "text")
        .persist()
    )

    # stage 3: URL dedup — canonical collapse, min-url representative
    # (the job's no-warc_ts fallback path)
    keyed = s1.withColumn("canon_url", canonical_url(F.col("url")))
    rep = keyed.groupBy("canon_url").agg(F.min("url").alias("rep_url"))
    s2 = (
        keyed.join(rep, "canon_url")
        .where(F.col("url") == F.col("rep_url"))
        .select("doc_id", "text")
        .persist()
    )

    # stage 4: global line dedup; docs emptied by it drop out
    s3 = (
        line_dedup(s2)
        .where(F.length(F.trim("text")) > 0)
        .select("doc_id", "text")
        .repartition(dp)
        .persist()
    )

    # stage 5: fuzzy near-dup components — canonical reps survive
    comp = dedup.near_dup_components(s3, threshold=0.5)
    s4 = s3.join(
        comp.where(F.col("is_canonical")).select("doc_id"), "doc_id"
    ).repartition(dp).persist()

    # stage 6: benchmark decontamination vs the src0 eval split
    s5 = decontaminate(s4, ev).where(~F.col("contaminated")).select("doc_id")

    def cnt(df, name):
        return df.agg(F.count("*").cast("long").alias(name))

    return (
        cnt(pages, "n_input")
        .crossJoin(cnt(s0, "n_post_url_gate"))
        .crossJoin(cnt(s1, "n_post_robots"))
        .crossJoin(cnt(s2, "n_post_url_dedup"))
        .crossJoin(cnt(s3, "n_post_line_dedup"))
        .crossJoin(cnt(s4, "n_post_fuzzy"))
        .crossJoin(cnt(s5, "n_post_decon"))
    )


def q_media_near_dup(spark, sf_dir):
    """Multimodal near-dup: dHash perceptual fingerprints over binary
    payloads -> the text-SimHash banded hamming join (4x16-bit bands,
    pigeonhole-exact recall at k<=3, one shuffle, never all-pairs).
    Exact oracle: DuckDB recomputes the integer dHash from payload
    bytes via hex nibbles and replays the banded join."""
    from json_remedy_spark.functions.multimodal import media_near_dup

    return media_near_dup(_docs_as_binary(spark, sf_dir), max_hamming=3).select(
        F.col("doc_a").cast("string").alias("doc_a"),
        F.col("doc_b").cast("string").alias("doc_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


# Recall-tier ANN knobs for the driver queries.  The synthetic
# embeddings are near-uniform (true top-5 sits at cos ~0.3, the
# LSH worst case), so hitting the recall floors (lsh>=0.6, ivf>=0.8)
# takes low-selectivity settings: 4 planes x 8 tables probes ~half the
# corpus per query here.  Production embeddings cluster, which moves
# the same recall to far higher selectivity; the knobs are the
# contract, these values are the sandbox point on the curve.
_ANN_TABLES = 8
_ANN_PLANES = 4
_IVF_PROBES = 8


# Exact-oracle exports for the two approximate top-k paths (same
# protocol as ann_recall): the deterministic candidate membership is
# exported, and DuckDB independently recomputes cosine, ordering, and
# rank for exactly those pairs — scoring math fully value-checked,
# membership taken from the (deterministic) bucketing.
_LSH_TOPK_EXPORT = os.path.join(tempfile.gettempdir(), "jrs_lsh_topk_export")
_IVF_TOPK_EXPORT = os.path.join(tempfile.gettempdir(), "jrs_ivf_topk_export")


def q_lsh_ann_topk(spark, sf_dir):
    from json_remedy_spark.functions.similarity import lsh_bucketed_topk

    e = _t(spark, sf_dir, "embeddings").withColumn("embedding", F.col("embedding").cast("array<double>"))
    queries = e.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    out = lsh_bucketed_topk(e, queries, k=5, n_tables=_ANN_TABLES, n_planes=_ANN_PLANES).select(
        F.col("q_id").cast("long").alias("q_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cos").cast("double").alias("cos"),
        F.col("rank").cast("long").alias("rank"),
    ).persist()  # the export write materializes it; the caller's collect reuses
    out.select("q_id", "vec_id").write.mode("overwrite").parquet(_LSH_TOPK_EXPORT)
    return out


_LAYER_HITS_EXPORT = os.path.join(tempfile.gettempdir(), "jrs_layer_hits")


def q_layer_hits(spark, sf_dir):
    """Layer-hit counts (repair_with_debug observability).  Export-
    oracle: the kernel-derived per-doc (layer, hits) rows are exported
    and DuckDB independently recomputes the rollup — membership comes
    from the (non-SQL) kernel, the distributed aggregation is
    value-checked.  Mirrors ``operators/metrics.py:layer_hit_counts``
    on a persisted exploded frame so the export write and the rollup
    share one UDF materialization."""
    from json_remedy_spark.operators.repair_udf import make_repair_udf

    d = _t(spark, sf_dir, "documents")
    exploded = (
        d.select(make_repair_udf()(F.col("text")).alias("r"))
        .select(F.explode_outer("r.layer_hits").alias("layer", "hits"))
        .where(F.col("layer").isNotNull())
        .persist()
    )
    exploded.write.mode("overwrite").parquet(_LAYER_HITS_EXPORT)
    return exploded.groupBy("layer").agg(
        F.sum("hits").cast("long").alias("total_hits"),
        F.count("*").cast("long").alias("docs"),
    )


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing rolling-hash fingerprints (doc_id, fingerprint)."""
    from json_remedy_spark.functions.textstats import rolling_fingerprints

    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    return rolling_fingerprints(d).distinct().select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("fingerprint").cast("long").alias("fingerprint"),
    )


def q_ivf_ann_topk(spark, sf_dir):
    """IVF-routed ANN top-k (export-verified: DuckDB recomputes cos +
    rank for the routed candidate set)."""
    from json_remedy_spark.functions.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings").withColumn("embedding", F.col("embedding").cast("array<double>"))
    queries = e.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    out = ivf_topk(e, queries, k=5, probes=_IVF_PROBES).select(
        F.col("q_id").cast("long").alias("q_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cos").cast("double").alias("cos"),
        F.col("rank").cast("long").alias("rank"),
    ).persist()  # the export write materializes it; the caller's collect reuses
    out.select("q_id", "vec_id").write.mode("overwrite").parquet(_IVF_TOPK_EXPORT)
    return out


_IVF_APPEND_INDEX = os.path.join(tempfile.gettempdir(), "jrs_ivf_append_index")
_IVF_APPEND_EXPORT = os.path.join(tempfile.gettempdir(), "jrs_ivf_append_export")
_IVF_SQ8_INDEX = os.path.join(tempfile.gettempdir(), "jrs_ivf_sq8_index")
_IVF_SQ8_EXPORT = os.path.join(tempfile.gettempdir(), "jrs_ivf_sq8_export")


def q_ivf_sq8_topk(spark, sf_dir):
    """Quantized at-rest IVF: the index stores int8 scalar-quantized
    codes (dims bytes + one double scale — 4x fewer bytes per probed
    cell than float32; the 100 TB scan-cost lever) and the scoring
    kernel dequantizes per Arrow batch.  Export-verified: DuckDB
    REPLAYS THE QUANTIZATION from the source floats (scale = max|x|,
    code = floor(x/scale*127 + 0.5), dequant, unit, cos, rank) — the
    whole lossy path is independently recomputed, not just membership.

    BENCH NOTE: this evidence query builds its at-rest artifact
    in-query so the oracle is self-contained — its bench timing is
    build+query, not query latency; the rehearsal tables in
    BASELINE.md carry the at-rest query-side numbers."""
    import shutil

    from json_remedy_spark.functions.similarity import (
        ivf_topk_from_index,
        write_ivf_index,
    )

    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    shutil.rmtree(_IVF_SQ8_INDEX, ignore_errors=True)
    write_ivf_index(e, _IVF_SQ8_INDEX, cells=8, quantize="sq8")
    queries = e.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    out = ivf_topk_from_index(
        spark, _IVF_SQ8_INDEX, queries, k=5, probes=_IVF_PROBES
    ).select(
        F.col("q_id").cast("long").alias("q_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cos").cast("double").alias("cos"),
        F.col("rank").cast("long").alias("rank"),
    ).persist()  # the export write materializes it; the caller's collect reuses
    out.select("q_id", "vec_id").write.mode("overwrite").parquet(_IVF_SQ8_EXPORT)
    return out


_IVF_PQ_INDEX = os.path.join(tempfile.gettempdir(), "jrs_ivf_pq_index")
_IVF_PQ_EXPORT = os.path.join(tempfile.gettempdir(), "jrs_ivf_pq_export")


def q_ivf_pq_topk(spark, sf_dir):
    """Product-quantized at-rest IVF (Jégou et al. 2011): the index
    stores PQ_M one-byte codes per vector (64-dim float64: 512 B ->
    8 B, 64x fewer bytes per probed cell — the deepest bytes-scanned
    lever; sq8 is 8x) plus per-subspace integer codebooks, and scoring
    is exact-integer ADC (one m x ksub lookup table per query).
    Export-verified: DuckDB REPLAYS THE WHOLE LOSSY PATH from the
    source floats + the stored codebooks — max-abs fixed-point
    quantization, per-subspace integer-L2 argmin assignment (ties to
    the smallest code on both engines), ADC dot, and the exact-integer
    cosine normalizers (reconstruction norm^2 + quantized-query
    norm^2), all BIGINT-exact so the final double is bit-identical.
    This is the pure-ADC path so the oracle is total; production
    recall is recovered with ``rerank_from=`` (exact re-score of the
    tiny shortlist; pytest pins the recall floors — see
    test_ivf_pq_quantized_index).

    BENCH NOTE: this evidence query builds its at-rest artifact
    in-query so the oracle is self-contained — its bench timing is
    build+query, not query latency; the rehearsal tables in
    BASELINE.md carry the at-rest query-side numbers."""
    import shutil

    from json_remedy_spark.functions.similarity import (
        ivf_topk_from_index,
        write_ivf_index,
    )

    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    shutil.rmtree(_IVF_PQ_INDEX, ignore_errors=True)
    write_ivf_index(e, _IVF_PQ_INDEX, cells=8, quantize="pq")
    queries = e.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    out = ivf_topk_from_index(
        spark, _IVF_PQ_INDEX, queries, k=5, probes=_IVF_PROBES
    ).select(
        F.col("q_id").cast("long").alias("q_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cos").cast("double").alias("cos"),
        F.col("rank").cast("long").alias("rank"),
    ).persist()  # the export write materializes it; the caller's collect reuses
    out.select("q_id", "vec_id").write.mode("overwrite").parquet(_IVF_PQ_EXPORT)
    return out


def q_ivf_append_topk(spark, sf_dir):
    """Incremental IVF maintenance: build the at-rest index on the
    even vec_ids, grow it with the odd half via ``append_to_ivf_index``
    (assignment against the STORED centroids — no rebuild, existing
    cell files untouched), then query the grown index.  Export-verified
    like ``ivf_ann_topk``: DuckDB recomputes cos + rank over the full
    embeddings table for the exported candidate set.  The
    append-equals-union-build contract itself is pytest-pinned
    (test_ivf_append_equals_union_build).

    BENCH NOTE: this evidence query builds its at-rest artifact
    in-query so the oracle is self-contained — its bench timing is
    build+query, not query latency; the rehearsal tables in
    BASELINE.md carry the at-rest query-side numbers."""
    import shutil

    from json_remedy_spark.functions.similarity import (
        append_to_ivf_index,
        ivf_topk_from_index,
        write_ivf_index,
    )

    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    # fixed /tmp path: clear first — a stale index plus mode("append")
    # would double every odd vector on rerun
    shutil.rmtree(_IVF_APPEND_INDEX, ignore_errors=True)
    write_ivf_index(e.where("vec_id % 2 = 0"), _IVF_APPEND_INDEX, cells=8)
    append_to_ivf_index(spark, _IVF_APPEND_INDEX, e.where("vec_id % 2 = 1"))
    queries = e.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    out = ivf_topk_from_index(
        spark, _IVF_APPEND_INDEX, queries, k=5, probes=_IVF_PROBES
    ).select(
        F.col("q_id").cast("long").alias("q_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cos").cast("double").alias("cos"),
        F.col("rank").cast("long").alias("rank"),
    ).persist()  # the export write materializes it; the caller's collect reuses
    out.select("q_id", "vec_id").write.mode("overwrite").parquet(_IVF_APPEND_EXPORT)
    return out


# Exact-oracle protocol (VERDICT r3 #6): both approximate methods
# are deterministic, so their candidate sets — and therefore
# recall@5 — are fixed numbers.  The Spark query EXPORTS the
# candidate sets to this fixed path; the oracle recomputes the exact
# ground truth AND the recall join independently in DuckDB over the
# export.  The driver always runs the Spark side before the SQL side
# (it compares their outputs), so the export exists when read.
_ANN_EXPORT = os.path.join(tempfile.gettempdir(), "jrs_ann_candidates")


def q_ann_recall(spark, sf_dir):
    """Driver-visible recall contract for both approximate ANN paths
    (VERDICT r2 #5): recall@5 of LSH-bucketed and IVF-routed top-k
    against the exact ``cosine_topk`` ground truth.  Exact oracle
    (VERDICT r3 #6): candidates are exported to parquet and DuckDB
    recomputes truth + recall from them; the pytest companion asserts
    floors (LSH >= 0.6, IVF >= 0.8)."""
    from json_remedy_spark.functions.similarity import (
        cosine_topk,
        ivf_topk,
        lsh_bucketed_topk,
    )

    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = e.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")

    lsh = lsh_bucketed_topk(e, qs, k=5, n_tables=_ANN_TABLES, n_planes=_ANN_PLANES)
    ivf = ivf_topk(e, qs, k=5, probes=_IVF_PROBES)
    cand = (
        lsh.select(F.lit("lsh").alias("method"), "q_id", "vec_id")
        .unionByName(ivf.select(F.lit("ivf").alias("method"), "q_id", "vec_id"))
        .select("method", F.col("q_id").cast("long"), F.col("vec_id").cast("long"))
    )
    # the export write and the exact-truth count are independent jobs —
    # overlap them so the second back-fills the first's tail (guide
    # §2.6 / the dsir_log_ratio precedent); the read of the export
    # happens strictly after the write thread joins
    from concurrent.futures import ThreadPoolExecutor

    truth = cosine_topk(e, qs, k=5).select("q_id", "vec_id")
    with ThreadPoolExecutor(2) as ex:
        fw = ex.submit(
            lambda: cand.write.mode("overwrite").parquet(_ANN_EXPORT)
        )
        fc = ex.submit(truth.count)
        fw.result()
        n_truth = fc.result()

    # score the EXPORTED bytes (what DuckDB will read), not the lineage
    exported = spark.read.parquet(_ANN_EXPORT).distinct()

    hits = exported.join(truth, ["q_id", "vec_id"]).groupBy("method").agg(
        F.count("*").alias("h")
    )
    methods = local_frame(spark, [("lsh",), ("ivf",)], "method string")
    return (
        methods.join(hits, "method", "left")
        .select(
            "method",
            F.round(F.coalesce(F.col("h"), F.lit(0)) / F.lit(n_truth), 4)
            .cast("double")
            .alias("recall_at_5"),
        )
    )


# semantic_dedup's verified companion (VERDICT r3 #10): the greedy
# kernel's cell/keep assignment is exported, and BOTH engines then
# recompute the invariant summary from it — within-cell >=threshold
# pairs (round-6 cosine, the kernel's own comparison) rolled up into
# violating-kept-pair and unwitnessed-dropped counts per cell.  Equal
# summaries mean DuckDB independently confirms the kernel's keep set
# satisfies the SemDeDup contract.
_SEMDEDUP_EXPORT = os.path.join(tempfile.gettempdir(), "jrs_semdedup_export")
# the synthetic embeddings top out near cos 0.51 — 0.45 makes the
# greedy pruner actually drop points, so the witness invariant is
# non-vacuous (0.9, the production default, would keep everything)
_SEMDEDUP_THRESHOLD = 0.45


def q_semantic_dedup_verified(spark, sf_dir):
    """Greedy-invariant verification of ``semantic_dedup`` (exact
    oracle): per cell — size, kept count, kept pairs at >= threshold
    (must be 0), dropped points with no kept witness (must be 0)."""
    from json_remedy_spark.functions.similarity import (
        cosine_pairs_exact,
        semantic_dedup,
    )

    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    semantic_dedup(
        e, threshold=_SEMDEDUP_THRESHOLD, cells=8, iters=1
    ).write.mode("overwrite").parquet(_SEMDEDUP_EXPORT)
    exp = spark.read.parquet(_SEMDEDUP_EXPORT).select("vec_id", "cell", "keep")

    pairs = cosine_pairs_exact(e, threshold=_SEMDEDUP_THRESHOLD)
    a = exp.select(
        F.col("vec_id").alias("id_a"), F.col("cell").alias("cell_a"), F.col("keep").alias("keep_a")
    )
    b = exp.select(
        F.col("vec_id").alias("id_b"), F.col("cell").alias("cell_b"), F.col("keep").alias("keep_b")
    )
    p = pairs.join(a, "id_a").join(b, "id_b").where(F.col("cell_a") == F.col("cell_b"))
    viol = (
        p.where(F.col("keep_a") & F.col("keep_b"))
        .groupBy(F.col("cell_a").alias("cell"))
        .agg(F.count("*").alias("violating"))
    )
    wit = (
        p.where(~F.col("keep_a") & F.col("keep_b"))
        .select(F.col("cell_a").alias("cell"), F.col("id_a").alias("vec_id"))
        .union(
            p.where(F.col("keep_a") & ~F.col("keep_b")).select(
                F.col("cell_a").alias("cell"), F.col("id_b").alias("vec_id")
            )
        )
        .distinct()
        .groupBy("cell")
        .agg(F.count("*").alias("n_witnessed"))
    )
    base = exp.groupBy("cell").agg(
        F.count("*").alias("n"), F.sum(F.col("keep").cast("int")).alias("n_kept")
    )
    return (
        base.join(viol, "cell", "left")
        .join(wit, "cell", "left")
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.col("n").cast("long").alias("n"),
            F.col("n_kept").cast("long").alias("n_kept"),
            F.coalesce("violating", F.lit(0)).cast("long").alias("violating_kept_pairs"),
            (F.col("n") - F.col("n_kept") - F.coalesce("n_witnessed", F.lit(0)))
            .cast("long")
            .alias("dropped_without_witness"),
        )
    )


_REPAIR_DEBUG_EXPORT = os.path.join(tempfile.gettempdir(), "jrs_repair_debug")


def q_repair_debug(spark, sf_dir):
    """Per-layer observability rollup over the reference-shaped
    ``repair_with_debug`` records (lib/json_remedy.ex:464-636): how
    many docs each layer processed / skipped, and the layer's total
    repair count across the corpus.  Export-oracle: the kernel emits
    one (layer, status, repairs) row per doc-layer step; those rows
    are exported and DuckDB independently recomputes the
    status-pivoted rollup (kernel membership rows-only by design, the
    distributed aggregation value-checked)."""
    import pandas as pd

    d = _t(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)

    def gen(batches):
        from json_remedy_spark.kernel.pipeline import repair_with_debug

        for pdf in batches:
            rows = []
            for t in pdf["text"]:
                _, dbg = repair_with_debug(t or "")
                for step in dbg["steps"]:
                    rows.append(
                        (step["layer"], step["status"], int(step.get("repair_count", 0)))
                    )
            out = pd.DataFrame(rows, columns=["layer", "status", "repairs"])
            out["repairs"] = out["repairs"].astype("int64")
            yield out

    steps = d.select("text").mapInPandas(
        gen, schema="layer string, status string, repairs long"
    ).persist()  # export write + rollup share one kernel materialization
    steps.write.mode("overwrite").parquet(_REPAIR_DEBUG_EXPORT)
    processed = F.col("status").isin("validated", "processed")
    return steps.groupBy("layer").agg(
        F.sum(F.when(processed, 1).otherwise(0)).cast("long").alias("n_processed"),
        F.sum(F.when(F.col("status") == "skipped", 1).otherwise(0)).cast("long").alias("n_skipped"),
        F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).cast("long").alias("n_error"),
        F.sum("repairs").cast("long").alias("total_repairs"),
    )


_REPAIR_ACTIONS_EXPORT = os.path.join(tempfile.gettempdir(), "jrs_repair_actions")


def q_repair_metrics(spark, sf_dir):
    """Repair-rule frequency table (reference analyze/1).  Export-
    oracle: per-occurrence action rows are exported and DuckDB
    independently recomputes the frequency groupBy (mirrors
    ``operators/metrics.py:repair_action_frequencies``; persisted so
    export + rollup share one UDF materialization)."""
    from json_remedy_spark.operators.repair_udf import make_repair_udf

    d = _t(spark, sf_dir, "documents")
    exploded = (
        d.select(make_repair_udf()(F.col("text")).alias("r"))
        .select(F.explode_outer("r.actions").alias("action"))
        .where(F.col("action").isNotNull())
        .persist()
    )
    exploded.write.mode("overwrite").parquet(_REPAIR_ACTIONS_EXPORT)
    return exploded.groupBy("action").agg(F.count("*").cast("long").alias("n"))


# Export-oracle placeholder schemas.  The driver always invokes the
# query function (which writes the export) before running its oracle
# SQL, but EXPLAIN-only consumers — the oracle-wellformedness test, a
# fresh host whose /tmp was cleared — need the read_parquet() targets
# to exist.  Column names/types mirror exactly what each query exports.
EXPORT_SCHEMAS: dict[str, str] = {
    _LSH_TOPK_EXPORT: "q_id BIGINT, vec_id BIGINT",
    _IVF_TOPK_EXPORT: "q_id BIGINT, vec_id BIGINT",
    _IVF_APPEND_EXPORT: "q_id BIGINT, vec_id BIGINT",
    _IVF_SQ8_EXPORT: "q_id BIGINT, vec_id BIGINT",
    _IVF_PQ_EXPORT: "q_id BIGINT, vec_id BIGINT",
    # ivf_pq_topk rebuilds its whole index dir in-query, so this
    # placeholder never reaches what the query reads
    os.path.join(_IVF_PQ_INDEX, "codebooks"): "sub INTEGER, code INTEGER, pos INTEGER, val BIGINT",
    _ANN_EXPORT: "method VARCHAR, q_id BIGINT, vec_id BIGINT",
    _SEMDEDUP_EXPORT: "vec_id BIGINT, cell INTEGER, keep BOOLEAN",
    _LAYER_HITS_EXPORT: "layer VARCHAR, hits INTEGER",
    _REPAIR_ACTIONS_EXPORT: "action VARCHAR",
    _BPE_MERGES_EXPORT: "rank BIGINT, a VARCHAR, b VARCHAR",
    _BYTE_BPE_MERGES_EXPORT: "rank BIGINT, a VARCHAR, b VARCHAR",
    _PIPE_FUNNEL_EXPORT: "doc_id BIGINT, ok BOOLEAN, nonempty BOOLEAN",
    _REPAIR_DEBUG_EXPORT: "layer VARCHAR, status VARCHAR, repairs BIGINT",
}


def ensure_export_placeholders() -> list[str]:
    """Write an empty, schema-correct placeholder parquet for any
    export path that has no parquet yet; returns the paths written."""
    import duckdb as _dd

    written = []
    for path, schema in EXPORT_SCHEMAS.items():
        if os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        ):
            continue
        os.makedirs(path, exist_ok=True)
        cols = ", ".join(
            f"CAST(NULL AS {c.strip().split(' ', 1)[1]}) AS {c.strip().split(' ', 1)[0]}"
            for c in schema.split(",")
        )
        target = os.path.join(path, "placeholder.parquet")
        _dd.sql(f"COPY (SELECT {cols} WHERE false) TO '{target}' (FORMAT PARQUET)")
        written.append(target)
    return written


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering is deliberate — a standing last-witnessed-round rotation
    # (VERDICT r5 #1): the driver's correctness artifact covers roughly
    # the FIRST 50 entries in dict order, so entries NEW this round lead,
    # followed by the 43 whose last green driver row is CORRECTNESS_r04
    # (their code changed in r5: hub-cap default, dedup refactors), then
    # the 50 witnessed green in CORRECTNESS_r05.  Every name then has a
    # green row at post-r5 code across r5∪r6.
    return {
        # --- new this round (r6) ---
        "bpe_merges_bytes": q_bpe_merges_bytes,
        "bpe_encode_bytes": q_bpe_encode_bytes,
        "pack_byte_token_ids": q_pack_byte_token_ids,
        "ivf_pq_topk": q_ivf_pq_topk,
        "incremental_fuzzy_dedup": q_incremental_fuzzy_dedup,
        # changed this round (url-gate stage added) -> re-witness now
        "corpus_funnel": q_corpus_funnel,
        # --- last witnessed in CORRECTNESS_r04.json (rotate to front) ---
        "pipeline_funnel": q_pipeline_funnel,
        "main_content": q_main_content,
        "simhash": q_simhash,
        "simhash_near_dup": q_simhash_near_dup,
        "lsh_jaccard_verified": q_lsh_jaccard_verified,
        "dedup_components": q_dedup_components,
        "dedup_cluster_sizes": q_dedup_cluster_sizes,
        "decontaminate": q_decontaminate,
        "fuzzy_decontaminate": q_fuzzy_decontaminate,
        "mixture_sample": q_mixture_sample,
        "corpus_report": q_corpus_report,
        "bpe_pair_counts": q_bpe_pair_counts,
        "bpe_merges": q_bpe_merges,
        "bpe_tokens": q_bpe_tokens,
        "contamination_overlap": q_contamination_overlap,
        "pack_token_budget": q_pack_token_budget,
        "stratified_sample": q_stratified_sample,
        "token_shards": q_token_shards,
        "line_dedup": q_line_dedup,
        "host_boilerplate": q_host_boilerplate,
        "dup_span_removal": q_dup_span_removal,
        "normalize_text": q_normalize_text,
        "domain_stats": q_domain_stats,
        "domain_cap": q_domain_cap,
        "fasttext_langid": q_fasttext_langid,
        "quality_classifier": q_quality_classifier,
        "dsir_weights": q_dsir_weights,
        "dsir_select": q_dsir_select,
        "vocab_stats": q_vocab_stats,
        "ngram_repetition": q_ngram_repetition,
        "cosine_topk": q_cosine_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_dedup_components": q_embedding_dedup_components,
        "langid": q_langid,
        "quality_stats": q_quality_stats,
        "pii_scrub": q_pii_scrub,
        "token_stats": q_token_stats,
        "repair_predicates": q_repair_predicates,
        "can_repair": q_can_repair,
        "event_metrics": q_event_metrics,
        "sessionize": q_sessionize,
        "keep_drop": q_keep_drop,
        "repair_ok_fastpath": q_repair_ok_fastpath,
        # --- witnessed green in CORRECTNESS_r05.json ---
        "winnow_fingerprints": q_winnow_fingerprints,
        "media_features": q_media_features,
        "media_meta": q_media_meta,
        "frame_sample": q_frame_sample,
        "media_near_dup": q_media_near_dup,
        "ivf_ann_topk": q_ivf_ann_topk,
        "ivf_append_topk": q_ivf_append_topk,
        "soft_dedup_weights": q_soft_dedup_weights,
        "ivf_sq8_topk": q_ivf_sq8_topk,
        "bm25_topk": q_bm25_topk,
        "bm25_index_topk": q_bm25_index_topk,
        "chunk_documents": q_chunk_documents,
        "pack_sequences": q_pack_sequences,
        "qc_train": q_qc_train,
        "qc_trained_scores": q_qc_trained_scores,
        "bpe_encode": q_bpe_encode,
        "pack_token_ids": q_pack_token_ids,
        "url_features": q_url_features,
        "perplexity": q_perplexity,
        "ppl_histogram": q_ppl_histogram,
        "ppl_buckets": q_ppl_buckets,
        "trigram_lm": q_trigram_lm,
        "ppl_trained": q_ppl_trained,
        "kn_perplexity": q_kn_perplexity,
        "script_mix": q_script_mix,
        "canonical_url": q_canonical_url,
        "url_dedup": q_url_dedup,
        "outlink_stats": q_outlink_stats,
        "page_meta": q_page_meta,
        "anchor_texts": q_anchor_texts,
        "robots_filter": q_robots_filter,
        "blocklist_filter": q_blocklist_filter,
        "html_text": q_html_text,
        "domain_rank": q_domain_rank,
        "lsh_ann_topk": q_lsh_ann_topk,
        "ann_recall": q_ann_recall,
        "semantic_dedup": q_semantic_dedup,
        "semantic_dedup_verified": q_semantic_dedup_verified,
        "repair_metrics": q_repair_metrics,
        "repair_debug": q_repair_debug,
        "layer_hits": q_layer_hits,
        "repair_documents": q_repair_documents,
        "exact_dedup": q_exact_dedup,
        "incremental_dedup": q_incremental_dedup,
        "minhash_signatures": q_minhash_signatures,
        "lsh_candidate_pairs": q_lsh_candidate_pairs,
        "jaccard_pairs": q_jaccard_pairs,
        "lsh_recall": q_lsh_recall,
        "filter_funnel": q_filter_funnel,
    }


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------

_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_SHINGLES = f"""
  SELECT doc_id, unnest(list_distinct(
    list_transform(
      range(1, greatest(len(regexp_split_to_array({_NORM}, ' ')) - 1, 2)),
      i -> array_to_string((regexp_split_to_array({_NORM}, ' '))[i : i + 2], ' ')
    ))) AS shingle
  FROM documents
"""


def _hex_to_int(expr: str, start: int, n: int) -> str:
    """Portable hex->BIGINT (DuckDB has no conv()): nibble-weighted sum."""
    parts = [
        f"(strpos('0123456789abcdef', substr({expr}, {start + p}, 1)) - 1) * {16 ** (n - 1 - p)}"
        for p in range(n)
    ]
    return "(" + " + ".join(parts) + ")::BIGINT"


def _minhash_select() -> str:
    from json_remedy_spark.functions.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    h = _hex_to_int("hx", 1, 12)
    aggs = ", ".join(
        f"min((h * {MINHASH_A[k]} + {MINHASH_B[k]}) % {MINHASH_P}) AS mh{k}"
        for k in range(MINHASH_K)
    )
    return f"""
      SELECT doc_id, {aggs} FROM (
        SELECT doc_id, {h} AS h
        FROM (SELECT doc_id, md5(shingle) AS hx FROM ({_SHINGLES}))
      ) GROUP BY doc_id
    """


def _lsh_ctes() -> str:
    """Composable CTE chain: sig -> banded -> cand (distinct LSH
    candidate pairs), shared by the raw-candidates and the fused
    candidates->jaccard oracles."""
    rows = MINHASH_K // LSH_BANDS
    band_selects = []
    for b in range(LSH_BANDS):
        cols = " || '|' || ".join(f"mh{b * rows + r}::VARCHAR" for r in range(rows))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM sig"
        )
    banded = " UNION ALL ".join(band_selects)
    return f"""
      sig AS ({_minhash_select()}), banded AS ({banded}),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
        WHERE a.doc_id < b.doc_id
      )
    """


def _lsh_pairs_sql() -> str:
    return f"WITH {_lsh_ctes()} SELECT doc_a, doc_b FROM cand"


def _lsh_verified_sql() -> str:
    return f"""
      WITH {_lsh_ctes()},
      sh AS ({_SHINGLES}),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
      )
      SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b,
             round(n_common / (sa.n_sh + sb.n_sh - n_common), 6)::DOUBLE AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    """


def _dedup_components_sql() -> str:
    """Connected components via a recursive CTE: min reachable doc_id
    over the undirected verified-pair graph — the independent check of
    the engine's min-label propagation."""
    return f"""
      WITH RECURSIVE {_lsh_ctes()},
      sh AS ({_SHINGLES}),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
      ),
      verified AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
      ),
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM verified
        UNION
        SELECT doc_b, doc_a FROM verified
      ),
      reach AS (
        SELECT doc_id AS u, doc_id AS r FROM documents
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.v
      )
      SELECT u::BIGINT AS doc_id, min(r)::BIGINT AS rep_id,
             (u = min(r)) AS is_canonical
      FROM reach GROUP BY u
    """


def _fuzzy_decontaminate_sql() -> str:
    """Bipartite LSH + exact-jaccard verify, recomputed end-to-end:
    the shared sig/banded CTEs, a corpus-x-eval bucket join (sides
    split by `source`), and the same rounded jaccard + 0.5 gate."""
    base = _lsh_ctes().split("cand AS")[0].rstrip().rstrip(",")
    return f"""
      WITH {base},
      cand AS (SELECT DISTINCT c.doc_id AS doc_id, e.doc_id AS eval_id
               FROM banded c JOIN banded e
                 ON c.band = e.band AND c.bucket = e.bucket
               JOIN documents dc ON dc.doc_id = c.doc_id
               JOIN documents de ON de.doc_id = e.doc_id
               WHERE dc.source != 'src0' AND de.source = 'src0'),
      sh AS ({_SHINGLES}),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT cand.doc_id, cand.eval_id, count(*) AS n_common
                FROM cand JOIN sh a ON a.doc_id = cand.doc_id
                          JOIN sh b ON b.doc_id = cand.eval_id
                                   AND b.shingle = a.shingle
                GROUP BY cand.doc_id, cand.eval_id)
      SELECT i.doc_id::BIGINT AS doc_id, i.eval_id::BIGINT AS eval_id,
             round(n_common / (sa.n + sb.n - n_common), 6)::DOUBLE AS jaccard,
             (round(n_common / (sa.n + sb.n - n_common), 6) >= 0.5) AS contaminated
      FROM inter i JOIN sz sa ON sa.doc_id = i.doc_id
                   JOIN sz sb ON sb.doc_id = i.eval_id
      WHERE round(n_common / (sa.n + sb.n - n_common), 6) >= 0.0
    """


def _decontaminate_sql() -> str:
    return f"""
      WITH sh AS ({_SHINGLES}),
      ev AS (SELECT doc_id FROM documents WHERE source = 'src0'),
      ev_sh AS (SELECT DISTINCT shingle FROM sh JOIN ev USING (doc_id)),
      corpus AS (SELECT doc_id FROM documents WHERE source <> 'src0'),
      hits AS (
        SELECT DISTINCT sh.doc_id FROM sh
        JOIN ev_sh USING (shingle)
        JOIN corpus USING (doc_id)
      )
      SELECT c.doc_id::BIGINT AS doc_id, (h.doc_id IS NOT NULL) AS contaminated
      FROM corpus c LEFT JOIN hits h ON h.doc_id = c.doc_id
    """


def _pack_token_budget_sql() -> str:
    tok = textstats.stats_sql()["token_count"]
    return f"""
      WITH t AS (
        SELECT doc_id, lang, coalesce(({tok}), 0)::BIGINT AS n_tokens FROM documents
      ),
      c AS (
        SELECT doc_id, lang, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS cum_tokens
        FROM t
      )
      SELECT doc_id::BIGINT AS doc_id, lang, n_tokens,
             cum_tokens::BIGINT AS cum_tokens
      FROM c WHERE cum_tokens - n_tokens < {PACK_BUDGET}
    """


def _ann_topk_export_sql(path: str) -> str:
    """Recompute cosine + rank in DuckDB for an exported (q_id, vec_id)
    candidate set — the scoring math of the approximate top-k paths,
    independently value-checked (membership comes from the export)."""
    return f"""
      WITH cand AS (
        SELECT DISTINCT q_id, vec_id FROM read_parquet('{path}/*.parquet')
      ),
      v AS (
        SELECT vec_id, list_transform(embedding::DOUBLE[], x -> x /
          greatest(sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y*y))), 1e-12)) AS unit
        FROM embeddings
      ),
      scored AS (
        SELECT c.q_id, c.vec_id,
               round(list_sum(list_transform(list_zip(a.unit, b.unit), p -> p[1] * p[2])), 6) AS cos
        FROM cand c
        JOIN v a ON a.vec_id = c.vec_id
        JOIN v b ON b.vec_id = c.q_id
      )
      SELECT q_id::BIGINT AS q_id, vec_id::BIGINT AS vec_id, cos::DOUBLE AS cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id)::BIGINT AS rank
      FROM scored
    """


def _ivf_sq8_export_sql(path: str) -> str:
    """Replay the sq8 quantization from the source floats, then
    recompute cos + rank for the exported candidate set: the corpus
    side goes float -> int8 code -> dequant -> unit (mirroring the
    index's stored form), the query side stays full precision —
    exactly the asymmetry of the Spark scoring path."""
    return f"""
      WITH cand AS (
        SELECT DISTINCT q_id, vec_id FROM read_parquet('{path}/*.parquet')
      ),
      src AS (
        SELECT vec_id, embedding::DOUBLE[] AS x,
               greatest(list_max(list_transform(embedding::DOUBLE[], v -> abs(v))), 1e-30) AS scale
        FROM embeddings
      ),
      dq AS (
        SELECT vec_id,
               list_transform(x, v -> floor(v / scale * 127.0 + 0.5) * (scale / 127.0)) AS deq
        FROM src
      ),
      vu AS (
        SELECT vec_id, list_transform(deq, v -> v /
          greatest(sqrt(list_sum(list_transform(deq, w -> w*w))), 1e-12)) AS unit
        FROM dq
      ),
      qu AS (
        SELECT vec_id, list_transform(x, v -> v /
          greatest(sqrt(list_sum(list_transform(x, w -> w*w))), 1e-12)) AS unit
        FROM src
      ),
      scored AS (
        SELECT c.q_id, c.vec_id,
               round(list_sum(list_transform(list_zip(a.unit, b.unit), p -> p[1] * p[2])), 6) AS cos
        FROM cand c
        JOIN vu a ON a.vec_id = c.vec_id
        JOIN qu b ON b.vec_id = c.q_id
      )
      SELECT q_id::BIGINT AS q_id, vec_id::BIGINT AS vec_id, cos::DOUBLE AS cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id)::BIGINT AS rank
      FROM scored
    """


def _ivf_pq_export_sql(export: str, index: str) -> str:
    """Replay product quantization end-to-end from the source floats
    plus the STORED codebooks (the export-oracle pattern: the query
    writes the index before the driver runs this SQL).  Every stage is
    integer-exact — max-abs fixed-point grid (no float summation
    inside the boundary), per-subspace integer-L2 argmin with the
    ties-to-smallest-code tie-break, BIGINT ADC dot and norm^2s — so
    the final ``dot / greatest(sqrt(r2)*sqrt(q2), 1e-30)`` is the same
    fixed sequence of correctly-rounded IEEE ops as the Arrow kernel's
    (`similarity._make_pq_adc_udf`)."""
    from json_remedy_spark.functions.similarity import PQ_FIXED_POINT

    return f"""
      WITH cand AS (
        SELECT DISTINCT q_id, vec_id FROM read_parquet('{export}/*.parquet')
      ),
      books AS (
        SELECT sub, code, pos, val FROM read_parquet('{index}/codebooks/*.parquet')
      ),
      dims AS (SELECT (max(sub) + 1) * (max(pos) + 1) AS d, max(pos) + 1 AS dsub FROM books),
      src AS (
        SELECT vec_id, embedding::DOUBLE[] AS x,
               greatest(list_max(list_transform(embedding::DOUBLE[], v -> abs(v))), 1e-30) AS s
        FROM embeddings
      ),
      -- element-wise fixed-point quantization (0-based pos)
      qx AS (
        SELECT vec_id AS q_id, u.i - 1 AS pos,
               CAST(floor(x[u.i] / s * {PQ_FIXED_POINT}.0 + 0.5) AS BIGINT) AS v
        FROM src, LATERAL (SELECT unnest(range(1, len(x) + 1)) AS i) u
        WHERE vec_id IN (SELECT DISTINCT q_id FROM cand)
      ),
      xe AS (
        SELECT vec_id, u.i - 1 AS pos,
               CAST(floor(x[u.i] / s * {PQ_FIXED_POINT}.0 + 0.5) AS BIGINT) AS v
        FROM src, LATERAL (SELECT unnest(range(1, len(x) + 1)) AS i) u
        WHERE vec_id IN (SELECT DISTINCT vec_id FROM cand)
      ),
      -- per-subspace integer-L2 distances and argmin assignment
      dist AS (
        SELECT xe.vec_id, b.sub, b.code, sum((xe.v - b.val) * (xe.v - b.val)) AS d
        FROM xe
        JOIN dims ON TRUE
        JOIN books b ON b.sub = xe.pos // dims.dsub AND b.pos = xe.pos % dims.dsub
        GROUP BY 1, 2, 3
      ),
      codes AS (
        SELECT vec_id, sub, code FROM (
          SELECT vec_id, sub, code,
                 row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
          FROM dist
        ) WHERE rn = 1
      ),
      adc AS (
        SELECT c.vec_id, q.q_id, sum(b.val * q.v) AS dot
        FROM codes c
        JOIN books b USING (sub, code)
        JOIN dims ON TRUE
        JOIN qx q ON q.pos = c.sub * dims.dsub + b.pos
        GROUP BY 1, 2
      ),
      rnorm AS (
        SELECT c.vec_id, sum(b.val * b.val) AS r2
        FROM codes c JOIN books b USING (sub, code)
        GROUP BY 1
      ),
      qnorm AS (SELECT q_id, sum(v * v) AS q2 FROM qx GROUP BY 1),
      scored AS (
        SELECT cand.q_id, cand.vec_id,
               round(a.dot::DOUBLE /
                     greatest(sqrt(r.r2::DOUBLE) * sqrt(n.q2::DOUBLE), 1e-30), 6) AS cos
        FROM cand
        JOIN adc a ON a.q_id = cand.q_id AND a.vec_id = cand.vec_id
        JOIN rnorm r ON r.vec_id = cand.vec_id
        JOIN qnorm n ON n.q_id = cand.q_id
      )
      SELECT q_id::BIGINT AS q_id, vec_id::BIGINT AS vec_id, cos::DOUBLE AS cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id)::BIGINT AS rank
      FROM scored
    """


def _url_features_oracle_sql() -> str:
    from json_remedy_spark.functions import webgraph

    return f"""
      WITH p AS (
        SELECT o_orderkey AS page_id,
               'https://sub' || (o_custkey % 3) || '.site' || (o_orderkey % 5) || '.com'
               || CASE WHEN o_orderkey % 11 = 0 THEN ':8080' ELSE '' END
               || CASE WHEN o_orderkey % 13 = 0 THEN '' ELSE
                    (CASE WHEN o_orderkey % 17 = 0 THEN '/~u' ELSE '/cat' END)
                    || (o_orderkey % 4) || '/item' || (o_orderkey % 1000) END
               || CASE WHEN o_orderkey % 3 = 0 THEN '?a=1&b=' || (o_orderkey % 9) ELSE '' END
               AS url
        FROM orders
      )
      {webgraph.url_features_sql('url', 'page_id', 'p')}
    """


def _qc_train_ctes(lang_expr: str, passes: str) -> str:
    """Shared CTE block re-deriving the trained classifier weights
    from scratch: teacher labels (the keep rule), bigram bucket
    counts, NB smoothing (alpha=1), log and integer quantization —
    the exact math of ``classifier.train_quality_classifier``."""
    from json_remedy_spark.functions.langid import FT_BUCKETS as _B

    bucket = _hex_to_int("md5(bigram)", 1, 8)
    return f"""
      labels AS (
        SELECT doc_id,
               CASE WHEN ({lang_expr}) = 'en' AND {passes} THEN 'hi' ELSE 'lo' END AS y
        FROM documents
      ),
      lt AS (SELECT doc_id, lower(text) AS t FROM documents),
      bg AS (
        SELECT doc_id, substr(t, x.i, 2) AS bigram
        FROM lt, LATERAL (SELECT unnest(range(1, len(t))) AS i) x
      ),
      bb AS (SELECT doc_id, ({bucket} % {_B}) AS bucket FROM bg),
      cnt AS (
        SELECT l.y, bb.bucket, count(*) AS c
        FROM bb JOIN labels l USING (doc_id) GROUP BY 1, 2
      ),
      tot AS (SELECT y, sum(c) AS t FROM cnt GROUP BY y),
      grid AS (
        SELECT tot.y, tot.t, g.bucket
        FROM tot CROSS JOIN (SELECT unnest(range({_B})) AS bucket) g
      ),
      w AS (
        SELECT grid.y, grid.bucket,
               round(1000.0 * ln((coalesce(cnt.c, 0) + 1.0) / (grid.t + {_B}.0)))::BIGINT AS weight
        FROM grid LEFT JOIN cnt ON cnt.y = grid.y AND cnt.bucket = grid.bucket
      )
    """


def _token_shards_sql() -> str:
    tok = textstats.stats_sql()["token_count"]
    return f"""
      WITH t AS (
        SELECT doc_id, coalesce(({tok}), 0)::BIGINT AS n_tokens FROM documents
      ),
      c AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY doc_id) AS cum_tokens
        FROM t
      )
      SELECT (floor((cum_tokens - n_tokens) / {SHARD_TOKENS}))::BIGINT AS shard,
             count(*)::BIGINT AS n_docs,
             sum(n_tokens)::BIGINT AS total_tokens,
             min(doc_id)::BIGINT AS first_doc,
             max(doc_id)::BIGINT AS last_doc
      FROM c GROUP BY 1
    """


def _stratified_sample_sql() -> str:
    bucket = _hex_to_int("md5(doc_id::VARCHAR)", 1, 8)
    return f"""
      SELECT doc_id::BIGINT AS doc_id, lang AS stratum
      FROM documents
      WHERE ({bucket} % 100) < {SAMPLE_PCT}
    """


def _fasttext_langid_sql() -> str:
    bucket = _hex_to_int("md5(bigram)", 1, 8)
    best = "greatest(s_de, s_en, s_fr)"
    return f"""
      WITH lt AS (SELECT doc_id, lower(text) AS t FROM documents),
      bg AS (
        SELECT doc_id, substr(t, x.i, 2) AS bigram
        FROM lt, LATERAL (SELECT unnest(range(1, len(t))) AS i) x
      ),
      w(bucket, w_de, w_en, w_fr) AS (VALUES {langid.weights_values_sql(langid.ft_weight_rows())}),
      bb AS (SELECT doc_id, ({bucket} % {langid.FT_BUCKETS}) AS bucket FROM bg),
      s AS (
        SELECT bb.doc_id,
               coalesce(sum(w_de), 0) AS s_de,
               coalesce(sum(w_en), 0) AS s_en,
               coalesce(sum(w_fr), 0) AS s_fr
        FROM bb LEFT JOIN w USING (bucket) GROUP BY bb.doc_id
      )
      SELECT d.doc_id::BIGINT AS doc_id,
             CASE WHEN s.doc_id IS NULL OR {best} <= 0 THEN 'xx'
                  WHEN s_de = {best} THEN 'de'
                  WHEN s_en = {best} THEN 'en'
                  ELSE 'fr' END AS ft_lang,
             coalesce(s_de, 0)::BIGINT AS s_de,
             coalesce(s_en, 0)::BIGINT AS s_en,
             coalesce(s_fr, 0)::BIGINT AS s_fr
      FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
    """


def _outlink_stats_sql() -> str:
    from json_remedy_spark.functions import webgraph

    return f"""
      WITH p AS (
        SELECT 'page://' || o_orderkey AS url,
               '<html><body><a href="https://site' || (o_orderkey % 7)
               || '.com/p/' || o_orderkey
               || '">x</a> <a href="HTTPS://Site' || (o_custkey % 5)
               || '.ORG/q">y</a><a href="/relative/path">z</a></body></html>' AS html
        FROM orders
      ),
      links AS (
        SELECT url AS src_url,
               unnest(regexp_extract_all(html, '{webgraph.HREF_PATTERN}', 1)) AS href
        FROM p
      ),
      hosted AS (
        SELECT src_url,
               lower(regexp_extract(href, '{webgraph.HOST_PATTERN}', 1)) AS dst_host
        FROM links
      )
      SELECT dst_host, count(*)::BIGINT AS n_links,
             count(DISTINCT src_url)::BIGINT AS n_src_pages
      FROM hosted WHERE dst_host != '' GROUP BY dst_host
    """


def _webgraph_html_to_text_sql() -> str:
    from json_remedy_spark.functions import webgraph

    return webgraph.html_to_text_sql("html")


def _anchor_texts_sql() -> str:
    from json_remedy_spark.functions import webgraph

    pat = webgraph.ANCHOR_PATTERN
    return f"""
      WITH p AS (
        SELECT 'page://' || o_orderkey AS url,
               '<p><a href="https://a' || (o_orderkey % 9)
               || '.com/x" class="big" rel="nofollow"> Order ' || o_orderkey
               || ' </a><a href="/local/' || o_orderkey
               || '">home</a></p>' AS html
        FROM orders
      ),
      z AS (
        SELECT url AS src_url,
               unnest(list_zip(regexp_extract_all(html, '{pat}', 1),
                               regexp_extract_all(html, '{pat}', 2))) AS la
        FROM p
      )
      SELECT src_url, la[1] AS href, trim(la[2]) AS anchor FROM z
    """


def _script_mix_oracle_sql() -> str:
    from json_remedy_spark.functions.langid import script_mix_sql

    return f"""
      SELECT doc_id::BIGINT AS doc_id, {script_mix_sql("text")}
      FROM (
        SELECT doc_id,
               substr(text, 1, 80) ||
               CASE doc_id % 4 WHEN 0 THEN ' привет мир'
                               WHEN 1 THEN ' 漢字とかな'
                               WHEN 2 THEN ' Ελληνικά και 한국어'
                               ELSE '' END AS text
        FROM documents)
    """


def _page_meta_sql() -> str:
    from json_remedy_spark.functions import webgraph

    return f"""
      WITH p AS (
        SELECT 'page://' || o_orderkey AS url,
               CASE o_orderkey % 4
                 WHEN 0 THEN '<html lang="en"><head><title>Order ' || o_orderkey
                   || '</title><link rel="canonical" href="https://shop.example.com/o/'
                   || o_orderkey
                   || '"/><meta name="robots" content="noindex,nofollow"></head><body>x</body></html>'
                 WHEN 1 THEN '<html lang="de"><head><title>Bestellung ' || o_orderkey
                   || '</title></head><body>x</body></html>'
                 WHEN 2 THEN '<html><body>plain</body></html>'
                 ELSE '<HTML Lang="fr"><HEAD><TITLE>Commande ' || o_orderkey
                   || '</TITLE></HEAD></HTML>'
               END AS html
        FROM orders
      )
      SELECT url,
             regexp_matches(html, '{webgraph.NOINDEX_PATTERN}') AS noindex,
             regexp_extract(html, '{webgraph.CANONICAL_PATTERN}', 1) AS canonical,
             regexp_extract(html, '{webgraph.TITLE_PATTERN}', 1) AS title,
             regexp_extract(html, '{webgraph.HTML_LANG_PATTERN}', 1) AS html_lang
      FROM p
    """


def _domain_rank_sql(iters: int = 5, damping: float = 0.85) -> str:
    """PageRank unrolled: one CTE per round, same formulation as
    webgraph.pagerank (uniform start 1.0, no dangling redistribution)."""
    base = f"""
      WITH edges AS (
        SELECT DISTINCT 'h' || (o_orderkey % 40) AS src,
                        'h' || (o_custkey % 40) AS dst
        FROM orders WHERE o_orderkey % 40 != o_custkey % 40
      ),
      nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      deg AS (SELECT src, count(*)::DOUBLE AS outd FROM edges GROUP BY src),
      r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes)"""
    prev = "r0"
    for i in range(1, iters + 1):
        base += f""",
      r{i} AS (
        SELECT n.node,
               ({1.0 - damping} + {damping} * coalesce(sum(p.rank / deg.outd), 0))::DOUBLE AS rank
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN r{i - 1} p ON p.node = e.src
        LEFT JOIN deg ON deg.src = e.src
        GROUP BY n.node
      )"""
        prev = f"r{i}"
    return base + f" SELECT node, round(rank, 4)::DOUBLE AS rank FROM {prev}"


def _quality_classifier_sql() -> str:
    from json_remedy_spark.functions import classifier

    bucket = _hex_to_int("md5(bigram)", 1, 8)
    return f"""
      WITH t0 AS (
        SELECT doc_id,
               lower(text || CASE doc_id % 3
                 WHEN 0 THEN ' because research study evidence'
                 WHEN 1 THEN ' click subscribe free offer bonus'
                 ELSE '' END) AS t
        FROM documents
      ),
      bg AS (
        SELECT doc_id, substr(t, x.i, 2) AS bigram
        FROM t0, LATERAL (SELECT unnest(range(1, len(t))) AS i) x
      ),
      w(bucket, w_hi, w_lo) AS (VALUES {langid.weights_values_sql(classifier.qc_weight_rows())}),
      bb AS (SELECT doc_id, ({bucket} % {langid.FT_BUCKETS}) AS bucket FROM bg),
      s AS (
        SELECT bb.doc_id,
               coalesce(sum(w_hi), 0) AS s_hi,
               coalesce(sum(w_lo), 0) AS s_lo
        FROM bb LEFT JOIN w USING (bucket) GROUP BY bb.doc_id
      )
      SELECT d.doc_id::BIGINT AS doc_id,
             coalesce(s_hi, 0)::BIGINT AS s_hi,
             coalesce(s_lo, 0)::BIGINT AS s_lo,
             (coalesce(s_hi, 0) - coalesce(s_lo, 0))::BIGINT AS margin,
             CASE WHEN coalesce(s_hi, 0) - coalesce(s_lo, 0) > 0
                  THEN 'high' ELSE 'low' END AS quality_label
      FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
    """


def _bpe_wf(limit: int | None = None) -> str:
    """Word-frequency CTE; ``limit`` mirrors bpe_learn's deterministic
    max_vocab_words cut (freq desc, word asc) for the learning oracle —
    the encoding oracle segments the FULL vocabulary, as the kernel
    does."""
    cut = (
        f" QUALIFY row_number() OVER (ORDER BY freq DESC, word) <= {limit}"
        if limit
        else ""
    )
    return f"""
      words AS (SELECT doc_id,
                  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
                FROM documents),
      wf AS (SELECT word, count(*) AS freq FROM words GROUP BY word{cut})
    """


_BPE_WF = _bpe_wf()

# seg: round-r segmentation of every vocabulary word, driven by the
# exported merge table.  Tokens are DOUBLE-space separated (single
# edge sentinels): a match ' a  b ' -> ' ab ' consumes only the
# inner-adjacent space on each side, so neighbouring occurrences never
# share a delimiter and one left-to-right replace() pass equals BPE's
# greedy within-word merge EXACTLY — including doubled pairs like
# (a,n) in 'banana', where single-spacing would skip the second
# occurrence (its leading space was consumed by the first match).
_BPE_SEG = f"""
  m AS (SELECT rank, a, b FROM read_parquet('{_BPE_MERGES_EXPORT}/*.parquet')),
  seg AS (
    SELECT 0 AS r, word, freq,
           ' ' || array_to_string(
             list_transform(range(1, len(word) + 1), i -> word[i]), '  ') || ' ' AS s
    FROM wf
    UNION ALL
    SELECT seg.r + 1, seg.word, seg.freq,
           replace(seg.s, ' ' || m.a || '  ' || m.b || ' ',
                          ' ' || m.a || m.b || ' ')
    FROM seg JOIN m ON m.rank = seg.r
  )
"""


def _bpe_pair_counts_sql() -> str:
    return f"""
      WITH {_BPE_WF},
      p AS (SELECT word[x.i] AS a, word[x.i + 1] AS b, freq
            FROM wf, LATERAL (SELECT unnest(range(1, len(word))) AS i) x)
      SELECT a, b, sum(freq)::BIGINT AS cnt FROM p GROUP BY a, b
    """


def _bpe_merges_sql() -> str:
    from json_remedy_spark.functions.bpe import MAX_VOCAB_WORDS

    return f"""
      WITH RECURSIVE {_bpe_wf(MAX_VOCAB_WORDS)}, {_BPE_SEG},
      counts AS (
        SELECT seg.r, t.a, t.b, sum(seg.freq) AS cnt
        FROM seg,
             LATERAL (
               SELECT toks[i] AS a, toks[i + 1] AS b
               FROM (SELECT string_split(trim(seg.s), '  ') AS toks) z,
                    LATERAL (SELECT unnest(range(1, len(toks))) AS i) y
             ) t
        WHERE seg.r < (SELECT count(*) FROM m)
        GROUP BY seg.r, t.a, t.b
      )
      SELECT r::BIGINT AS rank, a, b FROM (
        SELECT r, a, b,
               row_number() OVER (PARTITION BY r ORDER BY cnt DESC, a, b) AS rn
        FROM counts) WHERE rn = 1 ORDER BY rank
    """


def _bpe_encode_sql() -> str:
    """Full encode replay: the seg CTE's final segmentation per word,
    the deterministic vocab (sorted alphabet then merge products by
    rank, duplicates keep the first id), then per-doc token
    re-enumeration in (word, token) order."""
    return f"""
      WITH RECURSIVE {_BPE_WF}, {_BPE_SEG},
      fin AS (SELECT word, string_split(trim(s), '  ') AS toks
              FROM seg WHERE r = (SELECT count(*) FROM m)),
      chars AS (
        SELECT DISTINCT word[x.i] AS tok
        FROM wf, LATERAL (SELECT unnest(range(1, len(word) + 1)) AS i) x
      ),
      cand AS (
        SELECT tok, 0 AS cls, tok AS k1, 0::BIGINT AS k2 FROM chars
        UNION ALL
        SELECT a || b, 1, '', rank FROM m
      ),
      dd AS (
        SELECT tok, cls, k1, k2,
               row_number() OVER (PARTITION BY tok ORDER BY cls, k2) AS rn
        FROM cand
      ),
      vocab AS (
        SELECT tok, row_number() OVER (ORDER BY cls, k1, k2) AS id
        FROM dd WHERE rn = 1
      ),
      dwords AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word,
               unnest(range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) + 1)) AS w_ord
        FROM documents
      ),
      tok_rows AS (
        SELECT d.doc_id, d.w_ord, y.i AS t_ord, f.toks[y.i] AS tok
        FROM dwords d
        JOIN fin f ON f.word = d.word,
             LATERAL (SELECT unnest(range(1, len(f.toks) + 1)) AS i) y
      )
      SELECT t.doc_id,
             (row_number() OVER (PARTITION BY t.doc_id ORDER BY t.w_ord, t.t_ord) - 1)::BIGINT AS pos,
             v.id::BIGINT AS token_id
      FROM tok_rows t JOIN vocab v ON v.tok = t.tok
    """


# ---- byte-level BPE replay --------------------------------------------
# The pattern value contains regex braces, so it is substituted as a
# variable (f-string re-parse never sees them); single quotes doubled
# for the SQL literal.
from json_remedy_spark.functions.bpe import BYTE_PRETOKEN_PATTERN as _BYTE_PAT

_BYTE_PAT_SQL = _BYTE_PAT.replace("'", "''")


def _byte_ptf(limit: int | None = None) -> str:
    """Pre-token frequency CTE (RE2 side of the Java/RE2-only regex
    contract); ``limit`` mirrors bpe_learn_bytes' deterministic
    max_vocab_words cut for the learning oracle."""
    cut = (
        f" QUALIFY row_number() OVER (ORDER BY freq DESC, pt) <= {limit}"
        if limit
        else ""
    )
    return f"""
      ptoks AS (
        SELECT doc_id,
               unnest(regexp_extract_all(text, '{_BYTE_PAT_SQL}')) AS pt,
               unnest(range(1, len(regexp_extract_all(text, '{_BYTE_PAT_SQL}')) + 1)) AS w_ord
        FROM documents),
      ptf AS (SELECT pt, count(*) AS freq FROM ptoks GROUP BY pt{cut})
    """


# round-r segmentation of every pre-token over HEX BYTE PAIRS: the
# utf-8 bytes come from hex(encode(pt)) (blob slicing is unsupported;
# round-4 note), split into 2-char cells, then the same double-space
# replace trick as the word-level seg CTE
_BYTE_SEG = f"""
  m AS (SELECT rank, a, b FROM read_parquet('{_BYTE_BPE_MERGES_EXPORT}/*.parquet')),
  seg AS (
    SELECT 0 AS r, pt, freq,
           ' ' || array_to_string(
             list_transform(range(1, len(hx) // 2 + 1),
                            i -> substr(hx, 2 * i - 1, 2)), '  ') || ' ' AS s
    FROM (SELECT pt, freq, lower(hex(encode(pt))) AS hx FROM ptf)
    UNION ALL
    SELECT seg.r + 1, seg.pt, seg.freq,
           replace(seg.s, ' ' || m.a || '  ' || m.b || ' ',
                          ' ' || m.a || m.b || ' ')
    FROM seg JOIN m ON m.rank = seg.r
  )
"""


def _byte_bpe_merges_sql() -> str:
    from json_remedy_spark.functions.bpe import MAX_VOCAB_WORDS

    return f"""
      WITH RECURSIVE {_byte_ptf(MAX_VOCAB_WORDS)}, {_BYTE_SEG},
      counts AS (
        SELECT seg.r, t.a, t.b, sum(seg.freq) AS cnt
        FROM seg,
             LATERAL (
               SELECT toks[i] AS a, toks[i + 1] AS b
               FROM (SELECT string_split(trim(seg.s), '  ') AS toks) z,
                    LATERAL (SELECT unnest(range(1, len(toks))) AS i) y
             ) t
        WHERE seg.r < (SELECT count(*) FROM m)
        GROUP BY seg.r, t.a, t.b
      )
      SELECT r::BIGINT AS rank, a, b FROM (
        SELECT r, a, b,
               row_number() OVER (PARTITION BY r ORDER BY cnt DESC, a, b) AS rn
        FROM counts) WHERE rn = 1 ORDER BY rank
    """


def _byte_bpe_encode_sql() -> str:
    """Full byte-level encode replay: final segmentation per
    pre-token, the deterministic vocab (all 256 bytes as ids 1..256 in
    byte order, then merge products by first rank — duplicates keep
    their first id and consume no slot), per-doc re-enumeration in
    (pre-token, token) order."""
    return f"""
      WITH RECURSIVE {_byte_ptf()}, {_BYTE_SEG},
      fin AS (SELECT pt, string_split(trim(s), '  ') AS toks
              FROM seg WHERE r = (SELECT count(*) FROM m)),
      base AS (SELECT printf('%02x', i) AS tok, (i + 1)::BIGINT AS id
               FROM range(0, 256) t(i)),
      mprod AS (SELECT a || b AS tok, min(rank) AS mr FROM m GROUP BY 1),
      mv AS (SELECT tok, (256 + row_number() OVER (ORDER BY mr))::BIGINT AS id
             FROM mprod),
      vocab AS (SELECT tok, id FROM base UNION ALL SELECT tok, id FROM mv),
      tok_rows AS (
        SELECT p.doc_id, p.w_ord, y.i AS t_ord, f.toks[y.i] AS tok
        FROM ptoks p JOIN fin f ON f.pt = p.pt,
             LATERAL (SELECT unnest(range(1, len(f.toks) + 1)) AS i) y
      )
      SELECT t.doc_id::BIGINT AS doc_id,
             (row_number() OVER (PARTITION BY t.doc_id ORDER BY t.w_ord, t.t_ord) - 1)::BIGINT AS pos,
             v.id::BIGINT AS token_id
      FROM tok_rows t JOIN vocab v ON v.tok = t.tok
    """


def _bpe_tokens_sql() -> str:
    return f"""
      WITH RECURSIVE {_BPE_WF}, {_BPE_SEG},
      fin AS (SELECT word, len(string_split(trim(s), '  ')) AS n
              FROM seg WHERE r = (SELECT count(*) FROM m)),
      per_doc AS (
        SELECT words.doc_id, sum(fin.n) AS n_tokens
        FROM words JOIN fin ON fin.word = words.word
        GROUP BY words.doc_id
      )
      SELECT d.doc_id::BIGINT AS doc_id,
             coalesce(p.n_tokens, 0)::BIGINT AS n_tokens
      FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """


def _corpus_report_sql() -> str:
    tok = textstats.stats_sql("text")["token_count"]
    grid = 64
    return f"""
      WITH t AS (SELECT lang, {tok} AS n_tok FROM documents),
      b AS (SELECT lang, n_tok, n_tok // {grid} AS tb FROM t),
      hist AS (SELECT lang, tb, count(*) AS n, sum(n_tok) AS tok
               FROM b GROUP BY lang, tb),
      cum AS (SELECT lang, tb, n, tok,
                     sum(n) OVER (PARTITION BY lang ORDER BY tb) AS cum,
                     sum(n) OVER (PARTITION BY lang) AS tot
              FROM hist)
      SELECT lang,
             max(tot)::BIGINT AS n_docs,
             sum(tok)::BIGINT AS total_tokens,
             round(sum(tok) / max(tot), 4)::DOUBLE AS mean_tokens,
             ((min(CASE WHEN cum * 2 >= tot THEN tb END) + 1) * {grid})::BIGINT AS p50_tokens,
             ((min(CASE WHEN cum * 10 >= tot * 9 THEN tb END) + 1) * {grid})::BIGINT AS p90_tokens
      FROM cum GROUP BY lang
    """


def _mixture_sample_sql() -> str:
    cases = " ".join(
        f"WHEN '{s}' THEN {float(r)}" for s, r in MIXTURE_RATES.items()
    )
    bucket = _hex_to_int("md5(doc_id::VARCHAR || ':' || source)", 1, 8)
    return f"""
      WITH r AS (
        SELECT doc_id, source,
               CASE source {cases} ELSE 1.0 END AS rate,
               ({bucket} % 10000) AS bucket
        FROM documents
      ),
      n AS (
        SELECT doc_id, source,
               (floor(rate)::INT +
                CASE WHEN bucket < round((rate - floor(rate)) * 10000)
                     THEN 1 ELSE 0 END) AS n_copies
        FROM r
      )
      SELECT doc_id::BIGINT AS doc_id, source,
             unnest(range(0, n_copies))::BIGINT AS copy
      FROM n WHERE n_copies > 0
    """


def _main_content_sql() -> str:
    from json_remedy_spark.functions.webgraph import main_content_sql

    m = main_content_sql("html")

    def q(s: str) -> str:
        return s.replace("'", "''")

    return f"""
      WITH pages AS (
        SELECT doc_id,
               '{q(_MC_PRE)}' || text || '{q(_MC_MID)}' || '{q(_MC_POST)}' AS html
        FROM documents
      ),
      segs AS (
        SELECT doc_id, x.i AS bi, x.b
        FROM (SELECT doc_id, string_split_regex({m["clean"]}, '{m["split_re"]}') AS bs
              FROM pages),
             LATERAL (SELECT unnest(bs) AS b, unnest(range(1, len(bs) + 1)) AS i) x
      ),
      scored AS (
        SELECT doc_id, bi, {m["block_text"]} AS t, {m["link_chars"]} AS lc
        FROM segs
      ),
      nonempty AS (SELECT * FROM scored WHERE length(t) > 0),
      kept AS (
        SELECT doc_id, bi, t FROM nonempty
        WHERE length(t) >= {m["min_chars"]}
          AND lc * 1.0 / length(t) <= {m["max_density"]}
          AND {m["stopword"]}
      ),
      agg AS (SELECT doc_id, count(*) AS n_blocks FROM nonempty GROUP BY doc_id),
      kagg AS (SELECT doc_id, string_agg(t, chr(10) ORDER BY bi) AS main_text,
                      count(*) AS n_kept
               FROM kept GROUP BY doc_id)
      SELECT d.doc_id::BIGINT AS doc_id,
             coalesce(kagg.main_text, '') AS main_text,
             coalesce(agg.n_blocks, 0)::BIGINT AS n_blocks,
             coalesce(kagg.n_kept, 0)::BIGINT AS n_kept
      FROM documents d
      LEFT JOIN agg ON agg.doc_id = d.doc_id
      LEFT JOIN kagg ON kagg.doc_id = d.doc_id
    """


def _pipeline_funnel_sql() -> str:
    from json_remedy_spark.functions.perplexity import MAX_PERPLEXITY

    lang_expr = langid.detect_language_sql("text")
    passes = quality.quality_sql("text")["passes"]
    return f"""
      WITH k AS (SELECT doc_id, ok, nonempty
                 FROM read_parquet('{_PIPE_FUNNEL_EXPORT}/*.parquet')),
      p AS ({_perplexity_sql()}),
      g AS (
        SELECT d.doc_id,
               k.ok, k.nonempty,
               (({lang_expr}) = 'en') AS lang_ok,
               (p.ppl <= {MAX_PERPLEXITY}) AS ppl_ok,
               {passes} AS q_pass
        FROM documents d
        JOIN k ON k.doc_id = d.doc_id
        JOIN p ON p.doc_id = d.doc_id
      )
      SELECT count(*)::BIGINT AS n_docs,
             sum(CASE WHEN NOT ok THEN 1 ELSE 0 END)::BIGINT AS n_repair_fail,
             sum(CASE WHEN ok AND NOT nonempty THEN 1 ELSE 0 END)::BIGINT AS n_empty_payload,
             sum(CASE WHEN NOT lang_ok THEN 1 ELSE 0 END)::BIGINT AS n_lang_fail,
             sum(CASE WHEN NOT ppl_ok THEN 1 ELSE 0 END)::BIGINT AS n_ppl_fail,
             sum(CASE WHEN NOT q_pass THEN 1 ELSE 0 END)::BIGINT AS n_quality_fail,
             sum(CASE WHEN ok AND nonempty AND lang_ok AND ppl_ok AND q_pass
                      THEN 1 ELSE 0 END)::BIGINT AS n_keep
      FROM g
    """


def _filter_funnel_sql() -> str:
    from json_remedy_spark.functions.quality import (
        MAX_MEAN_WORD_LEN,
        MAX_SYMBOL_RATIO,
        MAX_WORDS,
        MIN_DISTINCT_RATIO,
        MIN_MEAN_WORD_LEN,
        MIN_WORDS,
    )

    q = quality.quality_sql("text")
    nw, mwl, sym, stop, dr = (
        q["q_n_words"],
        q["q_mean_word_len"],
        q["q_symbol_ratio"],
        q["q_has_stopword"],
        q["q_distinct_ratio"],
    )
    return f"""
      SELECT count(*)::BIGINT AS n_docs,
             sum(CASE WHEN {nw} < {MIN_WORDS} THEN 1 ELSE 0 END)::BIGINT AS too_few_words,
             sum(CASE WHEN {nw} > {MAX_WORDS} THEN 1 ELSE 0 END)::BIGINT AS too_many_words,
             sum(CASE WHEN {mwl} < {MIN_MEAN_WORD_LEN}
                       OR {mwl} > {MAX_MEAN_WORD_LEN} THEN 1 ELSE 0 END)::BIGINT AS bad_mean_word_len,
             sum(CASE WHEN {sym} > {MAX_SYMBOL_RATIO} THEN 1 ELSE 0 END)::BIGINT AS symbol_heavy,
             sum(CASE WHEN NOT ({stop}) THEN 1 ELSE 0 END)::BIGINT AS no_stopword,
             sum(CASE WHEN {dr} < {MIN_DISTINCT_RATIO} THEN 1 ELSE 0 END)::BIGINT AS low_distinct_ratio,
             sum(CASE WHEN {q["passes"]} THEN 1 ELSE 0 END)::BIGINT AS kept
      FROM documents
    """


def _dsir_weights_cte() -> str:
    """Shared CTE chain: both DSIR oracles recompute the bucket
    histograms (raw + marker-augmented target), the add-k smoothed
    log-ratio over all buckets, and the per-doc occurrence sum —
    independently of the Spark kernel."""
    from json_remedy_spark.functions import dsir

    B = langid.FT_BUCKETS
    k = dsir.DSIR_K
    bucket = _hex_to_int("md5(bigram)", 1, 8)
    return f"""
      raw0 AS (SELECT doc_id, lower(text) AS t FROM documents),
      tgt0 AS (SELECT doc_id, lower(text || '{DSIR_TARGET_MARKER}') AS t
               FROM documents WHERE doc_id % 5 = 0),
      bg_r AS (SELECT doc_id, substr(t, x.i, 2) AS bigram
               FROM raw0, LATERAL (SELECT unnest(range(1, len(t))) AS i) x),
      bg_t AS (SELECT doc_id, substr(t, x.i, 2) AS bigram
               FROM tgt0, LATERAL (SELECT unnest(range(1, len(t))) AS i) x),
      bb_r AS (SELECT doc_id, ({bucket} % {B}) AS bucket FROM bg_r),
      bb_t AS (SELECT doc_id, ({bucket} % {B}) AS bucket FROM bg_t),
      cq AS (SELECT bucket, count(*)::DOUBLE AS cnt FROM bb_r GROUP BY bucket),
      cp AS (SELECT bucket, count(*)::DOUBLE AS cnt FROM bb_t GROUP BY bucket),
      tots AS (SELECT (SELECT count(*) FROM bb_r)::DOUBLE AS tq,
                      (SELECT count(*) FROM bb_t)::DOUBLE AS tp),
      lr AS (SELECT b.bucket,
               (ln(coalesce(cp.cnt, 0) + {k}) - ln(tp + {k} * {B}))
             - (ln(coalesce(cq.cnt, 0) + {k}) - ln(tq + {k} * {B})) AS lr
             FROM (SELECT unnest(range(0, {B})) AS bucket) b
             CROSS JOIN tots
             LEFT JOIN cp ON cp.bucket = b.bucket
             LEFT JOIN cq ON cq.bucket = b.bucket),
      w AS (SELECT bb_r.doc_id, sum(lr.lr) AS weight
            FROM bb_r JOIN lr ON lr.bucket = bb_r.bucket
            GROUP BY bb_r.doc_id),
      dw AS (SELECT d.doc_id, coalesce(w.weight, 0) AS weight
             FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id)
    """


def _dsir_weights_sql() -> str:
    return f"""
      WITH {_dsir_weights_cte()}
      SELECT doc_id::BIGINT AS doc_id, round(weight, 4)::DOUBLE AS weight
      FROM dw
    """


def _dsir_select_sql() -> str:
    noise = _hex_to_int("md5('0:' || doc_id::VARCHAR)", 1, 8)
    return f"""
      WITH {_dsir_weights_cte()},
      g AS (SELECT doc_id, weight,
              weight - ln(-ln(({noise} + 0.5) / 4294967296.0)) AS gkey
            FROM dw)
      SELECT doc_id::BIGINT AS doc_id,
             round(weight, 4)::DOUBLE AS weight,
             round(gkey, 4)::DOUBLE AS gkey
      FROM g ORDER BY gkey DESC, doc_id LIMIT {DSIR_SELECT_N}
    """


def _line_dedup_sql() -> str:
    return f"""
      WITH pages AS ({_PAGES_SQL}),
      lines AS (
        SELECT doc_id, x.i - 1 AS line_no, x.line
        FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM pages),
             LATERAL (SELECT unnest(ls) AS line, unnest(range(1, len(ls) + 1)) AS i) x
      ),
      ranked AS (
        SELECT doc_id, line_no, line,
               row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn,
               len(trim(line)) >= 1 AS eligible
        FROM lines
      )
      SELECT doc_id::BIGINT AS doc_id,
             coalesce(string_agg(CASE WHEN NOT eligible OR rn = 1 THEN line END,
                                 chr(10) ORDER BY line_no), '') AS text,
             count(*)::BIGINT AS n_lines,
             sum(CASE WHEN eligible AND rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dropped
      FROM ranked GROUP BY doc_id
    """


def _host_boilerplate_sql() -> str:
    host = corpus.domain_of_sql("url")
    return f"""
      WITH pages AS ({_PAGES_SQL}),
      p AS (SELECT doc_id, {host} AS host, text FROM pages),
      lines AS (
        SELECT doc_id, host, x.i - 1 AS line_no, x.line
        FROM (SELECT doc_id, host, string_split(text, chr(10)) AS ls FROM p),
             LATERAL (SELECT unnest(ls) AS line, unnest(range(1, len(ls) + 1)) AS i) x
      ),
      lp AS (
        SELECT host, line, count(DISTINCT doc_id) AS n_pages
        FROM lines WHERE len(trim(line)) >= 1 GROUP BY host, line
      ),
      hp AS (SELECT host, count(*) AS host_pages FROM p GROUP BY host),
      rules AS (
        SELECT lp.host, lp.line FROM lp JOIN hp ON hp.host = lp.host
        WHERE host_pages >= 3 AND n_pages >= host_pages * 0.5
      ),
      k AS (
        SELECT l.doc_id, l.line_no, l.line,
               (len(trim(l.line)) < 1) OR r.line IS NULL AS keep_line
        FROM lines l LEFT JOIN rules r ON r.host = l.host AND r.line = l.line
      )
      SELECT doc_id::BIGINT AS doc_id,
             coalesce(string_agg(CASE WHEN keep_line THEN line END,
                                 chr(10) ORDER BY line_no), '') AS text,
             count(*)::BIGINT AS n_lines,
             sum(CASE WHEN NOT keep_line THEN 1 ELSE 0 END)::BIGINT AS n_dropped
      FROM k GROUP BY doc_id
    """


def _dup_span_removal_sql(window: int = 4, min_count: int = 2) -> str:
    w = window
    return f"""
      WITH pages AS ({_PAGES_SQL}),
      toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM pages),
      tok AS (
        SELECT doc_id, x.i - 1 AS pos, x.token
        FROM toks,
             LATERAL (SELECT unnest(t) AS token, unnest(range(1, len(t) + 1)) AS i) x
      ),
      wins AS (
        SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(t[i : i + {w - 1}], ' ')) AS h
        FROM (
          SELECT doc_id, t, unnest(range(1, len(t) - {w} + 2)) AS i
          FROM toks WHERE len(t) >= {w}
        )
      ),
      ranked AS (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
               count(*) OVER (PARTITION BY h) AS n
        FROM wins
      ),
      covered AS (
        SELECT DISTINCT r.doc_id, r.pos + g.x AS pos
        FROM ranked r, LATERAL (SELECT unnest(range(0, {w})) AS x) g
        WHERE r.n >= {min_count} AND r.rn > 1
      )
      SELECT t.doc_id::BIGINT AS doc_id,
             coalesce(string_agg(CASE WHEN c.pos IS NULL THEN t.token END,
                                 ' ' ORDER BY t.pos), '') AS text,
             count(*)::BIGINT AS n_tokens,
             sum(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dropped
      FROM tok t LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.pos = t.pos
      GROUP BY t.doc_id
    """


def _normalize_text_sql() -> str:
    from json_remedy_spark.functions.normalize import fix_mojibake_sql

    def lit(t: str) -> str:
        return "'" + t.replace("'", "''") + "'"

    case = (
        "CASE doc_id % 4 "
        + " ".join(f"WHEN {i} THEN {lit(m)}" for i, m in enumerate(_MOJI_MARKERS))
        + " END"
    )
    return f"""
      WITH src AS (
        SELECT doc_id, concat(substr(coalesce(text, ''), 1, 40), ' ', {case}) AS t
        FROM documents
      ),
      fixed AS (
        SELECT doc_id, t, nfc_normalize({fix_mojibake_sql('t')}) AS text
        FROM src
      )
      SELECT doc_id::BIGINT AS doc_id, text,
             coalesce(text != t, FALSE) AS changed
      FROM fixed
    """


def _domain_stats_sql() -> str:
    from json_remedy_spark.functions.corpus import domain_of_sql

    return f"""
      WITH pages AS ({_PAGES_SQL})
      SELECT {domain_of_sql("url")} AS domain,
             count(*)::BIGINT AS n_docs,
             count(DISTINCT url)::BIGINT AS n_urls,
             (sum(len(text))::DOUBLE / count(*)) AS avg_chars
      FROM pages GROUP BY 1
    """


def _domain_cap_sql() -> str:
    from json_remedy_spark.functions.corpus import domain_of_sql

    return f"""
      WITH pages AS ({_PAGES_SQL}),
      ranked AS (
        SELECT doc_id, {domain_of_sql("url")} AS domain,
               row_number() OVER (PARTITION BY {domain_of_sql("url")} ORDER BY url) AS rk
        FROM pages
      )
      SELECT doc_id::BIGINT AS doc_id, domain, rk::BIGINT AS rk
      FROM ranked WHERE rk <= {DOMAIN_CAP_K}
    """


def _canonical_url_sql() -> str:
    from json_remedy_spark.functions.corpus import canonical_url_sql

    messy = (
        "CASE WHEN doc_id % 3 = 0 "
        "THEN 'HTTP://Example.COM:80/plain/' || doc_id::VARCHAR "
        "ELSE 'HTTPS://WWW.Site' || (doc_id % 20)::VARCHAR || '.COM:443/Path/' "
        "|| doc_id::VARCHAR || '?utm_source=feed&id=' || doc_id::VARCHAR "
        "|| '&utm_medium=x#frag' END"
    )
    return f"""
      SELECT doc_id::BIGINT AS doc_id,
             {canonical_url_sql(f"({messy})")} AS canon_url
      FROM documents
    """


def _simhash_near_dup_sql() -> str:
    cb = dedup._SIMHASH_CHUNK_BITS
    mask = dedup._SIMHASH_CHUNK_MASK
    return f"""
      WITH fp AS ({_simhash_sql()}),
      banded AS (
        SELECT doc_id, simhash, band, (simhash >> ({cb} * band)::INT) & {mask} AS chunk
        FROM (SELECT doc_id, simhash, unnest(range(0, {dedup.SIMHASH_BANDS})) AS band FROM fp)
      )
      SELECT DISTINCT a.doc_id::BIGINT AS doc_a, b.doc_id::BIGINT AS doc_b,
             bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
      FROM banded a JOIN banded b ON a.band = b.band AND a.chunk = b.chunk
      WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3
    """


def _corpus_funnel_sql() -> str:
    """Chained closed-form oracle for q_corpus_funnel: every stage is
    recomputed from the PREVIOUS stage's recomputed survivor set.  The
    fuzzy and shingle stages re-use the proven component/shingle SQL
    via `documents`-shadowing CTEs (an inner `WITH documents AS
    (SELECT ... FROM s_k)` re-binds the builders' table references to
    the chained survivors; base-table reads are `main.`-qualified so
    the shadow never recurses)."""
    from json_remedy_spark.functions import webgraph

    canon = corpus.canonical_url_sql("url")
    return f"""
      WITH corp AS (
        SELECT doc_id, text FROM main.documents WHERE source <> 'src0'
      ),
      pages AS (
        SELECT doc_id, (doc_id // 3) AS g,
               CASE
                 WHEN doc_id % 3 = 0 THEN
                   'HTTP://Shop' || ((doc_id // 3) % 10)::VARCHAR || '.Example.COM'
                   || port || path
                 WHEN doc_id % 3 = 1 THEN
                   'http://shop' || ((doc_id // 3) % 10)::VARCHAR || '.example.com'
                   || port || path || '?utm_source=feed'
                 ELSE
                   'http://shop' || ((doc_id // 3) % 10)::VARCHAR || '.example.com'
                   || port || path || '#top'
               END AS url,
               'Please enable cookies to continue' || chr(10)
                 || 'section ' || ((doc_id // 3) % 10)::VARCHAR || ' navigation menu' || chr(10)
                 || substr(text, 1, 80) || ' marker ' || (doc_id % 97)::VARCHAR || chr(10)
                 || 'copyright footer ' || (doc_id % 3)::VARCHAR AS text
        FROM (
          SELECT *, CASE (doc_id // 3) % 4
                      WHEN 0 THEN '/admin/panel' || (doc_id // 3)::VARCHAR
                      WHEN 1 THEN '/products/' || (doc_id // 3)::VARCHAR
                      WHEN 2 THEN '/tmp/cache/' || (doc_id // 3)::VARCHAR
                      ELSE '/p/' || (doc_id // 3)::VARCHAR
                    END AS path,
                 CASE WHEN (doc_id // 3) % 7 = 0 THEN ':8080' ELSE '' END AS port
          FROM corp
        )
      ),
      -- URL quality gate: the REAL gate expression replayed over the
      -- synthesized urls (not the closed-form g%7 — the regexes must
      -- independently rediscover the nonstandard-port pages)
      s0 AS (
        SELECT * FROM pages WHERE {webgraph.url_quality_gate_expr_sql("url")}
      ),
      -- robots gate, closed form by construction: hosts shop{{0,3,6,9}}
      -- carry *-agent Disallow /admin + /tmp/; paths g%4 in (0,2)
      -- start with those prefixes
      s1 AS (
        SELECT * FROM s0
        WHERE NOT ((g % 10) % 3 = 0 AND (g % 4) IN (0, 2))
      ),
      s2 AS (
        SELECT doc_id, text FROM (
          SELECT doc_id, text, url,
                 min(url) OVER (PARTITION BY {canon}) AS rep_url
          FROM s1
        ) WHERE url = rep_url
      ),
      s3 AS (
        SELECT doc_id, text FROM (
          SELECT doc_id,
                 coalesce(string_agg(CASE WHEN NOT eligible OR rn = 1 THEN line END,
                                     chr(10) ORDER BY line_no), '') AS text
          FROM (
            SELECT doc_id, line_no, line,
                   row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn,
                   len(trim(line)) >= 1 AS eligible
            FROM (
              SELECT doc_id, x.i - 1 AS line_no, x.line
              FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM s2),
                   LATERAL (SELECT unnest(ls) AS line, unnest(range(1, len(ls) + 1)) AS i) x
            )
          ) GROUP BY doc_id
        ) WHERE len(trim(text)) > 0
      ),
      s4 AS (
        SELECT s3.doc_id, s3.text FROM s3 JOIN (
          SELECT doc_id FROM (
            WITH documents AS (SELECT doc_id, text FROM s3)
            SELECT * FROM ({_dedup_components_sql()})
          ) WHERE is_canonical
        ) keep ON keep.doc_id = s3.doc_id
      ),
      s4_sh AS (
        SELECT * FROM (
          WITH documents AS (SELECT doc_id, text FROM s4)
          SELECT * FROM ({_SHINGLES})
        )
      ),
      ev_sh AS (
        SELECT DISTINCT shingle FROM (
          WITH documents AS (
            SELECT doc_id, text FROM main.documents WHERE source = 'src0'
          )
          SELECT * FROM ({_SHINGLES})
        )
      ),
      s5 AS (
        SELECT doc_id FROM s4
        WHERE doc_id NOT IN (
          SELECT DISTINCT s.doc_id FROM s4_sh s JOIN ev_sh USING (shingle)
        )
      )
      SELECT (SELECT count(*) FROM pages)::BIGINT AS n_input,
             (SELECT count(*) FROM s0)::BIGINT AS n_post_url_gate,
             (SELECT count(*) FROM s1)::BIGINT AS n_post_robots,
             (SELECT count(*) FROM s2)::BIGINT AS n_post_url_dedup,
             (SELECT count(*) FROM s3)::BIGINT AS n_post_line_dedup,
             (SELECT count(*) FROM s4)::BIGINT AS n_post_fuzzy,
             (SELECT count(*) FROM s5)::BIGINT AS n_post_decon
    """


def _media_dhash_sql() -> str:
    """DuckDB replica of multimodal.dhash over utf-8 payload bytes:
    hex-nibble byte extraction (the media_features pattern), byte i ->
    grid cell (i-1) % DHASH_CELLS, cell value = byte sum mod 256, bit
    j set when cell[r*COLS+c] < cell[r*COLS+c+1] (r = j // (COLS-1),
    c = j % (COLS-1)); bit 63 via its signed two's-complement literal
    (the _simhash_sql pattern)."""
    from json_remedy_spark.functions import multimodal as mm

    cells, cols = mm.DHASH_CELLS, mm.DHASH_COLS
    pivots = ", ".join(
        f"coalesce(max(CASE WHEN cell = {k} THEN gv END), 0) AS g{k}"
        for k in range(cells)
    )
    bits = []
    for j in range(64):
        r, c = j // (cols - 1), j % (cols - 1)
        base = r * cols + c
        bits.append(
            f"(CASE WHEN g{base} < g{base + 1} "
            f"THEN ({dedup._signed64(1 << j)})::BIGINT ELSE 0 END)"
        )
    fp = " | ".join(bits)
    return f"""
      SELECT url AS doc_id, ({fp})::BIGINT AS simhash FROM (
        WITH b AS (
          SELECT concat('doc://', doc_id) AS url,
                 lower(hex(encode(text))) AS hx,
                 least(octet_length(encode(text)), 65536) AS nb
          FROM documents
        ),
        byt AS (
          SELECT url, ((i - 1) % {cells}) AS cell,
                 (strpos('0123456789abcdef', substr(hx, 2 * i - 1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(hx, 2 * i, 1)) - 1) AS v
          FROM (SELECT url, hx, unnest(range(1, nb + 1)) AS i FROM b)
        ),
        cel AS (SELECT url, cell, sum(v) % 256 AS gv FROM byt GROUP BY 1, 2)
        SELECT b.url, {pivots}
        FROM b LEFT JOIN cel ON cel.url = b.url GROUP BY b.url
      )
    """


def _media_near_dup_sql() -> str:
    """Same banded hamming join as _simhash_near_dup_sql, over dHash
    fingerprints with string (url) ids."""
    cb = dedup._SIMHASH_CHUNK_BITS
    mask = dedup._SIMHASH_CHUNK_MASK
    return f"""
      WITH fp AS ({_media_dhash_sql()}),
      banded AS (
        SELECT doc_id, simhash, band, (simhash >> ({cb} * band)::INT) & {mask} AS chunk
        FROM (SELECT doc_id, simhash, unnest(range(0, {dedup.SIMHASH_BANDS})) AS band FROM fp)
      )
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
      FROM banded a JOIN banded b ON a.band = b.band AND a.chunk = b.chunk
      WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3
    """


def _simhash_sql() -> str:
    # portable hex -> int: 8 nibbles via strpos per 32-bit half of the
    # 64-bit fingerprint (h1 = md5 chars 1-8 -> bits 0-31, h2 = chars
    # 9-16 -> bits 32-63); bit 63's literal is its signed
    # two's-complement form (DuckDB raises on `1 << 63`)
    nib = lambda p: f"(strpos('0123456789abcdef', substr(md5(token), {p + 1}, 1)) - 1)"
    h1 = " + ".join(f"{nib(p)} * {16 ** (7 - p)}" for p in range(8))
    h2 = " + ".join(f"{nib(8 + p)} * {16 ** (7 - p)}" for p in range(8))
    def bit_test(j):
        src = "h1" if j < 32 else "h2"
        return f"({src} & {1 << (j % 32)}) != 0"
    bit_aggs = ", ".join(
        f"sum(CASE WHEN {bit_test(j)} THEN 1 ELSE -1 END) AS b{j}"
        for j in range(dedup.SIMHASH_BITS)
    )
    # parens around the literal: `-9223372036854775808::BIGINT` would
    # cast the POSITIVE (INT128) literal first, then negate -> overflow
    fp = " | ".join(
        f"(CASE WHEN b{j} > 0 THEN ({dedup._signed64(1 << j)})::BIGINT ELSE 0 END)"
        for j in range(dedup.SIMHASH_BITS)
    )
    return f"""
      WITH tok AS (
        SELECT doc_id, ({h1})::BIGINT AS h1, ({h2})::BIGINT AS h2
        FROM (SELECT doc_id, unnest(regexp_split_to_array({_NORM}, ' ')) AS token FROM documents)
      ), bits AS (SELECT doc_id, {bit_aggs} FROM tok GROUP BY doc_id)
      SELECT doc_id::BIGINT AS doc_id, ({fp})::BIGINT AS simhash FROM bits
    """


_PPL_TRI_TABLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "ppl_trigrams.parquet")
_PPL_BI_TABLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "ppl_bigrams.parquet")


def _byte_trigram_cte(p: str, text_expr: str) -> str:
    """CTE chain deriving ``(doc_id, tri, full_tri)`` from the utf-8
    bytes of ``text_expr`` via hex nibbles (the _perplexity_sql
    byte-extraction pattern, parameterized for reuse by the
    LM-training oracles).  ``p`` prefixes the CTE names."""
    from json_remedy_spark.functions.perplexity import _VOCAB

    return f"""
      {p}_b AS (
        SELECT doc_id, lower(hex(encode({text_expr}))) AS hx FROM documents
      ),
      {p}_ids AS (
        SELECT doc_id, i,
               CASE WHEN byte >= 32 AND byte < 127 THEN byte - 31 ELSE 0 END AS id
        FROM (
          SELECT doc_id, i,
                 ((strpos('0123456789abcdef', substr(hx, 2 * i - 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(hx, 2 * i, 1)) - 1)) AS byte
          FROM (SELECT doc_id, hx, unnest(range(1, length(hx) // 2 + 1)) AS i FROM {p}_b)
        )
      ),
      {p}_tris AS (
        SELECT doc_id,
               (id * {_VOCAB} + lead(id, 1) OVER w) * {_VOCAB} + lead(id, 2) OVER w AS tri,
               (lead(id, 2) OVER w IS NOT NULL) AS full_tri
        FROM {p}_ids WINDOW w AS (PARTITION BY doc_id ORDER BY i)
      )
    """


def _trigram_lm_sql() -> str:
    """Training-count oracle: DuckDB independently re-derives every
    byte trigram of lower(full text) and re-aggregates."""
    return f"""
      WITH {_byte_trigram_cte("tr", "lower(coalesce(text, ''))")}
      SELECT tri::BIGINT AS tri, count(*)::BIGINT AS cnt
      FROM tr_tris WHERE full_tri GROUP BY tri
    """


def _ppl_trained_sql() -> str:
    """Closed-form end-to-end oracle for the train->score loop:
    recompute the corpus trigram/bigram-prefix counts AND the per-doc
    mean score from the documents table alone (unseen grams fall back
    to the add-k smoothing constants, as in the export format)."""
    from json_remedy_spark.functions.perplexity import _K, _VOCAB, MAX_SCORED_CHARS

    return f"""
      WITH {_byte_trigram_cte("tr", "lower(coalesce(text, ''))")},
      {_byte_trigram_cte("sc", f"lower(substr(coalesce(text, ''), 1, {MAX_SCORED_CHARS}))")},
      cnt3 AS (SELECT tri, count(*)::DOUBLE AS c FROM tr_tris WHERE full_tri GROUP BY tri),
      cnt2 AS (SELECT tri // {_VOCAB} AS bi, count(*)::DOUBLE AS c
               FROM tr_tris WHERE full_tri GROUP BY tri // {_VOCAB}),
      scored AS (
        -- unseen-gram fallbacks log(k) / log(k*V) are exactly
        -- ln(0 + k) / ln(0 + k*V), so one coalesced form covers both
        SELECT s.doc_id,
               ln(coalesce(c3.c, 0) + {_K})
               - ln(coalesce(c2.c, 0) + {_K} * {_VOCAB}) AS logp
        FROM sc_tris s
        LEFT JOIN cnt3 c3 ON c3.tri = s.tri
        LEFT JOIN cnt2 c2 ON c2.bi = s.tri // {_VOCAB}
        WHERE s.full_tri
      )
      SELECT d.doc_id::BIGINT AS doc_id,
             (CASE WHEN length(coalesce(d.text, '')) < 3 THEN 20.0
                   ELSE round(-avg(s.logp), 4) END)::DOUBLE AS ppl
      FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
      GROUP BY d.doc_id, d.text
    """


def _kn_perplexity_sql() -> str:
    """Closed-form interpolated-KN oracle: trigram counts, every
    continuation/type count, and the three-level formula recomputed
    from `documents`; expression trees mirror the numpy build
    (kn_logp_from_counts) term for term so round(4) matches."""
    from json_remedy_spark.functions.perplexity import (
        _VOCAB,
        KN_DISCOUNT,
        MAX_SCORED_CHARS,
    )

    V, D = _VOCAB, KN_DISCOUNT
    return f"""
      WITH {_byte_trigram_cte("tr", "lower(coalesce(text, ''))")},
      {_byte_trigram_cte("sc", f"lower(substr(coalesce(text, ''), 1, {MAX_SCORED_CHARS}))")},
      c3tab AS (SELECT tri, count(*)::DOUBLE AS c3 FROM tr_tris WHERE full_tri GROUP BY tri),
      c2tab AS (SELECT tri // {V} AS bp, sum(c3) AS c2, count(*)::DOUBLE AS n1f
                FROM c3tab GROUP BY tri // {V}),
      cbtab AS (SELECT tri % {V * V} AS bs, count(*)::DOUBLE AS cont_bi
                FROM c3tab GROUP BY tri % {V * V}),
      midtab AS (SELECT (tri // {V}) % {V} AS w2, count(*)::DOUBLE AS n1_mid
                 FROM c3tab GROUP BY (tri // {V}) % {V}),
      bftab AS (SELECT bs // {V} AS w2, count(*)::DOUBLE AS n1_bi_fwd
                FROM cbtab GROUP BY bs // {V}),
      cutab AS (SELECT bs % {V} AS w3, count(*)::DOUBLE AS cont_uni
                FROM cbtab GROUP BY bs % {V}),
      scal AS (SELECT (SELECT count(*) FROM cbtab)::DOUBLE AS nbt,
                      (SELECT count(*) FROM cutab)::DOUBLE AS u),
      scored AS (
        SELECT s.doc_id,
               ln(
                 CASE WHEN coalesce(c2t.c2, 0) > 0 THEN
                   (greatest(coalesce(c3t.c3, 0) - {D}, 0)
                    + {D} * c2t.n1f *
                      (CASE WHEN coalesce(mt.n1_mid, 0) > 0 THEN
                         (greatest(coalesce(cb.cont_bi, 0) - {D}, 0)
                          + {D} * coalesce(bf.n1_bi_fwd, 0) *
                            ((greatest(coalesce(cu.cont_uni, 0) - {D}, 0)
                              + {D} * scal.u / {V}) / scal.nbt))
                         / mt.n1_mid
                       ELSE (greatest(coalesce(cu.cont_uni, 0) - {D}, 0)
                             + {D} * scal.u / {V}) / scal.nbt END))
                   / c2t.c2
                 ELSE
                   (CASE WHEN coalesce(mt.n1_mid, 0) > 0 THEN
                      (greatest(coalesce(cb.cont_bi, 0) - {D}, 0)
                       + {D} * coalesce(bf.n1_bi_fwd, 0) *
                         ((greatest(coalesce(cu.cont_uni, 0) - {D}, 0)
                           + {D} * scal.u / {V}) / scal.nbt))
                      / mt.n1_mid
                    ELSE (greatest(coalesce(cu.cont_uni, 0) - {D}, 0)
                          + {D} * scal.u / {V}) / scal.nbt END)
                 END
               ) AS logp
        FROM sc_tris s
        CROSS JOIN scal
        LEFT JOIN c3tab c3t ON c3t.tri = s.tri
        LEFT JOIN c2tab c2t ON c2t.bp = s.tri // {V}
        LEFT JOIN cbtab cb ON cb.bs = s.tri % {V * V}
        LEFT JOIN midtab mt ON mt.w2 = (s.tri // {V}) % {V}
        LEFT JOIN bftab bf ON bf.w2 = (s.tri // {V}) % {V}
        LEFT JOIN cutab cu ON cu.w3 = s.tri % {V}
        WHERE s.full_tri
      )
      SELECT d.doc_id::BIGINT AS doc_id,
             (CASE WHEN length(coalesce(d.text, '')) < 3 THEN 20.0
                   ELSE round(-avg(s.logp), 4) END)::DOUBLE AS ppl
      FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
      GROUP BY d.doc_id, d.text
    """


def _perplexity_sql() -> str:
    """Exact DuckDB oracle for the char-trigram perplexity model: the
    sparse trained counts live in parquet (functions/perplexity.py
    ``export_model_tables``), unseen grams fall back to the smoothing
    constants, and the per-doc score is the mean of
    ``log(cnt3+k) - log(cnt2+k*V)`` over utf-8 byte trigrams of the
    lowered 512-char prefix — the same float64 doubles the kernel
    looks up, so round(4) matches bit-for-bit."""
    from json_remedy_spark.functions.perplexity import _K, _VOCAB, MAX_SCORED_CHARS

    import numpy as np

    log_k = repr(float(np.log(_K)))          # unseen trigram numerator
    log_kv = repr(float(np.log(_K * _VOCAB)))  # unseen bigram denominator
    return f"""
      WITH b AS (
        SELECT doc_id,
               lower(hex(encode(lower(substr(coalesce(text, ''), 1, {MAX_SCORED_CHARS}))))) AS hx,
               length(coalesce(text, '')) AS n_chars
        FROM documents
      ),
      ids AS (
        SELECT doc_id, i,
               CASE WHEN byte >= 32 AND byte < 127 THEN byte - 31 ELSE 0 END AS id
        FROM (
          SELECT doc_id, i,
                 ((strpos('0123456789abcdef', substr(hx, 2 * i - 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(hx, 2 * i, 1)) - 1)) AS byte
          FROM (SELECT doc_id, hx, unnest(range(1, length(hx) // 2 + 1)) AS i FROM b)
        )
      ),
      tris AS (
        SELECT doc_id,
               (id * {_VOCAB} + lead(id, 1) OVER w) * {_VOCAB} + lead(id, 2) OVER w AS tri,
               (lead(id, 2) OVER w IS NOT NULL) AS full_tri
        FROM ids WINDOW w AS (PARTITION BY doc_id ORDER BY i)
      ),
      scored AS (
        SELECT t.doc_id,
               coalesce(tm.log_num, {log_k}) - coalesce(bm.log_den, {log_kv}) AS logp
        FROM tris t
        LEFT JOIN read_parquet('{_PPL_TRI_TABLE}') tm ON tm.tri = t.tri
        LEFT JOIN read_parquet('{_PPL_BI_TABLE}') bm ON bm.bi = t.tri // {_VOCAB}
        WHERE t.full_tri
      )
      SELECT d.doc_id::BIGINT AS doc_id,
             (CASE WHEN d.n_chars < 3 THEN 20.0 ELSE round(-avg(s.logp), 4) END)::DOUBLE AS ppl
      FROM b d LEFT JOIN scored s ON s.doc_id = d.doc_id
      GROUP BY d.doc_id, d.n_chars
    """


def _cosine_topk_sql() -> str:
    return """
      WITH v AS (
        SELECT vec_id, list_transform(embedding::DOUBLE[], x -> x /
          greatest(sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y*y))), 1e-12)) AS unit
        FROM embeddings
      ),
      q AS (SELECT vec_id AS q_id, unit AS q_unit FROM v WHERE vec_id < 5),
      scored AS (
        SELECT q.q_id, v.vec_id,
               round(list_sum(list_transform(list_zip(v.unit, q.q_unit), p -> p[1] * p[2])), 6) AS cos
        FROM v CROSS JOIN q
      )
      SELECT q_id::BIGINT AS q_id, vec_id::BIGINT AS vec_id, cos::DOUBLE AS cos, rank::BIGINT AS rank
      FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM scored)
      WHERE rank <= 5
    """


def oracle_sql() -> dict[str, str]:
    from json_remedy_spark.functions.events import sessionize_sql

    qsql = quality.quality_sql("text")
    ssql = textstats.stats_sql("text")
    lang_expr = langid.detect_language_sql("text")
    return {
        "exact_dedup": f"""
            SELECT md5({_NORM}) AS text_hash,
                   min(doc_id)::BIGINT AS keep_id,
                   count(*)::BIGINT AS n_copies
            FROM documents GROUP BY 1
        """,
        "incremental_dedup": f"""
            WITH seen AS (
              -- IS NOT NULL guard: one NULL in a NOT IN subquery would
              -- nullify EVERY predicate; Spark's left-anti is null-safe
              SELECT DISTINCT md5({_NORM}) AS text_hash
              FROM documents
              WHERE doc_id % 2 = 0 AND md5({_NORM}) IS NOT NULL
            )
            SELECT doc_id::BIGINT AS doc_id, md5({_NORM}) AS text_hash
            FROM documents
            WHERE doc_id % 3 = 0
              AND md5({_NORM}) NOT IN (SELECT text_hash FROM seen)
        """,
        "minhash_signatures": f"SELECT doc_id::BIGINT AS doc_id, * EXCLUDE (doc_id) FROM ({_minhash_select()})",
        "lsh_candidate_pairs": _lsh_pairs_sql(),
        "jaccard_pairs": f"""
            WITH sh AS ({_SHINGLES}),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b,
                   round(n_common / (sa.n_sh + sb.n_sh - n_common), 6)::DOUBLE AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
        """,
        "lsh_recall": f"""
            WITH {_lsh_ctes()},
            sh_all AS ({_SHINGLES}),
            -- mirror the Spark side's stop-shingle cap (LSH_RECALL_MAX_DF)
            sh AS (
              SELECT * FROM sh_all WHERE shingle NOT IN (
                SELECT shingle FROM sh_all
                GROUP BY shingle HAVING count(*) > {LSH_RECALL_MAX_DF}
              )
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            truth AS (
              SELECT doc_a, doc_b FROM inter
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
              WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
            ),
            hit AS (SELECT t.doc_a, t.doc_b FROM truth t
                    JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
            SELECT (SELECT count(*) FROM truth)::BIGINT AS n_true,
                   (SELECT count(*) FROM cand)::BIGINT AS n_cand,
                   (SELECT count(*) FROM hit)::BIGINT AS n_hit,
                   round((SELECT count(*) FROM hit) * 1.0
                         / (SELECT count(*) FROM truth), 4)::DOUBLE AS recall,
                   round((SELECT count(*) FROM hit) * 1.0
                         / (SELECT count(*) FROM cand), 4)::DOUBLE AS precision
        """,
        "simhash": _simhash_sql(),
        "simhash_near_dup": _simhash_near_dup_sql(),
        "lsh_jaccard_verified": _lsh_verified_sql(),
        "dedup_components": _dedup_components_sql(),
        # the incremental path must reproduce the ONE-SHOT union
        # labeling — same replay, independent proof of the parity claim
        "incremental_fuzzy_dedup": _dedup_components_sql(),
        "dedup_cluster_sizes": f"""
          WITH comp AS ({_dedup_components_sql()}),
          sizes AS (SELECT rep_id, count(*) AS cluster_size FROM comp GROUP BY rep_id)
          SELECT cluster_size::BIGINT AS cluster_size,
                 count(*)::BIGINT AS n_clusters
          FROM sizes GROUP BY 1
        """,
        "bm25_topk": search.bm25_sql(BM25_QUERIES, k=10, max_df_frac=1.0),
        "bm25_index_topk": search.bm25_sql(BM25_QUERIES, k=10, max_df_frac=1.0),
        "chunk_documents": corpus.chunk_documents_sql(64, 48),
        "qc_train": f"""
          WITH {_qc_train_ctes(lang_expr, qsql['passes'])}
          SELECT bucket::BIGINT AS bucket, y AS lang, weight FROM w
        """,
        "qc_trained_scores": f"""
          WITH {_qc_train_ctes(lang_expr, qsql['passes'])},
          s AS (
            SELECT bb.doc_id,
                   sum(CASE WHEN w.y = 'hi' THEN w.weight ELSE 0 END) AS s_hi,
                   sum(CASE WHEN w.y = 'lo' THEN w.weight ELSE 0 END) AS s_lo
            FROM bb JOIN w ON w.bucket = bb.bucket
            GROUP BY bb.doc_id
          )
          SELECT d.doc_id::BIGINT AS doc_id,
                 coalesce(s.s_hi, 0)::BIGINT AS s_hi,
                 coalesce(s.s_lo, 0)::BIGINT AS s_lo,
                 (coalesce(s.s_hi, 0) - coalesce(s.s_lo, 0))::BIGINT AS margin,
                 CASE WHEN coalesce(s.s_hi, 0) - coalesce(s.s_lo, 0) > 0
                      THEN 'high' ELSE 'low' END AS quality_label
          FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
        """,
        "pack_sequences": corpus.pack_sequences_sql(128),
        "soft_dedup_weights": f"""
          WITH comp AS ({_dedup_components_sql()}),
          sizes AS (SELECT rep_id, count(*) AS cluster_size FROM comp GROUP BY rep_id)
          SELECT c.doc_id::BIGINT AS doc_id, c.rep_id::BIGINT AS rep_id,
                 s.cluster_size::BIGINT AS cluster_size,
                 round(1.0 / s.cluster_size, 6)::DOUBLE AS weight
          FROM comp c JOIN sizes s ON s.rep_id = c.rep_id
        """,
        "decontaminate": _decontaminate_sql(),
        "fuzzy_decontaminate": _fuzzy_decontaminate_sql(),
        "mixture_sample": _mixture_sample_sql(),
        "corpus_report": _corpus_report_sql(),
        "bpe_pair_counts": _bpe_pair_counts_sql(),
        "bpe_merges": _bpe_merges_sql(),
        "bpe_tokens": _bpe_tokens_sql(),
        "bpe_encode": _bpe_encode_sql(),
        "pack_token_ids": f"""
          WITH enc AS ({_bpe_encode_sql()}),
          {corpus.pack_token_ids_sql("enc", 128)}
        """,
        "bpe_merges_bytes": _byte_bpe_merges_sql(),
        "bpe_encode_bytes": _byte_bpe_encode_sql(),
        "pack_byte_token_ids": f"""
          WITH enc AS ({_byte_bpe_encode_sql()}),
          {corpus.pack_token_ids_sql("enc", 256)}
        """,
        "url_features": _url_features_oracle_sql(),
        "contamination_overlap": f"""
          WITH sh AS ({_SHINGLES}),
          ev AS (SELECT doc_id FROM documents WHERE source = 'src0'),
          ev_sh AS (SELECT DISTINCT shingle FROM sh JOIN ev USING (doc_id)),
          corpus AS (SELECT doc_id FROM documents WHERE source <> 'src0'),
          per_doc AS (
            SELECT sh.doc_id, count(*) AS n_sh,
                   count(ev_sh.shingle) AS n_hit
            FROM sh
            JOIN corpus USING (doc_id)
            LEFT JOIN ev_sh ON ev_sh.shingle = sh.shingle
            GROUP BY sh.doc_id
          )
          SELECT c.doc_id::BIGINT AS doc_id,
                 coalesce(n_sh, 0)::BIGINT AS n_shingles,
                 coalesce(n_hit, 0)::BIGINT AS n_matched,
                 round(coalesce(n_hit, 0) * 1.0 / greatest(coalesce(n_sh, 0), 1), 6)::DOUBLE
                   AS overlap_frac
          FROM corpus c LEFT JOIN per_doc p ON p.doc_id = c.doc_id
        """,
        "pack_token_budget": _pack_token_budget_sql(),
        "token_shards": _token_shards_sql(),
        "stratified_sample": _stratified_sample_sql(),
        "line_dedup": _line_dedup_sql(),
        "host_boilerplate": _host_boilerplate_sql(),
        "dup_span_removal": _dup_span_removal_sql(),
        "normalize_text": _normalize_text_sql(),
        "domain_stats": _domain_stats_sql(),
        "domain_cap": _domain_cap_sql(),
        "fasttext_langid": _fasttext_langid_sql(),
        "quality_classifier": _quality_classifier_sql(),
        "dsir_weights": _dsir_weights_sql(),
        "dsir_select": _dsir_select_sql(),
        "outlink_stats": _outlink_stats_sql(),
        "page_meta": _page_meta_sql(),
        "anchor_texts": _anchor_texts_sql(),
        # closed-form ground truth: the robots bodies are synthesized by
        # arithmetic, so the binding rule set is known by construction —
        # hosts shopN with N%3=0 disallow /admin and /tmp/ for agent *
        # closed-form: hosts are arithmetic — bans on shop4/shop7 catch
        # plain AND cdn variants (suffix semantics); the cdn.shop2
        # entry catches only the cdn variant
        "blocklist_filter": """
          WITH p AS (
            SELECT o_orderkey AS k,
                   o_orderkey % 10 AS h,
                   (o_orderkey % 5 = 0) AS cdn
            FROM orders
          )
          SELECT k::BIGINT AS doc_id,
                 'https://' || (CASE WHEN cdn THEN 'cdn.' ELSE '' END)
                   || 'shop' || h::VARCHAR || '.example.com/p' || k::VARCHAR AS url,
                 CASE WHEN h = 4 THEN 'commerce'
                      WHEN h = 7 THEN 'adult'
                      WHEN h = 2 AND cdn THEN 'tracker' END AS block_category,
                 (h = 4 OR h = 7 OR (h = 2 AND cdn)) AS blocked
          FROM p
        """,
        "robots_filter": """
          SELECT o_orderkey::BIGINT AS doc_id,
                 'https://shop' || (o_orderkey % 10)::VARCHAR || '.example.com' ||
                 CASE o_orderkey % 4 WHEN 0 THEN '/admin/panel'
                                     WHEN 1 THEN '/products/' || o_orderkey::VARCHAR
                                     WHEN 2 THEN '/tmp/cache/' || o_orderkey::VARCHAR
                                     ELSE '/' END AS url,
                 ((o_orderkey % 10) % 3 = 0 AND o_orderkey % 4 IN (0, 2))
                   AS robots_disallowed
          FROM orders
        """,

        "html_text": """
          SELECT doc_id::BIGINT AS doc_id,
                 HTMLTEXT AS text
          FROM (
            SELECT doc_id,
                   '<html><head><script>var x=1;</script><style>.css</style></head><body><!-- c --><h1>Doc '
                   || doc_id || '</h1><p>' || text
                   || ' &amp; more &lt;tags&gt;</p></body></html>' AS html
            FROM documents
          )
        """.replace("HTMLTEXT", _webgraph_html_to_text_sql()),

        "domain_rank": _domain_rank_sql(),
        "vocab_stats": textstats.vocab_stats_sql(top_k=VOCAB_TOP_K),
        "ngram_repetition": quality.ngram_repetition_sql(),
        "cosine_topk": _cosine_topk_sql(),
        "lsh_ann_topk": _ann_topk_export_sql(_LSH_TOPK_EXPORT),
        "ivf_ann_topk": _ann_topk_export_sql(_IVF_TOPK_EXPORT),
        "ivf_append_topk": _ann_topk_export_sql(_IVF_APPEND_EXPORT),
        "ivf_sq8_topk": _ivf_sq8_export_sql(_IVF_SQ8_EXPORT),
        "ivf_pq_topk": _ivf_pq_export_sql(_IVF_PQ_EXPORT, _IVF_PQ_INDEX),
        "semantic_dedup_verified": f"""
          WITH exp AS (
            SELECT vec_id, cell, keep
            FROM read_parquet('{_SEMDEDUP_EXPORT}/*.parquet')
          ),
          v AS (
            SELECT e.vec_id, x.cell, x.keep,
                   list_transform(e.embedding::DOUBLE[], t -> t /
                     greatest(sqrt(list_sum(list_transform(e.embedding::DOUBLE[], y -> y*y))), 1e-12)) AS unit
            FROM embeddings e JOIN exp x ON x.vec_id = e.vec_id
          ),
          p AS (
            SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
                   a.keep AS keep_a, b.keep AS keep_b
            FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE round(list_sum(list_transform(list_zip(a.unit, b.unit), q -> q[1] * q[2])), 6)
                  >= {_SEMDEDUP_THRESHOLD}
          ),
          viol AS (
            SELECT cell, count(*) AS violating FROM p
            WHERE keep_a AND keep_b GROUP BY cell
          ),
          wit AS (
            SELECT cell, count(DISTINCT vec_id) AS n_witnessed FROM (
              SELECT cell, id_a AS vec_id FROM p WHERE NOT keep_a AND keep_b
              UNION ALL
              SELECT cell, id_b AS vec_id FROM p WHERE keep_a AND NOT keep_b
            ) GROUP BY cell
          ),
          base AS (
            SELECT cell, count(*) AS n,
                   sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept
            FROM exp GROUP BY cell
          )
          SELECT base.cell::BIGINT AS cell, n::BIGINT AS n, n_kept::BIGINT AS n_kept,
                 coalesce(violating, 0)::BIGINT AS violating_kept_pairs,
                 (n - n_kept - coalesce(n_witnessed, 0))::BIGINT AS dropped_without_witness
          FROM base
          LEFT JOIN viol ON viol.cell = base.cell
          LEFT JOIN wit ON wit.cell = base.cell
        """,
        "ann_recall": f"""
          WITH truth AS ({_cosine_topk_sql()}),
          cand AS (
            SELECT DISTINCT method, q_id, vec_id
            FROM read_parquet('{_ANN_EXPORT}/*.parquet')
          ),
          hits AS (
            SELECT c.method, count(*) AS h
            FROM cand c JOIN truth t ON t.q_id = c.q_id AND t.vec_id = c.vec_id
            GROUP BY c.method
          )
          SELECT m.method,
                 round(coalesce(h, 0) * 1.0 / (SELECT count(*) FROM truth), 4)::DOUBLE
                   AS recall_at_5
          FROM (VALUES ('lsh'), ('ivf')) m(method)
          LEFT JOIN hits ON hits.method = m.method
        """,
        "layer_hits": f"""
          SELECT layer, SUM(hits)::BIGINT AS total_hits,
                 COUNT(*)::BIGINT AS docs
          FROM read_parquet('{_LAYER_HITS_EXPORT}/*.parquet')
          GROUP BY layer
        """,
        "repair_metrics": f"""
          SELECT action, COUNT(*)::BIGINT AS n
          FROM read_parquet('{_REPAIR_ACTIONS_EXPORT}/*.parquet')
          GROUP BY action
        """,
        "repair_debug": f"""
          SELECT layer,
                 SUM(CASE WHEN status IN ('validated', 'processed') THEN 1 ELSE 0 END)::BIGINT AS n_processed,
                 SUM(CASE WHEN status = 'skipped' THEN 1 ELSE 0 END)::BIGINT AS n_skipped,
                 SUM(CASE WHEN status = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error,
                 SUM(repairs)::BIGINT AS total_repairs
          FROM read_parquet('{_REPAIR_DEBUG_EXPORT}/*.parquet')
          GROUP BY layer
        """,
        "perplexity": _perplexity_sql(),
        "trigram_lm": _trigram_lm_sql(),
        "ppl_trained": _ppl_trained_sql(),
        "kn_perplexity": _kn_perplexity_sql(),
        "ppl_histogram": f"""
          WITH p AS ({_perplexity_sql()})
          SELECT (floor(ppl / 0.125) * 0.125)::DOUBLE AS ppl_bucket,
                 count(*)::BIGINT AS n
          FROM p GROUP BY 1
        """,
        "ppl_buckets": f"""
          WITH p AS ({_perplexity_sql()}),
          t AS (
            SELECT p.doc_id, d.lang, p.ppl, floor(p.ppl / 0.125) AS pb
            FROM p JOIN documents d ON d.doc_id = p.doc_id
          ),
          hist AS (SELECT lang, pb, count(*) AS n FROM t GROUP BY lang, pb),
          cum AS (
            SELECT lang, pb,
                   sum(n) OVER (PARTITION BY lang ORDER BY pb) AS cum,
                   sum(n) OVER (PARTITION BY lang) AS tot
            FROM hist
          ),
          cuts AS (
            SELECT lang,
                   min(CASE WHEN cum * 3 >= tot THEN pb END) AS head_cut,
                   min(CASE WHEN cum * 3 >= tot * 2 THEN pb END) AS mid_cut
            FROM cum GROUP BY lang
          )
          SELECT t.doc_id::BIGINT AS doc_id, t.lang, t.ppl::DOUBLE AS ppl,
                 CASE WHEN t.pb <= c.head_cut THEN 'head'
                      WHEN t.pb <= c.mid_cut THEN 'middle'
                      ELSE 'tail' END AS bucket
          FROM t JOIN cuts c ON c.lang = t.lang
        """,
        "script_mix": _script_mix_oracle_sql(),
        "canonical_url": _canonical_url_sql(),
        "url_dedup": f"""
          WITH p AS (
            SELECT o_orderkey::BIGINT AS doc_id,
                   CASE o_orderkey % 3
                     WHEN 0 THEN 'HTTP://News.Example.COM:80/a/' || (o_orderkey % 500)
                     WHEN 1 THEN 'http://news.example.com/a/' || (o_orderkey % 500) || '?utm_source=feed'
                     ELSE 'http://news.example.com/a/' || (o_orderkey % 500) || '#top'
                   END AS url,
                   (datediff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT * 86400
                    + o_orderkey % 86400)::BIGINT AS crawl_ts
            FROM orders
          ),
          c AS (SELECT {corpus.canonical_url_sql('url')} AS canon_url, doc_id, crawl_ts FROM p),
          r AS (
            SELECT canon_url, doc_id, crawl_ts,
                   count(*) OVER (PARTITION BY canon_url) AS n_crawls,
                   row_number() OVER (PARTITION BY canon_url
                                      ORDER BY crawl_ts DESC, doc_id ASC) AS rn
            FROM c
          )
          SELECT canon_url, doc_id, crawl_ts, n_crawls::BIGINT AS n_crawls
          FROM r WHERE rn = 1
        """,
        "embedding_near_dup": """
          WITH v AS (
            SELECT vec_id AS id, list_transform(embedding::DOUBLE[], x -> x /
              greatest(sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y*y))), 1e-12)) AS unit
            FROM embeddings WHERE vec_id < 1000
          )
          SELECT a.id::BIGINT AS id_a, b.id::BIGINT AS id_b,
                 round(list_sum(list_transform(list_zip(a.unit, b.unit), p -> p[1] * p[2])), 6)::DOUBLE AS cos
          FROM v a CROSS JOIN v b
          WHERE a.id < b.id
            AND round(list_sum(list_transform(list_zip(a.unit, b.unit), p -> p[1] * p[2])), 6) >= 0.4
        """,
        "embedding_dedup_components": """
          WITH RECURSIVE uv AS (
            SELECT vec_id AS id, list_transform(embedding::DOUBLE[], x -> x /
              greatest(sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y*y))), 1e-12)) AS unit
            FROM embeddings WHERE vec_id < 1000
          ),
          prs AS (
            SELECT a.id AS ua, b.id AS ub
            FROM uv a CROSS JOIN uv b
            WHERE a.id < b.id
              AND round(list_sum(list_transform(list_zip(a.unit, b.unit), p -> p[1] * p[2])), 6) >= 0.4
          ),
          edges AS (SELECT ua AS eu, ub AS ev FROM prs UNION SELECT ub, ua FROM prs),
          reach AS (
            SELECT vec_id AS u, vec_id AS r FROM embeddings WHERE vec_id < 1000
            UNION
            SELECT e.eu, reach.r FROM edges e JOIN reach ON reach.u = e.ev
          )
          SELECT u::BIGINT AS doc_id, min(r)::BIGINT AS rep_id,
                 (u = min(r)) AS is_canonical
          FROM reach GROUP BY u
        """,
        "langid": f"SELECT {lang_expr} AS lang_id, count(*)::BIGINT AS n FROM documents GROUP BY 1",
        "filter_funnel": _filter_funnel_sql(),
        "pipeline_funnel": _pipeline_funnel_sql(),
        "main_content": _main_content_sql(),
        "quality_stats": f"""
            SELECT doc_id::BIGINT AS doc_id,
                   {qsql['q_n_words']}::BIGINT AS q_n_words,
                   round({qsql['q_mean_word_len']}, 4)::DOUBLE AS q_mean_word_len,
                   round({qsql['q_symbol_ratio']}, 4)::DOUBLE AS q_symbol_ratio,
                   {qsql['q_has_stopword']} AS q_has_stopword,
                   round({qsql['q_distinct_ratio']}, 4)::DOUBLE AS q_distinct_ratio,
                   round({qsql['q_bullet_ratio']}, 4)::DOUBLE AS q_bullet_ratio,
                   round({qsql['q_ellipsis_ratio']}, 4)::DOUBLE AS q_ellipsis_ratio,
                   round({qsql['q_alpha_ratio']}, 4)::DOUBLE AS q_alpha_ratio,
                   {qsql['q_lorem_ipsum']} AS q_lorem_ipsum,
                   round({qsql['q_dup_line_ratio']}, 4)::DOUBLE AS q_dup_line_ratio,
                   {qsql['passes']} AS q_pass
            FROM documents
        """,
        "pii_scrub": f"SELECT event_id::BIGINT AS event_id, {scrub.scrub_sql('props')} AS scrubbed FROM events",
        "token_stats": f"""
            SELECT doc_id::BIGINT AS doc_id,
                   {ssql['token_count']}::BIGINT AS token_count,
                   {ssql['word_count']}::BIGINT AS word_count,
                   {ssql['line_count']}::BIGINT AS line_count,
                   {ssql['fingerprint']} AS fingerprint
            FROM documents
        """,
        "repair_predicates": r"""
            SELECT doc_id::BIGINT AS doc_id,
                   contains(text, '```') AS has_fence,
                   contains(text, '//') AS has_line_comment,
                   contains(text, '''') AS has_single_quote,
                   regexp_matches(text, ',\s*[}\]]') AS has_trailing_comma,
                   (length(text) - length(regexp_replace(text, '\{', '', 'g')))
                     != (length(text) - length(regexp_replace(text, '\}', '', 'g'))) AS braces_unbalanced
            FROM documents
        """,
        "can_repair": rf"""
            SELECT doc_id::BIGINT AS doc_id,
                   (
                     contains(text, '```') OR contains(text, '//') OR contains(text, '/*')
                     OR contains(text, '<pre') OR contains(text, '<code') OR contains(text, '<json')
                     OR (length(trim(text)) > 100 AND substr(trim(text), 1, 1) NOT IN ('{{', '['))
                     OR (
                       trim(text) != ''
                       AND (
                         regexp_matches(text, '[{{}}\[\]''\":]')
                         OR trim(text) IN ('true', 'false', 'null')
                         OR regexp_matches(trim(text), '{_NUMBER_RE}')
                       )
                     )
                   ) AS can_repair
            FROM documents
        """,
        "winnow_fingerprints": f"""
            WITH grams AS (
              SELECT doc_id, i,
                     array_to_string((regexp_split_to_array({_NORM}, ' '))[i : i + 4], ' ') AS g
              FROM (
                SELECT doc_id, text,
                       unnest(range(1, greatest(len(regexp_split_to_array({_NORM}, ' ')) - 3, 2))) AS i
                FROM documents
              )
            ),
            hs AS (SELECT doc_id, i, {_hex_to_int("md5(g)", 1, 12)} AS h FROM grams),
            counts AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id),
            wins AS (
              SELECT a.doc_id, a.i, min(b.h) AS m
              FROM hs a
              JOIN counts c ON c.doc_id = a.doc_id
              JOIN hs b ON b.doc_id = a.doc_id AND b.i >= a.i AND b.i <= a.i + 3
              WHERE a.i <= greatest(c.n - 3, 1)
              GROUP BY a.doc_id, a.i
            )
            SELECT DISTINCT doc_id::BIGINT AS doc_id, m::BIGINT AS fingerprint FROM wins
        """,
        # stub image decoder = byte-value histogram folded mod N_FEATURES;
        # byte % 16 == the low nibble == hex digit at even (1-indexed)
        # positions of hex(encode(text)).  Integer ppm then one IEEE
        # division reproduces the Spark doubles bit-exactly.
        "media_features": f"""
            WITH b AS (
              SELECT concat('doc://', doc_id) AS url,
                     lower(hex(encode(text))) AS hx,
                     octet_length(encode(text))::BIGINT AS n_bytes,
                     least(octet_length(encode(text)), 65536) AS nb
              FROM documents
            ),
            nib AS (
              SELECT url, (strpos('0123456789abcdef', substr(hx, 2 * i, 1)) - 1) AS v
              FROM (SELECT url, hx, unnest(range(1, nb + 1)) AS i FROM b)
            ),
            cnt AS (SELECT url, v, count(*) AS c FROM nib GROUP BY 1, 2),
            grid AS (SELECT url, n_bytes, nb, unnest(range(0, {_N_FEATURES})) AS feature_idx FROM b)
            SELECT g.url AS url,
                   g.feature_idx::BIGINT AS feature_idx,
                   ((coalesce(c.c, 0) * 1000000) // greatest(g.nb, 1)) / 1000000 AS value,
                   g.n_bytes AS n_bytes
            FROM grid g LEFT JOIN cnt c ON c.url = g.url AND c.v = g.feature_idx
        """,
        "media_meta": """
            SELECT concat('doc://', doc_id) AS url,
                   CASE
                     WHEN starts_with(text, 'GIF8') THEN 'image/gif'
                     WHEN starts_with(text, 'RIFF') THEN 'audio/wav'
                     WHEN starts_with(text, chr(26) || 'E' || chr(2019)) THEN 'video/webm'
                     WHEN starts_with(text, '<html') THEN 'text/html'
                     ELSE 'application/octet-stream'
                   END AS media_type,
                   octet_length(encode(text))::BIGINT AS n_bytes
            FROM documents
        """,
        "media_near_dup": _media_near_dup_sql(),
        "corpus_funnel": _corpus_funnel_sql(),
        "frame_sample": f"""
            WITH b AS (
              SELECT concat('doc://', doc_id) AS url,
                     octet_length(encode(text))::BIGINT AS nb
              FROM documents
            )
            SELECT url,
                   i AS frame_idx,
                   least(greatest(nb - i * greatest(nb // {_N_FRAMES}, 1), 0),
                         greatest(nb // {_N_FRAMES}, 1))::BIGINT AS frame_bytes
            FROM (SELECT url, nb, unnest(range(0, {_N_FRAMES})) AS i FROM b)
        """,
        "sessionize": sessionize_sql(),
        "event_metrics": """
            SELECT event_type, count(*)::BIGINT AS n,
                   round(avg(value), 4)::DOUBLE AS avg_value,
                   count(DISTINCT user_id)::BIGINT AS users
            FROM events GROUP BY event_type
        """,
        "keep_drop": f"""
            SELECT doc_id::BIGINT AS doc_id,
                   (({lang_expr}) = 'en' AND {qsql['passes']}) AS keep
            FROM documents
        """,
        # kernel fast-path flag == strict JSON validity on constructed
        # docs (valid / truncated / single-quoted / prose variants);
        # all four classes are repairable -> ok is constant true
        "repair_ok_fastpath": """
            WITH src AS (
              SELECT o_orderkey, o_orderpriority, o_orderstatus,
                     to_json(struct_pack(
                       o_orderkey := o_orderkey,
                       o_orderstatus := o_orderstatus,
                       o_orderpriority := o_orderpriority))::VARCHAR AS payload
              FROM orders
            ),
            d AS (
              SELECT o_orderkey,
                     CASE o_orderkey % 4
                       WHEN 0 THEN payload
                       WHEN 1 THEN substr(payload, 1, length(payload) - 1)
                       WHEN 2 THEN replace(payload, '"', chr(39))
                       ELSE concat('order priority ', o_orderpriority, ' status ', o_orderstatus)
                     END AS text
              FROM src
            )
            SELECT o_orderkey::BIGINT AS doc_id,
                   json_valid(text) AS fast_path,
                   true AS ok
            FROM d
        """,
    }
