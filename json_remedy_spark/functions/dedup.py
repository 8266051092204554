"""Deduplication operators for training-data pipelines.

All portable-hash based (md5 of strings) so every variant has an exact
DuckDB oracle — no platform-specific hash functions in the contract
surface.

* exact          — hash-groupBy on normalized text (one shuffle on a
                   32-hex key; partial agg map-side).
* minhash LSH    — shingle -> k minhashes -> b bands -> bucket join.
                   Scale path: candidate pairs only materialize within
                   a band bucket (self-join on (band, bucket_sig)),
                   never the full cross product.
* ngram jaccard  — exact verification on candidate pairs (or, at small
                   scale, all intersecting pairs via shingle self-join).
* simhash        — 64-bit sign-of-weighted-bits fingerprint; hamming
                   band join on 16-bit chunks.
* embedding near-dup — see similarity.py (cosine).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import hashlib as _hashlib

from json_remedy_spark.localdf import bounded_collect, local_frame

SHINGLE_WORDS = 3
MINHASH_K = 12
LSH_BANDS = 4  # 4 bands x 3 rows

# Universal-hash family over ONE 48-bit base hash (datasketch-style):
# mh_k = (A[k]*h + B[k]) mod P.  A odd 12-bit, B < P, so A*h + B < 2^62
# stays exact in BIGINT arithmetic on both engines.
MINHASH_P = (1 << 61) - 1
MINHASH_A = [
    (int(_hashlib.md5(f"jrs-minhash-a-{k}".encode()).hexdigest()[:3], 16) | 1)
    for k in range(MINHASH_K)
]
MINHASH_B = [
    int(_hashlib.md5(f"jrs-minhash-b-{k}".encode()).hexdigest()[:15], 16) % MINHASH_P
    for k in range(MINHASH_K)
]


def normalized_text(col):
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One representative (min id) per identical normalized text."""
    return (
        docs.groupBy(F.md5(normalized_text(F.col(text_col))).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _shingle_list(text: str) -> list:
    """w-word shingles of the normalized text, distinct, order-stable.

    Semantics pinned to the SQL oracle: lower + whitespace-collapse,
    windows of SHINGLE_WORDS (short docs yield their single prefix
    window)."""
    ws = (text or "").lower().split()
    n = len(ws)
    upper = max(n - SHINGLE_WORDS, 0) + 1
    seen = set()
    out = []
    for i in range(upper):
        s = " ".join(ws[i : i + SHINGLE_WORDS])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exploded (doc_id, shingle) table via an Arrow-batched kernel.

    A column-expression formulation (transform over sequence + slice)
    exists but Spark evaluates higher-order functions interpreted, and
    the sliced array re-evaluates per element — quadratic per doc.  The
    Python kernel is linear and ~20x faster; semantics are identical
    (locked by the DuckDB oracle)."""
    import pandas as pd

    src = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))

    def gen(batches):
        for pdf in batches:
            ids, shs = [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                for s in _shingle_list(txt):
                    ids.append(did)
                    shs.append(s)
            yield pd.DataFrame({"doc_id": ids, "shingle": shs})

    return src.mapInPandas(gen, schema="doc_id long, shingle string")


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_set_hash: bool = False,
) -> DataFrame:
    """k minhashes per doc: one md5 per shingle -> 48-bit base hash h,
    then the affine family mh_k = (A[k]*h + B[k]) mod P (independent
    permutation approximations, unlike naive h1+k*h2 double hashing
    where one small shingle hash wins every k).

    MinHash is per-document math — computed entirely inside one
    mapInPandas pass with ZERO shuffle (the explode+groupBy
    formulation shuffles the full shingle table for nothing).  The
    DuckDB oracle reproduces the exact integers from the same md5 hex.

    ``with_set_hash`` appends a ``set_hash`` column: md5 over the
    SORTED shingle set.  Docs with equal ``set_hash`` have identical
    shingle sets, hence jaccard 1 with each other and identical
    jaccard against every third doc — fully interchangeable in the
    LSH->verify->components graph.  The dedup job collapses on it
    before banding (see run_dedup.py) because a k-doc set-identical
    group (web boilerplate) otherwise lands whole in ONE bucket of
    EVERY band: k(k-1)/2 candidate pairs, quadratic in k."""
    import hashlib

    import numpy as np
    import pandas as pd

    src = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    ks = list(range(MINHASH_K))
    schema = "doc_id long, " + ", ".join(f"mh{k} long" for k in ks)
    if with_set_hash:
        schema += ", set_hash string"
    A = np.array(MINHASH_A, dtype=np.int64)
    B = np.array(MINHASH_B, dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            rows = {"doc_id": list(pdf["doc_id"])}
            cols = {f"mh{k}": [] for k in ks}
            set_hashes = []
            for txt in pdf["text"]:
                sl = _shingle_list(txt)
                hs = np.array(
                    [
                        int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16)
                        for s in sl
                    ],
                    dtype=np.int64,
                )
                if len(hs):
                    sigs = ((hs[:, None] * A[None, :] + B[None, :]) % MINHASH_P).min(axis=0)
                else:
                    sigs = [None] * MINHASH_K
                for k in ks:
                    cols[f"mh{k}"].append(int(sigs[k]) if sigs[k] is not None else None)
                if with_set_hash:
                    set_hashes.append(
                        hashlib.md5("\x1f".join(sorted(sl)).encode("utf-8")).hexdigest()
                    )
            rows.update(cols)
            if with_set_hash:
                rows["set_hash"] = set_hashes
            yield pd.DataFrame(rows)

    return src.mapInPandas(gen, schema=schema)


def banded_signatures(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) rows from a minhash-signature table —
    one ``explode`` over the signature row (not a union of per-band
    scans, which would recompute the signatures once per band per
    join side)."""
    rows_per_band = MINHASH_K // LSH_BANDS
    band_structs = []
    for b in range(LSH_BANDS):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_structs.append(F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("bucket")))
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def candidate_pairs_from_banded(
    banded: DataFrame,
    hub_cap: int | None = None,
    n_hubs: int = 2,
) -> DataFrame:
    """Distinct candidate pairs from a (doc_id, band, bucket) table —
    the self-join both the in-memory and the at-rest (bucketed table)
    paths share.

    ``hub_cap``: quadratic-blowup guard for genuinely-huge near-dup
    families (web template boilerplate).  A bucket of k docs emits
    k(k-1)/2 pairs; the sf1 scale rehearsal surfaced a 56k-doc bucket
    at only 200k docs (9x10^9 pairs — the verify join never
    finishes).  Buckets with <= hub_cap members keep the EXACT
    all-pairs self-join; larger buckets emit STAR edges instead: every
    member pairs with the bucket's ``n_hubs`` smallest doc_ids (plus
    hub-hub pairs), k*n_hubs pairs — LINEAR in k.  Downstream exact
    jaccard still verifies every emitted edge, so above the cap the
    tradeoff is bounded RECALL only: a doc joins the family unless it
    fails verification against ALL hubs while passing against some
    sibling — and a missed doc is merely KEPT as its own canonical
    (dedup errs toward keeping, never wrongly drops a unique).  This
    is strictly more conservative than marking whole LSH buckets as
    duplicate clusters without any verification, the published
    practice at corpus scale (Lee et al. 2022 §4.1; SlimPajama).
    ``hub_cap=None`` (default — all library oracles) is fully exact.
    """
    if hub_cap is None:
        return (
            banded.alias("a")
            .join(banded.alias("b"), ["band", "bucket"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
    # Bucket sizes via agg + join-back, NOT a window count: a window
    # partitioned by (band, bucket) would pin each mega-bucket — the
    # exact case this guard exists for — into a single task, while the
    # agg gets map-side combine and AQE skew-join can split the hot
    # key on the join-back (ADVICE r5).
    sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_sz"))
    with_sz = banded.join(sizes, ["band", "bucket"])
    small = with_sz.where(F.col("_sz") <= hub_cap).drop("_sz")
    exact = (
        small.alias("a")
        .join(small.alias("b"), ["band", "bucket"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    big = with_sz.where(F.col("_sz") > hub_cap).drop("_sz")
    starred = (
        big.alias("m")
        .join(_bucket_hubs(big, n_hubs).alias("h"), ["band", "bucket"])
        .where(F.col("h.doc_id") < F.col("m.doc_id"))
        .select(F.col("h.doc_id").alias("doc_a"), F.col("m.doc_id").alias("doc_b"))
    )
    return exact.unionByName(starred).distinct()


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Banded LSH: docs sharing any band signature are candidates."""
    from pyspark import StorageLevel

    sig = minhash_signatures(docs, id_col, text_col)
    # The signature kernel (shingle + minhash mapInPandas) is by far
    # the most expensive input — persist so the self-join's two sides
    # read ONE materialization instead of recomputing it per side.
    # At 100 TB this is a signature table written bucketed by
    # (band, bucket) instead of an in-memory cache (see
    # write_signature_table / lsh_candidate_pairs_from_table).
    # Long-lived sessions clearCache between jobs.
    banded = banded_signatures(sig).persist(StorageLevel.MEMORY_AND_DISK)
    return candidate_pairs_from_banded(banded)


def write_signature_table(
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8,
    identifier: str = "jrs.db.lsh_signatures",
    signatures: DataFrame | None = None,
) -> str:
    """Materialize the banded LSH signature table AT REST — the 100 TB
    form of ``lsh_candidate_pairs``'s in-memory persist.

    The expensive map pass (shingle + minhash kernel) runs once and
    lands bucketed by the band signature (``bucket``), so the
    candidate self-join over the stored table co-locates identical
    join keys.  Resume-safe: the write goes through the checkpoint
    manifest (or an Iceberg snapshot when a catalog is configured), so
    a killed signature job recomputes only uncommitted buckets and the
    candidate step never has to re-run the kernel.  Returns the format
    actually used ("iceberg" | "parquet+manifest")."""
    from json_remedy_spark.sources.catalog import write_bucketed_table

    sig = (
        signatures
        if signatures is not None
        else minhash_signatures(docs, id_col, text_col)
    )
    banded = banded_signatures(sig)
    return write_bucketed_table(banded, identifier, out_dir, n_buckets=n_buckets, key="bucket")


def read_signature_table(spark, ref: str) -> DataFrame:
    """The stored (doc_id, band, bucket) table written by
    ``write_signature_table``: an Iceberg identifier when a catalog is
    configured, else the parquet+manifest directory (the
    underscore-prefixed manifest dir is invisible to parquet
    discovery)."""
    from json_remedy_spark.sources.catalog import read_table

    return read_table(spark, ref).select("doc_id", "band", "bucket")


def lsh_candidate_pairs_from_table(
    spark, out_dir: str, hub_cap: int | None = None, n_hubs: int = 2
) -> DataFrame:
    """Candidate pairs computed from the AT-REST signature table —
    byte-identical results to ``lsh_candidate_pairs`` (same
    ``candidate_pairs_from_banded`` self-join), but the signature
    kernel never re-runs: both join sides scan the stored, bucketed
    parquet.  ``hub_cap`` forwards the oversized-bucket star guard."""
    return candidate_pairs_from_banded(
        read_signature_table(spark, out_dir), hub_cap=hub_cap, n_hubs=n_hubs
    )


def _bucket_hubs(banded: DataFrame, n_hubs: int) -> DataFrame:
    """``n_hubs`` smallest doc_ids per (band, bucket) via n_hubs rounds
    of a plain min() agg — bounded state, map-side combine, no window
    (a window would pin each mega-bucket into one task; ADVICE r5)."""
    remaining = banded
    hub_frames = []
    for _ in range(n_hubs):
        h = remaining.groupBy("band", "bucket").agg(F.min("doc_id").alias("doc_id"))
        hub_frames.append(h)
        remaining = (
            remaining.join(h.withColumnRenamed("doc_id", "_h"), ["band", "bucket"])
            .where(F.col("doc_id") > F.col("_h"))
            .drop("_h")
        )
    hubs = hub_frames[0]
    for h in hub_frames[1:]:
        hubs = hubs.unionByName(h)
    return hubs


def cross_dump_candidate_pairs(
    new_banded: DataFrame,
    seen_banded: DataFrame,
    hub_cap: int | None = None,
    n_hubs: int = 2,
) -> DataFrame:
    """Candidate pairs for DUMP-OVER-DUMP incremental fuzzy dedup
    (the CCNet/FineWeb production cadence): within-new pairs PLUS the
    (new x seen) bipartite band join — (seen x seen) pairs are NEVER
    generated, because prior runs already verified them and their
    clustering arrives through the prior components' star edges
    (``incremental_near_dup_components``).  Ids must be globally
    unique across dumps (caller contract).

    Scale shape: the seen side is the AT-REST signature table
    (``read_signature_table``) — the expensive shingle+minhash kernel
    re-runs over the NEW dump only, never over the accumulated corpus.
    ``hub_cap`` extends the quadratic-blowup guard to the bipartite
    side: a seen bucket larger than the cap (a known boilerplate
    family) is represented by its ``n_hubs`` smallest members, so
    cross candidates stay <= |new| * bands * max(hub_cap, n_hubs) —
    LINEAR in the new dump no matter how large the at-rest corpus
    grows."""
    within = candidate_pairs_from_banded(new_banded, hub_cap=hub_cap, n_hubs=n_hubs)
    seen = seen_banded
    if hub_cap is not None:
        sizes = seen.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_sz"))
        with_sz = seen.join(sizes, ["band", "bucket"])
        small = with_sz.where(F.col("_sz") <= hub_cap).drop("_sz")
        big = with_sz.where(F.col("_sz") > hub_cap).drop("_sz")
        seen = small.unionByName(_bucket_hubs(big, n_hubs).select("doc_id", "band", "bucket"))
    cross = (
        new_banded.alias("n")
        .join(seen.alias("s"), ["band", "bucket"])
        .where(F.col("n.doc_id") != F.col("s.doc_id"))
        .select(
            F.least("n.doc_id", "s.doc_id").alias("doc_a"),
            F.greatest("n.doc_id", "s.doc_id").alias("doc_b"),
        )
    )
    return within.unionByName(cross).distinct()


def incremental_near_dup_components(
    new_docs: DataFrame,
    seen_banded: DataFrame,
    seen_docs: DataFrame,
    seen_components: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hub_cap: int | None = None,
    n_hubs: int = 2,
    seen_shingles: DataFrame | None = None,
) -> DataFrame:
    """Incremental fuzzy dedup of a NEW dump against the accumulated
    corpus — provably equal (parity-tested; exact when ``hub_cap`` is
    None) to ``near_dup_components`` over the union, while:

    - the minhash kernel runs over the NEW dump only (``seen_banded``
      is the at-rest signature table of everything processed so far);
    - (seen x seen) candidate pairs are never generated — the prior
      clustering enters as (rep_id -> doc_id) star edges from
      ``seen_components``, whose transitive closure equals the prior
      verified-pair graph's, so components over (prior stars) union
      (new-touching verified pairs) reproduce the one-shot labeling
      (connected components depend only on connectivity; min-id rep
      selection is then identical).  Merges THROUGH a new bridge doc
      (old cluster A — new doc — old cluster B) fall out for free;
    - ``seen_docs`` text is touched only for docs matched by a
      candidate pair: the semi-join happens BEFORE the shingle explode
      so the old corpus is never re-shingled wholesale.

    ``threshold`` must match the one the prior components were built
    with (caller contract, like the ids-globally-unique contract).

    ``seen_shingles``: an already-materialized exploded
    (doc_id, shingle) table covering the seen docs (e.g. the persisted
    handle a prior ``near_dup_components(seen, handles=...)`` run
    exposes).  When given, candidate-matched old docs read their
    shingle rows from it instead of re-running the shingle kernel over
    their text — identical rows (shingling is a pure per-doc
    function; parity pytest-pinned)."""
    from pyspark import StorageLevel

    new = new_docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    old = seen_docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    new_banded = banded_signatures(minhash_signatures(new)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cand = cross_dump_candidate_pairs(
        new_banded, seen_banded, hub_cap=hub_cap, n_hubs=n_hubs
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # semi-join the DOC rows (not the exploded shingles) so only
    # candidate-matched old docs ever reach the shingle kernel
    if seen_shingles is not None:
        old_sh = seen_shingles.join(cand_ids, "doc_id", "left_semi")
        sh = shingles(new).unionByName(old_sh).persist(StorageLevel.MEMORY_AND_DISK)
    else:
        old_matched = old.join(cand_ids, "doc_id", "left_semi")
        sh = shingles(new.unionByName(old_matched)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    verified = jaccard_verify_candidates(sh, cand, threshold=threshold)
    prior = seen_components.select("doc_id", "rep_id")
    prior_edges = prior.where(F.col("doc_id") != F.col("rep_id")).select(
        F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    ids = prior.select("doc_id").unionByName(new.select("doc_id"))
    comp = components_from_pairs(
        ids, verified.select("doc_a", "doc_b").unionByName(prior_edges)
    )
    for h in (new_banded, cand, sh):
        h.unpersist()
    return comp


def jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over all shingle-sharing pairs.

    |A ∩ B| via shingle self-join; |A ∪ B| = |A| + |B| - |A ∩ B|.
    At scale this runs on LSH candidates only; standalone it is the
    exact (quadratic-in-colliding-docs) verifier.

    ``max_shingle_df`` drops shingles appearing in more than N docs —
    the standard stop-shingle guard: a boilerplate phrase shared by 1M
    docs would otherwise produce a 10^12-row join block.
    """
    # materialize the shingle kernel ONCE: sizes and BOTH sides of the
    # self-join read it, and Catalyst does not dedupe common subtrees —
    # unmaterialized, the Python kernel ran three times (r07).  persist
    # (not localCheckpoint): lazy, and the CacheManager dedupes the
    # plan so repeated invocations in one session share one
    # materialization; long-lived sessions clearCache between jobs (the
    # lsh_candidate_pairs contract)
    sh = shingles(docs, id_col, text_col).persist()
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_at_least(
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b"),
        "doc_a", "doc_b", threshold,
    )


def _jaccard_at_least(stats: DataFrame, a: str, b: str, threshold: float) -> DataFrame:
    """``(a, b, jaccard)`` for the rows of an ``(a, b, n_common, n_a,
    n_b)`` frame whose exact n-gram Jaccard clears ``threshold``.  The
    one division-and-rounding expression every verifier and route
    shares: the counts are exact integers on every route, so the
    scores are bit-identical wherever the counts were computed."""
    return (
        stats.withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


SIMHASH_BITS = 64


def _signed64(v: int) -> int:
    """Two's-complement view of an unsigned 64-bit value — what a
    BIGINT literal must say in Spark AND DuckDB (neither accepts
    ``1 << 63`` as an expression; DuckDB raises on the shift)."""
    return v - (1 << 64) if v >= (1 << 63) else v


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash from word tokens (Manku et al. width — 32 bits
    band into 8-bit chunks whose join blocks go quadratic at 10^9
    docs; 64/16 keeps per-chunk selectivity at 65,536-way).

    Each token contributes two md5-prefix 32-bit halves (h1 = hex
    chars 1-8 -> fingerprint bits 0-31, h2 = chars 9-16 -> bits
    32-63); fingerprint bit j is set iff more tokens have bit j set
    than clear.  Bit 63 makes the BIGINT negative — chunk extraction
    masks after the arithmetic shift so the sign never leaks.

    SimHash is per-document math, so like ``minhash_signatures`` it
    runs entirely inside one mapInPandas pass with ZERO shuffle — the
    explode + 64-sum-aggregate column formulation shuffles the full
    token table and its 64 CASE aggregates blow past whole-stage
    codegen limits (measured ~5x slower).  The DuckDB oracle
    reproduces the exact bits from the same md5 hex halves.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    src = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)

    def gen(batches):
        one = np.uint64(1)
        for pdf in batches:
            fps = []
            for txt in pdf["text"]:
                # normalized_text + split(" ") semantics: collapse
                # whitespace, lower; empty doc -> one "" token (same
                # as the SQL regexp_split_to_array on '')
                norm = " ".join((txt or "").lower().split())
                toks = norm.split(" ")
                vals = np.array(
                    [
                        # h2 << 32 | h1: oracle maps hex chars 1-8 to
                        # LOW bits, 9-16 to HIGH bits
                        int((hd := hashlib.md5(t.encode("utf-8")).hexdigest())[8:16] + hd[:8], 16)
                        for t in toks
                    ],
                    dtype=np.uint64,
                )
                bitsum = ((vals[:, None] >> shifts[None, :]) & one).sum(axis=0, dtype=np.int64)
                fp_bits = np.nonzero(2 * bitsum > len(vals))[0]  # majority: sum(2b-1) > 0
                fp = 0
                for j in fp_bits:
                    fp |= 1 << int(j)
                fps.append(_signed64(fp))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": fps})

    return src.mapInPandas(gen, schema="doc_id long, simhash long")


SIMHASH_BANDS = 4  # 4 x 16-bit chunks of the 64-bit fingerprint
_SIMHASH_CHUNK_BITS = SIMHASH_BITS // SIMHASH_BANDS
_SIMHASH_CHUNK_MASK = (1 << _SIMHASH_CHUNK_BITS) - 1


def simhash_near_dup_from_fingerprints(fp: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup join over a precomputed (doc_id, simhash) table.

    Bands the 64-bit fingerprint into SIMHASH_BANDS 16-bit chunks and
    joins on chunk equality; pigeonhole gives EXACT recall for
    ``max_hamming <= SIMHASH_BANDS - 1`` (a pair differing in <= 3
    bits cannot differ in all 4 bands).  Candidates verify with
    ``bit_count(xor) <= max_hamming``.  One shuffle on (band, chunk),
    never all-pairs; the fingerprint table materializes once and feeds
    both join sides."""
    from pyspark import StorageLevel

    if max_hamming >= SIMHASH_BANDS:
        # exact-recall contract: k differing bits can dodge at most k
        # bands, so recall is only guaranteed for k < SIMHASH_BANDS
        raise ValueError(
            f"max_hamming={max_hamming} breaks the exact-recall pigeonhole "
            f"bound (needs max_hamming < SIMHASH_BANDS = {SIMHASH_BANDS})"
        )
    chunk_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), _SIMHASH_CHUNK_BITS * b)
            .bitwiseAND(F.lit(_SIMHASH_CHUNK_MASK))
            .alias("chunk"),
        )
        for b in range(SIMHASH_BANDS)
    ]
    banded = (
        fp.select("doc_id", "simhash", F.explode(F.array(*chunk_structs)).alias("bc"))
        .select("doc_id", "simhash", F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "chunk"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_dup(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fuzzy near-duplicate join over SimHash fingerprints (compute
    fingerprints, then the banded join of
    ``simhash_near_dup_from_fingerprints``)."""
    return simhash_near_dup_from_fingerprints(simhash(docs, id_col, text_col), max_hamming)


# Up to this many pairs (the bounded_collect cap; collect_max_pairs <= 0
# forces the loop) the component labeling runs as ONE driver-side
# union-find over the collected edge list (~16 MB of Arrow at the cap)
# instead of the iterative distributed loop: near-dup pair graphs are a
# vanishing fraction of the corpus (hub-cap bounds them linearly), and
# at suite scale the loop's per-round localCheckpoint + convergence-agg
# jobs dominate wall time.  Identical output by construction — min
# reachable id per component is exactly what min-label converges to
# (parity pytest-pinned); larger graphs keep the distributed iteration.
SMALL_GRAPH_COLLECT_PAIRS = 1 << 20


def components_from_pairs(
    all_ids: DataFrame,
    pairs: DataFrame,
    max_iters: int = 20,
    stats_out: dict | None = None,
    collect_max_pairs: int = SMALL_GRAPH_COLLECT_PAIRS,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every doc gets
    ``rep_id`` = the smallest doc_id reachable through pairs (its
    canonical representative); singletons keep themselves.

    Min-label propagation: labels start as doc_id; each round every
    node takes the min of its own label and its neighbors' labels.
    Converges in O(component diameter) rounds — near-dup components
    are dense little cliques out of the jaccard verifier, so 2-4 in
    practice; ``max_iters`` is a fail-LOUD cap (raises rather than
    returning a silently-unconverged labeling).  Each round is one
    shuffle join keyed by doc_id; convergence is detected by the
    monotonically-decreasing label sum, one cheap aggregate per round
    instead of an old-vs-new join.

    ``all_ids``: one column ``doc_id``; ``pairs``: ``doc_a``/``doc_b``.
    Returns (doc_id, rep_id, is_canonical).  ``stats_out`` (optional
    dict) receives {"rounds": N}; the driver route reports 0 rounds
    plus ``driver_union_find`` and ``label_sizes``."""
    # materialize the pair list ONCE before mirroring: the union's two
    # branches each scan `pairs`, and when pairs is an expensive DAG
    # (the LSH->jaccard verifier) an unmaterialized union runs it twice
    # persist (lazy, CacheManager-deduped — a repeated identical run
    # reuses the materialization) rather than an eager localCheckpoint
    # here; the fast path consumes it driver-side and unpersists, and
    # the iterative path takes ONE localCheckpoint off it below for
    # lineage truncation before releasing the cache entry (r07)
    p = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).persist()
    pdf = bounded_collect(p, collect_max_pairs)
    if pdf is not None:
        sizes: dict = {}
        id_type = p.schema["u"].dataType.simpleString()
        labels = _driver_union_find(p.sparkSession, pdf, id_type, sizes_out=sizes)
        if stats_out is not None:
            stats_out["rounds"] = 0
            stats_out["driver_union_find"] = True
            # exact component sizes among pair-graph nodes (all >= 2);
            # docs outside the graph are singletons of size 1 — size
            # consumers can skip the corpus-wide groupBy + join-back
            stats_out["label_sizes"] = sizes
        p.unpersist()
        return _rejoin_singletons(all_ids, labels)
    p_ck = p.localCheckpoint()
    p.unpersist()
    p = p_ck
    # the pair graph is a vanishing fraction of the corpus — size the
    # propagation shuffle to IT, not to spark.sql.shuffle.partitions:
    # at 250 pairs a 64-partition loop spends ~1.5 s/round scheduling
    # empty tasks; at 10^9 pairs this grows back to a real fan-out
    parts = max(1, min(2048, p.count() // 500_000 + 1))
    edges = (
        p.union(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition(parts, "v")
        .persist()
    )
    # Iterate ONLY over nodes that appear in some pair: singletons can
    # never change label, and in a deduped corpus the pair graph is a
    # vanishing fraction of the table — propagating over all_ids would
    # shuffle the whole corpus once per round for nothing.  Singletons
    # rejoin (rep = self) in one final left join.
    #
    # localCheckpoint (eager), NOT persist: each round's labels feed two
    # operators of the next round, so without lineage truncation the
    # logical plan DOUBLES per round — a 12-round chain OOMs the driver
    # just formatting the plan.  On a production cluster prefer
    # sc.setCheckpointDir + .checkpoint() (executor-loss-safe); the
    # plan-size math is identical.
    # convergence sums run in DECIMAL(38,0): doc ids may be full-range
    # 64-bit hashes (xxhash64(url)), whose BIGINT sum overflows under
    # ANSI mode on any corpus bigger than a few rows
    labels = (
        edges.select(F.col("u").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("rep_id"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum(F.col("rep_id").cast("decimal(38,0)"))).collect()[0][0]
    for _round in range(max_iters):
        if stats_out is not None:
            stats_out["rounds"] = _round + 1
        neigh = (
            edges.join(labels.withColumnRenamed("doc_id", "v"), "v")
            .groupBy(F.col("u").alias("doc_id"))
            .agg(F.min("rep_id").alias("neigh_min"))
        )
        labels = (
            labels.join(neigh, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("rep_id"), F.coalesce("neigh_min", F.col("rep_id"))).alias("rep_id"),
            )
            .localCheckpoint()
        )
        new_sum = labels.agg(F.sum(F.col("rep_id").cast("decimal(38,0)"))).collect()[0][0]
        if new_sum == prev_sum:  # labels only decrease; fixpoint reached
            edges.unpersist()
            return _rejoin_singletons(all_ids, labels)
        prev_sum = new_sum
    edges.unpersist()
    raise ValueError(f"components_from_pairs did not converge in {max_iters} rounds")


def _driver_union_find(
    spark, pdf: pd.DataFrame, id_type: str, sizes_out: dict | None = None
) -> DataFrame:
    """Connected components of a SMALL pair graph (the collected
    columns u, v) as one driver-side union-find.  Union-by-min with
    path compression, so every root is its component's minimum id —
    exactly the fixpoint min-label propagation converges to (parity
    pytest-pinned).  Returns (doc_id, rep_id) for every node appearing
    in a pair.  ``sizes_out`` (optional dict) receives
    {rep_id: n_labeled_docs} — the component sizes among pair-graph
    nodes, already exact on the driver, so downstream size consumers
    can skip the corpus-wide groupBy + join-back (every labeled
    component has size >= 2; docs outside the graph are singletons of
    size 1)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:  # attach the larger root under the smaller
                ru, rv = rv, ru
            parent[rv] = ru
    nodes = list(parent)
    reps = [find(x) for x in nodes]
    if sizes_out is not None:
        from collections import Counter

        sizes_out.update(Counter(reps))
    return local_frame(spark, zip(nodes, reps), f"doc_id {id_type}, rep_id {id_type}")


def _rejoin_singletons(all_ids: DataFrame, labels: DataFrame) -> DataFrame:
    """(doc_id, rep_id) for graph nodes -> full (doc_id, rep_id,
    is_canonical) table: docs outside the pair graph keep themselves."""
    return (
        all_ids.select("doc_id")
        .join(labels.withColumnRenamed("rep_id", "pair_rep"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("pair_rep", F.col("doc_id")).alias("rep_id"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("rep_id"))
    )


def near_dup_components(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    handles: list | None = None,
    hub_cap: int | None = None,
    n_hubs: int = 2,
    stats_out: dict | None = None,
) -> DataFrame:
    """The last mile of fuzzy dedup: verified near-dup pairs
    (``lsh_verified_pairs``) clustered into components, one canonical
    representative (min doc_id) per cluster.  ``is_canonical`` is the
    keep set — filtering on it yields the deduplicated corpus.
    ``hub_cap`` bounds intra-bucket candidate generation (see
    ``candidate_pairs_from_banded``); None keeps the exact all-pairs
    default every library oracle uses.  ``stats_out`` passes through
    to ``components_from_pairs`` (rounds / driver routing /
    label_sizes)."""
    pairs = lsh_verified_pairs(
        docs, threshold, id_col, text_col, handles=handles,
        hub_cap=hub_cap, n_hubs=n_hubs,
    )
    return components_from_pairs(
        docs.select(F.col(id_col).alias("doc_id")), pairs, stats_out=stats_out
    )


def soft_dedup_weights(
    docs: DataFrame,
    threshold: float = 0.8,
    exponent: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    handles: list | None = None,
    hub_cap: int | None = None,
    n_hubs: int = 2,
) -> DataFrame:
    """Soft dedup (SoftDeDup, He et al. 2024, ACL — reweight instead
    of drop): every document survives, but its training-sampling
    weight is ``cluster_size ** -exponent`` over the fuzzy near-dup
    components, so a 1,000-way boilerplate family contributes ~one
    document's worth of gradient instead of 1,000 — without the
    hard-dedup failure mode of deleting rare-but-repeated text whose
    repeats carry signal.  ``exponent=1`` makes each cluster's total
    weight exactly 1.0 (the hard-dedup equivalent mass); smaller
    exponents interpolate toward no dedup.

    Returns (doc_id, rep_id, cluster_size, weight).  Plan shape: the
    component labels' shuffle plus a rep_id-keyed size agg and
    join-back.  Deliberately an AGG + JOIN rather than a window count:
    the agg partially combines map-side (a 10M-doc boilerplate family
    contributes ~one row per map partition) and AQE's skew-join can
    split the join-back's hot rep_id — a window over rep_id would pin
    the whole family into one task with no runtime remedy.  No driver
    state, no broadcast of the O(#clusters) size table."""
    stats: dict = {}
    comp = near_dup_components(
        docs, threshold, id_col, text_col, handles=handles,
        hub_cap=hub_cap, n_hubs=n_hubs, stats_out=stats,
    )
    if "label_sizes" in stats:
        # the driver union-find already knows every component's size
        # (bounded by the pair graph, <= 2 * collect_max_pairs rows):
        # broadcast the local size table instead of the corpus-wide
        # groupBy + join-back — same integers, two exchanges fewer,
        # and no shuffle keyed on a skewable rep_id at all (r07)
        id_type = comp.schema["rep_id"].dataType.simpleString()
        sz = local_frame(
            docs.sparkSession,
            sorted((rep, int(n)) for rep, n in stats["label_sizes"].items()),
            f"rep_id {id_type}, cluster_size long",
        )
        sized = comp.join(F.broadcast(sz), "rep_id", "left").withColumn(
            "cluster_size", F.coalesce("cluster_size", F.lit(1).cast("long"))
        )
    else:
        sizes = comp.groupBy("rep_id").agg(
            F.count("*").cast("long").alias("cluster_size")
        )
        sized = comp.join(sizes, "rep_id")
    return sized.select(
        "doc_id",
        "rep_id",
        "cluster_size",
        F.round(
            F.pow(F.col("cluster_size").cast("double"), F.lit(-float(exponent))), 6
        ).alias("weight"),
    )


def minhash_from_shingles(sh: DataFrame) -> DataFrame:
    """Minhash signatures derived from an ALREADY-MATERIALIZED
    (doc_id, shingle) table: the same 48-bit md5-prefix base hash and
    affine family as ``minhash_signatures``, but as a groupBy-min over
    the exploded table instead of a second shingle kernel pass.
    ``h*A + B < 2^62`` stays exact in BIGINT arithmetic, so the
    integers are identical to the kernel's."""
    h = F.conv(F.substring(F.md5(F.col("shingle")), 1, 12), 16, 10).cast("long")
    hashed = sh.select("doc_id", h.alias("h"))
    return hashed.groupBy("doc_id").agg(
        *[
            F.min((F.col("h") * F.lit(MINHASH_A[k]) + F.lit(MINHASH_B[k])) % F.lit(MINHASH_P)).alias(f"mh{k}")
            for k in range(MINHASH_K)
        ]
    )


# driver-route caps of jaccard_verify_candidates: candidate pairs, and
# candidate-doc shingle rows per side (both bounded_collect caps)
SMALL_VERIFY_COLLECT_PAIRS = 1 << 16
SMALL_VERIFY_COLLECT_SHINGLE_ROWS = 1 << 21


def lsh_verified_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    handles: list | None = None,
    hub_cap: int | None = None,
    n_hubs: int = 2,
) -> DataFrame:
    """The composed 100 TB fuzzy-dedup recipe: banded-LSH candidate
    pairs, then EXACT n-gram Jaccard computed ONLY for those candidates
    — the full shingle self-join of ``jaccard_pairs`` never happens.

    The shingle kernel (the dominant map cost at scale) runs EXACTLY
    ONCE: the exploded (doc_id, shingle) table persists and feeds both
    the minhash aggregation (``minhash_from_shingles``) and the verify
    joins.  Candidates (small) shuffle once on doc_a to pick up A's
    shingles, then once on (doc_b, shingle) to count the intersection;
    union sizes come from a per-doc aggregate of the same table.
    Long-lived sessions: pass ``handles`` to receive the persisted
    frames for unpersist, or clearCache between jobs."""
    from pyspark import StorageLevel

    sh_all = shingles(docs, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    # candidates feed BOTH the semi-join key set and the intersection
    # join — persist so the band self-join runs once
    cand = candidate_pairs_from_banded(
        banded_signatures(minhash_from_shingles(sh_all)),
        hub_cap=hub_cap,
        n_hubs=n_hubs,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if handles is not None:
        handles.extend([sh_all, cand])
    return jaccard_verify_candidates(sh_all, cand, threshold)


def fuzzy_decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    handles: list | None = None,
    collect_max_pairs: int = SMALL_VERIFY_COLLECT_PAIRS,
) -> DataFrame:
    """FUZZY benchmark decontamination — the GPT-3 / Pile move: drop
    training docs that NEAR-duplicate an eval document, not only docs
    sharing one exact shingle (``corpus.decontaminate``).  Bipartite
    minhash-LSH between corpus and eval set, then the one exact
    verifier, ``jaccard_verify_candidates(..., right_sh=eval
    shingles)``, over the bucket-collision candidates only.  Returns
    ``(doc_id, eval_id, jaccard)`` for every pair clearing
    ``threshold`` (a gate drops ``doc_id``s appearing in any pair).
    ``eval_docs`` carries the same ``id_col``/``text_col`` as ``docs``.

    Scale shape: the eval side is tiny next to the corpus, so its
    banded signature table (and, in the verify, its shingle table)
    broadcasts.  The corpus shingle kernel runs ONCE (persisted; feeds
    both the minhash aggregation and the verify, the
    ``lsh_verified_pairs`` pattern), corpus docs never self-join, and
    candidate volume is bounded by bucket collisions against the eval
    set, not by corpus size.  ``collect_max_pairs`` is the verify's
    driver-route cap (``<= 0`` forces the distributed joins)."""
    from pyspark import StorageLevel

    corp_sh = shingles(docs, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    eval_sh = shingles(eval_docs, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    eval_banded = F.broadcast(banded_signatures(minhash_from_shingles(eval_sh)))
    cand = (
        banded_signatures(minhash_from_shingles(corp_sh))
        .alias("c")
        .join(eval_banded.alias("e"), ["band", "bucket"])
        .select(
            F.col("c.doc_id").alias("doc_id"), F.col("e.doc_id").alias("eval_id")
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if handles is not None:
        handles.extend([corp_sh, eval_sh, cand])
    return jaccard_verify_candidates(
        corp_sh, cand, threshold, collect_max_pairs=collect_max_pairs, right_sh=eval_sh
    )


def jaccard_verify_candidates(
    sh: DataFrame,
    cand: DataFrame,
    threshold: float = 0.8,
    collect_max_pairs: int = SMALL_VERIFY_COLLECT_PAIRS,
    right_sh: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over SUPPLIED candidate pairs from SUPPLIED
    exploded (doc_id, shingle) tables — the one verify stage of every
    fuzzy-dedup recipe.  Candidates may come from the fused recipe, the
    AT-REST signature table (``lsh_candidate_pairs_from_table``) or a
    bipartite LSH join (``fuzzy_decontaminate``).

    ``cand`` holds distinct pairs; its first two columns name the pair
    and the output: returns ``(<left id>, <right id>, jaccard)`` for every candidate
    whose score clears ``threshold``.  The left id reads its shingles
    from ``sh``; the right id from ``right_sh``, or from ``sh`` when
    ``right_sh`` is None (self-verify).  Callers should persist the
    inputs; each feeds several joins.

    Input contract: every shingle table holds DISTINCT (doc_id,
    shingle) rows, as ``shingles()`` produces.  The driver route checks
    it for free (collected rows == sum of per-doc set sizes) and raises
    ``ValueError`` when it is broken; the join route counts rows and
    would silently inflate the scores.

    Routes (the ``bounded_collect`` rule): when the candidates fit
    ``collect_max_pairs`` and the candidate docs' shingle rows fit
    ``SMALL_VERIFY_COLLECT_SHINGLE_ROWS`` per side, both are collected
    (broadcast-semi-pruned, no shuffle), set intersections run on the
    driver, and the exact integer counts go back through the SAME
    Spark division/rounding expression over a LocalTableScan —
    bit-identical to the join route, with no exchange.  Otherwise the
    distributed joins run: self-verify semi-joins the shingles to the
    union of candidate ids and localCheckpoints the result (it feeds
    three consumers, and the truncation bounds downstream plan strings
    — a lazy persist here OOMed the 4g driver in generateTreeString);
    bipartite verify semi-joins the corpus side only and broadcasts
    the eval side.  ``collect_max_pairs <= 0`` forces the joins."""
    a, b = cand.columns[:2]
    cand = cand.select(a, b)
    pairs = bounded_collect(cand, collect_max_pairs)
    if pairs is not None:
        stats = _driver_pair_counts(sh, right_sh, pairs, cand.schema)
        if stats is not None:
            return _jaccard_at_least(stats, a, b, threshold)
        # over the shingle-row cap: fall through to the joins
    if right_sh is None:
        ids = cand.select(F.col(a).alias("doc_id")).union(cand.select(F.col(b).alias("doc_id")))
        left = right = sh.join(ids, "doc_id", "left_semi").localCheckpoint()
    else:
        left = sh.join(cand.select(F.col(a).alias("doc_id")).distinct(), "doc_id", "left_semi")
        right = right_sh

    def shingles_of(t, key):
        return t.select(F.col("doc_id").alias(key), "shingle")

    def sizes_of(t, key, n):
        sizes = t.groupBy("doc_id").agg(F.count("*").alias("n"))
        return sizes.select(F.col("doc_id").alias(key), F.col("n").alias(n))

    r_sh, r_sizes = shingles_of(right, b), sizes_of(right, b, "n_b")
    if right_sh is not None:
        r_sh, r_sizes = F.broadcast(r_sh), F.broadcast(r_sizes)
    inter = (
        cand.join(shingles_of(left, a), a)
        .join(r_sh, [b, "shingle"])
        .groupBy(a, b)
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_at_least(
        inter.join(sizes_of(left, a, "n_a"), a).join(r_sizes, b), a, b, threshold
    )


def _driver_pair_counts(sh, right_sh, pairs: pd.DataFrame, schema):
    """The driver route's exact (a, b, n_common, n_a, n_b) rows for
    the collected candidate ``pairs`` as a local frame, or None when a
    side's shingle rows exceed the collect cap.  Pairs with an empty
    side or no common shingle are dropped, as the inner joins drop
    them."""
    a, b = schema.names
    xs, ys = pairs[a].tolist(), pairs[b].tolist()
    left = _shingle_sets(sh, set(xs) if right_sh is not None else {*xs, *ys})
    if left is None:
        return None
    right = left if right_sh is None else _shingle_sets(right_sh, set(ys))
    if right is None:
        return None
    rows = []
    for x, y in zip(xs, ys):
        sx, sy = left.get(x), right.get(y)
        if sx and sy:
            n_common = len(sx & sy)
            if n_common:
                rows.append((x, y, n_common, len(sx), len(sy)))
    ta, tb = (schema[c].dataType.simpleString() for c in (a, b))
    return local_frame(
        sh.sparkSession, rows, f"{a} {ta}, {b} {tb}, n_common long, n_a long, n_b long"
    )


def _shingle_sets(sh: DataFrame, ids: set):
    """{doc_id: set of shingles} for ``ids``, or None when their rows
    exceed ``SMALL_VERIFY_COLLECT_SHINGLE_ROWS``.  Raises ValueError
    when ``sh`` breaks the distinct-(doc_id, shingle) contract."""
    id_type = sh.schema["doc_id"].dataType.simpleString()
    keys = local_frame(sh.sparkSession, [(i,) for i in sorted(ids)], f"doc_id {id_type}")
    pdf = bounded_collect(
        sh.join(F.broadcast(keys), "doc_id", "left_semi").select("doc_id", "shingle"),
        SMALL_VERIFY_COLLECT_SHINGLE_ROWS,
    )
    if pdf is None:
        return None
    sets: dict = {}
    for did, s in zip(pdf["doc_id"].tolist(), pdf["shingle"].tolist()):
        sets.setdefault(did, set()).add(s)
    if sum(map(len, sets.values())) != len(pdf):
        raise ValueError(
            "jaccard_verify_candidates: duplicate (doc_id, shingle) rows in a "
            "shingle table; the verifier needs distinct rows, as shingles() makes"
        )
    return sets


# ---- bloom-prefiltered incremental dedup ----------------------------------

BLOOM_BITS = 1 << 20
BLOOM_HASHES = 4


def bloom_positions(col, n_bits: int = BLOOM_BITS, n_hashes: int = BLOOM_HASHES):
    """THE bloom hash family: ``n_hashes`` xxhash64 variants pmod
    n_bits, as one array column.  Single definition — the build and
    probe sides both call this; a divergent copy would silently break
    every membership test (review r3)."""
    return F.array(
        *[F.pmod(F.xxhash64(col, F.lit(i)), F.lit(n_bits)) for i in range(n_hashes)]
    )


def build_bloom(seen: DataFrame, key_col: str, n_bits: int = BLOOM_BITS, n_hashes: int = BLOOM_HASHES):
    """Compact broadcastable bloom filter over a key column: ``n_bits``
    bit positions set by ``n_hashes`` xxhash64 variants per key.
    Returns a numpy uint8 bitmap of ``n_bits / 8`` bytes (1 MiB at the
    2^23-bit default scale-up; 128 KiB at the default here).

    Scale shape: position collection is ``explode -> distinct ->
    collect`` BOUNDED BY n_bits regardless of key count — 10^12 seen
    keys still collect at most n_bits rows.  Size ``n_bits ~ 10 bits
    per expected distinct key`` for ~1% FP at n_hashes=4; beyond
    driver-memory blooms, shard one bloom per key-range bucket of the
    at-rest store (the signature-table layout, write_signature_table)
    and prefilter per bucket."""
    import numpy as np

    pos = (
        seen.select(F.explode(bloom_positions(F.col(key_col), n_bits, n_hashes)).alias("p"))
        .distinct()
        .collect()
    )
    bitmap = np.zeros(n_bits // 8, dtype=np.uint8)
    idx = np.array([r["p"] for r in pos], dtype=np.int64)
    if len(idx):
        np.bitwise_or.at(bitmap, idx >> 3, (1 << (idx & 7)).astype(np.uint8))
    return bitmap


def _bloom_hit_udf(bitmap, n_bits: int, n_hashes: int):
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    bm = bitmap  # captured; ~n_bits/8 bytes ship once per executor

    @pandas_udf("boolean")
    def hit(positions: pd.Series) -> pd.Series:
        if len(positions) == 0:
            return pd.Series([], dtype=bool)
        arr = np.array(positions.tolist(), dtype=np.int64)
        bits = (bm[arr >> 3] >> (arr & 7).astype(np.uint8)) & 1
        return pd.Series(bits.all(axis=1))

    return hit


def bloom_split_anti_join(
    keyed: DataFrame,
    store: DataFrame,
    key_col: str,
    bloom: tuple,
    handles: list | None = None,
) -> DataFrame:
    """The miss/hit split of the bloom-prefiltered exact lookup
    (``incremental_new_docs``): rows that MISS the
    bloom pass through join-free; HITS take the real left-anti join
    against ``store``.  The probed frame persists first — Catalyst
    re-executes common subtrees once per union branch otherwise; pass
    ``handles`` to receive it for caller-controlled unpersist."""
    bitmap, n_bits, n_hashes = bloom
    hit = _bloom_hit_udf(bitmap, n_bits, n_hashes)
    probed = keyed.withColumn(
        "bloom_hit", hit(bloom_positions(F.col(key_col), n_bits, n_hashes))
    ).persist()
    if handles is not None:
        handles.append(probed)
    misses = probed.where(~F.col("bloom_hit")).drop("bloom_hit")
    hits = probed.where(F.col("bloom_hit")).drop("bloom_hit")
    return misses.unionByName(hits.join(store, key_col, "left_anti"))


def incremental_new_docs(
    new: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
    use_bloom: bool = True,
    handles: list | None = None,
) -> DataFrame:
    """EXACT incremental dedup against an at-rest corpus: return the
    rows of ``new`` whose normalized-text hash does not appear in
    ``seen`` — with a bloom prefilter so, at 10^12 seen docs, the
    anti-join only ever shuffles the (true-duplicate + false-positive)
    fraction of the batch.

    Exactness is unconditional: rows that MISS the bloom are
    definitely-new (blooms have no false negatives) and skip the join
    entirely, map-only; rows that HIT go through the real left-anti
    join, which removes the false positives.  ``use_bloom=False``
    degenerates to the plain anti-join (the parity test pins both
    paths equal).  Within-batch duplicates are NOT collapsed — that is
    ``exact_dedup``'s job; this operator answers "new vs the store".

    Returns ``(doc_id, text_hash)``.  The probed NARROW keyed frame
    is persisted before the miss/hit split — Catalyst does not dedupe
    common subtrees across union branches, so without it the whole
    upstream (possibly a full repair pipeline) would execute once per
    branch (review r3).  Pass ``handles`` to receive the persisted
    frame for caller-controlled unpersist."""
    key = F.md5(normalized_text(F.col(text_col)))
    new_keyed = new.select(F.col(id_col).alias("doc_id"), key.alias("text_hash"))
    seen_keyed = seen.select(F.md5(normalized_text(F.col(text_col))).alias("text_hash"))
    if not use_bloom:
        return new_keyed.join(seen_keyed.distinct(), "text_hash", "left_anti").select(
            "doc_id", "text_hash"
        )
    bitmap = build_bloom(seen_keyed, "text_hash", n_bits, n_hashes)
    return bloom_split_anti_join(
        new_keyed, seen_keyed.distinct(), "text_hash",
        (bitmap, n_bits, n_hashes), handles,
    ).select("doc_id", "text_hash")
