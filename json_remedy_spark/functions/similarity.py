"""Similarity search over an embedding column (``array<float>``).

* ``cosine_topk``         — brute-force exact top-k per query: the
  small query set is broadcast, every Arrow batch scores against it
  with ONE numpy matmul and emits only its local top-k (+ tie margin),
  so the final ranking shuffle carries O(partitions x |Q| x k) rows.
* ``lsh_bucketed_topk``   — random-hyperplane LSH buckets: candidates
  share a sign-pattern bucket, exact cosine only within the bucket.
* ``ivf_topk``            — IVF routing: corpus vectors live in one
  centroid cell, queries probe their nearest cells.
* ``cosine_pairs_exact``  — exact all-pairs >= threshold over a
  BOUNDED set (the O(n^2) oracle-verifier form).
* ``embedding_near_dup``  — the scale path: banded multi-table LSH
  self-join (OR over ``N_TABLES`` AND-bands of ``N_PLANES`` planes),
  numpy-scored candidates only.

All per-element array math runs in Arrow-batched numpy kernels —
Spark's higher-order functions (``aggregate``/``zip_with``) are
interpreted per element and were the round-1 hot-path bottleneck
(25-155 s at sf0.1; see CLAUDE.md).  Outputs are ``F.round(.., 6)``
JVM-side (HALF_UP, matching DuckDB) so oracles compare cleanly.
"""

import functools
import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from json_remedy_spark.localdf import bounded_collect, local_frame


def _np_unit(mat: np.ndarray) -> np.ndarray:
    """Unit-normalize rows; zero vectors stay zero (norm floored at
    1e-12, same guard as the DuckDB oracle expression)."""
    n = np.maximum(np.sqrt((mat * mat).sum(axis=1)), 1e-12)
    return mat / n[:, None]


# NOTE: pandas_udf objects are built inside factories, never at module
# import time — executors re-import this module when unpickling
# mapInPandas closures, and the decorator needs an active SparkContext.


def _require_numeric_id(df: DataFrame, col: str) -> None:
    """Fail fast on non-numeric id columns: the kernels cast ids to
    long, and a silent cast('long') would turn string ids into NULLs
    that collapse or vanish from the output (ADVICE r2)."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    dt = df.schema[col].dataType
    if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"column {col!r} must be an integer type (got {dt.simpleString()}); "
            "string ids would become NULL under the long cast — map them to a "
            "numeric surrogate first (e.g. xxhash64)"
        )


def _make_unit_udf():
    @pandas_udf("array<double>")
    def unit_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        u = _np_unit(np.array(vecs.tolist(), dtype=np.float64))
        return pd.Series(list(u))

    return unit_udf


def make_dot_udf():
    """Row-wise dot of two array<double> columns — one einsum per
    Arrow batch (use on already-pruned candidate pairs)."""

    @pandas_udf("double")
    def dot_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype=np.float64)
        A = np.array(a.tolist(), dtype=np.float64)
        B = np.array(b.tolist(), dtype=np.float64)
        return pd.Series(np.einsum("ij,ij->i", A, B))

    return dot_udf


def with_unit_norm(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Pre-normalize once; downstream cosine becomes a plain dot."""
    return df.withColumn("unit", _make_unit_udf()(F.col(col)))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k.

    Contracts (fail-fast): ids must be integer-typed (they travel as
    longs through the Arrow kernels), and |Q| must be small — the
    query set is COLLECTED to the driver (``toPandas``) and broadcast,
    so queries bound driver memory, never the corpus.  The corpus
    streams once map-only, each batch emitting its local winners, so
    no |N| x |Q| row set ever materializes and the only shuffle is the
    tiny final ranking."""
    _require_numeric_id(vectors, id_col)
    _require_numeric_id(queries, q_id_col)
    q_pdf = queries.select(F.col(q_id_col).cast("long").alias("q_id"), F.col(col).alias("emb")).toPandas()
    q_ids = q_pdf["q_id"].to_numpy()
    Q = _np_unit(np.array(q_pdf["emb"].tolist(), dtype=np.float64))
    b = vectors.sparkSession.sparkContext.broadcast((q_ids, Q))
    src = vectors.select(F.col(id_col).cast("long").alias("vec_id"), F.col(col).alias("emb"))

    def gen(batches):
        q_ids_, Q_ = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = _np_unit(np.array(pdf["emb"].tolist(), dtype=np.float64))
            S = V @ Q_.T  # (batch, |Q|)
            vids = pdf["vec_id"].to_numpy()
            out_q, out_v, out_c = [], [], []
            for j in range(len(q_ids_)):
                cosj = S[:, j]
                if len(cosj) > k:
                    kth = np.partition(cosj, len(cosj) - k)[len(cosj) - k]
                    # 1e-6 margin: a vector whose ROUNDED cos ties the
                    # kth must survive the local cut (global rank uses
                    # round(cos, 6) + vec_id tiebreak)
                    mask = cosj >= kth - 1e-6
                else:
                    mask = np.ones(len(cosj), dtype=bool)
                nm = int(mask.sum())
                out_q.extend([q_ids_[j]] * nm)
                out_v.extend(vids[mask].tolist())
                out_c.extend(cosj[mask].tolist())
            yield pd.DataFrame({"q_id": out_q, "vec_id": out_v, "cos": out_c})

    partial = src.mapInPandas(gen, schema="q_id long, vec_id long, cos double")
    scored = partial.select("q_id", "vec_id", F.round(F.col("cos"), 6).alias("cos"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def cosine_pairs_exact(
    vectors: DataFrame, threshold: float = 0.95, id_col: str = "vec_id", col: str = "embedding"
) -> DataFrame:
    """Exact all-pairs cosine >= threshold over a BOUNDED vector set
    (the O(n^2) verifier the near-dup oracle runs; use
    ``embedding_near_dup`` for the banded-LSH scale path).  Contracts
    (fail-fast on ids): integer-typed ids only, and the WHOLE set is
    collected (``toPandas``) and broadcast as one numpy matrix — the
    caller bounds its size; each Arrow batch scores a block row
    against it, and only >= threshold pairs ever materialize as
    rows."""
    _require_numeric_id(vectors, id_col)
    pdf = vectors.select(F.col(id_col).cast("long").alias("id"), F.col(col).alias("emb")).toPandas()
    ids = pdf["id"].to_numpy()
    M = _np_unit(np.array(pdf["emb"].tolist(), dtype=np.float64))
    b = vectors.sparkSession.sparkContext.broadcast((ids, M))
    src = vectors.select(F.col(id_col).cast("long").alias("id"), F.col(col).alias("emb"))

    def gen(batches):
        ids_, M_ = b.value
        for pdf_ in batches:
            if not len(pdf_):
                continue
            V = _np_unit(np.array(pdf_["emb"].tolist(), dtype=np.float64))
            S = V @ M_.T
            vids = pdf_["id"].to_numpy()
            # margin covers rounded-value boundary cases; the exact
            # filter re-applies on round(cos, 6) JVM-side
            mask = (S >= threshold - 1e-6) & (vids[:, None] < ids_[None, :])
            ai, bj = np.nonzero(mask)
            yield pd.DataFrame({"id_a": vids[ai], "id_b": ids_[bj], "cos": S[ai, bj]})

    pairs = src.mapInPandas(gen, schema="id_a long, id_b long, cos double")
    return pairs.select(
        "id_a", "id_b", F.round(F.col("cos"), 6).alias("cos")
    ).where(F.col("cos") >= threshold)


N_PLANES = 8   # sandbox default; at scale pass n_planes=recommended_planes(N)
N_TABLES = 4


def recommended_planes(n_vectors: int) -> int:
    """log2(N)-scaled plane count: each LSH table has 2^planes buckets,
    so planes ~ log2(N) keeps expected bucket occupancy O(1) and the
    per-table candidate volume LINEAR in N instead of quadratic.  At
    10^9 vectors this returns 30; the sandbox floor is 8."""
    import math

    return max(8, int(math.ceil(math.log2(max(n_vectors, 2)))))


@functools.lru_cache(maxsize=64)
def _plane_matrix(dims: int, table: int = 0, n_planes: int = N_PLANES):
    """Deterministic hyperplanes: md5(plane:dim) -> uniform [-1, 1).
    Table 0 keeps the round-1 seeding; tables > 0 are independent
    banded variants.  Plane p's row is the same for every n_planes, so
    growing the plane count only APPENDS planes (prefix-stable).

    Cached per (dims, table, n_planes): the bucket UDFs call this once
    per Arrow batch x table, and at production dims (768-1024) the md5
    generation is ~10^5 Python hash calls — executor-resident lru_cache
    makes every call after the first a dict hit (VERDICT r3 #3).  The
    matrix is deterministic, so caching cannot change values; callers
    must NOT mutate the returned array."""
    m = np.empty((dims, n_planes), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dims):
            key = f"{p}:{d}" if table == 0 else f"t{table}:{p}:{d}"
            h = int(hashlib.md5(key.encode()).hexdigest()[:8], 16)
            m[d, p] = h / float(2**31) - 1.0
    m.setflags(write=False)
    return m


def with_lsh_tables(
    df: DataFrame, col: str = "unit", n_tables: int = N_TABLES, n_planes: int = N_PLANES
) -> DataFrame:
    """Per-table sign-pattern buckets (array<long>, one per table) —
    the banded/multi-table AND-OR amplification.

    ``n_planes`` sets SELECTIVITY: each table's buckets are
    2^n_planes-way, so more planes shrink bucket blocks (fewer
    candidates, lower per-table recall).  ``n_tables`` sets RECALL:
    a pair is a candidate if it collides in ANY table, so more tables
    only ADD candidates (OR-amplification) — they never shrink blocks.
    Scale rule: n_planes ~ log2(N) (see ``recommended_planes``),
    n_tables from the target recall at the cosine threshold."""

    @pandas_udf("array<long>")
    def tables_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(vecs.tolist(), dtype=np.float64)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        cols = []
        for t in range(n_tables):
            signs = (mat @ _plane_matrix(mat.shape[1], t, n_planes=n_planes)) > 0
            cols.append((signs @ weights).astype("int64"))
        stacked = np.stack(cols, axis=1)
        return pd.Series([row.tolist() for row in stacked])

    return df.withColumn("tables", tables_udf(F.col(col)))


def lsh_bucketed_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    col: str = "embedding",
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """ANN: exact cosine only among bucket-mates of ANY of ``n_tables``
    independent LSH tables (recall < 1 by design; OR over tables
    amplifies it, planes-per-table bound the candidate volume — the
    same AND-OR layout as ``embedding_near_dup``).  A (query, vector)
    pair colliding in several tables scores once via the max-agg."""
    v = with_lsh_tables(with_unit_norm(vectors, col), "unit", n_tables, n_planes).select(
        F.col(id_col).alias("vec_id"),
        F.col("unit").alias("v_unit"),
        F.posexplode("tables").alias("tbl", "bucket"),
    )
    q = with_lsh_tables(with_unit_norm(queries, col), "unit", n_tables, n_planes).select(
        F.col(q_id_col).alias("q_id"),
        F.col("unit").alias("q_unit"),
        F.posexplode("tables").alias("tbl", "bucket"),
    )
    dot = make_dot_udf()
    scored = (
        v.join(F.broadcast(q), ["tbl", "bucket"])
        .select("q_id", "vec_id", F.round(dot(F.col("v_unit"), F.col("q_unit")), 6).alias("cos"))
        .groupBy("q_id", "vec_id")
        .agg(F.max("cos").alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


N_IVF_CELLS = 16
N_IVF_PROBES = 4


def _ivf_centroids(vectors: DataFrame, col: str, cells: int, refine: int = 1):
    """Deterministic centroids: the ``cells`` vectors with the smallest
    md5(vec_id) act as seeds, then ``refine`` Lloyd iterations sharpen
    them (assign every vector to its nearest cell, recompute means —
    one distributed agg per iteration, only ``cells x dims`` numbers
    ever reach the driver).  Deterministic end-to-end, no fit artifact
    to ship."""
    seed_rows = (
        vectors.select(F.col(col).alias("v"), F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h")
        .limit(cells)
        .collect()
    )
    cen = np.array([r["v"] for r in seed_rows], dtype=np.float64)
    for _ in range(refine):
        assigned = with_ivf_cell(vectors, cen, col, n_probes=1).select(
            F.element_at("ivf_cells", 1).alias("cell"), F.col(col).alias("v")
        )
        means = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = cen.copy()  # empty cells keep their seed
        by_cell: dict = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        for c, dims in by_cell.items():
            for p, m in dims.items():
                new[c, p] = m
        cen = new
    return cen


def with_ivf_cell(df: DataFrame, centroids, col: str = "embedding", n_probes: int = 1) -> DataFrame:
    """Assign each vector its nearest centroid cell(s) — numpy matmul
    per Arrow batch; ``n_probes``>1 explodes a row into its closest
    cells (query-side fanout)."""
    cen = np.asarray(centroids, dtype=np.float64)
    cen_unit = cen / np.maximum(np.linalg.norm(cen, axis=1, keepdims=True), 1e-12)

    @pandas_udf("array<int>")
    def cells_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(vecs.tolist(), dtype=np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cen_unit.T
        order = np.argsort(-sims, axis=1)[:, :n_probes]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return df.withColumn("ivf_cells", cells_udf(F.col(col)))


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    col: str = "embedding",
    cells: int = N_IVF_CELLS,
    probes: int = N_IVF_PROBES,
) -> DataFrame:
    """IVF ANN: corpus vectors live in 1 cell, queries probe their
    ``probes`` nearest cells; exact cosine only within probed cells.
    At 100 TB the corpus side is written bucketed by cell so a query
    touches cells/probes of the data."""
    centroids = _ivf_centroids(vectors, col, cells)
    v = with_ivf_cell(with_unit_norm(vectors, col), centroids, col, n_probes=1).select(
        F.col(id_col).alias("vec_id"),
        F.col("unit").alias("v_unit"),
        F.explode("ivf_cells").alias("cell"),
    )
    q = with_ivf_cell(with_unit_norm(queries, col), centroids, col, n_probes=probes).select(
        F.col(q_id_col).alias("q_id"),
        F.col("unit").alias("q_unit"),
        F.explode("ivf_cells").alias("cell"),
    )
    dot = make_dot_udf()
    scored = v.join(F.broadcast(q), "cell").select(
        "q_id", "vec_id", F.round(dot(F.col("v_unit"), F.col("q_unit")), 6).alias("cos")
    ).groupBy("q_id", "vec_id").agg(F.max("cos").alias("cos"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _make_sq8_udfs():
    """Scalar int8 quantization (FAISS-SQ8 style) as two Arrow
    kernels.  Deterministic double math so DuckDB can replay it
    exactly from the source floats: scale = max|x| (double),
    code_i = floor(x_i / scale * 127 + 0.5) in [-127, 127] stored as a
    dims-byte binary, dequant = code * scale / 127.  4x fewer bytes
    scanned per probed cell than float32, ~32x less than the double
    form."""

    @pandas_udf("struct<codes: binary, scale: double>")
    def quant_udf(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"codes": [], "scale": []})
        mat = np.array(vecs.tolist(), dtype=np.float64)
        scale = np.maximum(np.abs(mat).max(axis=1), 1e-30)
        codes = np.floor(mat / scale[:, None] * 127.0 + 0.5).astype(np.int8)
        return pd.DataFrame(
            {"codes": [c.tobytes() for c in codes], "scale": scale}
        )

    @pandas_udf("array<double>")
    def dequant_unit_udf(codes: pd.Series, scale: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack([np.frombuffer(b, dtype=np.int8) for b in codes]).astype(np.float64)
        mat *= (scale.to_numpy(dtype=np.float64) / 127.0)[:, None]
        return pd.Series(list(_np_unit(mat)))

    return quant_udf, dequant_unit_udf


# --------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search") — the next bytes-scanned lever after SQ8:
# dims doubles -> PQ_M one-byte codes per vector (64-dim float64 =
# 512 B -> 8 B, 64x; vs float32 = 32x; sq8 got 8x).
#
# Everything is INTEGER fixed-point so the DuckDB oracle replays the
# whole lossy path exactly — and, unlike a unit-norm boundary, with NO
# float summation anywhere inside it: the per-vector scale is max|x|
# (order-free, exact — the sq8 recipe), each element quantizes via the
# same IEEE divide/multiply/add/floor on both engines, subspace
# assignment is an integer-L2 argmin (ties to the smallest code —
# numpy argmin's first-minimum IS that tie-break), and the cosine is
# computed purely from exact BIGINT quantities: ADC dot, the
# reconstruction norm^2 (subspaces are disjoint coordinate blocks, so
# it's just the sum of the chosen centroids' norms — all < 2^53), and
# the quantized-query norm^2.  cos = dot / max(sqrt(r2)*sqrt(q2),
# 1e-30) is then a fixed sequence of correctly-rounded IEEE ops —
# bit-identical in numpy and DuckDB.  (A unit-norm boundary would put
# a float SUM inside floor(unit*1e6+.5): numpy's pairwise summation
# vs the SQL engine's sequential sum can differ in the last ulp and
# flip a grid point.  max-abs has no such term; scale cancels in the
# cosine anyway.)
# --------------------------------------------------------------------------

PQ_M = 8  # subspaces (must divide dims)
PQ_KSUB = 256  # codebook entries per subspace (codes fill one byte)
PQ_FIXED_POINT = 1_000_000


def _int_quantize(mat: np.ndarray) -> np.ndarray:
    """Rows -> max-abs scale -> fixed-point BIGINT grid in
    [-1e6, 1e6] (the cross-engine exactness boundary; round-5 notes:
    integer quantization at the boundary keeps oracles exact).  Op
    order mirrors the oracle's ``floor(x / s * 1000000.0 + 0.5)``."""
    s = np.maximum(np.abs(mat).max(axis=1), 1e-30)
    return np.floor(mat / s[:, None] * PQ_FIXED_POINT + 0.5).astype(np.int64)


def train_pq_codebooks(
    vectors: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    col: str = "embedding",
    sample: int = 4096,
    refine: int = 2,
) -> np.ndarray:
    """Deterministic per-subspace k-means on a bounded sample —
    (m, ksub, dsub) INTEGER centroids.  Seeds are the ``ksub``
    sample rows with the smallest md5(vec_id) (the ``_ivf_centroids``
    recipe); Lloyd means re-quantize to the integer grid each
    iteration, so the codebook is integer end-to-end.  FAISS trains PQ
    on a sample too — the collect is bounded by ``sample``, never
    corpus-sized; encode stays fully distributed."""
    rows = (
        vectors.select(
            F.col(col).alias("v"), F.md5(F.col("vec_id").cast("string")).alias("h")
        )
        .orderBy("h")
        .limit(sample)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    Q = _int_quantize(X)
    dims = Q.shape[1]
    if dims % m:
        raise ValueError(f"PQ m={m} must divide dims={dims}")
    dsub = dims // m
    books = np.zeros((m, ksub, dsub), dtype=np.int64)
    for s in range(m):
        sub = Q[:, s * dsub : (s + 1) * dsub]
        cen = sub[: min(ksub, len(sub))].copy()
        if len(cen) < ksub:  # degenerate tiny sample: repeat last seed
            cen = np.vstack([cen, np.repeat(cen[-1:], ksub - len(cen), axis=0)])
        for _ in range(refine):
            assign = _int_l2_argmin(sub, cen)
            for c in range(ksub):
                mem = sub[assign == c]
                if len(mem):
                    cen[c] = np.floor(mem.mean(axis=0) + 0.5).astype(np.int64)
        books[s] = cen
    return books


def _int_l2_argmin(sub: np.ndarray, cen: np.ndarray) -> np.ndarray:
    """argmin_c ||sub_i - cen_c||^2 over INTEGER rows, vectorized as
    |a|^2 - 2ab + |b|^2 with the cross term a BLAS float64 matmul.
    Every product and partial sum is an integer below 2^53 (grid
    values <= 1e6, dsub <= 64), so the float64 arithmetic is exact and
    the distances — hence argmin and its first-minimum tie-break —
    are bit-identical to the (a-b)^2 broadcast form this replaces
    (which allocated an (n, ksub, dsub) intermediate and dominated PQ
    training time)."""
    a2 = (sub * sub).sum(axis=1).astype(np.float64)
    b2 = (cen * cen).sum(axis=1).astype(np.float64)
    d = a2[:, None] - 2.0 * (sub.astype(np.float64) @ cen.T.astype(np.float64)) + b2[None, :]
    return np.argmin(d, axis=1)


def _make_pq_encode_udf(books: np.ndarray):
    """binary PQ codes (one byte per subspace) from the embedding —
    integer-L2 argmin per subspace against the codebook."""
    bk = np.asarray(books, dtype=np.int64)
    m, _, dsub = bk.shape

    @pandas_udf("binary")
    def encode_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        Q = _int_quantize(np.array(vecs.tolist(), dtype=np.float64))
        codes = np.empty((len(Q), m), dtype=np.uint8)
        for s in range(m):
            sub = Q[:, s * dsub : (s + 1) * dsub]
            # first min = smallest code; exact-integer matmul form
            codes[:, s] = _int_l2_argmin(sub, bk[s])
        return pd.Series([c.tobytes() for c in codes])

    return encode_udf


def _make_pq_adc_udf(books: np.ndarray):
    """Exact-integer ADC cosine: per distinct query in the batch, one
    (m x ksub) BIGINT dot lookup table (codebook . query-subvector),
    then every candidate row is m table lookups — no per-dimension
    work on the corpus side at query time, the PQ payoff.  The cosine
    normalizers are exact integers too: r2 (reconstruction norm^2,
    sum of the chosen centroids' norms — subspaces are disjoint
    coordinate blocks) via a second ksub-sized lookup, q2 from the
    quantized query.  All < 2^53, so the final double expression is
    bit-deterministic and the oracle replays it exactly."""
    bk = np.asarray(books, dtype=np.int64)
    m, _, dsub = bk.shape
    cen_norm2 = (bk * bk).sum(axis=2)  # (m, ksub) exact ints

    @pandas_udf("double")
    def adc_udf(codes: pd.Series, q_ids: pd.Series, q_embs: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype="float64")
        cmat = np.stack(
            [np.frombuffer(b, dtype=np.uint8) for b in codes]
        ).astype(np.int64)
        rows = np.arange(m)[None, :]
        r2 = cen_norm2[rows, cmat].sum(axis=1)  # (n,) exact ints
        dot = np.zeros(len(codes), dtype=np.int64)
        q2 = np.zeros(len(codes), dtype=np.int64)
        qarr = q_ids.to_numpy()
        for qid in pd.unique(q_ids):
            mask = qarr == qid
            qe = np.array(q_embs[mask].iloc[0], dtype=np.float64)
            qi = _int_quantize(qe[None, :])[0]
            lut = np.stack(
                [bk[s] @ qi[s * dsub : (s + 1) * dsub] for s in range(m)]
            )  # (m, ksub)
            dot[mask] = lut[rows, cmat[mask]].sum(axis=1)
            q2[mask] = int(qi @ qi)
        cos = dot / np.maximum(np.sqrt(r2.astype(np.float64)) * np.sqrt(q2.astype(np.float64)), 1e-30)
        return pd.Series(cos)

    return adc_udf


def read_pq_codebooks(spark, out_dir: str) -> np.ndarray:
    import os

    # Arrow toPandas + vectorized scatter: the row-collect form paid
    # ~0.5 s of Row materialization for the m*ksub*dsub table
    pdf = spark.read.parquet(os.path.join(out_dir, "codebooks")).toPandas()
    sub = pdf["sub"].to_numpy(dtype=np.int64)
    code = pdf["code"].to_numpy(dtype=np.int64)
    pos = pdf["pos"].to_numpy(dtype=np.int64)
    m, ksub, dsub = sub.max() + 1, code.max() + 1, pos.max() + 1
    books = np.zeros((m, ksub, dsub), dtype=np.int64)
    books[sub, code, pos] = pdf["val"].to_numpy(dtype=np.int64)
    return books


def _write_assigned_cells(
    src: DataFrame,
    cen,
    col: str,
    out_dir: str,
    mode: str,
    quantize: str | None = None,
    books=None,
) -> int:
    """Assign each vector to its nearest centroid and land it in that
    cell's partition directory.  Co-locate each cell before the
    partitioned write: without the repartition, every input task
    writes one file per cell it touches (tasks x cells files — the
    classic small-files blowup; the 2M/1.4k-cell rehearsal would emit
    ~360k files).  After the hash repartition a cell lives in exactly
    one task, so the layout is ~one file per cell per write."""
    import os

    assigned = with_ivf_cell(src, cen, col, n_probes=1).select(
        "vec_id",
        F.col(col).alias("embedding"),
        F.element_at("ivf_cells", 1).cast("int").alias("cell"),
    )
    if quantize == "sq8":
        quant_udf, _ = _make_sq8_udfs()
        assigned = assigned.withColumn("q", quant_udf(F.col("embedding"))).select(
            "vec_id",
            F.col("q.codes").alias("codes"),
            F.col("q.scale").alias("scale"),
            "cell",
        )
    elif quantize == "pq":
        encode_udf = _make_pq_encode_udf(books)
        assigned = assigned.select(
            "vec_id", encode_udf(F.col("embedding")).alias("codes"), "cell"
        )
    elif quantize is not None:
        raise ValueError(f"unknown quantize mode: {quantize!r}")
    vectors_dir = os.path.join(out_dir, "vectors")
    assigned.repartition(F.col("cell")).write.mode(mode).partitionBy("cell").parquet(
        vectors_dir
    )
    return sum(1 for d in os.listdir(vectors_dir) if d.startswith("cell="))


def write_ivf_index(
    vectors: DataFrame,
    out_dir: str,
    cells: int = N_IVF_CELLS,
    id_col: str = "vec_id",
    col: str = "embedding",
    refine: int = 1,
    centroids=None,
    quantize: str | None = None,
    pq_m: int = PQ_M,
    pq_ksub: int = PQ_KSUB,
) -> int:
    """Materialize the IVF index AT REST — the 100 TB form of
    ``ivf_topk``'s in-session assignment, mirroring the LSH signature
    table: the small centroid table lands as one parquet, corpus
    vectors land ``partitionBy(cell)`` so a query's probed cells map
    to PARTITION PRUNING at the scan (a query touches probes/cells of
    the data; nothing else is read).  Returns the number of cells
    written.

    No per-cell manifest resume (unlike ``write_signature_table``,
    whose shingle+minhash kernel justifies bucket-level checkpoints):
    cell assignment is ONE cheap matmul map pass over the embedding
    table, so a killed build simply reruns; on a cluster with an
    Iceberg catalog, route the write through ``writeTo`` for an atomic
    snapshot commit instead.

    ``centroids``: pass a precomputed (cells, dims) array to skip the
    k-means pass — the fit-once / index-many-dumps form (and the
    handle that makes ``append_to_ivf_index`` exactly equivalent to a
    one-shot build over the union).

    ``quantize="sq8"``: store int8 scalar-quantized codes (dims bytes
    + one double scale per vector) instead of the float embedding —
    4x fewer bytes per probed cell than float32; queries dequantize
    in the Arrow scoring kernel.  Cell assignment always uses the
    full-precision vectors.

    ``quantize="pq"``: product quantization — ``pq_m`` one-byte codes
    per vector (64-dim float64: 512 B -> 8 B, 64x fewer bytes per
    probed cell; sq8 is 8x) against per-subspace integer codebooks
    trained on a bounded deterministic sample and stored beside the
    centroids; queries score with exact-integer ADC lookup tables."""
    import os

    _require_numeric_id(vectors, id_col)
    src = vectors.select(F.col(id_col).alias("vec_id"), F.col(col).alias(col))
    cen = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else _ivf_centroids(src, col, cells, refine=refine)
    )
    spark = vectors.sparkSession
    # Arrow-backed local frames (localdf.py): the list form costs ~5 s
    # of Python-worker round-trips per coalesce(1) write at local[32]
    local_frame(
        spark,
        [(i, [float(x) for x in cen[i]]) for i in range(len(cen))],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "centroids"))
    books = None
    if quantize == "pq":
        books = train_pq_codebooks(src, m=pq_m, ksub=pq_ksub, col=col)
        m, ksub, dsub = books.shape
        local_frame(
            spark,
            [
                (s, c, p, int(books[s, c, p]))
                for s in range(m)
                for c in range(ksub)
                for p in range(dsub)
            ],
            "sub int, code int, pos int, val long",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out_dir, "codebooks")
        )
    return _write_assigned_cells(
        src, cen, col, out_dir, "overwrite", quantize=quantize, books=books
    )


def detect_index_quantize(spark, out_dir: str):
    """(quantize, books) from the STORED vectors schema, so an append
    writes the layout the index already has: float has no
    ``codes``, sq8 has ``codes`` + a per-vector ``scale``, pq has
    ``codes`` alone (its codebooks are re-read so new vectors encode
    against the exact trained tables)."""
    import os

    stored = spark.read.parquet(os.path.join(out_dir, "vectors")).schema.fieldNames()
    if "codes" not in stored:
        return None, None
    if "scale" in stored:
        return "sq8", None
    return "pq", read_pq_codebooks(spark, out_dir)


def append_to_ivf_index(
    spark,
    out_dir: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    col: str = "embedding",
) -> int:
    """Grow the at-rest IVF index WITHOUT a rebuild — the
    continuously-arriving-corpus form (a daily crawl dump lands as an
    append; the existing 100 TB of indexed vectors are never
    rewritten).  New vectors are assigned against the STORED centroids
    (one matmul map pass) and appended into their cell directories;
    ``ivf_topk_from_index`` sees them on the next query because
    partition pruning lists the cell directory fresh each scan.

    Identical-results contract (pytest-pinned): append(B) after
    build(A, centroids=C) equals build(A ∪ B, centroids=C) —
    assignment is a pure function of (vector, centroids), so the only
    difference is file layout.  Centroids drift as the corpus grows;
    when recall decays, re-fit offline and rebuild per cell (the
    centroid table versions the index).  Returns the cell-directory
    count after the append.  The stored layout dictates the format:
    appends into an sq8-quantized index quantize the new vectors the
    same way (detected from the vectors schema, never guessed)."""
    import os

    _require_numeric_id(new_vectors, id_col)
    cen = read_ivf_centroids(spark, out_dir)
    quantize, books = detect_index_quantize(spark, out_dir)
    src = new_vectors.select(F.col(id_col).alias("vec_id"), F.col(col).alias(col))
    return _write_assigned_cells(
        src, cen, col, out_dir, "append", quantize=quantize, books=books
    )


def read_ivf_centroids(spark, out_dir: str) -> np.ndarray:
    import os

    rows = spark.read.parquet(os.path.join(out_dir, "centroids")).orderBy("cell").collect()
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


# most shortlist ids the exact rerank pushes as a literal `vec_id IN
# (...)` list; a larger shortlist filters with a broadcast semi-join
RERANK_ISIN_MAX_IDS = 100_000


def ivf_topk_from_index(
    spark,
    out_dir: str,
    queries: DataFrame,
    k: int = 5,
    q_id_col: str = "q_id",
    col: str = "embedding",
    probes: int = N_IVF_PROBES,
    rerank_from: DataFrame | None = None,
    rerank_factor: int = 4,
    handles: list | None = None,
) -> DataFrame:
    """Query the AT-REST IVF index: probe cells come from the stored
    centroids, and the corpus scan filters on the PARTITION column —
    only the probed cell directories are listed and read (static
    partition pruning; the probed set is at most ``probes x |Q|``
    values collected driver-side, never corpus-sized).  Byte-identical
    results to ``ivf_topk`` over the same corpus and parameters.

    ``rerank_from`` (PQ layout only): the standard IVF-PQ recipe —
    ADC shortlists ``rerank_factor * k`` candidates per query from the
    8-byte codes, then ONLY the shortlist ids fetch their full-precision
    vectors from the given source table for an exact cosine re-score
    (the shortlist is |Q| x rerank_factor x k rows — a broadcast-able
    point-lookup join, never corpus-sized).  Recovers near-full recall
    while the corpus-wide scan still reads 64x fewer bytes.

    ``handles``: long-lived sessions pass a list to receive the
    persisted rerank shortlist for caller-controlled unpersist (the
    bm25_topk / lsh_verified_pairs contract); without it the cached
    frame lives until clearCache/GC."""
    import os

    cen = read_ivf_centroids(spark, out_dir)
    q = with_ivf_cell(with_unit_norm(queries, col), cen, col, n_probes=probes).select(
        F.col(q_id_col).alias("q_id"),
        F.col("unit").alias("q_unit"),
        F.col(col).alias("q_emb"),
        F.explode("ivf_cells").alias("cell"),
    )
    # Materialize the routed query frame ONCE, driver-side (bounded:
    # |Q| x probes rows — the same bound the probed-cells collect
    # already relies on) and re-inject it as an Arrow local frame: the
    # original plan evaluated the probe pandas UDF twice (once for the
    # probed-cells collect, once inside the broadcast build) and kept
    # a Python hop under the corpus join; now the corpus-side plan is
    # pure JVM below the scoring kernel.  Values are bit-identical
    # (IEEE doubles cross Arrow unchanged).
    q_id_type = q.schema["q_id"].dataType.simpleString()
    q_pdf = q.toPandas()
    probed = sorted({int(c) for c in q_pdf["cell"]})
    q = local_frame(
        spark,
        [
            (r.q_id, list(r.q_unit), list(r.q_emb), int(r.cell))
            for r in q_pdf.itertuples()
        ],
        f"q_id {q_id_type}, q_unit array<double>, q_emb array<double>, cell int",
    )
    # -> PartitionFilters at the scan (cell is a partition column)
    v = spark.read.parquet(os.path.join(out_dir, "vectors")).where(
        F.col("cell").isin(probed)
    )
    fields = v.schema.fieldNames()
    if "codes" in fields and "scale" not in fields:  # pq layout
        books = read_pq_codebooks(spark, out_dir)
        adc = _make_pq_adc_udf(books)
        scored = (
            v.select("vec_id", "codes", F.col("cell").cast("int").alias("cell"))
            .join(F.broadcast(q), "cell")
            .select(
                "q_id",
                "vec_id",
                F.round(
                    adc(F.col("codes"), F.col("q_id"), F.col("q_emb")), 6
                ).alias("cos"),
            )
            .groupBy("q_id", "vec_id")
            .agg(F.max("cos").alias("cos"))
        )
        w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
        short_k = k * rerank_factor if rerank_from is not None else k
        shortlist = scored.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= short_k
        )
        if rerank_from is None:
            return shortlist
        # exact re-score of the tiny shortlist as a TRUE point lookup:
        # materialize the shortlist once (it is |Q| x rerank_factor x k
        # rows), collect its id set driver-side (bounded, same contract
        # as the probed-cells collect above) and push `vec_id IN (...)`
        # into the full-precision scan — only the shortlisted row
        # groups are read, and the unit-norm Arrow kernel runs on the
        # shortlist rows alone, never the corpus (the naive
        # shortlist-join-src form unit-normed ALL of rerank_from below
        # the join).
        shortlist = shortlist.persist()
        if handles is not None:
            handles.append(shortlist)
        # route with bounded_collect, so the huge-batch case never
        # pulls the full id list to the driver only to discard it
        ids_df = shortlist.select("vec_id").distinct()
        ids_pdf = bounded_collect(ids_df, RERANK_ISIN_MAX_IDS)
        fetch = rerank_from.select(F.col("vec_id").cast("long").alias("vec_id"), col)
        if ids_pdf is not None:
            # pushed In(vec_id, ...) — row-group pruning at the scan
            fetch = fetch.where(F.col("vec_id").isin(ids_pdf["vec_id"].tolist()))
        else:
            # huge query batches would inline too many literals into
            # the plan; a broadcast semi-join filters JVM-side instead
            # (still no Python below the join)
            fetch = fetch.join(F.broadcast(ids_df), "vec_id", "left_semi")
        src = with_unit_norm(fetch, col).select(
            "vec_id", F.col("unit").alias("v_unit")
        )
        # q_unit needs no cell routing — derive it from the raw
        # queries; dropDuplicates restores robustness to duplicate
        # q_id rows (the rescored join would otherwise fan out and the
        # rank window could repeat vec_ids — ADVICE r6)
        qs = with_unit_norm(
            queries.select(F.col(q_id_col).alias("q_id"), col).dropDuplicates(["q_id"]),
            col,
        ).select("q_id", F.col("unit").alias("q_unit"))
        dot = make_dot_udf()
        rescored = (
            shortlist.select("q_id", "vec_id")
            .join(src, "vec_id")
            .join(F.broadcast(qs), "q_id")
            .select(
                "q_id",
                "vec_id",
                F.round(dot(F.col("v_unit"), F.col("q_unit")), 6).alias("cos"),
            )
        )
        return rescored.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= k
        )
    if "codes" in fields:  # sq8-quantized layout
        _, dequant_unit = _make_sq8_udfs()
        v = v.select(
            "vec_id",
            dequant_unit(F.col("codes"), F.col("scale")).alias("v_unit"),
            F.col("cell").cast("int").alias("cell"),
        )
    else:
        v = with_unit_norm(v, "embedding").select(
            "vec_id", F.col("unit").alias("v_unit"), F.col("cell").cast("int").alias("cell")
        )
    dot = make_dot_udf()
    scored = (
        v.join(F.broadcast(q), "cell")
        .select("q_id", "vec_id", F.round(dot(F.col("v_unit"), F.col("q_unit")), 6).alias("cos"))
        .groupBy("q_id", "vec_id")
        .agg(F.max("cos").alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def embedding_near_dup(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    col: str = "embedding",
    n_tables: int = N_TABLES,
    n_planes: int | None = None,
) -> DataFrame:
    """Self-join near-duplicate pairs — the 100 TB scale path.

    Banded multi-table LSH: a pair is a candidate iff it shares the
    full sign-pattern bucket of ANY of ``n_tables`` independent tables.
    The two knobs pull in opposite directions: ``n_planes`` sets each
    table's SELECTIVITY (2^n_planes buckets — more planes mean smaller
    bucket blocks and fewer candidates), while ``n_tables`` sets
    RECALL (OR over tables only ever ADDS candidates).  Default
    ``n_planes=None`` scales to ~log2(N) via ``recommended_planes``
    (one count() pass — cheap parquet metadata in practice); pass an
    explicit value to skip the count.  At 10^9 vectors that is ~30
    planes; a fixed 8 would leave ~N/256-vector blocks per bucket and
    go quadratic.  Candidates score with the Arrow dot kernel; a pair
    colliding in several tables scores identically in each, so the
    trailing ``distinct`` dedupes exactly."""
    if n_planes is None:
        n_planes = recommended_planes(vectors.count())
    dot = make_dot_udf()
    v = with_lsh_tables(with_unit_norm(vectors, col), "unit", n_tables, n_planes=n_planes).select(
        F.col(id_col).alias("id"), "unit", F.posexplode("tables").alias("tbl", "bucket")
    )
    pairs = (
        v.alias("a")
        .join(v.alias("b"), ["tbl", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(dot(F.col("a.unit"), F.col("b.unit")), 6).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
        .distinct()
    )
    return pairs


def kmeans_cells(
    vectors: DataFrame,
    cells: int = N_IVF_CELLS,
    iters: int = 2,
    id_col: str = "vec_id",
    col: str = "embedding",
):
    """Deterministic distributed k-means: md5-ordered seeds + ``iters``
    Lloyd refinements (each refinement is ONE distributed aggregate;
    only ``cells x dims`` numbers ever reach the driver — see
    ``_ivf_centroids``).  Returns ``(assigned_df, centroids)`` where
    ``assigned_df`` is the input plus a ``cell`` int column.  No MLlib
    fit artifact, no RDDs — reproducible across runs and cluster
    sizes."""
    v = vectors.select(F.col(id_col).alias("vec_id"), F.col(col).alias(col))
    cen = _ivf_centroids(v, col, cells, refine=iters)
    assigned = with_ivf_cell(v, cen, col, n_probes=1).select(
        "vec_id", col, F.element_at("ivf_cells", 1).cast("int").alias("cell")
    )
    return assigned, cen


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.95,
    cells: int | None = None,
    iters: int = 2,
    id_col: str = "vec_id",
    col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding
    space, then prune near-duplicates WITHIN each cluster — the
    semantic analogue of minhash-LSH dedup, and the standard move for
    embedding-level dedup of web corpora.

    Greedy within-cell contract (deterministic): points are visited
    ordered by (rounded cosine-to-centroid ASC, vec_id ASC) — SemDeDup
    keeps the point farthest from the centroid among duplicates — and
    a point is KEPT iff its cosine to every already-kept point in the
    cell is < ``threshold``.  So kept points are pairwise < threshold
    and every dropped point has a kept witness >= threshold.

    Scale shape: clustering is the partitioner.  ``cells`` defaults to
    ~sqrt(N) so expected cell size is ~sqrt(N); each cell is scored by
    ONE Arrow-batched numpy kernel in ``applyInPandas`` (incremental
    kept-matrix matvecs, never a full NxN matrix).  The only shuffle
    is the groupBy(cell); a pathological cell (millions of identical
    embeddings) bounds at the executor — pick ``cells`` so the largest
    cell fits, exactly the IVF sizing rule (~sqrt(n), noted at
    ``ivf_topk``).  Returns ``(vec_id, cell, centroid_sim, keep)``."""
    _require_numeric_id(vectors, id_col)
    if cells is None:
        n = vectors.count()
        cells = max(4, int(n ** 0.5))
    assigned, cen = kmeans_cells(vectors, cells, iters, id_col, col)
    cen_unit = cen / np.maximum(
        np.sqrt((cen * cen).sum(axis=1))[:, None], 1e-12
    )

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = _np_unit(np.array(pdf[col].tolist(), dtype=np.float64))
        cell = int(pdf["cell"].iloc[0])
        sims = np.round(mat @ cen_unit[cell], 6)
        ids = pdf["vec_id"].to_numpy()
        order = np.lexsort((ids, sims))
        keep = np.zeros(len(ids), dtype=bool)
        kept_rows: list[int] = []
        for i in order:
            if kept_rows:
                close = np.round(mat[kept_rows] @ mat[i], 6) >= threshold
                if bool(close.any()):
                    continue
            keep[i] = True
            kept_rows.append(i)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": cell,
                "centroid_sim": sims,
                "keep": keep,
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        dedup_cell,
        schema="vec_id long, cell int, centroid_sim double, keep boolean",
    )
