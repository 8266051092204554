"""Corpus-construction operators for training-data pipelines:
decontamination, token-budget packing, deterministic sampling.

No reference analogue (the reference is a per-document repair library,
lib/json_remedy.ex) — these are the graft-mandated large-scale ops a
quality-filter engine feeds.  All three are SQL-expressible and carry
exact DuckDB oracles in the driver contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

import re as _re

from json_remedy_spark.functions.dedup import shingles
from json_remedy_spark.functions.textstats import token_count


def _re_escape(sep: str) -> str:
    """F.split takes a REGEX; separators are literal strings here."""
    return _re.escape(sep)


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag every corpus doc sharing at
    least one w-word shingle with ANY eval/benchmark document.

    Scale shape: the eval set is tiny next to the corpus, so its
    DISTINCT shingle set BROADCASTS — the corpus-side shingle kernel
    (the same zero-shuffle mapInPandas as minhash) streams once
    map-only against the broadcast hash set; only (doc_id) hits
    shuffle for the final distinct.  The corpus shingle table is
    never re-keyed or exchanged.  Returns (doc_id, contaminated) for
    every corpus doc."""
    corpus_sh = shingles(docs, id_col, text_col)
    eval_sh = F.broadcast(
        shingles(eval_docs, id_col, text_col).select("shingle").distinct()
    )
    hits = (
        corpus_sh.join(eval_sh, "shingle")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select("doc_id", F.coalesce("contaminated", F.lit(False)).alias("contaminated"))
    )


def contamination_overlap(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc contamination REPORT — the fraction of a doc's distinct
    w-word shingles that appear in the eval/benchmark set.  This is
    the number decontamination writeups quote; ``decontaminate``'s
    binary gate is exactly ``overlap_frac > 0``.

    Scale shape mirrors ``decontaminate``: the eval set's distinct
    shingles broadcast; the corpus shingle table (already distinct per
    doc by the shingle kernel's contract) streams map-only into ONE
    hash aggregate keyed by doc_id — no corpus-side re-key.  Returns
    ``(doc_id, n_shingles, n_matched, overlap_frac)`` for every doc."""
    corpus_sh = shingles(docs, id_col, text_col)
    eval_sh = F.broadcast(
        shingles(eval_docs, id_col, text_col)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    per_doc = (
        corpus_sh.join(eval_sh, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hit"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_sh", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_matched"),
            F.round(
                F.coalesce("n_hit", F.lit(0))
                / F.greatest(F.coalesce("n_sh", F.lit(0)), F.lit(1)),
                6,
            )
            .cast("double")
            .alias("overlap_frac"),
        )
    )


def pack_token_budget(
    docs: DataFrame,
    budget: int,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_width: int = 1 << 20,
) -> DataFrame:
    """Deterministic per-language token packing: take docs in doc_id
    order until each language's cumulative token count exceeds
    ``budget`` (the doc that crosses the line is the last one kept —
    budgets are floors, standard corpus-mix semantics).

    TWO-PHASE prefix sum — a naive ``Window.partitionBy(lang)`` puts
    each language's entire history in ONE sort task, a guaranteed
    straggler at 10^9 docs per language.  Instead:

    1. bucket docs by ``doc_id // bucket_width`` (monotone in doc_id,
       so bucket order IS doc order) and window WITHIN (lang, bucket)
       — thousands of parallel sorts, bounded task size;
    2. aggregate one row per (lang, bucket); the cross-bucket running
       offsets are a window over that TINY table (rows = langs x
       buckets, millions at worst), then broadcast back;
    3. final cumulative = bucket offset + within-bucket cumsum.

    Identical output to the single-window form (the DuckDB oracle
    cross-checks exactly that)."""
    t = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        # NULL text counts 0 tokens (regexp_count(NULL) is NULL and would
        # poison the prefix sums downstream — NULL-totality, ADVICE r3)
        F.coalesce(token_count(F.col(text_col)), F.lit(0)).cast("long").alias("n_tokens"),
    ).withColumn("bucket", (F.col("doc_id") / bucket_width).cast("long"))
    within = t.withColumn(
        "cum_in_bucket",
        F.sum("n_tokens").over(Window.partitionBy("lang", "bucket").orderBy("doc_id")),
    )
    bucket_sums = t.groupBy("lang", "bucket").agg(F.sum("n_tokens").alias("bucket_tokens"))
    offsets = bucket_sums.withColumn(
        "offset",
        F.coalesce(
            F.sum("bucket_tokens").over(
                Window.partitionBy("lang").orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("lang", "bucket", "offset")
    return (
        within.join(F.broadcast(offsets), ["lang", "bucket"])
        .withColumn("cum_tokens", F.col("offset") + F.col("cum_in_bucket"))
        .where((F.col("cum_tokens") - F.col("n_tokens")) < budget)
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
    )


def shard_by_tokens(
    docs: DataFrame,
    shard_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_width: int = 1 << 20,
) -> DataFrame:
    """Deterministic token-targeted shard assignment — the training-
    data export step: docs in doc_id order are cut into contiguous
    shards of ~``shard_tokens`` tokens each (a doc belongs to the
    shard its FIRST token falls in, so each shard boundary is crossed
    by at most one doc and every shard lands within one doc of the
    target).  Training loaders then stream equal-work shards without a
    size-skew straggler.

    Same two-phase prefix sum as ``pack_token_budget`` (that
    docstring's straggler analysis applies verbatim — one global
    ``Window.orderBy(doc_id)`` would funnel the corpus through a
    single sort task): within-bucket windows in parallel, cross-bucket
    offsets over the tiny per-bucket table, broadcast back.  Returns
    ``(doc_id, n_tokens, cum_tokens, shard)``."""
    t = docs.select(
        F.col(id_col).alias("doc_id"),
        # NULL text counts 0 tokens (regexp_count(NULL) is NULL and would
        # poison the prefix sums downstream — NULL-totality, ADVICE r3)
        F.coalesce(token_count(F.col(text_col)), F.lit(0)).cast("long").alias("n_tokens"),
    ).withColumn("bucket", (F.col("doc_id") / bucket_width).cast("long"))
    within = t.withColumn(
        "cum_in_bucket",
        F.sum("n_tokens").over(Window.partitionBy("bucket").orderBy("doc_id")),
    )
    bucket_sums = t.groupBy("bucket").agg(F.sum("n_tokens").alias("bucket_tokens"))
    offsets = bucket_sums.withColumn(
        "offset",
        F.coalesce(
            F.sum("bucket_tokens").over(
                Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("bucket", "offset")
    return (
        within.join(F.broadcast(offsets), "bucket")
        .withColumn("cum_tokens", F.col("offset") + F.col("cum_in_bucket"))
        .select(
            "doc_id",
            "n_tokens",
            "cum_tokens",
            F.floor((F.col("cum_tokens") - F.col("n_tokens")) / shard_tokens)
            .cast("long")
            .alias("shard"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cut long documents into fixed-token training windows — the
    context-window primitive between corpus construction and the
    loader: (doc_id, chunk_id, n_tokens, text) with whitespace-token
    windows of ``chunk_tokens``, advancing ``stride`` tokens per chunk
    (default = chunk_tokens, disjoint; smaller = overlapping windows).
    The trailing partial window is kept — training loaders pad or
    pack it; dropping silently would bias against document endings.

    Map-only and JVM-side end to end: one split per doc, then an
    explode over the chunk-start sequence with slice/array_join
    projections (builtin exprs, codegen'd — no interpreted
    higher-order functions, no Python).  Chunk text joins with single
    spaces, i.e. internal whitespace normalizes — same convention as
    the shingle/token kernels.  Empty/NULL docs yield no chunks."""
    if stride is None:
        stride = chunk_tokens
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select(
        F.col(id_col).alias("doc_id"), words.alias("_w")
    ).withColumn("_n", F.size("_w")).where(
        (F.col("_n") > 0) & (F.element_at("_w", 1) != "")
    )
    # chunk k covers tokens [k*stride, k*stride + chunk_tokens); k runs
    # while k*stride < n — i.e. k in [0, ceil(n/stride) - 1]
    last = (F.ceil(F.col("_n") / F.lit(stride)) - 1).cast("int")
    ks = base.select(
        "doc_id", "_w", "_n",
        F.explode(F.sequence(F.lit(0), last)).alias("chunk_id"),
    )
    piece = F.slice(F.col("_w"), F.col("chunk_id") * stride + 1, chunk_tokens)
    return ks.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("text"),
    )


def chunk_documents_sql(chunk_tokens: int, stride: int | None = None) -> str:
    """DuckDB replay of ``chunk_documents`` over the ``documents``
    view: same whitespace split, window arithmetic and single-space
    join."""
    if stride is None:
        stride = chunk_tokens
    return f"""
      WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
        FROM documents
        WHERE text IS NOT NULL AND trim(text) != ''
      ),
      ks AS (
        SELECT doc_id, ws, unnest(range(0, cast(ceil(len(ws) / {stride}.0) AS BIGINT))) AS chunk_id
        FROM w
      )
      SELECT doc_id,
             chunk_id::BIGINT AS chunk_id,
             len(ws[chunk_id * {stride} + 1 : chunk_id * {stride} + {chunk_tokens}])::BIGINT AS n_tokens,
             array_to_string(ws[chunk_id * {stride} + 1 : chunk_id * {stride} + {chunk_tokens}], ' ') AS text
      FROM ks
    """


def pack_sequences(
    docs: DataFrame,
    seq_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_width: int = 1 << 20,
) -> DataFrame:
    """Exact sequence packing — the loader-side step after corpus
    construction: the corpus's token stream (docs concatenated in
    doc_id order) is cut into sequences of EXACTLY ``seq_tokens``
    whitespace tokens, documents splitting across boundaries where
    they fall (GPT-style packing; the loader inserts its own
    separator/EOS when concatenating a sequence's pieces).

    Returns (seq_id, doc_id, pos_in_seq, n_tokens, text): every
    sequence's pieces, ordered by ``pos_in_seq``, reassemble to
    exactly ``seq_tokens`` tokens (the final sequence may be short).

    Plan: the same two-phase bucketed prefix sum as
    ``shard_by_tokens`` (no global sort task), then each doc explodes
    into only the sequences it SPANS (ceil(n/seq)+1 pieces worst
    case) with slice/array_join projections — map-only after the
    prefix sum, no Python."""
    if seq_tokens <= 0:
        raise ValueError("seq_tokens must be positive")
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select(
        F.col(id_col).alias("doc_id"), words.alias("_w")
    ).withColumn("_n", F.size("_w").cast("long")).where(
        (F.col("_n") > 0) & (F.element_at("_w", 1) != "")
    ).withColumn("bucket", (F.col("doc_id") / bucket_width).cast("long"))

    within = base.withColumn(
        "_cum",
        F.sum("_n").over(Window.partitionBy("bucket").orderBy("doc_id")),
    )
    bucket_sums = base.groupBy("bucket").agg(F.sum("_n").alias("_bt"))
    offsets = bucket_sums.withColumn(
        "_off",
        F.coalesce(
            F.sum("_bt").over(
                Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("bucket", "_off")
    placed = (
        within.join(F.broadcast(offsets), "bucket")
        .withColumn("_start", F.col("_off") + F.col("_cum") - F.col("_n"))
    )
    seq = F.lit(int(seq_tokens))
    spanned = placed.select(
        "doc_id", "_w", "_n", "_start",
        F.explode(
            F.sequence(
                F.floor(F.col("_start") / seq),
                F.floor((F.col("_start") + F.col("_n") - 1) / seq),
            )
        ).alias("seq_id"),
    )
    a = F.greatest(F.col("seq_id") * seq, F.col("_start")) - F.col("_start")
    b = F.least((F.col("seq_id") + 1) * seq, F.col("_start") + F.col("_n")) - F.col("_start")
    piece = F.slice(F.col("_w"), (a + 1).cast("int"), (b - a).cast("int"))
    return spanned.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        (F.greatest(F.col("seq_id") * seq, F.col("_start")) - F.col("seq_id") * seq)
        .cast("long").alias("pos_in_seq"),
        (b - a).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("text"),
    )


def pack_sequences_sql(seq_tokens: int) -> str:
    """DuckDB replay of ``pack_sequences`` over the ``documents``
    view: a single window prefix sum stands in for the engine's
    two-phase bucketed form (same values by construction), then the
    same span/slice arithmetic."""
    s = int(seq_tokens)
    return f"""
      WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
        FROM documents
        WHERE text IS NOT NULL AND trim(text) != ''
      ),
      placed AS (
        SELECT doc_id, ws, len(ws)::BIGINT AS n,
               (sum(len(ws)) OVER (ORDER BY doc_id) - len(ws))::BIGINT AS start
        FROM w
      ),
      spanned AS (
        SELECT doc_id, ws, n, start,
               unnest(range(start // {s}, (start + n - 1) // {s} + 1)) AS seq_id
        FROM placed
      )
      SELECT seq_id::BIGINT AS seq_id, doc_id,
             (greatest(seq_id * {s}, start) - seq_id * {s})::BIGINT AS pos_in_seq,
             (least((seq_id + 1) * {s}, start + n) - greatest(seq_id * {s}, start))::BIGINT AS n_tokens,
             array_to_string(ws[(greatest(seq_id * {s}, start) - start + 1) :
                               (least((seq_id + 1) * {s}, start + n) - start)], ' ') AS text
      FROM spanned
    """


def pack_token_ids(
    encoded: DataFrame,
    seq_tokens: int,
    bucket_width: int = 1 << 20,
) -> DataFrame:
    """``pack_sequences`` for an ALREADY-ENCODED corpus: input is the
    ``bpe_encode`` long form (doc_id, pos, token_id); output assigns
    every token to its training sequence — (seq_id, pos_in_seq,
    doc_id, token_id), sequences of exactly ``seq_tokens`` ids in
    (doc_id, pos) stream order.  The per-doc counts ride the same
    two-phase bucketed prefix sum (no global sort task); the token
    rows themselves then map to (start + pos) div/mod N — pure
    projection, the heavy table never shuffles beyond its join back
    to the broadcast per-bucket offsets."""
    if seq_tokens <= 0:
        raise ValueError("seq_tokens must be positive")
    counts = encoded.groupBy("doc_id").agg(F.count("*").alias("_n")).withColumn(
        "bucket", (F.col("doc_id") / bucket_width).cast("long")
    )
    within = counts.withColumn(
        "_cum", F.sum("_n").over(Window.partitionBy("bucket").orderBy("doc_id"))
    )
    offsets = (
        counts.groupBy("bucket").agg(F.sum("_n").alias("_bt"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_bt").over(
                    Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("bucket", "_off")
    )
    starts = within.join(F.broadcast(offsets), "bucket").select(
        "doc_id", (F.col("_off") + F.col("_cum") - F.col("_n")).alias("_start")
    )
    seq = F.lit(int(seq_tokens))
    g = F.col("_start") + F.col("pos")
    return encoded.join(starts, "doc_id").select(
        F.floor(g / seq).cast("long").alias("seq_id"),
        F.pmod(g, seq).cast("long").alias("pos_in_seq"),
        "doc_id",
        "token_id",
    )


def pack_token_ids_sql(encoded_cte: str, seq_tokens: int) -> str:
    """DuckDB replay over a CTE named ``encoded_cte`` with columns
    (doc_id, pos, token_id): single-window prefix sum + the same
    div/mod placement."""
    s = int(seq_tokens)
    return f"""
      counts AS (
        SELECT doc_id, count(*)::BIGINT AS n FROM {encoded_cte} GROUP BY doc_id
      ),
      starts AS (
        SELECT doc_id, (sum(n) OVER (ORDER BY doc_id) - n)::BIGINT AS start
        FROM counts
      )
      SELECT ((e.pos + st.start) // {s})::BIGINT AS seq_id,
             ((e.pos + st.start) % {s})::BIGINT AS pos_in_seq,
             e.doc_id, e.token_id
      FROM {encoded_cte} e JOIN starts st ON st.doc_id = e.doc_id
    """


def write_token_shards(
    docs: DataFrame,
    out_dir: str,
    shard_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Land the corpus as token-balanced shards: ``shard_by_tokens``
    assignment joined back to the full rows, written
    ``partitionBy(shard)`` so each shard is its own parquet directory.
    Returns the number of shards written."""
    assign = shard_by_tokens(docs, shard_tokens, id_col, text_col)
    out = docs.join(
        assign.select(F.col("doc_id").alias(id_col), "shard"), id_col
    )
    out.write.mode("overwrite").partitionBy("shard").parquet(out_dir)
    import os as _os

    return sum(
        1 for d in _os.listdir(out_dir) if d.startswith("shard=")
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_chars: int = 1,
    sep: str = "\n",
) -> DataFrame:
    """Global (cross-corpus) line-level exact dedup — the C4/RefinedWeb
    boilerplate-removal move: every distinct line is kept ONLY at its
    first occurrence (order = ``(doc_id, line_no)``); later copies are
    dropped and each document is reassembled from its surviving lines.
    Lines whose trimmed length is below ``min_line_chars`` are exempt
    (always kept) so structural blanks survive.

    Scale shape (the skew case is the whole problem — "JavaScript is
    required" appears in 10^9 documents):

    1. explode to (doc_id, line_no, line) — map-only;
    2. winner selection runs over a NARROW projection
       ``(md5(line), doc_id, line_no)`` with ``groupBy(hash).agg(min(
       struct(doc_id, line_no)))`` — a hash aggregate with MAP-SIDE
       partial combine, so a line duplicated 10^9 times contributes
       ~one row per map partition to the shuffle, never 10^9 rows on
       one reducer (a window over the line key would do exactly that);
       the full line text never shuffles on the skewed key;
    3. the winner keys join back to the exploded table on
       ``(doc_id, line_no)`` — uniformly distributed keys;
    4. reassembly is one ``groupBy(doc_id)`` with an ordered collect.

    Three shuffles total, none keyed by skewed values.  Returns
    ``(doc_id, text, n_lines, n_dropped)`` — ``text`` is the
    reassembled document.  ``sep="\\n\\n"`` gives PARAGRAPH-level
    dedup (the coarser C4-style span unit) with identical machinery."""
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), _re_escape(sep))).alias("line_no", "line"),
    )
    eligible = F.length(F.trim(F.col("line"))) >= min_line_chars
    narrow = lines.where(eligible).select(
        F.md5(F.col("line")).alias("line_hash"), "doc_id", "line_no"
    )
    winners = narrow.groupBy("line_hash").agg(
        F.min(F.struct("doc_id", "line_no")).alias("w")
    ).select(
        F.col("w.doc_id").alias("doc_id"), F.col("w.line_no").alias("line_no")
    ).withColumn("is_winner", F.lit(True))
    kept = (
        lines.join(winners, ["doc_id", "line_no"], "left")
        .withColumn("keep_line", (~eligible) | F.coalesce("is_winner", F.lit(False)))
    )
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("keep_line"), F.struct("line_no", "line")))
                ),
                lambda s: s.line,
            ),
            sep,
        ).alias("text"),
        F.count("*").alias("n_lines"),
        F.sum(F.when(~F.col("keep_line"), 1).otherwise(0)).alias("n_dropped"),
    )


def host_boilerplate_removal(
    docs: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_host_pages: int = 3,
    max_line_frac: float = 0.5,
    min_line_chars: int = 1,
    sep: str = "\n",
) -> DataFrame:
    """Per-host template ("site chrome") removal — the RefinedWeb /
    CCNet boilerplate move that ``line_dedup`` cannot express: a line
    appearing on >= ``max_line_frac`` of a host's pages (hosts with at
    least ``min_host_pages`` pages) is navigation/footer chrome, and
    EVERY occurrence is dropped — unlike line_dedup's first-wins,
    because chrome carries no information anywhere.  Lines below
    ``min_line_chars`` (trimmed) are exempt so structural blanks
    survive.

    Scale shape (site chrome IS the skew case — a nav line on every
    page of a 10^9-page host):

    1. explode to (doc_id, host, line_no, line) — map-only;
    2. per-(host, line) page frequency runs over a NARROW projection
       ``(host, md5(line), doc_id)`` with ``count_distinct(doc_id)`` —
       hash aggregate with map-side partial combine, the line text
       never shuffles on the hot key;
    3. host page totals are one tiny groupBy(host);
    4. the chrome rule set (host, line_hash) — small: only lines above
       the frac threshold — joins back BROADCAST;
    5. reassembly is one groupBy(doc_id) ordered collect, identical to
       ``line_dedup``.

    Returns ``(doc_id, text, n_lines, n_dropped)``."""
    pages = docs.select(
        F.col(id_col).alias("doc_id"),
        domain_of(F.col(url_col)).alias("host"),
        F.col(text_col).alias("text"),
    )
    lines = pages.select(
        "doc_id",
        "host",
        F.posexplode(F.split(F.col("text"), _re_escape(sep))).alias("line_no", "line"),
    )
    eligible = F.length(F.trim(F.col("line"))) >= min_line_chars
    line_pages = (
        lines.where(eligible)
        .select("host", F.md5("line").alias("line_hash"), "doc_id")
        .groupBy("host", "line_hash")
        .agg(F.count_distinct("doc_id").alias("n_pages"))
    )
    host_pages = pages.groupBy("host").agg(F.count("*").alias("host_pages"))
    rules = F.broadcast(
        line_pages.join(host_pages, "host")
        .where(
            (F.col("host_pages") >= min_host_pages)
            & (F.col("n_pages") >= F.col("host_pages") * max_line_frac)
        )
        .select("host", "line_hash", F.lit(True).alias("is_chrome"))
    )
    kept = (
        lines.withColumn("line_hash", F.md5("line"))
        .join(rules, ["host", "line_hash"], "left")
        .withColumn("keep_line", (~eligible) | F.col("is_chrome").isNull())
    )
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("keep_line"), F.struct("line_no", "line")))
                ),
                lambda s: s.line,
            ),
            sep,
        ).alias("text"),
        F.count("*").alias("n_lines"),
        F.sum(F.when(~F.col("keep_line"), 1).otherwise(0)).alias("n_dropped"),
    )


_DOMAIN_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?(?:www\.)?([^/:?#]+)"


def domain_of(url: Column) -> Column:
    """Registered-domain key for URL-level corpus policy (RefinedWeb
    §2.1 URL filtering / per-domain caps): lowercase host, userinfo
    and leading ``www.`` stripped.  Pure column expression — codegens
    into the scan; regex shared verbatim with the DuckDB oracle."""
    return F.lower(F.regexp_extract(url, _DOMAIN_RE, 1))


def domain_of_sql(col: str = "url") -> str:
    return f"lower(regexp_extract({col}, '{_DOMAIN_RE}', 1))"


def domain_stats(
    pages: DataFrame, url_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """Per-domain corpus aggregates — the observability table behind
    URL-level filtering: doc count, distinct-URL count, mean document
    length.  One hash-aggregate shuffle with map-side partial combine;
    the exact ``countDistinct`` expands to a two-phase agg (Spark
    plans distinct-on-group as partial-on-(domain,url) then merge) —
    at 10^12 rows swap in ``approx_count_distinct`` if ±2% is
    acceptable; kept exact here because the oracle is exact."""
    d = pages.withColumn("domain", domain_of(F.col(url_col)))
    # mean as exact-long sum / count (one IEEE division) rather than
    # F.avg: avg on integral input partial-aggregates in double, whose
    # low bits depend on partition merge order — this form is
    # bit-identical on any cluster size and in the DuckDB oracle.
    return d.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(url_col).alias("n_urls"),
        (F.sum(F.length(text_col)).cast("double") / F.count("*")).alias("avg_chars"),
    )


def domain_cap(
    pages: DataFrame,
    max_per_domain: int,
    url_col: str = "url",
    order_col: str = "url",
    n_salts: int = 16,
) -> DataFrame:
    """Per-domain document cap: keep at most ``max_per_domain`` docs
    per domain in deterministic ``order_col`` order — the standard
    guard against a single crawl-heavy domain dominating the corpus.

    EXACT two-phase top-K, not a single window: ``row_number`` over
    ``partitionBy(domain)`` sorts each domain inside ONE task, so a
    10^8-page domain is a guaranteed straggler.  Instead:

    1. phase 1 keeps the first K rows within each of ``n_salts``
       hash-salted sub-groups per domain — parallel sorts of
       ~n_domain/n_salts rows each;
    2. phase 2 ranks the surviving <= K * n_salts rows per domain —
       a bounded sort regardless of domain size.

    Identical output to the direct window (any row in the true top-K
    of its domain is in the top-K of its salt group), which the DuckDB
    single-window oracle cross-checks.  Size ``n_salts`` ~ (largest
    domain) / (rows a task sorts comfortably)."""
    d = pages.withColumn("domain", domain_of(F.col(url_col)))
    salt = F.pmod(F.xxhash64(F.col(order_col)), F.lit(n_salts))
    w1 = Window.partitionBy("domain", salt).orderBy(order_col)
    thinned = d.withColumn("rk1", F.row_number().over(w1)).where(
        F.col("rk1") <= max_per_domain
    )
    w2 = Window.partitionBy("domain").orderBy(order_col)
    return (
        thinned.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= max_per_domain)
        .drop("rk1")
    )


_TRACKING_PARAM = r"(utm_[^&=]*|fbclid|gclid|msclkid)=[^&]*&?"


def canonical_url(url: Column) -> Column:
    """Canonical form of a web URL — the dedup key for URL-level
    dedup over Common-Crawl-style tables:

    * scheme and host lowercase (path/query case-preserved),
    * default ports ``:80``/``:443`` dropped,
    * fragment dropped,
    * tracking params (``utm_*``, ``fbclid``, ``gclid``, ``msclkid``)
      removed, with separator cleanup so ``?a=1`` survives intact.

    Pure column expressions (whole-stage codegen; zero shuffle) with a
    regex dialect shared by DuckDB so the oracle is exact."""
    u = F.regexp_replace(url, r"#.*$", "")  # fragment
    u = F.regexp_replace(u, _TRACKING_PARAM, "")
    u = F.regexp_replace(u, r"[?&]$", "")  # dangling separator
    u = F.regexp_replace(u, r"\?&", "?")  # ?& left by param removal
    # lowercase scheme://host only
    head = F.lower(F.regexp_extract(u, r"^([^/]*//[^/]*)", 1))
    tail = F.regexp_replace(u, r"^[^/]*//[^/]*", "")
    u = F.when(head == "", u).otherwise(F.concat(head, tail))
    # default ports
    return F.regexp_replace(u, r"(://[^/:]+):(?:443|80)(/|$)", r"$1$2")


def canonical_url_sql(col: str = "url") -> str:
    """DuckDB expression computing exactly ``canonical_url``."""
    u = f"regexp_replace({col}, '#.*$', '', 'g')"
    u = f"regexp_replace({u}, '{_TRACKING_PARAM}', '', 'g')"
    u = f"regexp_replace({u}, '[?&]$', '', 'g')"
    u = f"regexp_replace({u}, '\\?&', '?', 'g')"
    head = f"lower(regexp_extract({u}, '^([^/]*//[^/]*)', 1))"
    tail = f"regexp_replace({u}, '^[^/]*//[^/]*', '')"
    u2 = f"CASE WHEN {head} = '' THEN {u} ELSE {head} || {tail} END"
    return f"regexp_replace({u2}, '(://[^/:]+):(?:443|80)(/|$)', '\\1\\2', 'g')"


def latest_crawl_per_url(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """Crawl-recency URL dedup: canonicalize the URL and keep ONE row
    per canonical URL — the newest ``ts_col``, ties broken by the
    smallest id (deterministic latest-snapshot-wins, the standard
    re-crawl rule for Common-Crawl-style ingests; input_hint columns
    ``url``/``warc_ts``).

    Output: ``(canon_url, doc_id, crawl_ts, n_crawls)`` — the winner
    plus how many crawls collapsed into it.

    100 TB shape: exactly one shuffle, keyed on the canonical URL.
    URL keys are near-unique (group size = re-crawl count, single
    digits), so the window buffers a handful of rows per key and no
    salting is needed; both window functions share the one exchange.
    At rest the same rule lands as a write bucketed by ``canon_url``
    so repeated ingests co-locate without reshuffling history.
    """
    w = Window.partitionBy("canon_url").orderBy(
        F.col("crawl_ts").desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("canon_url")
    return (
        pages.select(
            canonical_url(F.col(url_col)).alias("canon_url"),
            F.col(id_col).alias("doc_id"),
            F.col(ts_col).alias("crawl_ts"),
        )
        .withColumn("n_crawls", F.count("*").over(wc))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def hash_mod_bucket(id_col: Column, buckets: int = 100) -> Column:
    """Portable deterministic bucket in [0, buckets): md5-prefix of the
    stringified id — identical integers in Spark and DuckDB (xxhash64
    is Spark-only, rand() is nondeterministic; md5 is in both)."""
    return (
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10).cast("long") % buckets
    )


def stratified_sample(
    docs: DataFrame,
    pct: int,
    strata_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic ``pct``-percent sample WITHIN each stratum:
    keep rows whose md5-derived bucket < pct.  Reproducible across
    runs, engines, and cluster sizes (no rand(), no sampleBy seeds
    that depend on partitioning); per-stratum rates stay honest
    because the hash is independent of the stratum.  Map-only — no
    shuffle at all."""
    return docs.where(hash_mod_bucket(F.col(id_col)) < pct).select(
        F.col(id_col).alias("doc_id"), F.col(strata_col).alias("stratum")
    )


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic source-mixture resampling — the domain-reweighting
    move (The Pile's per-set epochs; DoReMi's optimized domain weights,
    Xie et al. 2023): each document is kept ``rates[source]`` times in
    expectation.  Rates may exceed 1 (upsampling): ``floor(rate)`` full
    copies plus one extra copy with probability ``frac(rate)``.
    Sources missing from ``rates`` default to 1.0 (pass 0.0 to drop).

    Determinism: the fractional decision uses the portable md5 bucket
    of ``(id, source)`` — reproducible across runs, engines, and
    cluster sizes, and INDEPENDENT per source so re-tuning one
    domain's rate never reshuffles another's sample.  Map-only: copies
    come from an inline ``explode(sequence(...))``, no shuffle, no
    rand().  Returns the input rows plus a ``copy`` index (0-based) —
    downstream ids stay unique via ``(doc_id, copy)``."""
    rate_col = F.lit(1.0)
    for src, r in rates.items():
        rate_col = F.when(F.col(source_col) == src, F.lit(float(r))).otherwise(rate_col)
    bucket = hash_mod_bucket(
        F.concat_ws(":", F.col(id_col).cast("string"), F.col(source_col)),
        buckets=10000,
    )
    n_full = F.floor(rate_col).cast("int")
    extra = (bucket < F.round((rate_col - n_full) * 10000).cast("long")).cast("int")
    n_copies = (n_full + extra).alias("_n")
    return (
        docs.withColumn("_n", n_copies)
        .where(F.col("_n") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(0), F.col("_n") - 1)))
        .drop("_n")
    )


def dup_span_removal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 10,
    min_count: int = 2,
    sep: str = " ",
) -> DataFrame:
    """Exact duplicate-substring removal (Lee et al. 2022, the
    "deduplicating training data" ExactSubstr move, as deployed by
    RefinedWeb/MassiveText): any run of ``window`` consecutive tokens
    that occurs >= ``min_count`` times ACROSS THE CORPUS is removed
    from every occurrence except the first (corpus order =
    ``(doc_id, pos)``).  Documents are reassembled from surviving
    tokens; overlapping duplicated windows merge naturally because
    removal is computed per covered token position.

    The reference has no analogue (per-document repair only,
    lib/json_remedy.ex) — this is the corpus-level generalization of
    line_dedup from whole lines to arbitrary token spans.

    Scale shape (10^12 docs):

    1. tokenize + slide the window map-side; ONLY the 32-hex md5 of
       each window plus (doc_id, pos) ever shuffles — never the gram
       text (at W=10 that is ~50 bytes/token of map-local transient,
       36 bytes/window of shuffle);
    2. occurrence counting + first-occurrence winner selection is ONE
       hash aggregate ``groupBy(h).agg(count, min(struct(doc_id,
       pos)))`` with map-side partial combine — a boilerplate window
       duplicated 10^9 times ("JavaScript is required to ...")
       contributes one row per map partition, never 10^9 rows on one
       reducer;
    3. only DUPLICATED window hashes (a small minority) join back to
       the occurrence table; AQE broadcasts that side when it fits;
    4. covered-position expansion explodes flagged occurrences by W
       (bounded, duplicate-only), distinct on uniformly-distributed
       (doc_id, pos) keys;
    5. reassembly is one ``groupBy(doc_id)`` ordered collect —
       identical to line_dedup's final stage.

    Returns ``(doc_id, text, n_tokens, n_dropped)``.  Docs shorter
    than ``window`` tokens pass through untouched.  The tokenizer is
    a literal ``sep`` split (engine-portable; swap in a real
    tokenizer upstream by pre-joining tokens with a reserved sep)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), _re_escape(sep), -1).alias("t"),
    )
    # sequence(0, n-W) of window start positions; sequence() descends
    # when stop < start, so short docs must yield an EMPTY array.
    starts = F.when(
        F.size("t") >= window, F.sequence(F.lit(0), F.size("t") - window)
    ).otherwise(F.array().cast("array<int>"))
    wins = toks.select(
        "doc_id", "t", F.explode(starts).alias("pos")
    ).select(
        "doc_id",
        "pos",
        F.md5(F.array_join(F.slice("t", F.col("pos") + 1, window), sep)).alias("h"),
    )
    agg = wins.groupBy("h").agg(
        F.count("*").alias("n"),
        F.min(F.struct("doc_id", "pos")).alias("w"),
    )
    dup = agg.where(F.col("n") >= min_count).select(
        "h", F.col("w.doc_id").alias("w_doc"), F.col("w.pos").alias("w_pos")
    )
    flagged = wins.join(dup, "h").where(
        ~((F.col("doc_id") == F.col("w_doc")) & (F.col("pos") == F.col("w_pos")))
    )
    covered = flagged.select(
        "doc_id",
        F.explode(F.sequence("pos", F.col("pos") + F.lit(window - 1))).alias("pos"),
    ).distinct().withColumn("is_covered", F.lit(True))
    tok = toks.select("doc_id", F.posexplode("t").alias("pos", "token"))
    kept = tok.join(covered, ["doc_id", "pos"], "left").withColumn(
        "keep_tok", ~F.coalesce("is_covered", F.lit(False))
    )
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep_tok"), F.struct("pos", "token"))
                    )
                ),
                lambda s: s.token,
            ),
            sep,
        ).alias("text"),
        F.count("*").alias("n_tokens"),
        F.sum(F.when(~F.col("keep_tok"), 1).otherwise(0)).alias("n_dropped"),
    )


def corpus_report(
    docs: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    grid: int = 64,
) -> DataFrame:
    """Per-language corpus report — the rollup a dataset card quotes:
    ``(lang, n_docs, total_tokens, mean_tokens, p50_tokens,
    p90_tokens)``.

    Percentiles are GRID-exact (the CCNet-histogram trick shared with
    ``ppl_head_middle_tail``): token counts land on ``grid``-sized
    buckets, the cutoff is the upper edge of the smallest bucket whose
    cumulative doc count reaches the quantile, and the comparisons are
    integer-exact — so the DuckDB oracle matches bit-for-bit and no
    per-language global sort ever runs (a 10^9-doc language would
    otherwise be one straggler task)."""
    t = docs.select(
        F.col(lang_col).alias("lang"),
        token_count(F.col(text_col)).alias("n_tok"),
    ).withColumn("_tb", F.floor(F.col("n_tok") / grid))
    hist = t.groupBy("lang", "_tb").agg(
        F.count("*").alias("n"), F.sum("n_tok").alias("tok")
    )
    w = Window.partitionBy("lang").orderBy("_tb")
    cum = hist.withColumn("cum", F.sum("n").over(w)).withColumn(
        "tot", F.sum("n").over(Window.partitionBy("lang"))
    )
    return cum.groupBy("lang").agg(
        F.max("tot").cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("total_tokens"),
        F.round(F.sum("tok") / F.max("tot"), 4).cast("double").alias("mean_tokens"),
        ((F.min(F.when(F.col("cum") * 2 >= F.col("tot"), F.col("_tb"))) + 1) * grid)
        .cast("long")
        .alias("p50_tokens"),
        ((F.min(F.when(F.col("cum") * 10 >= F.col("tot") * 9, F.col("_tb"))) + 1) * grid)
        .cast("long")
        .alias("p90_tokens"),
    )
