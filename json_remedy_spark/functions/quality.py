"""C4/Gopher-style heuristic quality rules.

Published filters (C4: Raffel et al. 2020 §2.2; Gopher: Rae et al.
2021 App. A).  Regex-countable rules (symbol ratio, stopwords, bullet
and ellipsis lines, lorem ipsum) are `pyspark.sql.functions` columns
that fuse into WholeStageCodegen over the scan.  The word-array rules
(word count, mean word length, distinct-word ratio, alpha-word ratio,
dup-line ratio) were higher-order-function lambdas — Spark evaluates
those INTERPRETED per array element (CLAUDE.md gotcha; VERDICT r3 #4)
— so they run in ONE struct-returning Arrow kernel
(``make_hof_metrics_udf``) that fuses into the pipeline's existing
ArrowEvalPython hop.  Their executable spec is the DuckDB formulation
in ``quality_sql``, which the oracles compare against bit-exactly.

All SQL-oracle expressible; the kernel keeps integer arithmetic + one
IEEE division per metric so DuckDB comparisons stay bit-exact.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Symbols counted for the symbol-ratio rule.  JSON structural chars are
# deliberately excluded — payload-bearing web text legitimately contains
# them; this measures boilerplate/garbage noise (Gopher symbol ratio).
SYMBOL_PATTERN = r"[#@~^|<>*%+=\\\\]"
STOPWORD_PATTERN = r"(?i)\b(the|and|of|to|in|der|die|und|le|la|et)\b"

MIN_WORDS = 5
MAX_WORDS = 200_000
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 14.0
MAX_SYMBOL_RATIO = 0.10
MIN_DISTINCT_RATIO = 0.10


# The mean word length counts *prose-like* words only: embedded
# payloads (a JSON object is one whitespace-token) would otherwise
# dominate the mean; Gopher's 3-10 band is about prose.
MAX_WORD_LEN_FOR_MEAN = 30


def symbol_ratio(text: Column) -> Column:
    return F.regexp_count(text, F.lit(SYMBOL_PATTERN)) / F.greatest(F.length(text), F.lit(1))


def has_stopword(text: Column) -> Column:
    return F.regexp_count(text, F.lit(STOPWORD_PATTERN)) > 0


BULLET_LINE_PATTERN = r"(?m)^[ \t]*[-*•]"
ELLIPSIS_LINE_PATTERN = r"(?m)(\.\.\.|…)[ \t]*$"


def n_lines(text: Column) -> Column:
    return F.size(F.split(text, "\n"))


def bullet_line_ratio(text: Column) -> Column:
    """Fraction of lines starting with a bullet (Gopher <= 0.9)."""
    return F.regexp_count(text, F.lit(BULLET_LINE_PATTERN)) / F.greatest(n_lines(text), F.lit(1))


def ellipsis_line_ratio(text: Column) -> Column:
    """Fraction of lines ending in an ellipsis (Gopher <= 0.3)."""
    return F.regexp_count(text, F.lit(ELLIPSIS_LINE_PATTERN)) / F.greatest(n_lines(text), F.lit(1))


def has_lorem_ipsum(text: Column) -> Column:
    """C4: any document containing the placeholder phrase drops."""
    return F.lower(text).contains("lorem ipsum")


# ----------------------------------------------------------------------
# Arrow kernel for the word-array metrics (the ex-HOF hot path)
# ----------------------------------------------------------------------
#
# Semantics pinned to the DuckDB oracle (``quality_sql``):
#   * trim = strip SPACES only (Spark/DuckDB trim default);
#   * \s is the ASCII class [ \t\n\r\f\v] (Java regex \s; re.ASCII);
#   * splitting keeps leading/trailing empty tokens exactly like Java
#     Pattern.split(limit=-1) / RE2 regexp_split_to_array;
#   * every metric is integer arithmetic + ONE IEEE division, so the
#     oracle comparison is bit-exact.

HOF_STRUCT_SCHEMA = (
    "struct<n_words:double,mean_word_len:double,distinct_ratio:double,"
    "alpha_ratio:double,dup_line_ratio:double>"
)

_WS_RE = re.compile(r"\s+", re.ASCII)
_ALPHA_RE = re.compile("[A-Za-z]")


def make_hof_metrics_udf():
    """Struct pandas UDF computing the four word-array quality metrics
    (+ the word count) in one pass over each document.  Independent of
    the repair UDF, so Spark's ExtractPythonUDFs collects both into the
    pipeline's single ArrowEvalPython node — no extra Python boundary
    (plans/explain.MAX_ARROW_HOPS stays 1)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(HOF_STRUCT_SCHEMA)
    def hof_udf(texts: pd.Series) -> pd.DataFrame:
        n_out: list = []
        mwl: list = []
        dr: list = []
        ar: list = []
        dlr: list = []
        for t in texts:
            if not isinstance(t, str):
                n_out.append(None)
                mwl.append(None)
                dr.append(None)
                ar.append(None)
                dlr.append(None)
                continue
            w = _WS_RE.split(t.strip(" "))
            nw = len(w)
            denom = max(nw, 1)
            short_total = 0
            short_n = 0
            alpha_n = 0
            for x in w:
                lx = len(x)
                if lx <= MAX_WORD_LEN_FOR_MEAN:
                    short_total += lx
                    short_n += 1
                if _ALPHA_RE.search(x):
                    alpha_n += 1
            n_out.append(float(nw))
            mwl.append(short_total / max(short_n, 1))
            dr.append(len(set(w)) / denom)
            ar.append(alpha_n / denom)
            lines = t.split("\n")
            dlr.append((len(lines) - len(set(lines))) / max(len(lines), 1))
        return pd.DataFrame(
            {
                "n_words": pd.Series(n_out, dtype="float64"),
                "mean_word_len": pd.Series(mwl, dtype="float64"),
                "distinct_ratio": pd.Series(dr, dtype="float64"),
                "alpha_ratio": pd.Series(ar, dtype="float64"),
                "dup_line_ratio": pd.Series(dlr, dtype="float64"),
            }
        )

    return hof_udf


def hof_metrics(text: Column) -> Column:
    """The kernel applied to a text column — build ONCE per query and
    reuse the returned struct so the UDF evaluates once (two factory
    calls yield distinct UDF expressions Catalyst will not dedupe)."""
    return make_hof_metrics_udf()(text)


def passes_quality(text: Column, hof: Column | None = None) -> Column:
    """Fused C4/Gopher keep rule.  It applies five rules:

    * word count in [MIN_WORDS, MAX_WORDS];
    * mean prose-word length in [MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN];
    * symbol ratio <= MAX_SYMBOL_RATIO;
    * at least one stopword;
    * distinct-word ratio >= MIN_DISTINCT_RATIO.

    The bullet-line, ellipsis-line and alpha-word ratios, lorem ipsum
    and the dup-line ratio are reported by ``q_quality_stats`` but not
    gated: Gopher's ellipsis rule (<= 0.3) alone would drop the
    two-line pages whose JSON payload line ends in a run of dots (201
    of the 12,651 expected-keep pages in ``make_row(0..19999)``).

    Word-array terms come from the Arrow kernel (evaluated ONCE — the
    r3 plan showed the interpreted mean_word_len expression duplicated
    inside the keep projection); regex terms stay JVM codegen."""
    if hof is None:
        hof = hof_metrics(text)
    nw = hof.getField("n_words")
    mwl = hof.getField("mean_word_len")
    return (
        (nw >= MIN_WORDS)
        & (nw <= MAX_WORDS)
        & (mwl >= MIN_MEAN_WORD_LEN)
        & (mwl <= MAX_MEAN_WORD_LEN)
        & (symbol_ratio(text) <= MAX_SYMBOL_RATIO)
        & has_stopword(text)
        & (hof.getField("distinct_ratio") >= MIN_DISTINCT_RATIO)
    )


def quality_sql(col: str = "text") -> dict[str, str]:
    """DuckDB oracle expressions, numerically identical formulations."""
    nw = f"len(regexp_split_to_array(trim({col}), '\\s+'))"
    wfilt = (
        f"list_filter(regexp_split_to_array(trim({col}), '\\s+'), "
        f"w -> length(w) <= {MAX_WORD_LEN_FOR_MEAN})"
    )
    mwl = (
        f"list_sum(list_transform({wfilt}, w -> length(w))) / "
        f"greatest(len({wfilt}), 1)"
    )
    sym = f"len(regexp_extract_all({col}, '{SYMBOL_PATTERN}')) / greatest(length({col}), 1)"
    stop = f"len(regexp_extract_all({col}, '{STOPWORD_PATTERN}')) > 0"
    dr = (
        f"len(list_distinct(regexp_split_to_array(trim({col}), '\\s+'))) / "
        f"greatest({nw}, 1)"
    )
    nl = f"len(string_split({col}, chr(10)))"
    bullets = (
        f"len(regexp_extract_all({col}, '(?m)^[ \\t]*[-*•]')) / greatest({nl}, 1)"
    )
    ellip = (
        f"len(regexp_extract_all({col}, '(?m)(\\.\\.\\.|…)[ \\t]*$')) / greatest({nl}, 1)"
    )
    alpha_w = (
        f"len(list_filter(regexp_split_to_array(trim({col}), '\\s+'), "
        f"w -> regexp_matches(w, '[A-Za-z]'))) / greatest({nw}, 1)"
    )
    lorem = f"contains(lower({col}), 'lorem ipsum')"
    dup_lines = (
        f"({nl} - len(list_distinct(string_split({col}, chr(10))))) / greatest({nl}, 1)"
    )
    return {
        "q_n_words": nw,
        "q_mean_word_len": mwl,
        "q_symbol_ratio": sym,
        "q_has_stopword": stop,
        "q_distinct_ratio": dr,
        "q_bullet_ratio": bullets,
        "q_ellipsis_ratio": ellip,
        "q_alpha_ratio": alpha_w,
        "q_lorem_ipsum": lorem,
        "q_dup_line_ratio": dup_lines,
        "passes": (
            f"({nw} >= {MIN_WORDS} AND {nw} <= {MAX_WORDS} AND {mwl} >= {MIN_MEAN_WORD_LEN} "
            f"AND {mwl} <= {MAX_MEAN_WORD_LEN} AND {sym} <= {MAX_SYMBOL_RATIO} "
            f"AND {stop} AND {dr} >= {MIN_DISTINCT_RATIO})"
        ),
    }


# --------------------------------------------------------------------------
# Gopher n-gram repetition signals (Rae et al. 2021, Table A1)
# --------------------------------------------------------------------------
#
# The remaining published repetition family beyond dup_line_ratio:
#   * top-n-gram fraction  — chars covered by the single most frequent
#     word n-gram / total chars (Gopher drops at >0.20 for n=2);
#   * duplicated-n-gram fraction — chars covered by word n-grams that
#     occur more than once (Gopher drops at >0.15 for n=5).
# Per-document statistics — computed in ONE zero-shuffle Arrow kernel
# (see ngram_repetition docstring); no gram table ever shuffles.

def ngram_repetition(
    docs, top_n: int = 2, dup_n: int = 5, id_col: str = "doc_id", text_col: str = "text"
):
    """(doc_id, top{top_n}_frac, dup{dup_n}_frac) over lowercased
    whitespace-normalized text.  Fractions are (occurrences x gram
    chars) / total chars — integer arithmetic plus ONE IEEE division,
    bit-identical in the DuckDB oracle.  Ties for the top gram break
    on the lexicographically smallest gram (min of (-count, gram)).

    Per-document statistics need NO cross-document aggregation, so the
    whole computation is one zero-shuffle mapInPandas kernel over the
    JVM-normalized text (the previous explode + double-groupBy
    formulation shuffled two full gram tables — 4 exchanges, 21 s at
    sf0.1 vs ~1 s for this kernel; the oracle pins both identical).
    Normalization stays a JVM expression so the regex semantics match
    the SQL oracle exactly."""
    import pandas as pd
    from pyspark.sql import functions as F

    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    base = docs.select(F.col(id_col).alias("doc_id"), norm.alias("t"))
    # preserve the caller's id type (string/url-keyed corpora included)
    # instead of hardcoding long (ADVICE r3)
    id_type = base.schema["doc_id"].dataType.simpleString()
    top_name, dup_name = f"top{top_n}_frac", f"dup{dup_n}_frac"

    def gen(batches):
        for pdf in batches:
            tops, dups = [], []
            for t in pdf["t"]:
                if t is None:
                    # NULL text -> 0.0 fractions, matching the pre-
                    # rewrite DataFrame semantics (review r3: the
                    # kernel must not crash the stage on one NULL row)
                    tops.append(0.0)
                    dups.append(0.0)
                    continue
                total = max(len(t), 1)
                ws = t.split(" ")
                top_chars = 0
                if len(ws) >= top_n:
                    counts: dict = {}
                    for i in range(len(ws) - top_n + 1):
                        g = " ".join(ws[i : i + top_n])
                        counts[g] = counts.get(g, 0) + 1
                    nc, g = min((-c, g) for g, c in counts.items())
                    top_chars = (-nc) * len(g)
                dup_chars = 0
                if len(ws) >= dup_n:
                    counts = {}
                    for i in range(len(ws) - dup_n + 1):
                        g = " ".join(ws[i : i + dup_n])
                        counts[g] = counts.get(g, 0) + 1
                    dup_chars = sum(c * len(g) for g, c in counts.items() if c >= 2)
                tops.append(top_chars / total)
                dups.append(dup_chars / total)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], top_name: tops, dup_name: dups}
            )

    return base.mapInPandas(
        gen, schema=f"doc_id {id_type}, {top_name} double, {dup_name} double"
    )


def ngram_repetition_sql(
    top_n: int = 2, dup_n: int = 5, table: str = "documents", text_col: str = "text"
) -> str:
    """DuckDB oracle for ``ngram_repetition`` (window rank for the top
    gram — ORDER BY cnt DESC, gram == Spark's min((-count, gram)))."""

    def grams(n: int) -> str:
        return (
            f"SELECT doc_id, unnest(CASE WHEN len(ws) >= {n} THEN "
            f"list_transform(range(1, len(ws) - {n} + 2), "
            f"i -> array_to_string(ws[i : i + {n} - 1], ' ')) "
            f"ELSE [] END) AS gram FROM b"
        )

    return f"""
      WITH base AS (
        SELECT doc_id,
               lower(regexp_replace(trim({text_col}), '\\s+', ' ', 'g')) AS t
        FROM {table}
      ),
      b AS (SELECT doc_id, t, length(t) AS total,
                   regexp_split_to_array(t, ' ') AS ws FROM base),
      gt AS ({grams(top_n)}),
      gd AS ({grams(dup_n)}),
      topc AS (
        SELECT doc_id, cnt * length(gram) AS top_chars
        FROM (SELECT doc_id, gram, count(*) AS cnt,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY count(*) DESC, gram) AS rn
              FROM gt GROUP BY doc_id, gram)
        WHERE rn = 1
      ),
      dupc AS (
        SELECT doc_id, sum(cnt * length(gram)) AS dup_chars
        FROM (SELECT doc_id, gram, count(*) AS cnt FROM gd GROUP BY doc_id, gram)
        WHERE cnt >= 2 GROUP BY doc_id
      )
      SELECT b.doc_id::BIGINT AS doc_id,
             (coalesce(top_chars, 0) / greatest(total, 1))::DOUBLE AS top{top_n}_frac,
             (coalesce(dup_chars, 0) / greatest(total, 1))::DOUBLE AS dup{dup_n}_frac
      FROM b LEFT JOIN topc ON topc.doc_id = b.doc_id
             LEFT JOIN dupc ON dupc.doc_id = b.doc_id
    """
