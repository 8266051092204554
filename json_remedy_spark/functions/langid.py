"""Deterministic stopword-profile language ID — pure column expressions.

Stands in for fastText langid (north_rule): same API shape (text ->
(lang, confidence)), deterministic, JVM-side so it codegens into the
scan stage.  A fastText model would slot in as a pandas UDF behind the
same column name; the sandbox has no model file, and the heuristic is
exact on the synthetic corpus.

SQL-oracle expressible: regexp counts over the same patterns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Distinctive high-frequency function words per language.  Word-boundary
# regexes; (?i) for case folding.  Kept RE2/Java-regex compatible so the
# DuckDB oracle runs the identical pattern.
LANG_PATTERNS = {
    "en": r"(?i)\b(the|and|is|that|this|with|for|what|when|over|because)\b",
    "de": r"(?i)\b(der|die|das|und|ist|nicht|den|dem|durch|unter|einem)\b",
    "fr": r"(?i)\b(le|la|les|et|est|dans|que|pour|par|sous|pendant)\b",
}
MIN_HITS = 1  # below this the doc is 'xx' (unknown)


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: F.regexp_count(text, F.lit(pat)) for lang, pat in LANG_PATTERNS.items()}


def detect_language(text: Column) -> Column:
    """argmax over stopword-hit counts; 'xx' when no language clears
    MIN_HITS."""
    s = lang_scores(text)
    best = F.greatest(*s.values())
    expr = F.lit("xx")
    # reverse order so earlier langs win ties via the outermost when()
    for lang in reversed(list(LANG_PATTERNS)):
        expr = F.when((s[lang] == best) & (best >= MIN_HITS), F.lit(lang)).otherwise(expr)
    return expr


# --------------------------------------------------------------------------
# fastText-style hashed char-bigram linear head
# --------------------------------------------------------------------------
#
# The real fastText langid is a linear model over HASHED bag-of-char-
# ngram features (Joulin et al. 2016: feature -> hash bucket -> weight
# row -> sum -> argmax).  This is that architecture with a
# deterministic, train-free weight table (bucketed bigrams of the
# stopword inventory above), so the whole scoring path — hashing,
# bucket collisions included, summation, argmax — is exercised and
# DuckDB-checkable exactly.  A trained .bin model would drop in by
# replacing ft_weight_rows() with the exported table; nothing else
# changes.
#
# One head serves three models: this langid, the quality classifier
# (functions/classifier.py) and DSIR (functions/dsir.py).  They share
# the featurizer (``bigram_buckets``) and the scoring hop
# (``hashed_scores``); the two integer heads also share the
# padded-word weight rows, their SQL VALUES form and the model loader
# (``ft_head``).  Scoring a doc is ``weights[ids].sum(axis=0)``;
# counting a corpus is ``bucket_counts`` (one ``np.bincount``).
#
# Scale shape: scoring is one zero-shuffle mapInPandas; per Arrow
# batch the texts are decoded to uint32 codepoint arrays (vectorized
# utf-32 view, no per-char Python), bigrams md5-bucketed once per
# DISTINCT bigram in the batch, and per-doc scores are one fancy-index
# + sum.  The weight matrix (FT_BUCKETS x n_classes) broadcasts inside
# the closure.

FT_BUCKETS = 256
FT_LANGS = ["de", "en", "fr"]  # sorted: argmax ties resolve alphabetically

_STOPWORDS = {
    lang: pat.split("(")[2].rstrip(r")\b").split("|")
    for lang, pat in LANG_PATTERNS.items()
}


def bigram_buckets(texts):
    """Each text's hashed char-bigram features: an int64 array of
    bucket ids, one per bigram ``t[i:i+2]`` in position order (empty
    for texts under two chars).  A bigram's bucket is the first 8 hex
    digits of md5(utf-8 bigram) mod FT_BUCKETS — the DuckDB oracles'
    formula.  One vectorized utf-32 decode per text (no per-char
    Python); each DISTINCT bigram of the batch is hashed once."""
    import hashlib

    import numpy as np
    import pandas as pd

    codes = [np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32) for t in texts]
    bigram_codes = [a[:-1].astype(np.int64) * 0x200000 + a[1:] for a in codes]
    # hash-factorize: one O(n) pass, ~2x np.unique + searchsorted
    inv, uniq = pd.factorize(np.concatenate([np.empty(0, np.int64), *bigram_codes]))
    buckets = np.empty(len(uniq), dtype=np.int64)
    for j, code in enumerate(uniq.tolist()):
        c0, c1 = divmod(code, 0x200000)
        digest = hashlib.md5((chr(c0) + chr(c1)).encode("utf-8")).hexdigest()
        buckets[j] = int(digest[:8], 16) % FT_BUCKETS
    flat = buckets[inv]
    ends = np.cumsum([len(c) for c in bigram_codes], dtype=np.int64)
    return [flat[e - len(c) : e] for c, e in zip(bigram_codes, ends)]


def score_hashed_bigrams(texts, weights):
    """texts -> [n_texts x n_classes] scores against a dense
    [FT_BUCKETS x n_classes] weight table: each doc's score row is
    ``weights[ids].sum(axis=0)`` over its ``bigram_buckets``.  The
    dtype follows the table: integer heads (langid, classifier) stay
    bit-exact, float heads (DSIR log-ratios) flow through unchanged."""
    import numpy as np

    scores = np.zeros((len(texts), weights.shape[1]), dtype=weights.dtype)
    for i, ids in enumerate(bigram_buckets(texts)):
        if len(ids):
            scores[i] = weights[ids].sum(axis=0)
    return scores


def bucket_counts(ids):
    """FT_BUCKETS-long occurrence histogram of ``bigram_buckets``
    output (any list of bucket-id arrays, empty included)."""
    import numpy as np

    return np.bincount(np.concatenate([np.empty(0, np.int64), *ids]), minlength=FT_BUCKETS)


def padded_word_rows(words: dict[str, list[str]], classes: list[str]) -> list[tuple[int, list[int]]]:
    """Sparse weight table ``(bucket, [w per class])``: a class's
    weight in a bucket counts the bigrams of its space-padded words
    that hash there (the padding makes word-boundary bigrams like
    ' t' / 'e ' carry signal).  Only touched buckets are listed."""
    import numpy as np

    dense = np.stack(
        [bucket_counts(bigram_buckets([f" {w} " for w in words[c]])) for c in classes],
        axis=1,
    )
    return [(int(b), dense[b].tolist()) for b in np.flatnonzero(dense.any(axis=1))]


def ft_weight_rows() -> list[tuple[int, list[int]]]:
    """The built-in langid table: (bucket, [w_de, w_en, w_fr]) over
    the stopword inventory."""
    return padded_word_rows(_STOPWORDS, FT_LANGS)


def weights_values_sql(rows) -> str:
    """A sparse weight table as a SQL VALUES list (bucket, w_0, w_1,
    ...) — inlined into the DuckDB oracles."""
    return ", ".join(f"({b}, {', '.join(str(w) for w in ws)})" for b, ws in rows)


def export_ft_model(path: str, rows=None, langs=None) -> int:
    """Write a weight table in the on-disk model format a trained
    fastText export would use: long-form (bucket, lang, weight)
    parquet.  Defaults to the built-in deterministic table; returns
    the number of nonzero entries written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = ft_weight_rows() if rows is None else rows
    langs = langs or FT_LANGS
    b_out, l_out, w_out = [], [], []
    for bucket, ws in rows:
        for li, lang in enumerate(langs):
            if ws[li]:
                b_out.append(bucket)
                l_out.append(lang)
                w_out.append(ws[li])
    pq.write_table(pa.table({"bucket": b_out, "lang": l_out, "weight": w_out}), path)
    return len(b_out)


def load_ft_model(path: str):
    """Read an exported weight table -> (dense [FT_BUCKETS x n_langs]
    int64 matrix, sorted langs)."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pydict()
    langs = sorted(set(t["lang"]))
    idx = {l: i for i, l in enumerate(langs)}
    dense = np.zeros((FT_BUCKETS, len(langs)), dtype=np.int64)
    for bucket, lang, w in zip(t["bucket"], t["lang"], t["weight"]):
        dense[int(bucket), idx[lang]] += int(w)
    return dense, langs


def ft_head(docs, rows, classes, model_path: str | None):
    """``(classes, weights)`` of an integer fastText head for
    ``hashed_scores``: the built-in sparse ``rows`` as a dense table,
    or — the trained-model drop-in — the ``export_ft_model`` artifact
    at ``model_path``, whose classes (sorted) are read on the driver
    and whose weights ship to the executors (``localdf.shipped``)."""
    import numpy as np

    from json_remedy_spark.localdf import shipped

    if model_path is None:
        dense = np.zeros((FT_BUCKETS, len(classes)), dtype=np.int64)
        for b, ws in rows:
            dense[b] = ws
        return list(classes), dense
    _, classes = load_ft_model(model_path)
    sc = docs.sparkSession.sparkContext
    return classes, shipped(sc, [model_path], lambda p: load_ft_model(p)[0])


def hashed_scores(
    docs,
    weights,
    score_cols: list[str],
    id_col: str,
    text_col: str,
    extra_cols: tuple = (),
):
    """The one hashed-bigram scoring hop: ``(doc_id, *extra_cols,
    *score_cols)``, where score column j of a doc is
    ``score_hashed_bigrams(lower(text), weights)[:, j]``.

    ``weights`` is the dense [FT_BUCKETS x len(score_cols)] table, or a
    zero-arg getter that returns it on the worker (a shipped
    ``ft_head`` model, always int64).  Float tables give double
    scores, integer tables long scores.

    The id keeps its input type (url keys work), and ``extra_cols``
    ride through the Arrow hop unchanged, so a pipeline can gate on a
    score without a join-back shuffle.  One zero-shuffle mapInPandas;
    heads add their label columns as JVM expressions on top."""
    import pandas as pd

    get = weights if callable(weights) else (lambda: weights)
    score_type = "long" if callable(weights) or weights.dtype.kind == "i" else "double"
    keep = ["doc_id", *extra_cols]
    src = docs.select(
        F.col(id_col).alias("doc_id"), F.lower(F.col(text_col)).alias("t"), *extra_cols
    )
    schema = ", ".join(
        [f"{c} {src.schema[c].dataType.simpleString()}" for c in keep]
        + [f"{c} {score_type}" for c in score_cols]
    )

    def gen(batches):
        w = get()
        for pdf in batches:
            scores = score_hashed_bigrams(pdf["t"].fillna("").tolist(), w)
            out = {c: pdf[c] for c in keep}
            for j, c in enumerate(score_cols):
                out[c] = scores[:, j]
            yield pd.DataFrame(out)

    return src.mapInPandas(gen, schema=schema)


def hashed_langid(docs, id_col: str = "doc_id", text_col: str = "text", model_path: str | None = None):
    """fastText-architecture language ID: (doc_id, ft_lang, s_de,
    s_en, s_fr).  Integer scores -> bit-exact DuckDB oracle (explode
    bigrams, md5-bucket, join the same sparse weight table, sum).
    ``ft_lang`` is the first top-scoring language, 'xx' when no score
    is positive.

    ``model_path`` is the trained-model drop-in (``ft_head``): an
    exported weight table (``export_ft_model`` format); languages and
    weights then come from the artifact.  Default: the built-in
    deterministic table, closure-captured (it is tiny)."""
    langs, weights = ft_head(docs, ft_weight_rows(), FT_LANGS, model_path)
    s = [F.col(f"s_{l}") for l in langs]
    scored = hashed_scores(docs, weights, [f"s_{l}" for l in langs], id_col, text_col)
    best = F.greatest(*s) if len(s) > 1 else s[0]
    lang = F.lit("xx")
    for l, c in reversed(list(zip(langs, s))):
        lang = F.when(c == best, F.lit(l)).otherwise(lang)
    return scored.select(
        "doc_id", F.when(best > 0, lang).otherwise(F.lit("xx")).alias("ft_lang"), *s
    )


def detect_language_sql(col: str = "text") -> str:
    """The equivalent ANSI SQL (DuckDB) expression for the oracle."""
    scores = {
        lang: f"len(regexp_extract_all({col}, '{pat}'))"
        for lang, pat in LANG_PATTERNS.items()
    }
    best = "greatest({})".format(", ".join(scores.values()))
    expr = "'xx'"
    for lang in reversed(list(LANG_PATTERNS)):
        expr = (
            f"CASE WHEN {scores[lang]} = {best} AND {best} >= {MIN_HITS} "
            f"THEN '{lang}' ELSE {expr} END"
        )
    return expr


# Unicode script-mix detection: one codepoint-range table rendered
# into each engine's regex dialect (Java \uXXXX, RE2 \x{XXXX}) so the
# SEMANTICS are shared by construction.  BMP-only ranges; Java regex
# and RE2 both count per codepoint, so the two engines agree even on
# astral text around them.
SCRIPT_RANGES: dict[str, list[tuple[str, str]]] = {
    "latin": [("0041", "005A"), ("0061", "007A"), ("00C0", "024F")],
    "cyrillic": [("0400", "04FF")],
    "greek": [("0370", "03FF")],
    "arabic": [("0600", "06FF")],
    "han": [("4E00", "9FFF")],
    "kana": [("3040", "30FF")],
    "hangul": [("1100", "11FF"), ("AC00", "D7AF")],
}


def _script_class_java(ranges: list[tuple[str, str]]) -> str:
    return "[" + "".join(f"\\u{a}-\\u{b}" for a, b in ranges) + "]"


def _script_class_re2(ranges: list[tuple[str, str]]) -> str:
    return "[" + "".join(f"\\x{{{a}}}-\\x{{{b}}}" for a, b in ranges) + "]"


def script_mix(
    docs, id_col: str = "doc_id", text_col: str = "text"
):
    """Per-document Unicode script mix — the wrong-script /
    mixed-script signal language filters gate on (a 'lang=en' page
    that is 80% Cyrillic is mislabeled or spam): per-script codepoint
    counts, total codepoints, and the dominant script (ties break by
    the fixed SCRIPT_RANGES order; 'none' when no script char).

    Map-only pure-JVM ``regexp_count`` column expressions — codegens
    into the scan, zero shuffles, no Python."""
    from pyspark.sql import functions as F

    t = F.coalesce(F.col(text_col), F.lit(""))
    counts = {
        name: F.regexp_count(t, F.lit(_script_class_java(r))).cast("long")
        for name, r in SCRIPT_RANGES.items()
    }
    n_cp = F.regexp_count(t, F.lit("(?s).")).cast("long")
    mx = F.greatest(*counts.values())
    main = F.when(mx == 0, F.lit("none"))
    for name in SCRIPT_RANGES:
        main = main.when(counts[name] == mx, F.lit(name))
    cols = [F.col(id_col).alias("doc_id"), n_cp.alias("n_cp")]
    cols += [c.alias(n) for n, c in counts.items()]
    cols.append(main.alias("main_script"))
    return docs.select(*cols)


def script_mix_sql(text_col: str = "text") -> str:
    """DuckDB select-list fragment mirroring ``script_mix`` (same
    range table, RE2 dialect, same tie-break CASE order)."""
    t = f"coalesce({text_col}, '')"
    counts = {
        name: f"len(regexp_extract_all({t}, '{_script_class_re2(r)}'))::BIGINT"
        for name, r in SCRIPT_RANGES.items()
    }
    mx = "greatest({})".format(", ".join(counts.values()))
    main = "CASE WHEN {} = 0 THEN 'none'".format(mx)
    for name in SCRIPT_RANGES:
        main += f" WHEN {counts[name]} = {mx} THEN '{name}'"
    main += " END"
    parts = [f"len(regexp_extract_all({t}, '(?s).'))::BIGINT AS n_cp"]
    parts += [f"{c} AS {n}" for n, c in counts.items()]
    parts.append(f"{main} AS main_script")
    return ", ".join(parts)
