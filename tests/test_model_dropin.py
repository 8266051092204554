"""Trained-model drop-in paths for langid and perplexity (VERDICT r3 #7).

The deterministic built-in tables are the sandbox stand-ins; a real
deployment loads an exported artifact.  These tests prove the
production path — export to disk, ship via SparkFiles, worker-side
load — routes through the SAME scoring columns: the built-in model's
own export reproduces the default output bit-for-bit, and a perturbed
artifact changes the output (so the file is actually consulted).
"""

import numpy as np
import pytest


@pytest.fixture()
def docs(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(100)
    )


def _langid_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_langid_model_file_matches_builtin(spark, docs, tmp_path):
    from json_remedy_spark.functions.langid import export_ft_model, hashed_langid

    model = str(tmp_path / "ft_builtin.parquet")
    n = export_ft_model(model)
    assert n > 0

    default = _langid_rows(hashed_langid(docs))
    from_file = _langid_rows(hashed_langid(docs, model_path=model))
    assert from_file == default  # identical scores AND labels


def test_langid_perturbed_model_routes_through_file(spark, docs, tmp_path):
    from json_remedy_spark.functions.langid import (
        export_ft_model,
        ft_weight_rows,
        hashed_langid,
    )

    # boost every French weight 10x — if the artifact is consulted the
    # s_fr column must scale accordingly
    rows = [(b, [w[0], w[1], w[2] * 10]) for b, w in ft_weight_rows()]
    model = str(tmp_path / "ft_boosted.parquet")
    export_ft_model(model, rows=rows)

    base = {r["doc_id"]: r for r in hashed_langid(docs).collect()}
    boosted = {r["doc_id"]: r for r in hashed_langid(docs, model_path=model).collect()}
    assert set(base) == set(boosted)
    for did, r in boosted.items():
        assert r["s_fr"] == base[did]["s_fr"] * 10
        assert r["s_en"] == base[did]["s_en"]


def test_langid_model_langs_come_from_artifact(spark, docs, tmp_path):
    """A model covering a different language set drives the output
    schema — proof nothing is hardcoded to the built-in langs."""
    from json_remedy_spark.functions.langid import export_ft_model, ft_weight_rows, hashed_langid

    rows = [(b, [w[1], w[2]]) for b, w in ft_weight_rows()]  # en, fr only
    model = str(tmp_path / "ft_two_langs.parquet")
    export_ft_model(model, rows=rows, langs=["en", "fr"])

    out = hashed_langid(docs, model_path=model)
    assert set(out.columns) == {"doc_id", "ft_lang", "s_en", "s_fr"}
    assert {r["ft_lang"] for r in out.collect()} <= {"en", "fr", "xx"}


def test_perplexity_model_file_matches_builtin(spark, docs, tmp_path):
    from pyspark.sql import functions as F

    from json_remedy_spark.functions.perplexity import (
        _LOGP,
        export_model_tables,
        load_model_tables,
        make_perplexity_udf,
    )

    tri, bi = str(tmp_path / "ppl_tri.parquet"), str(tmp_path / "ppl_bi.parquet")
    export_model_tables(tri, bi)

    # dense reconstruction is bit-exact vs the in-memory model
    assert np.array_equal(load_model_tables(tri, bi), _LOGP)

    base = docs.select("doc_id", make_perplexity_udf()(F.col("text")).alias("ppl"))
    from_file = docs.select(
        "doc_id", make_perplexity_udf(model_paths=(tri, bi))(F.col("text")).alias("ppl")
    )
    a = {r["doc_id"]: r["ppl"] for r in base.collect()}
    b = {r["doc_id"]: r["ppl"] for r in from_file.collect()}
    assert a == b  # bit-exact through the SparkFiles path


def test_perplexity_perturbed_model_routes_through_file(spark, docs, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from json_remedy_spark.functions.perplexity import make_perplexity_udf

    # degenerate model: NO observed grams -> every trigram scores the
    # smoothing constant -(log k - log kV) = log(V), for all docs >= 3 chars
    tri = str(tmp_path / "ppl_tri_empty.parquet")
    bi = str(tmp_path / "ppl_bi_empty.parquet")
    pq.write_table(pa.table({"tri": pa.array([], "int64"), "log_num": pa.array([], "float64")}), tri)
    pq.write_table(pa.table({"bi": pa.array([], "int64"), "log_den": pa.array([], "float64")}), bi)

    out = docs.where(F.length("text") >= 3).select(
        make_perplexity_udf(model_paths=(tri, bi))(F.col("text")).alias("ppl")
    )
    expect = float(np.log(97.0))  # log(V): -(log k - log(k*V))
    vals = {round(r["ppl"], 10) for r in out.collect()}
    assert vals == {round(expect, 10)}


def test_quality_classifier_labels_and_ties(spark):
    from json_remedy_spark.functions.classifier import quality_classifier

    rows = [
        (1, "We explain the method because the research evidence supports the theory."),
        (2, "CLICK here to SUBSCRIBE for a free offer and win a casino bonus deal!"),
        (3, "zq xv wk pj"),  # no marker signal -> tie -> low
        (4, None),           # NULL text -> zero scores -> low
        (5, ""),
    ]
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("doc_id", LongType()), StructField("text", StringType())])
    d = spark.createDataFrame(rows, schema)
    out = {r["doc_id"]: r for r in quality_classifier(d).collect()}
    assert out[1]["quality_label"] == "high" and out[1]["margin"] > 0
    assert out[2]["quality_label"] == "low" and out[2]["margin"] < 0
    for i in (3, 4, 5):
        assert out[i]["quality_label"] == "low"
    assert out[4]["s_hi"] == 0 and out[4]["s_lo"] == 0


def test_quality_classifier_model_file_matches_builtin(spark, docs, tmp_path):
    from json_remedy_spark.functions.classifier import (
        QC_CLASSES,
        qc_weight_rows,
        quality_classifier,
    )
    from json_remedy_spark.functions.langid import export_ft_model

    model = str(tmp_path / "qc_builtin.parquet")
    n = export_ft_model(model, rows=qc_weight_rows(), langs=QC_CLASSES)
    assert n > 0
    default = sorted(tuple(r) for r in quality_classifier(docs).collect())
    from_file = sorted(tuple(r) for r in quality_classifier(docs, model_path=model).collect())
    assert from_file == default


def test_quality_classifier_perturbed_model_routes_through_file(spark, docs, tmp_path):
    from json_remedy_spark.functions.classifier import (
        QC_CLASSES,
        qc_weight_rows,
        quality_classifier,
    )
    from json_remedy_spark.functions.langid import export_ft_model

    rows = [(b, [w[0] * 7, w[1]]) for b, w in qc_weight_rows()]
    model = str(tmp_path / "qc_boosted.parquet")
    export_ft_model(model, rows=rows, langs=QC_CLASSES)
    base = {r["doc_id"]: r for r in quality_classifier(docs).collect()}
    boosted = {r["doc_id"]: r for r in quality_classifier(docs, model_path=model).collect()}
    for did, r in boosted.items():
        assert r["s_hi"] == base[did]["s_hi"] * 7
        assert r["s_lo"] == base[did]["s_lo"]


def test_quality_classifier_string_id_and_passthrough(spark):
    """url-keyed docs and extra passthrough columns survive the Arrow
    hop (no hardcoded long id — the ngram_repetition lesson)."""
    from json_remedy_spark.functions.classifier import quality_classifier

    d = spark.createDataFrame(
        [("u://1", "research evidence because", "en"), ("u://2", "click free offer", "de")],
        ["url", "text", "lang"],
    )
    out = {r["doc_id"]: r for r in quality_classifier(
        d, id_col="url", extra_cols=("text", "lang")
    ).collect()}
    assert set(out) == {"u://1", "u://2"}
    assert out["u://1"]["quality_label"] == "high"
    assert out["u://2"]["quality_label"] == "low"
    assert out["u://2"]["lang"] == "de" and "click" in out["u://2"]["text"]


def test_hashed_langid_string_id(spark):
    """url-keyed docs keep their string ids through the langid hop
    (the same contract as the quality head above)."""
    from json_remedy_spark.functions.langid import hashed_langid

    d = spark.createDataFrame(
        [("u://1", "the cat and the dog"), ("u://2", "der hund und die katze")],
        ["url", "text"],
    )
    out = {r["doc_id"]: r for r in hashed_langid(d, id_col="url").collect()}
    assert set(out) == {"u://1", "u://2"}
    assert out["u://1"]["ft_lang"] == "en"
    assert out["u://2"]["ft_lang"] == "de"


def test_trained_lm_reproduces_builtin_model(spark, tmp_path):
    """Training on the exact corpus the built-in model was fit on
    (functions/perplexity._train_counts: each language's prose x3)
    reproduces the built-in dense log-prob table bit-for-bit through
    the export format."""
    from json_remedy_spark.functions.perplexity import (
        _LOGP,
        load_model_tables,
        train_trigram_counts,
        write_trained_lm,
    )
    from json_remedy_spark.sources.webpages import _PROSE

    docs = spark.createDataFrame(
        [(i, _PROSE[lang] * 3) for i, lang in enumerate(("en", "de", "fr"))],
        "doc_id long, text string",
    )
    tri, bi = str(tmp_path / "t.parquet"), str(tmp_path / "b.parquet")
    n3, n2 = write_trained_lm(train_trigram_counts(docs), tri, bi)
    assert n3 > 0 and n2 > 0
    dense = load_model_tables(tri, bi)
    assert np.array_equal(dense, _LOGP)


def test_trained_lm_scores_through_sparkfiles(spark, docs, tmp_path):
    """End-to-end: train on the corpus, export, ship via SparkFiles,
    score — matches driver-side numpy scoring with the same tables."""
    from json_remedy_spark.functions.perplexity import (
        load_model_tables,
        make_perplexity_udf,
        score_texts,
        train_trigram_counts,
        write_trained_lm,
    )
    from pyspark.sql import functions as F

    tri, bi = str(tmp_path / "corpus3.parquet"), str(tmp_path / "corpus2.parquet")
    write_trained_lm(train_trigram_counts(docs), tri, bi)
    udf = make_perplexity_udf(model_paths=(tri, bi))
    got = {
        r["doc_id"]: r["ppl"]
        for r in docs.select("doc_id", udf(F.col("text")).alias("ppl")).collect()
    }
    dense = load_model_tables(tri, bi)
    rows = docs.collect()
    want = score_texts([r["text"] or "" for r in rows], logp=dense)
    for (r, w) in zip(rows, want):
        assert got[r["doc_id"]] == pytest.approx(float(w), abs=1e-12)


def test_trained_lm_counts_ignore_short_and_null(spark, tmp_path):
    from json_remedy_spark.functions.perplexity import train_trigram_counts

    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "ab"), (3, "abc")],
        "doc_id long, text string",
    )
    rows = train_trigram_counts(docs).collect()
    assert len(rows) == 1 and rows[0]["cnt"] == 1


def test_kn_table_is_a_distribution_and_prefers_seen():
    import collections

    from json_remedy_spark.functions.perplexity import (
        _VOCAB,
        _char_ids,
        kn_logp_from_counts,
    )

    ids = _char_ids("the quick brown fox jumps over the lazy dog " * 20)
    tri = (ids[:-2] * _VOCAB + ids[1:-1]) * _VOCAB + ids[2:]
    c = collections.Counter(tri.tolist())
    tri_idx = np.array(sorted(c))
    cnt = np.array([c[t] for t in tri_idx])
    logp = kn_logp_from_counts(tri_idx, cnt)
    p = np.exp(logp).reshape(_VOCAB * _VOCAB, _VOCAB)
    assert np.allclose(p.sum(axis=1), 1.0, atol=1e-9)
    t0 = int(tri_idx[0])
    ctx = t0 // _VOCAB
    unseen = next(w for w in range(_VOCAB) if ctx * _VOCAB + w not in c)
    assert logp[t0] > logp[ctx * _VOCAB + unseen]
    # empty model falls back to uniform
    uni = kn_logp_from_counts(np.array([], dtype=np.int64), np.array([]))
    assert np.allclose(uni, -np.log(_VOCAB))


def test_kn_scoring_through_sparkfiles_matches_driver(spark, docs, tmp_path):
    from pyspark.sql import functions as F

    from json_remedy_spark.functions.perplexity import (
        kn_logp_from_counts,
        load_trigram_counts,
        make_kn_perplexity_udf,
        score_texts,
        train_trigram_counts,
        write_trigram_counts,
    )

    path = str(tmp_path / "kn_counts.parquet")
    write_trigram_counts(train_trigram_counts(docs), path)
    udf = make_kn_perplexity_udf(path)
    got = {
        r["doc_id"]: r["ppl"]
        for r in docs.select("doc_id", udf(F.col("text")).alias("ppl")).collect()
    }
    dense = kn_logp_from_counts(*load_trigram_counts(path))
    rows = docs.collect()
    want = score_texts([r["text"] or "" for r in rows], logp=dense)
    for r, w in zip(rows, want):
        assert got[r["doc_id"]] == pytest.approx(float(w), abs=1e-12)
