"""DSIR importance resampling (functions/dsir.py; Xie et al. 2023)."""

import pyspark.sql.functions as F
import pytest

from json_remedy_spark.functions import dsir


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    for i in range(60):
        if i % 3 == 0:
            rows.append((i, "research study analysis evidence method result " * 3))
        elif i % 3 == 1:
            rows.append((i, "click subscribe free offer bonus casino jackpot " * 3))
        else:
            rows.append((i, "the quick brown fox jumps over the lazy dog " * 2))
    rows += [(60, None), (61, ""), (62, "x")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_weights_rank_target_like_docs(corpus):
    target = corpus.where((F.col("doc_id") % 3) == 0)
    w = dsir.dsir_weights(corpus, target).toPandas().set_index("doc_id")["weight"]
    # target-like docs score highest, anti-target (spam) lowest
    assert w[0] > w[2] > w[1]
    assert w[0] > 0 and w[1] < 0


def test_weights_null_and_tiny_docs_total(corpus):
    target = corpus.where((F.col("doc_id") % 3) == 0)
    w = dsir.dsir_weights(corpus, target).toPandas().set_index("doc_id")["weight"]
    # no bigrams -> zero weight, never NULL/NaN
    assert w[60] == 0.0 and w[61] == 0.0 and w[62] == 0.0
    assert not w.isna().any()


def test_weights_accept_precomputed_log_ratio(corpus):
    import numpy as np

    target = corpus.where((F.col("doc_id") % 3) == 0)
    lr = dsir.dsir_log_ratio(
        dsir.bigram_bucket_counts(target),
        dsir.bigram_bucket_counts(corpus),
    )
    w1 = dsir.dsir_weights(corpus, target).toPandas().set_index("doc_id")["weight"]
    w2 = (
        dsir.dsir_weights(corpus, log_ratio=lr).toPandas().set_index("doc_id")["weight"]
    )
    assert np.allclose(w1.sort_index(), w2.sort_index())


def test_resample_is_deterministic_and_biased_to_target(corpus):
    target = corpus.where((F.col("doc_id") % 3) == 0)
    w = dsir.dsir_weights(corpus, target)
    s1 = dsir.dsir_resample(w, 20).toPandas()
    s2 = dsir.dsir_resample(w, 20).toPandas()
    assert len(s1) == 20
    assert sorted(s1.doc_id) == sorted(s2.doc_id)
    # weights dominate the Gumbel noise here: the strongly target-like
    # class should fill most of the selection
    assert (s1.doc_id % 3 == 0).sum() >= 15
    # different seed -> (possibly) different noise but still deterministic
    s3 = dsir.dsir_resample(w, 20, seed=7).toPandas()
    s4 = dsir.dsir_resample(w, 20, seed=7).toPandas()
    assert sorted(s3.doc_id) == sorted(s4.doc_id)


def test_resample_plan_is_top_k_not_global_sort(corpus):
    target = corpus.where((F.col("doc_id") % 3) == 0)
    sel = dsir.dsir_resample(dsir.dsir_weights(corpus, target), 5)
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan, plan


def test_scoring_pass_is_map_only(corpus):
    import numpy as np

    lr = np.zeros(256)
    w = dsir.dsir_weights(corpus, log_ratio=lr)
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def _ref_buckets(text):
    """Plain per-position reference featurizer: md5 of each
    ``text[i:i+2]``, first 8 hex digits, mod FT_BUCKETS."""
    import hashlib

    from json_remedy_spark.functions.langid import FT_BUCKETS

    return [
        int(hashlib.md5(text[i : i + 2].encode("utf-8")).hexdigest()[:8], 16)
        % FT_BUCKETS
        for i in range(len(text) - 1)
    ]


_EDGE_TEXTS = [
    "",
    "a",
    "ab",
    "aaaa",
    "the quick brown fox jumps over the lazy dog",
    "der schnelle braune fuchs springt über den faulen hund",
    "emoji 😀😀 and astral 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 text 🎉",
    "😀",
    "日本語のテキストと中文文本",
    "русский текст и ελληνικά",
    "عربي مع 123 digits",
    "click subscribe free offer bonus because research study evidence",
]


def test_bigram_buckets_match_per_position_reference():
    """Spark-free differential test of the one hashed-bigram featurizer:
    bucket ids, integer and float scoring, and counting all equal a
    plain per-position md5 reference."""
    import numpy as np

    from json_remedy_spark.functions.classifier import qc_weight_rows
    from json_remedy_spark.functions.langid import (
        FT_BUCKETS,
        bigram_buckets,
        bucket_counts,
        ft_weight_rows,
        score_hashed_bigrams,
    )

    texts = _EDGE_TEXTS + [t.upper() for t in _EDGE_TEXTS]
    ref = [_ref_buckets(t) for t in texts]
    got = bigram_buckets(texts)
    assert [g.tolist() for g in got] == ref
    assert bigram_buckets([]) == []
    assert bucket_counts([]).tolist() == [0] * FT_BUCKETS

    rng = np.random.default_rng(0)
    tables = []
    for rows in (ft_weight_rows(), qc_weight_rows()):
        dense = np.zeros((FT_BUCKETS, len(rows[0][1])), dtype=np.int64)
        for b, ws in rows:
            dense[b] = ws
        tables.append(dense)
    tables.append(rng.normal(size=(FT_BUCKETS, 1)))
    for w in tables:
        scores = score_hashed_bigrams(texts, w)
        assert scores.dtype == w.dtype
        for i, ids in enumerate(ref):
            want = sum((w[b] for b in ids), np.zeros(w.shape[1], w.dtype))
            if w.dtype.kind == "i":
                assert scores[i].tolist() == want.tolist(), texts[i]
            else:
                assert np.allclose(scores[i], want, rtol=0, atol=1e-12), texts[i]

    counts = bucket_counts(got)
    want = np.zeros(FT_BUCKETS, dtype=np.int64)
    for ids in ref:
        for b in ids:
            want[b] += 1
    assert counts.tolist() == want.tolist()


def test_histogram_matches_driver_side_count(corpus):
    got = {
        r["bucket"]: r["cnt"] for r in dsir.bigram_bucket_counts(corpus).collect()
    }
    texts = [r["text"] for r in corpus.select(F.lower("text").alias("text")).collect()]
    want = {}
    for t in texts:
        for b in _ref_buckets(t or ""):
            want[b] = want.get(b, 0) + 1
    assert got == want


# ---- fuzzy decontamination (bipartite LSH; functions/dedup.py) ----------


def test_fuzzy_decontaminate_finds_near_dup_of_eval(spark):
    from json_remedy_spark.functions.dedup import fuzzy_decontaminate

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest to hide from everyone there"
    )
    corpus = spark.createDataFrame(
        [
            (1, base + " extra tail words here"),           # near-dup of eval 100
            (2, "completely different text about cooking pasta with " 
                "tomatoes basil garlic and olive oil on a sunday evening"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, base)], "doc_id long, text string"
    )
    pairs = fuzzy_decontaminate(corpus, eval_docs, threshold=0.5).collect()
    assert [(r["doc_id"], r["eval_id"]) for r in pairs] == [(1, 100)]
    assert pairs[0]["jaccard"] >= 0.5
    # exact-dup of the eval doc scores 1.0
    dup = spark.createDataFrame([(7, base)], "doc_id long, text string")
    p2 = fuzzy_decontaminate(dup, eval_docs, threshold=0.9).collect()
    assert len(p2) == 1 and p2[0]["jaccard"] == 1.0


def test_fuzzy_decontaminate_eval_side_broadcasts(spark):
    from json_remedy_spark.functions.dedup import fuzzy_decontaminate

    corpus = spark.createDataFrame(
        [(i, f"some words number {i} in a row repeated {i} again") for i in range(20)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(0, "some words number 0")], "doc_id long, text string")
    handles = []
    # scale path (forced past the r07 driver fast path): the eval side
    # must broadcast into the bipartite joins
    pairs = fuzzy_decontaminate(
        corpus, ev, threshold=0.0, handles=handles, collect_max_pairs=0
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    # bounded-candidate default routes driver-side: a LocalTableScan,
    # no join in the result plan (r07)
    handles2 = []
    fast = fuzzy_decontaminate(corpus, ev, threshold=0.0, handles=handles2)
    fast_plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in fast_plan, fast_plan
    for h in handles + handles2:
        h.unpersist()


def test_log_ratio_at_rest_roundtrip(corpus, tmp_path):
    import numpy as np
    from pyspark.sql import functions as F

    from json_remedy_spark.functions import dsir

    target = corpus.where((F.col("doc_id") % 3) == 0)
    lr = dsir.dsir_log_ratio(
        dsir.bigram_bucket_counts(target), dsir.bigram_bucket_counts(corpus)
    )
    path = str(tmp_path / "ratio.parquet")
    dsir.save_log_ratio(lr, path)
    lr2 = dsir.load_log_ratio(path)
    assert np.array_equal(lr, lr2)
    w1 = dsir.dsir_weights(corpus, log_ratio=lr).toPandas().set_index("doc_id")
    w2 = dsir.dsir_weights(corpus, log_ratio=lr2).toPandas().set_index("doc_id")
    assert (w1["weight"].sort_index() == w2["weight"].sort_index()).all()
