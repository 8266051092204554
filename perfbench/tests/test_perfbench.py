"""Self-tests of the benchmark's generator and checkers (no Spark).

    python3 -m pytest perfbench/tests -q
"""

import itertools
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import pandas as pd  # noqa: E402
import pytest  # noqa: E402

import check  # noqa: E402
import inputs  # noqa: E402
from json_remedy_spark.functions.dedup import _shingle_list  # noqa: E402


def _labels(kind: str, n: int, seed: int, families: int = 0) -> pd.DataFrame:
    return pd.DataFrame(inputs.generate(kind, n, seed, families))[inputs.LABEL_COLS]


def _perfect_filter_output(labels: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({
        "url": labels["url"],
        "keep": labels["expected_keep"],
        "repaired": labels["expected_repaired"],
    })


def test_filter_checker_accepts_the_expected_output():
    labels = _labels("mixed", 300, seed=3)
    res = check.check_filter(_perfect_filter_output(labels), labels)
    assert res["ok"] and res["keep_f1"] == 1.0 and res["correct_frac"] == 1.0


def test_filter_checker_flags_a_corrupted_row():
    labels = _labels("mixed", 300, seed=3)
    out = _perfect_filter_output(labels)
    i = labels.index[labels["expected_keep"]][0]
    out.loc[i, "repaired"] = out.loc[i, "repaired"][:-1]
    res = check.check_filter(out, labels)
    assert not res["ok"]
    assert res["identical"] == len(labels) - 1
    assert res["mismatches"][0]["url"] == labels.loc[i, "url"]


def test_filter_checker_flags_a_flipped_keep():
    labels = _labels("mixed", 300, seed=3)
    out = _perfect_filter_output(labels)
    out["keep"] = ~out["keep"].astype(bool)
    assert not check.check_filter(out, labels)["ok"]


def test_filter_checker_flags_one_flipped_keep():
    labels = _labels("mixed", 300, seed=3)
    out = _perfect_filter_output(labels)
    out.loc[0, "keep"] = not out.loc[0, "keep"]
    res = check.check_filter(out, labels)
    assert not res["ok"] and res["other_keep_flips"] == 1


def test_filter_checker_reports_a_number_merge_without_failing():
    labels = _labels("mixed", 300, seed=3)
    labels.loc[0, "expected_repaired"] = '{"score":["delta",583,908],"big":142574932}'
    out = _perfect_filter_output(labels)
    out.loc[0, "repaired"] = '{"score":["delta",583908],"big":142574932}'
    res = check.check_filter(out, labels)
    assert res["ok"] and res["number_merge_rows"] == 1 and res["other_mismatch_rows"] == 0
    assert res["correct_frac"] == 1 - 1 / len(labels)
    out.loc[0, "repaired"] = '{"score":["delta",583908],"big":14257493}'
    assert not check.check_filter(out, labels)["ok"]


def test_filter_checker_flags_a_dropped_row():
    labels = _labels("mixed", 300, seed=3)
    res = check.check_filter(_perfect_filter_output(labels).iloc[1:], labels)
    assert not res["ok"] and res["missing_rows"] == 1 and res["rows"] == len(labels) - 1


def test_filter_checker_flags_a_duplicated_row():
    labels = _labels("mixed", 300, seed=3)
    out = _perfect_filter_output(labels)
    res = check.check_filter(pd.concat([out, out.iloc[:1]]), labels)
    assert not res["ok"] and res["duplicate_rows"] == 1


def _perfect_corpus_output(labels: pd.DataFrame) -> pd.DataFrame:
    truth = check.corpus_truth(labels).reset_index()
    first = truth.drop_duplicates("group")
    return pd.DataFrame({"url": first["url"], "text": first["expected_text"]})


def test_corpus_checker_accepts_one_survivor_per_group():
    labels = _labels("corpus", 300, seed=5, families=10)
    res = check.check_corpus(_perfect_corpus_output(labels), labels)
    assert res["ok"] and res["keep_f1"] == 1.0 and res["family_recall"] == 1.0


def test_corpus_checker_counts_split_families_and_corrupted_text():
    labels = _labels("corpus", 300, seed=5, families=10)
    out = _perfect_corpus_output(labels)
    second = labels.loc[labels["group"] == "family-0", "url"].iloc[1]
    out = pd.concat([out, pd.DataFrame({"url": [second], "text": ["x"]})])
    res = check.check_corpus(out, labels)
    assert res["families_split"] == 1 and res["family_recall"] == 0.9
    assert res["keep_fp"] == 1 and res["identical"] == len(out) - 1


def test_corpus_checker_flags_a_dropped_group_and_unknown_rows():
    labels = _labels("corpus", 300, seed=5, families=10)
    out = _perfect_corpus_output(labels)
    assert check.check_corpus(out.iloc[1:], labels)["keep_fn"] == 1
    unknown = pd.concat([out, pd.DataFrame({"url": ["https://nowhere.example/"], "text": ["{}"]})])
    assert not check.check_corpus(unknown, labels)["ok"]


def test_scrub_oracle_matches_the_rule_chain():
    s = "mail bob@example.com or 555-12-3456, ip 10.0.0.1, call +1 415 555 0100; badword1"
    assert check.scrub_oracle(s) == "mail [EMAIL] or [SSN], ip [IP], call [PHONE]; [TOX]"


@pytest.mark.parametrize("kind,families", [("mixed", 0), ("malformed", 0), ("corpus", 6)])
def test_generator_is_byte_deterministic(tmp_path, kind, families):
    def files(d):
        meta = inputs.materialize(str(d), "t", kind, 200, 7, families, 4)
        names = sorted(os.listdir(meta["corpus_dir"]))
        blobs = [open(os.path.join(meta["corpus_dir"], n), "rb").read() for n in names]
        return meta["digest"], blobs, open(meta["labels"], "rb").read()

    assert files(tmp_path / "a") == files(tmp_path / "b")
    other = inputs.materialize(str(tmp_path / "c"), "t", kind, 200, 8, families, 4)
    assert other["digest"] != files(tmp_path / "a")[0]


def test_malformed_input_holds_only_malformed_classes():
    rows = inputs.generate("malformed", 500, seed=2)
    assert len(rows) == 500
    assert {r["malformation_class"] for r in rows} <= set(inputs.wp.MALFORMED_CLASSES)


def test_family_members_are_near_duplicates_and_families_are_not():
    def shingles(payload):
        return set(_shingle_list(check.scrub_oracle(inputs.wp._canon(payload))))

    def jaccard(a, b):
        return len(a & b) / len(a | b)

    fams = [[shingles(p) for p in inputs.family_payloads(seed, f)] for seed in (1, 2) for f in range(20)]
    for members in fams:
        assert len(members) == inputs.FAMILY_SIZE
        for a, b in itertools.combinations(members, 2):
            assert 0.8 <= jaccard(a, b) < 1.0
    for fa, fb in itertools.combinations(fams, 2):
        assert jaccard(fa[0], fb[0]) < 0.2
