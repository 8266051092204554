"""Output checkers: compare what the program wrote with the labels the
generator knows by construction.  Pure pandas, no Spark, so the
self-tests can feed them hand-made outputs.

Both checkers return a dict with ``ok`` (the gate) and the counts
behind it.  A dropped, duplicated or unknown row fails the filter gate;
so does any row whose text or keep label is wrong, unless the text
differs from the expected text only by the kernel's known number-merge
defect.  Known defects are reported as measured -- ``keep_f1 < 1`` or
``correct_frac < 1`` -- without failing the run.
"""

from __future__ import annotations

import re

import pandas as pd

from json_remedy_spark.functions.scrub import SCRUB_RULES, TOXICITY_PATTERN

# The corpus job's keep-F1 floor, set below what it reaches today: keep_f1
# about 0.99, with the known LSH recall defect splitting a quarter of the
# near-duplicate families.
CORPUS_KEEP_F1_FLOOR = 0.90

# The kernel's thousands-number rule merges a valid number array such as
# [583,908] into 583908 (about one doc in 10^5, of the classes
# leading_dot_number and underscore_number).
_NUMBER_MERGE = re.compile(r"(?<=\d),(?=\d{3}(?!\d))")


def number_merge_only(expected: str, got) -> bool:
    """``got`` differs from ``expected`` only by merged number arrays."""
    return (
        isinstance(got, str)
        and got != expected
        and _NUMBER_MERGE.sub("", expected) == _NUMBER_MERGE.sub("", got)
    )


def f1(tp: int, fp: int, fn: int) -> float:
    return 2 * tp / (2 * tp + fp + fn) if tp else 0.0


_SCRUB = [(re.compile(p, re.ASCII), r) for _, p, r in SCRUB_RULES]
_TOX = re.compile(TOXICITY_PATTERN.replace("(?i)", ""), re.ASCII | re.IGNORECASE)


def scrub_oracle(text: str) -> str:
    """The scrub rule chain applied by Python's ``re`` -- an engine
    independent of the JVM regex the program runs."""
    for pat, rep in _SCRUB:
        text = pat.sub(rep, text)
    return _TOX.sub("[TOX]", text)


def _row_set_errors(urls: pd.Series, expected: set) -> dict:
    dup = int(urls.duplicated().sum())
    got = set(urls)
    return {
        "duplicate_rows": dup,
        "missing_rows": len(expected - got),
        "unknown_rows": len(got - expected),
    }


def check_filter(out: pd.DataFrame, labels: pd.DataFrame) -> dict:
    """``out``: the quality filter's (url, keep, repaired) per input row."""
    lab = labels.set_index("url")
    res = {"rows": int(len(out)), "expected_rows": int(len(lab))}
    res.update(_row_set_errors(out["url"], set(lab.index)))
    j = out.drop_duplicates("url").join(lab, on="url", how="inner")
    keep = j["keep"].fillna(False).astype(bool)
    exp = j["expected_keep"].astype(bool)
    tp = int((keep & exp).sum())
    fp = int((keep & ~exp).sum())
    fn = int((~keep & exp).sum())
    # rows missing from the output count as wrong, never as right
    missing = lab.loc[~lab.index.isin(j["url"])]
    fn += int(missing["expected_keep"].astype(bool).sum())
    same = j["repaired"] == j["expected_repaired"]
    known = pd.Series(
        [number_merge_only(e, g) for e, g in zip(j["expected_repaired"], j["repaired"])],
        index=j.index, dtype=bool,
    )
    wrong_keep = keep != exp
    bad = j.loc[~same].head(20)
    res.update(
        keep_tp=tp, keep_fp=fp, keep_fn=fn,
        keep_f1=f1(tp, fp, fn),
        identical=int(same.sum()),
        correct_frac=float(same.sum()) / len(lab),
        number_merge_rows=int(known.sum()),
        other_mismatch_rows=int((~same & ~known).sum()),
        other_keep_flips=int((wrong_keep & ~known).sum()),
        mismatches=[
            {"url": u, "class": c, "number_merge": bool(k)}
            for u, c, k in zip(bad["url"], bad["malformation_class"], known[bad.index])
        ],
    )
    res["ok"] = (
        res["rows"] == res["expected_rows"]
        and not (res["duplicate_rows"] or res["missing_rows"] or res["unknown_rows"])
        and not (res["other_mismatch_rows"] or res["other_keep_flips"])
    )
    return res


def corpus_truth(labels: pd.DataFrame) -> pd.DataFrame:
    """Expected survivors of the corpus job: every page the generator
    labels keep, grouped so that each group must leave exactly one
    survivor -- a near-duplicate family, or pages whose scrubbed
    payload text is byte-identical (line dedup and exact Jaccard 1
    collapse those)."""
    t = labels.loc[labels["expected_keep"].astype(bool), ["url", "expected_repaired", "group"]].copy()
    t["expected_text"] = [scrub_oracle(s) for s in t["expected_repaired"]]
    t["group"] = t["group"].where(t["group"].notna(), "text:" + t["expected_text"])
    return t.set_index("url")


def check_corpus(out: pd.DataFrame, labels: pd.DataFrame, truth: pd.DataFrame | None = None) -> dict:
    """``out``: the corpus job's (url, text) output rows."""
    truth = corpus_truth(labels) if truth is None else truth
    res = {"rows": int(len(out)), "expected_rows": int(truth["group"].nunique())}
    res.update(_row_set_errors(out["url"], set(labels["url"])))
    res.pop("missing_rows")  # dropping near-dups is the job's purpose
    o = out.drop_duplicates("url")
    known = o.join(truth, on="url", how="inner")
    wrongly_kept = int(len(o) - len(known))  # survivors the labels drop
    per_group = known.groupby("group").size()
    extra = int((per_group - 1).sum())  # second and later survivors of a group
    tp = int(len(per_group))
    fn = int(truth["group"].nunique() - tp)
    fp = wrongly_kept + extra
    same = known["text"] == known["expected_text"]
    merged = [number_merge_only(e, g) for e, g in zip(known["expected_text"], known["text"])]
    fam = truth.loc[truth["group"].str.startswith("family-"), "group"].unique()
    fam_survivors = per_group.reindex(fam, fill_value=0)
    res.update(
        keep_tp=tp, keep_fp=fp, keep_fn=fn,
        keep_f1=f1(tp, fp, fn),
        identical=int(same.sum()),
        correct_frac=float(same.sum()) / max(len(o), 1),
        number_merge_rows=int(sum(merged)),
        other_mismatch_rows=int((~same).sum() - sum(merged)),
        families=int(len(fam)),
        families_collapsed=int((fam_survivors == 1).sum()),
        families_split=int((fam_survivors > 1).sum()),
        family_recall=float((fam_survivors == 1).mean()) if len(fam) else 1.0,
        mismatches=[{"url": u} for u in known.loc[~same, "url"].head(20)],
    )
    res["ok"] = (
        not (res["duplicate_rows"] or res["unknown_rows"])
        and len(o) > 0
        and res["keep_f1"] >= CORPUS_KEEP_F1_FLOOR
        and not res["other_mismatch_rows"]
    )
    return res
