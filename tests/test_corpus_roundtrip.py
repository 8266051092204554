"""Corpus round-trip: the kernel must recover the constructed ground
truth byte-identically (BASELINE.md invariant), with zero knowledge of
which malformation class produced each row."""

from collections import Counter

from json_remedy_spark.kernel import repair
from json_remedy_spark.sources.webpages import make_row

N = 200_000  # every row of the sf0.1 corpus


def test_byte_identical_repair():
    mismatches = Counter()
    examples = {}
    total = 0
    for i in range(N):
        row = make_row(i)
        total += 1
        r = repair(row["text"])
        got = r.repaired if r.ok else None
        if got != row["expected_repaired"]:
            cls = row["malformation_class"]
            mismatches[cls] += 1
            if cls not in examples:
                examples[cls] = (row["text"][:300], row["expected_repaired"][:200], str(got)[:200])
    msg = "\n".join(
        f"{cls}: {cnt}\n  in:  {examples[cls][0]!r}\n  exp: {examples[cls][1]!r}\n  got: {examples[cls][2]!r}"
        for cls, cnt in mismatches.most_common()
    )
    assert not mismatches, f"{sum(mismatches.values())}/{total} mismatches\n{msg}"


def test_html_binary_decodes():
    for i in range(300):
        row = make_row(i)
        assert isinstance(row["html"], bytes)
        from json_remedy_spark.kernel.cleaning import normalize_encoding

        log = []
        s = normalize_encoding(row["html"], log)
        assert isinstance(s, str) and "<html>" in s


def test_determinism():
    a = [make_row(i) for i in range(200)]
    b = [make_row(i) for i in range(200)]
    assert a == b
