"""Deterministic, fingerprinted benchmark inputs.

Every input is a pure function of ``(workload, seed)`` and of the page
generator in ``json_remedy_spark/sources/webpages.py``.  Inputs are
written once as parquet under the cache directory and reused by later
runs with the same seed; the cache key hashes the generator source, so
an edited generator produces a new input (and a new ``digest``).

Three kinds of input:

* ``mixed`` -- the generator's default traffic mix (about 60% clean,
  35% malformed, 5% drop; 0.5% of docs are 50x longer);
* ``malformed`` -- the same stream keeping only rows whose class is in
  ``MALFORMED_CLASSES``;
* ``corpus`` -- mixed docs plus near-duplicate families: each family is
  4 English pages whose JSON payload carries the same 100-word string
  with a different single word replaced, so any two members differ by
  two words (pairwise shingle Jaccard about 0.88-0.90).

Labels (expected repaired text, expected keep, class, dedup group) are
stored beside the corpus and never shown to the program.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil

from json_remedy_spark.sources import webpages as wp

CORPUS_COLS = ["url", "warc_ts", "html", "text", "lang"]
LABEL_COLS = ["url", "expected_repaired", "expected_keep", "malformation_class", "group"]

FAMILY_SIZE = 4
FAMILY_WORDS = 100
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


def _family_vocab(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct pronounceable three-syllable words."""
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(_SYLLABLES) for _ in range(3)))
    return sorted(out)


def family_payloads(seed: int, family: int) -> list[dict]:
    """The JSON payloads of one near-duplicate family: a base string of
    ``FAMILY_WORDS`` distinct words; member ``m`` replaces the word at
    its own position with a word the base does not contain."""
    rng = random.Random(f"perfbench-family-{seed}-{family}")
    words = _family_vocab(rng, FAMILY_WORDS + FAMILY_SIZE)
    base, spare = words[:FAMILY_WORDS], words[FAMILY_WORDS:]
    rng.shuffle(base)
    positions = rng.sample(range(FAMILY_WORDS), FAMILY_SIZE)
    out = []
    for m, pos in enumerate(positions):
        w = list(base)
        w[pos] = spare[m]
        out.append({"topic": f"family {family}", "note": " ".join(w)})
    return out


def _family_row(seed: int, family: int, member: int, payload: dict) -> dict:
    rng = random.Random(f"perfbench-family-row-{seed}-{family}-{member}")
    prose = wp._PROSE["en"]
    canon = wp._canon(payload)
    text = f"{prose[: rng.randrange(60, len(prose))]}\n{canon}"
    url = f"https://family{family:05d}.example/member-{member}"
    html = f"<html><body><p>{text}</p></body></html>".encode()
    return {
        "url": url,
        "warc_ts": wp._BASE_TS + dt.timedelta(seconds=family * FAMILY_SIZE + member),
        "html": html,
        "text": text,
        "lang": "en",
        "expected_repaired": canon,
        "expected_keep": True,
        "malformation_class": "family",
        "group": f"family-{family}",
    }


def generate(kind: str, n_docs: int, seed: int, families: int = 0) -> list[dict]:
    """Rows (corpus and label columns together) of one input."""
    rows: list[dict] = []
    if kind == "malformed":
        malformed = set(wp.MALFORMED_CLASSES)
        doc_id = 0
        while len(rows) < n_docs:
            r = wp.make_row(doc_id, seed)
            doc_id += 1
            if r["malformation_class"] in malformed:
                rows.append(r)
    elif kind in ("mixed", "corpus"):
        rows = [wp.make_row(i, seed) for i in range(n_docs)]
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    for r in rows:
        r["group"] = None
    for f in range(families):
        for m, payload in enumerate(family_payloads(seed, f)):
            rows.append(_family_row(seed, f, m, payload))
    return rows


def digest(rows: list[dict]) -> str:
    """sha256 over every corpus and label field of every row, in order."""
    h = hashlib.sha256()
    for r in rows:
        rec = [
            r["url"], r["warc_ts"].isoformat(), r["html"].hex(), r["text"], r["lang"],
            r["expected_repaired"], r["expected_keep"], r["malformation_class"], r["group"],
        ]
        h.update(json.dumps(rec, ensure_ascii=False).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def class_mix(rows: list[dict]) -> dict:
    mix: dict[str, int] = {}
    for r in rows:
        mix[r["malformation_class"]] = mix.get(r["malformation_class"], 0) + 1
    return dict(sorted(mix.items()))


def _source_key() -> str:
    h = hashlib.sha256()
    for path in (wp.__file__, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _write(rows: list[dict], out_dir: str, n_files: int) -> None:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = pd.DataFrame(rows)
    df["warc_ts"] = pd.to_datetime(df["warc_ts"]).dt.tz_localize("UTC")
    corpus_dir = os.path.join(out_dir, "corpus")
    os.makedirs(corpus_dir)
    n_files = max(1, min(n_files, len(df)))
    bounds = [len(df) * i // n_files for i in range(n_files + 1)]
    corpus = df[CORPUS_COLS]
    for i in range(n_files):
        pq.write_table(
            pa.Table.from_pandas(corpus.iloc[bounds[i] : bounds[i + 1]], preserve_index=False),
            os.path.join(corpus_dir, f"part-{i:05d}.parquet"),
            coerce_timestamps="us",
        )
    pq.write_table(
        pa.Table.from_pandas(df[LABEL_COLS], preserve_index=False),
        os.path.join(out_dir, "labels.parquet"),
    )


def materialize(cache_dir: str, name: str, kind: str, n_docs: int, seed: int,
                families: int, n_files: int) -> dict:
    """Generate (or reuse) one input; returns its metadata, including
    ``corpus_dir`` (the program's input) and ``labels`` (the checker's)."""
    key = f"{name}-seed{seed}-n{n_docs}-f{families}-p{n_files}-{_source_key()}"
    path = os.path.join(cache_dir, key)
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        rows = generate(kind, n_docs, seed, families)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        _write(rows, tmp, n_files)
        meta = {
            "kind": kind,
            "seed": seed,
            "n_docs": len(rows),
            "families": families,
            "n_files": n_files,
            "class_mix": class_mix(rows),
            "digest": digest(rows),
            "generator_key": _source_key(),
        }
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["corpus_dir"] = os.path.join(path, "corpus")
    meta["labels"] = os.path.join(path, "labels.parquet")
    sizes = [e.stat().st_size for e in os.scandir(meta["corpus_dir"]) if e.is_file()]
    meta["input_bytes"] = sum(sizes)
    meta["max_file_bytes"] = max(sizes)
    return meta


def load_labels(meta: dict):
    import pyarrow.parquet as pq

    return pq.read_table(meta["labels"]).to_pandas()
