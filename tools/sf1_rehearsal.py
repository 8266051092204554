"""Order-of-magnitude scale rehearsal (VERDICT r4 #5).

Drives the COMPOSED corpus job end-to-end (quality filter -> URL
dedup -> host boilerplate -> global line dedup -> fuzzy dedup ->
decontamination -> token sharding) at TWO corpus sizes a decade
apart — 200k docs (the bench SF) and 2M docs (sf1) — on identical
synthetic web pages, then compares per-stage wall time.  A stage
whose big/small time ratio is far above the 10x input ratio is
super-linear and would be the first thing to break between here and
a 1000-executor run; the cheapest place to catch it is this script.

Also drives jobs/run_dedup.py (at-rest signatures -> candidates ->
verify -> components) at both sizes.

Output: one JSON line per size pair plus a markdown table fragment
(--md) ready for BASELINE.md.  Corpora and checkpoints live under
/tmp and are reused across runs (the generator is deterministic).

Usage:
  PYSPARK_SUBMIT_ARGS="--driver-memory 16g pyspark-shell" \
      python tools/sf1_rehearsal.py [--small 200000] [--big 2000000] [--md]
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import make_spark  # noqa: E402

TMP = "/tmp/jrs_rehearsal"


def ensure_corpus(n_docs: int) -> str:
    """Materialize the deterministic synthetic corpus once per size."""
    path = os.path.join(TMP, f"corpus_{n_docs}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    from json_remedy_spark.sources.webpages import synthesize_corpus

    spark = make_spark(app=f"rehearsal-gen-{n_docs}")
    docs, _ = synthesize_corpus(spark, n_docs, partitions=256)
    docs.write.mode("overwrite").parquet(path)
    # eval slice for the decontamination stage (deterministic ~0.1%)
    docs.where("crc32(url) % 997 = 0").selectExpr(
        "xxhash64(url) AS doc_id", "text"
    ).write.mode("overwrite").parquet(path + "_eval")
    # (doc_id, text) companion for the dedup job (stable numeric ids,
    # the same xxhash64(url) key the corpus job itself uses)
    docs.selectExpr("xxhash64(url) AS doc_id", "text").write.mode(
        "overwrite"
    ).parquet(path + "_docs")
    spark.stop()
    return path


def run_corpus_job(n_docs: int) -> dict:
    corpus = ensure_corpus(n_docs)
    ckpt = os.path.join(TMP, f"ckpt_{n_docs}")
    out = os.path.join(TMP, f"out_{n_docs}")
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    cmd = [
        sys.executable,
        os.path.join(REPO, "jobs", "run_corpus_pipeline.py"),
        "--input", corpus,
        "--output", out,
        "--checkpoint-root", ckpt,
        "--eval-input", corpus + "_eval",
        "--boilerplate-frac", "0.5",
        "--shard-tokens", "2000000",
        "--threshold", "0.8",
    ]
    env = dict(
        os.environ,
        PYSPARK_SUBMIT_ARGS=os.environ.get(
            "PYSPARK_SUBMIT_ARGS", "--driver-memory 16g pyspark-shell"
        ),
    )
    t0 = time.time()
    r = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=7200)
    wall = round(time.time() - t0, 1)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-3000:] + "\n" + r.stderr[-5000:] + "\n")
        raise SystemExit(f"corpus job failed at n={n_docs}")
    timings, counts = {}, ""
    for line in r.stdout.splitlines():
        if line.startswith("stage_timings: "):
            timings = json.loads(line[len("stage_timings: "):])
        if line.startswith("corpus: "):
            counts = line.strip()
    return {"n_docs": n_docs, "wall_sec": wall, "summary": counts, **timings}


def run_dedup_job(n_docs: int) -> dict:
    corpus = ensure_corpus(n_docs)
    sig = os.path.join(TMP, f"sig_{n_docs}")
    out = os.path.join(TMP, f"dedup_out_{n_docs}")
    shutil.rmtree(sig, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    cmd = [
        sys.executable,
        os.path.join(REPO, "jobs", "run_dedup.py"),
        "--input", corpus + "_docs",
        "--sig-dir", sig,
        "--output", out,
        "--threshold", "0.8",
        "--buckets", "64",
    ]
    env = dict(
        os.environ,
        PYSPARK_SUBMIT_ARGS=os.environ.get(
            "PYSPARK_SUBMIT_ARGS", "--driver-memory 16g pyspark-shell"
        ),
    )
    t0 = time.time()
    r = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=7200)
    wall = round(time.time() - t0, 1)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-3000:] + "\n" + r.stderr[-5000:] + "\n")
        raise SystemExit(f"dedup job failed at n={n_docs}")
    tail = [l for l in r.stdout.splitlines() if l.strip()][-1:]
    return {"n_docs": n_docs, "wall_sec": wall, "summary": tail[0] if tail else ""}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", type=int, default=200_000)
    ap.add_argument("--big", type=int, default=2_000_000)
    ap.add_argument("--md", action="store_true", help="print a BASELINE.md fragment")
    args = ap.parse_args()
    os.makedirs(TMP, exist_ok=True)

    result = {"ratio": args.big / args.small, "corpus_job": {}, "dedup_job": {}}
    for n in (args.small, args.big):
        result["corpus_job"][str(n)] = run_corpus_job(n)
        print(json.dumps({"corpus_job": result["corpus_job"][str(n)]}), flush=True)
    for n in (args.small, args.big):
        result["dedup_job"][str(n)] = run_dedup_job(n)
        print(json.dumps({"dedup_job": result["dedup_job"][str(n)]}), flush=True)

    small = result["corpus_job"][str(args.small)].get("sec", {})
    big = result["corpus_job"][str(args.big)].get("sec", {})
    scaling = {
        k: round(big[k] / small[k], 2) for k in big if k in small and small[k] > 0
    }
    result["stage_time_ratio_big_over_small"] = scaling
    result["super_linear_stages"] = [
        k for k, v in scaling.items() if v > result["ratio"] * 1.5
    ]
    print(json.dumps(result), flush=True)

    if args.md:
        lines = [
            f"| stage | sec @{args.small} | sec @{args.big} "
            f"| ratio (input {result['ratio']:g}x) | MB @{args.big} |",
            "|---|---|---|---|---|",
        ]
        bb = result["corpus_job"][str(args.big)].get("bytes", {})
        for k in big:
            mb = round(bb.get(k, 0) / 1e6, 1)
            lines.append(
                f"| {k} | {small.get(k, '—')} | {big[k]} | {scaling.get(k, '—')} | {mb} |"
            )
        print("\n".join(lines))


if __name__ == "__main__":
    main()
