"""The traced run: per-layer timings taken from outside the program,
through each layer's public functions.  It is a separate run, so the
timed passes of ``--trace 0`` stay untraced.

* Filter DAG -- prefix DAGs of ``quality_filter`` (scan, +langid,
  +repair/perplexity UDF, +quality, +scrub/keep), each timed with a
  noop sink; a layer's time is the difference between its prefix and
  the previous one.  Their sum is reported next to the workload's
  untraced end-to-end pass, timed in the same rounds;
  ``trace.overhead_frac`` is the sum over that pass, minus 1.
* Kernel -- ``kernel.repair`` and ``kernel.pipeline.repair_with_debug``
  (the per-layer hook) plus ``functions.perplexity.score_texts`` over a
  fixed sample of the workload's input, in this process, without Spark.
* Corpus job -- ``jobs/run_corpus_pipeline.run`` over the seed's corpus
  input (mixed pages plus near-duplicate families); per-stage times
  and sizes from its ``StageCheckpointer``, Spark jobs/stages/tasks
  from the status tracker.
* Corpus layers -- ``line_dedup``, ``minhash_signatures``, the LSH
  candidate pairs, ``jaccard_verify_candidates``,
  ``components_from_pairs`` and ``catalog.write_table``, one at a time
  on the job's materialized stages and with the job's settings.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import session
import workloads

PREFIX_REPS = 2
# untimed passes before the layer rounds; more than the end-to-end run's
# settle, because each layer is a difference of two timings
TRACE_SETTLE = 3
KERNEL_SAMPLE = 2000
KERNEL_REPS = 3
STAGES = ("s1_filtered", "s2_line_dedup", "s5_fuzzy_dedup")


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def prefix_frames(docs) -> list:
    """(layer, frame) for each prefix of the quality-filter DAG, built
    from the same public functions ``quality_filter`` composes.  The
    repair/perplexity UDF comes before quality, so that it carries the
    cost of the Python boundary; quality's word-metric UDF then joins
    the same Arrow node, as it does in ``quality_filter``."""
    from pyspark.sql import functions as F

    from json_remedy_spark.functions import langid, quality, scrub
    from json_remedy_spark.operators.pipeline import keep_expr, quality_filter
    from json_remedy_spark.operators.repair_udf import make_repair_udf
    from json_remedy_spark.plans.explain import arrow_hops

    text = F.col("text")
    repair_cols = ["repaired", "ok", "fast_path", "n_repairs", "layer_hits", "ppl"]

    def with_repair(df):
        return (
            df.withColumn("r", make_repair_udf()(text))
            .select("*", *[F.col(f"r.{c}").alias(c) for c in repair_cols])
            .drop("r")
        )

    p_lang = docs.withColumn("lang_id", langid.detect_language(text))
    p_udf = with_repair(p_lang)
    p_qual = with_repair(
        p_lang.withColumn("q_pass", quality.passes_quality(text, hof=quality.hof_metrics(text)))
    )
    p_keep = p_qual.withColumn("scrubbed", scrub.scrub(F.col("repaired"))).withColumn(
        "keep",
        keep_expr(F.col("ok"), F.col("repaired"), F.col("lang_id"), F.col("ppl"), F.col("q_pass")),
    )
    if p_keep.columns != quality_filter(docs, with_actions=False).columns:
        raise RuntimeError("prefix DAGs no longer match quality_filter's output")
    frames = [
        ("sources.scan_s", docs),
        ("langid.detect_s", p_lang),
        ("repair_udf.hop_s", p_udf),
        ("quality.rules_s", p_qual),
        ("scrub.keep_s", p_keep),
    ]
    hops = [arrow_hops(df) for _, df in frames]
    if hops != [0, 0, 1, 1, 1]:
        raise RuntimeError(f"prefix DAGs have {hops} Arrow hops, expected [0, 0, 1, 1, 1]")
    return frames


def filter_layers(wl, docs) -> dict:
    """Prefix DAGs and the untraced end-to-end pass, interleaved so that
    drift hits all of them alike."""
    frames = prefix_frames(docs)
    times: dict[str, list] = {name: [] for name, _ in frames}
    passes, failed = [], 0
    for _ in range(PREFIX_REPS):
        for name, df in frames:
            times[name].append(_timed(lambda: _noop(df)))
        dt, info = wl.run(docs)
        passes.append(dt)
        failed += not wl.gate(info)
    cum = [statistics.median(times[name]) for name, _ in frames]
    pass_s = statistics.median(passes)
    return {
        "layers_s": {name: cum[i] - (cum[i - 1] if i else 0.0) for i, (name, _) in enumerate(frames)},
        "prefix_cumulative_s": dict(zip(times, cum)),
        "prefix_samples_s": times,
        "samples_per_prefix": PREFIX_REPS,
        "prefix_sum_s": cum[-1],
        "untraced_pass_s": pass_s,
        "untraced_pass_samples_s": passes,
        "prefix_sum_over_pass": cum[-1] / pass_s,
        "failed_passes": failed,
    }


def kernel_layers(meta: dict, labels) -> dict:
    """µs/doc per kernel layer over an evenly spaced sample of the input."""
    import pyarrow.parquet as pq

    from json_remedy_spark.functions.perplexity import score_texts
    from json_remedy_spark.kernel import repair
    from json_remedy_spark.kernel.pipeline import repair_with_debug, to_canonical

    pages = pq.read_table(meta["corpus_dir"], columns=["url", "text"]).to_pandas()
    pages = pages.merge(labels[["url", "expected_repaired"]], on="url")
    step = max(1, len(pages) // KERNEL_SAMPLE)
    sample = pages.iloc[::step].head(KERNEL_SAMPLE)
    texts = sample["text"].tolist()
    n = len(texts)

    def plain():
        for s in texts:
            repair(s)

    repair_s = statistics.median(_timed(plain) for _ in range(KERNEL_REPS))
    ppl_s = statistics.median(_timed(lambda: score_texts(texts)) for _ in range(KERNEL_REPS))
    per_layer = {"layer1": 0, "preprocessing": 0, "layer2": 0, "layer3": 0}
    fast = fails = 0
    values = []
    for s, expected in zip(texts, sample["expected_repaired"]):
        r, dbg = repair_with_debug(s)
        fast += r.fast_path
        fails += (not r.ok) or r.repaired != expected
        for step_rec in dbg["steps"]:
            if step_rec["layer"] in per_layer:
                per_layer[step_rec["layer"]] += step_rec.get("processing_time_us", 0)
        if r.ok:
            values.append(r.value)
    canonical_s = statistics.median(
        _timed(lambda: [to_canonical(v) for v in values]) for _ in range(KERNEL_REPS)
    )
    return {
        "sample_docs": n,
        "kernel.repair_us": repair_s / n * 1e6,
        "kernel.fast_path_share": fast / n,
        "kernel.layer1_us": per_layer["layer1"] / n,
        "kernel.prepass_us": per_layer["preprocessing"] / n,
        "kernel.parse_us": (per_layer["layer2"] + per_layer["layer3"]) / n,
        "kernel.canonical_us": canonical_s / n * 1e6,
        "kernel.fail_frac": fails / n,
        "perplexity.score_us": ppl_s / n * 1e6,
    }


def corpus_layers(spark, seed: int) -> dict:
    """Drive the corpus job once under a job group, then time its layers
    one at a time on that pass's materialized stages."""
    import inputs

    from json_remedy_spark.functions.corpus import line_dedup
    from json_remedy_spark.functions.dedup import (
        banded_signatures,
        candidate_pairs_from_banded,
        components_from_pairs,
        jaccard_verify_candidates,
        minhash_from_shingles,
        minhash_signatures,
        shingles,
    )
    from json_remedy_spark.sources.catalog import write_table

    meta = workloads.materialize("corpus_dedup", workloads.CORPUS_INPUT, seed)
    labels = inputs.load_labels(meta)
    job = workloads.CorpusPass(meta, labels)
    # one pass only, in the JVM the filter passes warmed: a second pass
    # would add ~12 s to a traced run that already takes 90-130 s
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-corpus", "traced corpus pass")
    traced, _, info = job.run(spark, 0)
    counts = session.job_counts(sc, "perfbench-corpus")
    sc.setLocalProperty("spark.jobGroup.id", None)
    ck = os.path.join(job.pass_dir(0), "ck")
    out = {
        "corpus_job": {
            "input": {k: meta[k] for k in ("digest", "n_docs", "families", "class_mix")},
            "traced_pass_s": traced,
            "summary": info,
            "checks": job.checks,
            "stage_timings": job.stages,
        },
        "corpus_job.pass_s": traced,
        "spark.jobs": counts["jobs"],
        "spark.stages": counts["stages"],
        "spark.tasks": counts["tasks"],
    }
    for st in STAGES:
        out[f"checkpoint.stage_s.{st}"] = job.stages["sec"][st]
        out[f"checkpoint.stage_mb.{st}"] = job.stages["bytes"][st] / 1e6

    s1 = spark.read.parquet(os.path.join(ck, "s1_filtered"))
    out["corpus.line_dedup_s"] = _timed(lambda: _noop(line_dedup(s1)))
    docs = spark.read.parquet(os.path.join(ck, "s2_line_dedup"))
    out["dedup.minhash_s"] = _timed(lambda: _noop(minhash_signatures(docs)))
    # lsh_verified_pairs' steps, with verify timed on its materialized inputs
    a = job.args
    sh_all = shingles(docs).persist()
    sh_all.count()
    cand = candidate_pairs_from_banded(
        banded_signatures(minhash_from_shingles(sh_all)),
        hub_cap=a.fuzzy_max_bucket or None, n_hubs=a.fuzzy_hubs,
    ).persist()
    n_cand = cand.count()
    t0 = time.perf_counter()
    pairs = jaccard_verify_candidates(sh_all, cand, a.threshold).localCheckpoint()
    out["dedup.verify_s"] = time.perf_counter() - t0
    n_ver = pairs.count()
    stats: dict = {}
    t0 = time.perf_counter()
    comp = components_from_pairs(docs.select("doc_id"), pairs, stats_out=stats)
    reps = comp.join(docs.select("doc_id", "url"), "doc_id").select("url", "rep_id").toPandas()
    out["dedup.components_s"] = time.perf_counter() - t0
    sh_all.unpersist()
    cand.unpersist()
    fam = reps.merge(labels[["url", "group"]], on="url")
    fam = fam[fam["group"].notna()].groupby("group")["rep_id"].nunique()
    out.update({
        "dedup.candidate_pairs": n_cand,
        "dedup.verified_pairs": n_ver,
        "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
        "dedup.driver_route": 1 if stats.get("driver_union_find") else 0,
        "dedup.family_recall": float((fam == 1).mean()) if len(fam) else 1.0,
    })
    s5 = spark.read.parquet(os.path.join(ck, "s5_fuzzy_dedup")).drop("doc_id")
    dest = os.path.join(session.TMP, "catalog-write")
    out["catalog.write_s"] = _timed(lambda: write_table(s5, dest, mode="overwrite"))
    shutil.rmtree(dest, ignore_errors=True)
    shutil.rmtree(os.path.join(session.TMP, "corpus"), ignore_errors=True)
    return out


def _unit(name: str) -> str:
    if name.startswith("spark.") or name.endswith(("_pairs", "_route")):
        return "count"
    if name.startswith("checkpoint.stage_mb."):
        return "MB"
    if name.startswith("checkpoint.stage_s.") or name.endswith("_s"):
        return "s"
    if name.endswith("_us"):
        return "us"
    return "ratio"


def trace(args, wl) -> dict:
    spark, docs, setup_s, ok = wl.setup()
    attempted, failed = 1, int(not ok)
    for _ in range(TRACE_SETTLE):
        _, info = wl.run(docs)
        attempted += 1
        failed += not wl.gate(info)
    flt = filter_layers(wl, docs)
    attempted += PREFIX_REPS
    failed += flt["failed_passes"]
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-filter", "filter pass")
    counted, info = wl.run(docs)
    filter_counts = session.job_counts(sc, "perfbench-filter")
    sc.setLocalProperty("spark.jobGroup.id", None)
    attempted += 1
    failed += not wl.gate(info)

    kern = kernel_layers(wl.meta, wl.labels)
    corp = corpus_layers(spark, args.seed)
    failed += sum(not c["ok"] for c in corp["corpus_job"]["checks"])
    attempted += len(corp["corpus_job"]["checks"])
    killed = session.stop(spark)

    values = {
        **flt["layers_s"],
        **{k: v for k, v in kern.items() if "." in k},
        **{k: v for k, v in corp.items() if "." in k},
        "trace.overhead_frac": flt["prefix_sum_over_pass"] - 1.0,
    }
    return {
        "attempted": attempted,
        "failed": failed,
        "killed_pids": killed,
        "setup_s": setup_s,
        "checks": wl.checks,
        "filter_layers": flt,
        "filter_counted_pass": {"seconds": counted, "spark_counts": filter_counts},
        "kernel": kern,
        "corpus_job": corp["corpus_job"],
        "metrics": {k: (v, _unit(k)) for k, v in sorted(values.items())},
    }
