"""The operations the benchmark times, one class per program entry
point.  Each class knows how to register its input, run one pass, and
check what the pass produced against the generator's labels."""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import re
import shutil
import time

import check
import inputs
import session

# kind and generated docs per workload: sized so that a run (two cold
# set-ups of about 15-20 s each, then the settle and timed passes of
# about 3 s each) takes about a minute on an idle 4-CPU host
WORKLOADS = {
    "filter_mixed": {"kind": "mixed", "n_docs": 10000},
    "filter_malformed": {"kind": "malformed", "n_docs": 6000},
}
# the corpus job's input, which the traced run drives as well
CORPUS_INPUT = {"kind": "corpus", "n_docs": 2000, "families": 125}
# untimed passes between the last set-up and timing: passes keep
# getting faster for about five passes after the warm-up (by a quarter
# to a third in all), and a median taken on that slope moves with it
SETTLE = 3


def materialize(name: str, spec: dict, seed: int) -> dict:
    """Generate or reuse one input, written as 4 x nproc parquet files."""
    return inputs.materialize(
        os.path.join(session.WORK, "inputs"), name, spec["kind"], spec["n_docs"], seed,
        spec.get("families", 0), 4 * session.nproc(),
    )


class FilterPass:
    """``operators.pipeline.quality_filter`` over the pages table.

    A checked pass collects (url, keep, repaired, row digest) and runs
    the checker; a timed pass aggregates the row count and the XOR of
    the same row digests -- the digest reads every output column, and
    must reproduce the checked output exactly."""

    def __init__(self, meta: dict, labels):
        self.meta = meta
        self.labels = labels
        self.n = meta["n_docs"]
        self.digest = None
        self.checks: list[dict] = []

    def register(self, spark):
        spark.read.parquet(self.meta["corpus_dir"]).createOrReplaceTempView("pages")
        return spark.table("pages")

    @staticmethod
    def output(docs):
        """The pipeline's output and a per-row hash over every column
        (map columns, which Spark cannot hash, through ``to_json``)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import MapType

        from json_remedy_spark.operators.pipeline import quality_filter

        out = quality_filter(docs, with_actions=False)
        cols = [
            F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
            for f in out.schema.fields
        ]
        return out, F.xxhash64(*cols)

    def collect(self, docs):
        """The checked pass: the output's (url, keep, repaired, row hash)."""
        out, row_hash = self.output(docs)
        return out.select("url", "keep", "repaired", row_hash.alias("h")).toPandas()

    def check(self, pdf) -> bool:
        """Run the checker on a collected output.  The first checked
        pass fixes the digest every other pass must reproduce."""
        import numpy as np

        res = check.check_filter(pdf, self.labels)
        res["digest"] = int(np.bitwise_xor.reduce(pdf["h"].to_numpy(dtype=np.int64)))
        if self.digest is None:
            self.digest = res["digest"]
        res["ok"] = res["ok"] and res["digest"] == self.digest
        self.checks.append(res)
        return res["ok"]

    def run(self, docs):
        """One pass: (seconds, details for ``gate``)."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        out, row_hash = self.output(docs)
        r = out.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(row_hash).alias("h")).collect()[0]
        return time.perf_counter() - t0, {"rows": r["n"], "digest": r["h"]}

    def gate(self, info: dict) -> bool:
        """A pass is correct if it emits every input row and reproduces
        the checked output's digest."""
        return info["rows"] == self.n and info["digest"] == self.digest

    def setup(self):
        """Session start (a fresh JVM), input registration and one
        warm-up pass, timed together.  The warm-up is a checked pass;
        the checker runs after the timing ends.  Returns (spark, docs,
        set-up seconds, warm-up passed its gate)."""
        t0 = time.perf_counter()
        spark = session.start(self.meta["max_file_bytes"])
        docs = self.register(spark)
        pdf = self.collect(docs)
        dt = time.perf_counter() - t0
        n_splits = docs.rdd.getNumPartitions()
        if n_splits < self.meta["n_files"]:
            raise RuntimeError(f"input has {n_splits} splits, expected {self.meta['n_files']}")
        return spark, docs, dt, self.check(pdf)

    def quality(self) -> dict:
        return {k: min(c[k] for c in self.checks) for k in ("keep_f1", "correct_frac")}


def load_job():
    spec = importlib.util.spec_from_file_location("run_corpus_pipeline", session.JOB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_SUMMARY = re.compile(r"corpus: (\d+) in -> (\d+) out")


class CorpusPass:
    """``jobs/run_corpus_pipeline.run`` with its default stages, writing a
    fresh checkpoint root and output directory on every pass; each pass's
    output is read back and checked after its timing ends."""

    def __init__(self, meta: dict, labels):
        self.meta = meta
        self.labels = labels
        self.truth = check.corpus_truth(labels)
        self.n = meta["n_docs"]
        self.job = load_job()
        self.checks: list[dict] = []
        self.stages: dict = {}
        self.args = None

    def pass_dir(self, i: int) -> str:
        return os.path.join(session.TMP, "corpus", f"pass-{i}")

    def run(self, spark, i: int):
        """One pass: (seconds, gate passed, job summary)."""
        import pyarrow.parquet as pq

        d = self.pass_dir(i)
        shutil.rmtree(d, ignore_errors=True)
        args = self.args = self.job.build_parser().parse_args(
            ["--input", self.meta["corpus_dir"], "--output", os.path.join(d, "out"),
             "--checkpoint-root", os.path.join(d, "ck")]
        )
        buf = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            summary = self.job.run(spark, args)
        dt = time.perf_counter() - t0
        m = _SUMMARY.search(summary)
        info = {"n_in": int(m.group(1)), "n_out": int(m.group(2))}
        for line in buf.getvalue().splitlines():
            if line.startswith("stage_timings: "):
                self.stages = json.loads(line[len("stage_timings: "):])
        out = pq.read_table(os.path.join(d, "out"), columns=["url", "text"]).to_pandas()
        res = check.check_corpus(out, self.labels, self.truth)
        res["ok"] = res["ok"] and info["n_in"] == self.n and info["n_out"] == len(out)
        self.checks.append(res)
        return dt, res["ok"], info
