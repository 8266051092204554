"""End-to-end benchmark of the json_remedy_spark quality filter.

Run from the repository root:

    python3 perfbench/run.py --workload filter_mixed --seed 1 --seconds 10 --trace 0

Workloads (inputs are generated from ``--seed``; see inputs.py):

* ``filter_mixed``     -- ``operators.pipeline.quality_filter`` over the
  generator's default traffic mix;
* ``filter_malformed`` -- the same pipeline over malformed payloads only,
  so the repair kernel's slow path dominates.

``--trace 0`` sets up ``SETUPS`` times -- each a fresh JVM, session
start, input registration and one warm-up pass; ``setup_s`` is the
median -- and then, in the last session, times passes until
``--seconds`` of pass time and at least ``MIN_PASSES`` passes.  Every
warm-up is a checked pass: its output is collected and compared with
the generator's labels.  Every timed pass must reproduce the checked
output's row count and digest, or it counts as failed.  The last
stdout line is the result;
the line before it, and ``.perfbench/out/``, hold the details: every
set-up and pass time, the input fingerprint and the checker's counts.

``--trace 1`` is a separate run that times each layer from outside,
through its public functions (layers.py), and prints the per-layer
metrics instead.  Its full report goes to
``.perfbench/out/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import session

SETUPS = 2
MIN_PASSES = 4
WALL_LIMIT_S = 150.0  # stop adding timed passes after this much run time


def measure(args, wl, t_start: float) -> dict:
    """``SETUPS`` cold set-ups, each in a fresh JVM; then, in the last
    session, ``SETTLE`` untimed passes and the timed passes."""
    import procs
    import workloads

    setups, spark, failed = [], None, 0
    for _ in range(SETUPS):
        if spark is not None:
            session.stop(spark)
        spark, docs, dt, ok = wl.setup()
        setups.append(dt)
        failed += not ok
    attempted = SETUPS

    def gated_pass():
        nonlocal attempted, failed
        attempted += 1
        try:
            dt, info = wl.run(docs)
            ok = wl.gate(info)
        except Exception as e:  # noqa: BLE001 -- a raising pass is a failed operation
            print(f"pass raised: {e!r}", file=sys.stderr)
            dt, ok, info = None, False, {"error": repr(e)[:500]}
        failed += not ok
        return dt, ok, info

    for _ in range(workloads.SETTLE):
        gated_pass()
    passes, infos = [], []
    with procs.PeakRss() as rss:
        while (sum(passes) < args.seconds or len(passes) < MIN_PASSES) and (
            time.perf_counter() - t_start < WALL_LIMIT_S
        ):
            dt, ok, info = gated_pass()
            infos.append({"seconds": dt, "ok": ok, **info})
            if ok:
                passes.append(dt)
    killed = session.stop(spark)
    if not passes:
        raise RuntimeError("no timed pass succeeded")
    q = wl.quality()
    return {
        "attempted": attempted,
        "failed": failed,
        "setup_times_s": setups,
        "pass_times_s": passes,
        "passes": infos,
        "peak_rss_samples": rss.samples,
        "killed_pids": killed,
        "checks": wl.checks,
        "metrics": {
            "setup_s": (statistics.median(setups), "s"),
            "docs_per_s": (wl.n / statistics.median(passes), "docs/s"),
            "keep_f1": (q["keep_f1"], "ratio"),
            "correct_frac": (q["correct_frac"], "ratio"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
        },
    }


def main(argv=None) -> int:
    t_start = time.perf_counter()
    if not session.checkout_present():
        print(f"perfbench: no json_remedy_spark checkout at {session.ROOT}", file=sys.stderr)
        return 2
    session.prepare_env()

    import inputs
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    meta = workloads.materialize(args.workload, workloads.WORKLOADS[args.workload], args.seed)
    wl = workloads.FilterPass(meta, inputs.load_labels(meta))
    t_prep = time.perf_counter() - t_start
    if args.trace:
        import layers

        res = layers.trace(args, wl)
    else:
        res = measure(args, wl, t_start)

    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "input": {k: v for k, v in meta.items() if k not in ("corpus_dir", "labels")},
        "input_prep_s": t_prep,
        "wall_s": time.perf_counter() - t_start,
        **{k: v for k, v in res.items() if k != "metrics"},
        "metrics": res["metrics"],
    }
    out_dir = os.path.join(session.WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{'trace' if args.trace else 'run'}-{args.workload}-seed{args.seed}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(details, f, indent=1, default=str)
    print(json.dumps(details, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
