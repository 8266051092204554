"""Kernel microbenchmark — same protocol as the reference
``bench/quick_benchmark.exs:28-48``: ops/s over {small,large} x
{valid,invalid}, 100 timed runs after 10 warmup runs.

Prints one JSON line, directly comparable to
``/root/reference/perf_baseline.json`` (per-doc latency and KB/s).
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from json_remedy_spark.kernel import repair  # noqa: E402

SMALL_VALID = '{"name": "Alice", "age": 30, "active": true}'
SMALL_INVALID = "{name: 'Alice', age: 30, active: True,}"
LARGE_VALID = json.dumps(
    {f"obj{i}": {"name": f"user{i}", "scores": [i, i + 1, i + 2], "ok": i % 2 == 0} for i in range(100)}
)
LARGE_INVALID = ("```json\n" + LARGE_VALID.replace('"obj7"', "obj7").replace(
    '"obj42"', "obj42")[:-1] + ",}\n```")

CASES = {
    "small_valid": SMALL_VALID,
    "small_invalid": SMALL_INVALID,
    "large_valid_100obj": LARGE_VALID,
    "large_invalid_100obj": LARGE_INVALID,
}

RUNS, WARMUP = 100, 10


def main():
    out = {}
    for name, payload in CASES.items():
        for _ in range(WARMUP):
            repair(payload)
        t0 = time.perf_counter()
        for _ in range(RUNS):
            r = repair(payload)
        dt = (time.perf_counter() - t0) / RUNS
        assert r.ok
        out[name] = {
            "bytes": len(payload),
            "us_per_doc": round(dt * 1e6, 1),
            "ops_per_sec": round(1.0 / dt, 1),
            "kb_per_sec": round(len(payload) / 1024 / dt, 1),
        }
    # reference comparison anchors (perf_baseline.json: 100-object doc =
    # 27.3 ms, 202.6 KB/s with phase-2 flags)
    out["reference_large_100obj"] = {"ms_per_doc": 27.3, "kb_per_sec": 202.6}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
