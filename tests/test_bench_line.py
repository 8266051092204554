"""bench.py's last stdout line, built from a synthetic result (no Spark)."""

import json

import __spark_entry__ as entry
import bench

# perfbench's prefix-DAG and kernel-layer names, as bench.py reports them
PREFIXES = ("sources.scan_s", "langid.detect_s", "repair_udf.hop_s", "quality.rules_s", "scrub.keep_s")
KERNEL = (
    "kernel.repair_us", "kernel.fast_path_share", "kernel.layer1_us", "kernel.prepass_us",
    "kernel.parse_us", "kernel.canonical_us", "kernel.fail_frac", "perplexity.score_us",
)


def _result():
    names = list(entry.queries())
    # six significant digits per timing: wider than any real one
    timings = {n: round(100 + i * 1.234567, 3) for i, n in enumerate(names)}
    return {
        "metric": "quality_filter docs/sec + operator suite",
        "value": 123.456,
        "unit": "sec",
        "sf": bench.SF_DIR,
        "n_docs": 200000,
        "kept": 126174,
        "docs_per_sec": 89759.6,
        "queries": {"pipeline": 123.456, **timings},
        "layers": bench.layers_block(
            {p: 111.111 + i for i, p in enumerate(PREFIXES)},
            123.456,
            {"sample_docs": 2000, **{k: 1234.56789 for k in KERNEL}},
        ),
        "scaling": {
            "docs_per_sec_4": 23658.9,
            "docs_per_sec_16": 95066.7,
            "efficiency_4_to_16": 1.005,
            "n_docs_scaling": [800000, 3200000],
            "cpu_pinned": True,
            "host_effective_cores": 36.3,
            "host_mp_ceiling_4_to_16": 0.96,
            "efficiency_vs_host_ceiling": 1.0,
            "scaling_bar_met": True,
            "host_contended": False,
            "passes": [{"efficiency": 1.005, "kernel_ceiling": 0.96, "sane": True}],
        },
    }


def test_last_line_fits_and_keeps_its_keys():
    text = bench.last_line(_result())
    assert len(text) <= 1800, len(text)
    line = json.loads(text)
    assert {
        "metric", "value", "unit", "sf", "n_docs", "kept", "docs_per_sec",
        "n_queries", "queries", "scaling", "families", "slowest", "layers",
    } <= set(line)
    assert line["queries"] == {"pipeline": 123.456}
    assert len(line["slowest"]) == bench.N_SLOWEST
    assert list(line["layers"]["prefix_cum_s"]) == list(PREFIXES)
    assert set(line["layers"]["kernel"]) == set(KERNEL)


def test_every_query_falls_in_exactly_one_family():
    families = [fam for fam, _ in bench.FAMILIES]
    for name in entry.queries():
        assert bench.family_of(name) in families, name


def test_family_sums_add_up_to_the_query_total():
    result = _result()
    line = json.loads(bench.last_line(result))
    total = sum(v for k, v in result["queries"].items() if k != "pipeline")
    assert abs(sum(line["families"].values()) - total) < 1e-6 * len(result["queries"])
