"""Unit tests of the benchmark's own logic (no Spark session needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = os.path.dirname(HERE)
sys.path.insert(0, PKG)

import hoststat  # noqa: E402
import sample  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


# ------------------------------------------------------------ percentile rule
@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75),
     (100, 90), (199, 90), (200, 95), (999, 95), (1000, 99)],
)
def test_supported_percentile_keeps_ten_samples_beyond(n, expected):
    assert sample.supported_percentile(n) == expected


def test_supported_percentile_always_has_ten_beyond():
    for n in range(1, 2000):
        p = sample.supported_percentile(n)
        if p is not None:
            assert n * (100 - p) / 100.0 >= sample.MIN_BEYOND
            higher = [q for q in sample.PERCENTILES if q > p]
            assert all(n * (100 - q) / 100.0 < sample.MIN_BEYOND for q in higher)


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert sample.percentile(xs, 50) == 3.0
    assert sample.percentile(xs, 0) == 1.0
    assert sample.percentile(xs, 100) == 5.0
    assert sample.percentile(xs, 90) == pytest.approx(4.6)


# ------------------------------------------------------------ metric names
def test_benchmark_json_names_and_units_are_valid():
    with open(os.path.join(os.path.dirname(PKG), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_metric_catalogue_matches_benchmark_json():
    import metrics

    with open(os.path.join(os.path.dirname(PKG), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == list(metrics.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(metrics.PER_LAYER)
    for m in bench["end_to_end"]:
        assert metrics.END_TO_END[m["name"]] == m["unit"]
    for m in bench["per_layer"]:
        assert metrics.PER_LAYER[m["name"]] == m["unit"]


# ------------------------------------------------------------ steal parse
def test_steal_parse_ignores_guest_fields():
    # user nice system idle iowait irq softirq steal guest guest_nice
    line = "cpu  100 10 50 800 5 1 4 30 70 7"
    steal, total = hoststat.parse_cpu_line(line)
    assert steal == 30
    assert total == 100 + 10 + 50 + 800 + 5 + 1 + 4 + 30


def test_steal_parse_short_line_and_delta():
    assert hoststat.parse_cpu_line("cpu 1 2 3 4") == (0, 10)
    a = hoststat.parse_cpu_line("cpu 100 0 0 800 0 0 0 100 500 0")
    b = hoststat.parse_cpu_line("cpu 150 0 0 1700 0 0 0 150 900 0")
    assert hoststat.steal_pct(a, b) == pytest.approx(100.0 * 50 / 1000)


def test_steal_parse_rejects_per_cpu_lines():
    with pytest.raises(ValueError):
        hoststat.parse_cpu_line("cpu0 1 2 3 4 5 6 7 8")


def test_read_steal_on_this_kernel():
    steal, total = hoststat.read_steal()
    assert 0 <= steal <= total


def test_cpu_seconds_counts_the_process_tree():
    import subprocess

    alone = hoststat.cpu_seconds(None)
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt = time.process_time()\n"
                              "while time.process_time() - t < 0.3: pass\n"
                              "time.sleep(30)"])
    try:
        time.sleep(1.0)
        # this process counted twice, plus the busy child
        both = hoststat.cpu_seconds(os.getpid())
        assert both - 2 * alone >= 0.25
    finally:
        child.kill()
        child.wait()


# ------------------------------------------------------------ gated metric
def test_runner_cycle_records_wall_cpu_and_op_count():
    import workloads

    clock = iter([10.0, 13.5])
    runner = workloads.Runner(None, cpu=lambda: next(clock))
    rec = runner.cycle(lambda: runner.ops.extend([{"s": 0.1}] * 7))
    assert rec["cpu_s"] == pytest.approx(3.5)
    assert rec["ops"] == 7
    assert rec["s"] >= 0


def test_op_cpu_s_is_the_median_cycle_cpu_per_op():
    import run

    cycles = [{"cpu_s": 12.0, "ops": 12}, {"cpu_s": 36.0, "ops": 12},
              {"cpu_s": 24.0, "ops": 12}, {"cpu_s": 5.0, "ops": 0}]
    assert run.op_cpu_s(cycles) == pytest.approx(2.0)
    assert run.op_cpu_s([]) == 0.0
    assert set(run.end_to_end(cycles, 30.0)) == set(run.metrics.END_TO_END)


# ------------------------------------------------------------ seeded sample
def _toy_registry():
    mods = {f"m{i}": 3 + (i % 4) for i in range(8)}
    names, module_of, ref = [], {}, {}
    k = 0
    for m, n in mods.items():
        for j in range(n):
            q = f"{m}_q{j}"
            names.append(q)
            module_of[q] = m
            ref[q] = 0.1 + ((k * 37) % 101) / 10.0
            k += 1
    return names, module_of, ref


def test_sample_is_a_function_of_the_seed():
    names, module_of, ref = _toy_registry()
    a = sample.stratified_sample(names, module_of, ref, 10, seed=7)
    b = sample.stratified_sample(names, module_of, ref, 10, seed=7)
    c = sample.stratified_sample(names, module_of, ref, 10, seed=8)
    assert a == b
    assert a != c


def test_sample_has_one_query_per_band_and_every_module():
    names, module_of, ref = _toy_registry()
    cut = sample.bands(names, ref, 10)
    for seed in range(50):
        picks = sample.stratified_sample(names, module_of, ref, 10, seed)
        assert len(picks) == len(set(picks)) == 10
        assert sorted(sum(q in band for q in picks) for band in cut) == [1] * 10
        assert {module_of[q] for q in picks} == set(module_of.values())


def test_fewer_bands_than_modules_rotates_modules_over_seeds():
    names, module_of, ref = _toy_registry()
    seen = set()
    for seed in range(30):
        picks = sample.stratified_sample(names, module_of, ref, 5, seed)
        mods = [module_of[q] for q in picks]
        assert len(picks) == 5 and len(set(mods)) == 5
        seen |= set(mods)
    assert seen == set(module_of.values())


def test_bands_are_contiguous_and_balanced():
    names, _, ref = _toy_registry()
    cut = sample.bands(names, ref, 7)
    sizes = [len(b) for b in cut]
    assert max(sizes) - min(sizes) <= 1
    flat = [q for b in cut for q in b]
    assert flat == sorted(names, key=lambda q: (ref[q], q))


# ------------------------------------------------------------ oracle compare
def test_oracle_compare_ignores_row_and_column_order():
    import pandas as pd

    import oracle

    a = pd.DataFrame({"k": [2, 1, 3], "v": [0.5, 1.5, None], "s": ["b", "a", None]})
    e = pd.DataFrame({"s": ["a", None, "b"], "v": [1.5, float("nan"), 0.5], "k": [1, 3, 2]})
    assert oracle.mismatch(a, e) is None


def test_oracle_compare_catches_values_rows_columns_and_signed_zero():
    import pandas as pd

    import oracle

    a = pd.DataFrame({"k": [1, 2], "v": [0.0, 1.0]})
    assert "values differ" in oracle.mismatch(a, pd.DataFrame({"k": [1, 2], "v": [0.0, 1.5]}))
    assert "values differ" in oracle.mismatch(a, pd.DataFrame({"k": [1, 2], "v": [-0.0, 1.0]}))
    assert "rows" in oracle.mismatch(a, pd.DataFrame({"k": [1], "v": [0.0]}))
    assert "columns" in oracle.mismatch(a, pd.DataFrame({"k": [1, 2], "w": [0.0, 1.0]}))


def test_oracle_compare_falls_back_for_unsortable_cells():
    import pandas as pd

    import oracle

    a = pd.DataFrame({"k": [1, 2], "arr": [[1, 2], [3]]})
    e = pd.DataFrame({"k": [2, 1], "arr": [[3], [1, 2]]})
    assert oracle.mismatch(a, e) is None
    e2 = pd.DataFrame({"k": [2, 1], "arr": [[4], [1, 2]]})
    assert oracle.mismatch(a, e2) is not None


def test_recorded_sample_is_fixed_and_the_seed_only_orders_it():
    """The queries analytics_warm runs must not drift between commits: pin
    the sample drawn from the recorded calibration, and check that a run's
    seed only permutes it."""
    import workloads

    with open(os.path.join(PKG, "calibration.json")) as fh:
        cal = json.load(fh)
    drawn = workloads.analytics_sample(cal, workloads.ANALYTICS_SAMPLE_SEED)
    assert drawn == [
        "embedding_int8_quant", "bucketed_join_revenue", "suppressed_release_counts",
        "q7_volume_shipping", "grouping_sets_matrix", "revenue_by_nation",
        "unigram_logprob_score", "bloom_filter_fpr_audit", "markov_entropy_rate",
        "kendall_trend_per_device", "welch_ttest_value",
    ]
    assert len({cal["modules"][q] for q in drawn}) == len(drawn)
    orders = set()
    for seed in range(5):
        run = workloads.analytics_run_order(cal, seed)
        assert sorted(run) == sorted(drawn)
        assert run == workloads.analytics_run_order(cal, seed)
        orders.add(tuple(run))
    assert len(orders) > 1


def test_middle_third_picks_keep_the_latency_profile():
    names, module_of, ref = _toy_registry()
    cut = sample.bands(names, ref, 4)
    for seed in range(20):
        for q in sample.stratified_sample(names, module_of, ref, 4, seed):
            band = next(b for b in cut if q in b)
            core = sample._core(band)
            if any(module_of[c] == module_of[q] for c in core):
                assert q in core
