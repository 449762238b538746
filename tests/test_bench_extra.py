"""``bench_extra.py --mixplane-fixed-cost`` renders its ledger record and
markdown from the measured medians after every Spark run; a rendering
fault there loses all of them. This renders a synthetic two-size result
without Spark."""

import importlib.util
from pathlib import Path

import pytest

BENCH_EXTRA = Path(__file__).resolve().parents[1] / "bench_extra.py"


@pytest.fixture(scope="module")
def bench_extra():
    spec = importlib.util.spec_from_file_location("bench_extra", BENCH_EXTRA)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_mixplane_fixed_cost_renders_from_two_sizes(bench_extra):
    # t(c) = F + W/c with F = 4 s: W = 48 at 8x, W = 192 at 32x
    results = {
        8: {"n_docs": 40000, "total_tok": 2.5e6, "sec": {2: 28.0, 8: 10.0}},
        32: {"n_docs": 160000, "total_tok": 1.0e7,
             "sec": {2: 100.0, 8: 28.0}},
    }
    out, lines = bench_extra.render_mixplane_fixed_cost(
        results, (8, 32), (2, 8), "sf", 2)
    assert out["sf_dir"] == "sf" and out["repeats"] == 2
    assert out["sizes"]["8"] == {
        "n_docs": 40000, "sec_2c": 28.0, "sec_8c": 10.0, "fixed_s": 4.0,
        "work_s": 48.0, "eff": 0.7}
    assert out["sizes"]["32"]["fixed_s"] == 4.0
    assert out["sizes"]["32"]["work_s"] == 192.0
    assert out["sizes"]["32"]["eff"] == round((100 / 28) / 4, 3)
    md = "\n".join(lines)
    assert "## scale=8 (40000 docs, 2.5 M tokens)" in md
    assert "## scale=32 (160000 docs, 10.0 M tokens)" in md
    assert "(4.0 s, 4.0 s)" in md and "(48.0 s, 192.0 s)" in md
    assert "rises to 0.893 at 32x." in md
