"""bench.py's round-over-round regression gate compares per-query
medians only against a side file measured at the same scale factor and
run count."""

import bench

PREV = {"sf": "0.1", "runs_per_query": 3,
        "queries": {"slow": 1.0, "steady": 1.0, "gone": 2.0}}
NOW = {"slow": 3.0, "steady": 1.3, "new": 9.0}


def test_gate_flags_regressions_at_the_same_config(capsys):
    assert bench.regression_gate(PREV, NOW, "0.1", 3) == {"slow": [1.0, 3.0]}
    assert "REGRESSION vs prev round: slow" in capsys.readouterr().err


def test_gate_skips_a_side_file_from_another_config(capsys):
    for sf, runs in (("0.01", 3), ("0.1", 5)):
        assert bench.regression_gate(PREV, NOW, sf, runs) == {}
        err = capsys.readouterr().err
        assert "regression gate skipped" in err and "REGRESSION" not in err
