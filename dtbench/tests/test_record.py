"""The record the benchmark prints matches what BENCHMARK.json declares."""

import json
import os
import re

import pytest

from dtbench import report, run

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_top_level_keys():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert BENCH["paths"] == ["dtbench"]
    assert BENCH["command"] == ["python3", "dtbench/run.py"]
    assert 1 <= BENCH["run_seconds"] <= 60


def test_workloads_are_the_ones_the_runner_knows():
    names = [w["name"] for w in BENCH["workloads"]]
    assert tuple(names) == run.WORKLOAD_NAMES
    for w in BENCH["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]


def test_names_units_and_bounds_are_well_formed():
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names))
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in BENCH["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def declared(section):
    return {m["name"]: m["unit"] for m in BENCH[section]}


def test_end_to_end_record_matches_declaration():
    walls = [1.0 + i / 100 for i in range(30)]
    metrics, detail = report.end_to_end(11.0, walls, rows=3_000, peak_rss_mb=900.0)
    assert {k: v["unit"] for k, v in metrics.items()} == declared("end_to_end")
    assert all(v["value"] > 0 for v in metrics.values())
    assert detail == {"tail_percentile": 66, "op_samples": 30}
    assert metrics["op_s.tail"]["value"] == walls[19]


def test_per_layer_record_matches_declaration():
    units = {name: unit for name, (unit, _, _) in report.LAYERS.items()}
    units.update({k: v["unit"] for k, v in report.overhead_metrics([1.0], [1.0]).items()})
    assert units == declared("per_layer")


def test_result_line_has_exactly_the_contract_keys():
    line = report.result_line({"x": {"value": 1.0, "unit": "s"}}, attempted=3, failed=1, correct=False)
    assert list(line) == ["correct", "attempted", "failed", "metrics"]


def test_missing_program_exits_nonzero_without_a_result(monkeypatch, capsys):
    monkeypatch.setattr(run, "PROGRAM", "no_such_program_package")
    code = run.main(["--workload", "dt_train", "--seed", "1", "--seconds", "1"])
    assert code != 0
    assert capsys.readouterr().out == ""


@pytest.mark.parametrize("argv", [["--workload", "query_mix", "--seed", "1", "--seconds", "1"]])
def test_unknown_workload_is_refused(argv):
    with pytest.raises(SystemExit) as exc:
        run.main(argv)
    assert exc.value.code != 0
