"""scripts/ab.py's verdict rule on synthetic runs (no Spark, no
subprocess): better needs 9/10 wins AND a median gap wider than the
parent's interquartile range; worse is a median past the bound; a parent
spread past the bound is unresolved unless every change run beats every
parent run; a run without a result line is a failed run. The driver loop
(subprocess stubbed) discards one warm-up run per side and runs the
benchmark's own ``run_seconds``."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

_spec = importlib.util.spec_from_file_location(
    "ab", Path(__file__).resolve().parents[1] / "scripts" / "ab.py"
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

LOWER = {"name": "wall_s", "better": "lower", "bound": 0.25}


def runs(xs, failed=0):
    return [
        {"seed": i, "result": {"attempted": 10, "failed": failed, "metrics": {"wall_s": {"value": x}}}}
        for i, x in enumerate(xs)
    ]


def verdict(parent, change):
    return ab.verdict(runs(parent), runs(change), LOWER["name"], LOWER["better"], LOWER["bound"])


PARENT = [1.00, 1.02, 0.98, 1.01, 0.99, 1.03, 0.97, 1.00, 1.02, 0.98]


def test_nine_of_ten_wins_with_gap_past_iqr_is_better():
    change = [x - 0.10 for x in PARENT]
    change[3] = PARENT[3] + 0.01  # the change loses one pair
    v = verdict(PARENT, change)
    assert (v["wins"], v["pairs"], v["verdict"]) == (9, 10, "better")


def test_eight_of_ten_wins_is_not_better():
    change = [x - 0.10 for x in PARENT]
    change[3] = PARENT[3] + 0.01
    change[5] = PARENT[5]  # a tie counts for neither side
    v = verdict(PARENT, change)
    assert (v["wins"], v["verdict"]) == (8, "flat")


def test_ten_wins_inside_parent_iqr_is_not_better():
    change = [x - 0.001 for x in PARENT]
    v = verdict(PARENT, change)
    assert (v["wins"], v["verdict"]) == (10, "flat")


def test_median_worse_past_bound_is_worse():
    v = verdict(PARENT, [x * 1.3 for x in PARENT])
    assert v["verdict"] == "worse"
    assert v["wins"] == 0


def test_higher_is_better_metrics_flip_the_sign():
    v = ab.verdict(runs(PARENT), runs([x * 0.7 for x in PARENT]), "wall_s", "higher", 0.25)
    assert v["verdict"] == "worse"
    v = ab.verdict(runs(PARENT), runs([x * 1.3 for x in PARENT]), "wall_s", "higher", 0.25)
    assert (v["wins"], v["verdict"]) == (10, "better")


WIDE = [1.0] * 5 + [3.0] * 5  # median 2.0, IQR 2.0: spread 100% > bound


def test_parent_spread_past_bound_is_unresolved():
    v = verdict(WIDE, [1.9] * 5 + [2.1] * 5)
    assert v["verdict"] == "unresolved"


def test_every_change_run_beating_every_parent_run_overrides_unresolved():
    # gap 1.05 < IQR 2.0, so not better; but no parent run beats any change run
    v = verdict(WIDE, [0.95] * 10)
    assert (v["wins"], v["verdict"]) == (10, "flat")


def test_run_without_result_line_is_a_failed_run():
    result, report = ab.parse_output("progress noise\nTraceback (most recent call last):\n")
    assert result is None and report is None
    result, report = ab.parse_output('{"report": {"x": 1}}\n{"correct": true, "metrics": {}}\n')
    assert result == {"correct": True, "metrics": {}} and report == {"report": {"x": 1}}

    change = runs([x - 0.1 for x in PARENT[:9]], failed=1) + [{"seed": 9, "result": None}]
    assert ab.failures(change) == {"failed": 9, "attempted": 90, "failed_runs": [9]}
    # the failed pair is no win for the change, and still counts as a pair
    v = ab.verdict(runs(PARENT), change, "wall_s", "lower", 0.25)
    assert (v["wins"], v["pairs"], v["verdict"]) == (9, 10, "better")
    lines = ab.report(runs(PARENT), change, [LOWER])
    assert lines[-1] == "change: failed 9 of 90 attempted; 1 of 10 runs printed no result (seeds [9])"
    assert lines[-2] == "parent: failed 0 of 100 attempted"


@pytest.mark.parametrize("words, side", [
    (["HEAD"], {"rev": "HEAD", "env": {}}),
    ([".", "SPARK_GRAFT_ZIP_STAMP=0"], {"rev": ".", "env": {"SPARK_GRAFT_ZIP_STAMP": "0"}}),
])
def test_side_is_a_revision_and_env_settings(words, side):
    assert ab.parse_side(words) == side


def test_side_setting_without_equals_is_rejected():
    with pytest.raises(ValueError):
        ab.parse_side(["HEAD", "SPARK_GRAFT_ZIP_STAMP"])


def test_main_discards_one_warm_up_per_side_and_uses_the_benchmark_run_length(monkeypatch, capsys):
    calls = []

    def fake_run(cmd, cwd, env, **kw):
        calls.append((cmd[cmd.index("--seed") + 1], env.get("SIDE"), cmd[cmd.index("--seconds") + 1]))
        line = '{"attempted": 1, "failed": 0, "metrics": {"wall_s": {"value": 1.0}}}'
        return type("Proc", (), {"returncode": 0, "stdout": line, "stderr": ""})()

    monkeypatch.setattr(ab.subprocess, "run", fake_run)
    ab.main(["--workload", "w", "--pairs", "2", "--seed", "5",
             "--parent", ".", "SIDE=p", "--change", ".", "SIDE=c"])
    seconds = str(ab.json.loads((ab.ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    assert calls == [("4", "p", seconds), ("4", "c", seconds),  # warm-ups
                     ("5", "p", seconds), ("5", "c", seconds),
                     ("6", "c", seconds), ("6", "p", seconds)]
    assert "parent: failed 0 of 2 attempted" in capsys.readouterr().out
