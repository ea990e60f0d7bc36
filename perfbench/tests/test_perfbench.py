"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The comparison tests feed each output check a deliberately corrupted
result and need no Spark. The ``run`` tests drive ``perfbench/run.py``
end to end (a few minutes: one JVM per run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.run import PER_LAYER  # noqa: E402
from perfbench.spans import Tracer, covered  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    WORKLOADS,
    check_ledgers,
    check_lsh,
    check_oracle,
    check_reports,
    check_superseded,
    shingles,
)

BENCHMARK = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


# ------------------------------------------------------------ monthly close


def model_reports(model: gen.CloseModel, seed: int) -> list:
    """The reports a correct run produces: per version, the head totals
    then the time-travel read."""
    out = []
    for v in range(1, len(model.snapshots) + 1):
        asked = gen.asof_target(seed, v)
        out += [(v, v, model.version_totals(v)), (asked, asked, model.version_totals(asked))]
    return out


def test_plan_is_seeded():
    a, b = gen.monthly_plan(3, 6), gen.monthly_plan(3, 6)
    assert a == b
    assert gen.monthly_plan(4, 6) != a


def test_plan_restates_and_leaves_codes_unmapped():
    model = gen.CloseModel(gen.monthly_plan(5, 6))
    assert sum(model.superseded) > 0
    assert any(s == "Resolved" for led in model.ledgers for s, _ in led.values())
    assert any(s == "Open" for led in model.ledgers for s, _ in led.values())


def test_reports_pass_then_fail_on_dropped_restatement():
    seed = 7
    plan = gen.monthly_plan(seed, 6)
    model = gen.CloseModel(plan)
    assert all(c.ok for c in check_reports(model, model_reports(model, seed)))
    month = next(d for d in plan if d.restated)
    month.restated = month.restated[1:]  # a restated row the pipeline lost
    lossy = gen.CloseModel(plan)
    checks = check_reports(model, model_reports(lossy, seed))
    assert not all(c.ok for c in checks)


def test_reports_fail_on_wrong_time_travel_version():
    model = gen.CloseModel(gen.monthly_plan(8, 6))
    reports = model_reports(model, 8)
    asked, _got, _t = reports[-1]
    reports[-1] = (asked, asked + 1, model.version_totals(asked + 1))
    assert not check_reports(model, reports)[1].ok


def test_reports_fail_on_missing_month():
    model = gen.CloseModel(gen.monthly_plan(9, 6))
    assert not all(c.ok for c in check_reports(model, model_reports(model, 9)[:-2]))


def test_ledger_check_fails_on_wrong_status_or_date():
    model = gen.CloseModel(gen.monthly_plan(5, 6))
    ledgers = [dict(led) for led in model.ledgers]
    assert check_ledgers(model, ledgers).ok
    code = next(c for led in ledgers for c, (s, _) in led.items() if s == "Resolved")
    bad = [dict(led) for led in ledgers]
    for led in bad:
        if code in led and led[code][0] == "Resolved":
            led[code] = ("Open", led[code][1])
            break
    assert not check_ledgers(model, bad).ok
    late = [dict(led) for led in ledgers]
    c, (s, _d) = next(iter(late[-1].items()))
    late[-1][c] = (s, "2024-12-31")
    assert not check_ledgers(model, late).ok


def test_superseded_check():
    model = gen.CloseModel(gen.monthly_plan(2, 6))
    assert check_superseded(model, list(model.superseded)).ok
    assert not check_superseded(model, [model.superseded[0]] + [n - 1 for n in model.superseded[1:]]).ok


# ------------------------------------------------------------------ basket


def test_oracle_check_fails_on_changed_or_missing_row():
    columns = ["k", "v"]
    rows = [(1, 2.5), (2, 3.0)]
    oracle = pd.DataFrame({"v": [3.0, 2.5], "k": [2, 1]})  # order-insensitive
    assert check_oracle("q", rows, columns, oracle).ok
    assert not check_oracle("q", [(1, 2.5), (2, 3.25)], columns, oracle).ok
    assert not check_oracle("q", rows[:1], columns, oracle).ok


def test_lsh_check_fails_on_false_pair_or_wrong_value():
    base = "a b c d e f g h i j"
    texts = {0: base, 1: base + " dup", 2: "x y z w v u t s"}
    a, b = shingles(texts[0]), shingles(texts[1])
    jac = len(a & b) / len(a | b)
    assert check_lsh([(0, 1, jac)], texts).ok
    assert not check_lsh([(0, 1, jac + 0.01)], texts).ok
    assert not check_lsh([(0, 1, jac), (0, 2, 0.9)], texts).ok
    assert not check_lsh([], texts).ok  # a truncated (empty) pair set


def test_basket_tables_are_deterministic():
    a, b = gen.basket_tables(0.001), gen.basket_tables(0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == 6000


# ------------------------------------------------------------------- spans


def test_spans_nest_and_self_times_sum_to_wall():
    tr = Tracer("t", enabled=True)
    with tr.span("pass") as p:
        for _ in range(3):
            with tr.span("query"):
                with tr.span("queries.build"):
                    time.sleep(0.002)
                time.sleep(0.001)
                with tr.span("spark.action"):
                    time.sleep(0.003)
    assert_nested(tr, p)


def assert_nested(tr: Tracer, root) -> None:
    subtree = [root] + tr.descendants(root)
    for s in subtree[1:]:
        parent = tr.spans[s.parent]
        assert parent.start <= s.start <= s.end <= parent.end
    assert sum(tr.self_time(s) for s in subtree) == pytest.approx(root.duration, abs=1e-6)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-1, 2), (9, 12)], 0, 10) == 3


# ---------------------------------------------------------------- contract


def test_benchmark_json_matches_the_runner():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == {
        k: u for k, (u, _b) in PER_LAYER.items()
    }
    assert BENCHMARK["paths"] == ["perfbench"]


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "basket", "--seed", "1",
                        "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""


# -------------------------------------------------------------------- runs


def run(workload: str, trace: int, seed: int = 1) -> tuple[dict, str]:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
                        str(seed), "--seconds", "0", "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_run_reports_every_layer_metric_and_nested_spans(workload):
    result, stdout = run(workload, trace=1)
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(PER_LAYER)
    run_id = stdout.splitlines()[0].split(" run ")[1]
    spans_path = os.path.join(ROOT, "perfbench", ".work", "spans", f"{run_id}.jsonl")
    tr = Tracer(run_id, enabled=True)
    from perfbench.spans import Span

    tr.spans = [Span(**json.loads(line)) for line in open(spans_path)]
    passes = tr.named("pass")
    assert passes
    for p in passes:
        assert_nested(tr, p)


def test_untraced_run_reports_every_end_to_end_metric():
    result, _ = run("monthly_close", trace=0, seed=2)
    assert result["correct"]
    assert set(result["metrics"]) == {m["name"] for m in BENCHMARK["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())
