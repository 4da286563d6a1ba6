"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The counter test runs each workload's traced mode twice with one seed and
takes a few minutes; the others need no Spark.
"""

from __future__ import annotations

import json
import random
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import check  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

#: work counters that must repeat exactly across runs of one seed
EXACT = [
    "spark.exec.jobs", "spark.exec.stages", "spark.exec.tasks", "sources.csv.jobs",
    "sources.csv.read_csv_calls", "spark.plan.exchanges", "spark.plan.scans",
    "spark.plan.python_evals", "spark.exec.input_rows",
]


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=HERE.parent, capture_output=True, text=True, timeout=300, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["gui_csv", "curate_pipe"])
def test_work_counters_repeat_exactly(workload):
    a, b = _traced(workload, 11), _traced(workload, 11)
    assert a["correct"] and b["correct"]
    for name in EXACT:
        assert a["metrics"][name]["value"] == b["metrics"][name]["value"], name
    assert a["metrics"]["spark.exec.jobs"]["value"] > 0


def test_inputs_repeat_for_a_seed():
    for name in gen.FILES:
        assert gen.shuffled(name, 5).equals(gen.shuffled(name, 5)), name
    assert not gen.shuffled("documents", 5).equals(gen.shuffled("documents", 6))
    assert gen.shuffled("orders", 5).sort_by("o_orderkey").equals(
        gen.shuffled("orders", 6).sort_by("o_orderkey"))


def test_rounds_repeat_for_a_seed():
    paths = {k: f"/data/{k}.csv" for k in workloads.CSV_COLUMNS}
    r1 = workloads.shuffled_round(random.Random(3), workloads.GUI_TEMPLATES, paths)
    r2 = workloads.shuffled_round(random.Random(3), workloads.GUI_TEMPLATES, paths)
    assert [o.text for o in r1] == [o.text for o in r2]
    assert sorted(o.name for o in r1) == sorted(t(random.Random(0), paths).name
                                                for t in workloads.GUI_TEMPLATES)


def test_diff_canonical_forms():
    import datetime

    d = datetime.datetime(1995, 3, 1)
    assert check.diff([[1.5, "1995-03-01 00:00:00"]], [(1.5, d)], ordered=True) is None
    assert check.diff([[1.5]], [(1.25,)], ordered=False) is not None
    assert check.diff([[1], [2]], [(2,), (1,)], ordered=False) is None
    assert check.diff([[1], [2]], [(2,), (1,)], ordered=True) is not None


def test_self_time_and_coverage():
    spans = [
        {"id": 1, "parent": None, "name": "client.request", "t0": 0.0, "t1": 1.0},
        {"id": 2, "parent": 1, "name": "engine.sql", "t0": 0.1, "t1": 0.9},
        {"id": 3, "parent": 2, "name": "dialect.parse", "t0": 0.1, "t1": 0.2},
    ]
    assert tracing.self_ms(spans, "engine.sql") == pytest.approx(700)
    assert tracing.coverage(spans, "client.request") == pytest.approx(0.8)


def test_parse_metric():
    assert tracing.parse_metric("4,475") == 4475
    assert tracing.parse_metric("2.9 s") == 2900
    assert tracing.parse_metric("1.0 KiB") == 1024
    assert tracing.parse_metric("total (min, med, max (stageId: taskId))\n"
                                "558.5 KiB (134.4 KiB, 139.1 KiB, 147.3 KiB (stage 4.0: task 3))"
                                ) == pytest.approx(558.5 * 1024)
