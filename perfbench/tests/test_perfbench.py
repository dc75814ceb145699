"""The benchmark's own tests.

The smoke tests run every workload end to end at its smallest size
(sf0.001 tables and two-file inbox batches), untraced and traced; the
others need no Spark. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from decimal import Decimal
from types import SimpleNamespace

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

from analytics import result_problem  # noqa: E402
from invoice_inbox import batch_problems, published_problems  # noqa: E402
from layers import catalogue  # noqa: E402
from spans import EventLog, Tracer, attribute, subtree_stats  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(*args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke(workload):
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        proc = _run("--workload", workload, "--seed", "3", "--seconds", "0", "--smoke",
                    "--trace", str(trace))
        assert proc.returncode == 0, proc.stderr[-3000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[section]}
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want


def test_per_layer_matches_catalogue():
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == catalogue()


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                           SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                           "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def _batch(**kw):
    return SimpleNamespace(**{"path": "/x/batch00", "new_rows": 10,
                              "new_total": Decimal("100.00"), "validation_errors": 1, **kw})


def test_invoice_check_rejects_perturbed_expectation():
    report = SimpleNamespace(status="SUCCESS", inserted=10, validation_errors=1, messages=[])
    assert batch_problems(_batch(), report) == []
    assert batch_problems(_batch(new_rows=11), report)
    assert batch_problems(_batch(validation_errors=0), report)
    assert batch_problems(_batch(), SimpleNamespace(**{**vars(report), "status": "PARTIAL"}))
    assert published_problems([_batch()], 10, Decimal("100.00")) == []
    assert published_problems([_batch(new_total=Decimal("100.01"))], 10, Decimal("100.00"))


def test_query_check_rejects_perturbed_expectation():
    got = (["a", "b"], [(1, 2.5), (2, None)])
    assert result_problem(got, (["a", "b"], [(2, None), (1, Decimal("2.5"))])) is None
    assert result_problem(got, (["a", "b"], [(1, 2.5), (2, 0.0)]))
    assert result_problem(got, (["a", "c"], [(1, 2.5), (2, None)]))
    assert result_problem(got, (["a", "b"], [(1, 2.5)]))


def test_event_log_attribution(tmp_path):
    tracer = Tracer()
    with tracer.span("pass1", "pass") as outer:
        with tracer.span("operators.q", "operators") as inner:
            pass
    outer.start, outer.end, inner.start, inner.end = 100.0, 110.0, 101.0, 109.0
    tracer.groups = {"perfbench-2": inner.span_id}

    def job(jid, group, start, end, stage):
        props = {"spark.jobGroup.id": group} if group else {}
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
             "Stage IDs": [stage], "Properties": props},
            {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
                "Executor Run Time": 500, "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                "Input Metrics": {"Bytes Read": 3}, "Memory Bytes Spilled": 0,
                "Disk Bytes Spilled": 0}},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
        ]

    events = (job(0, "perfbench-2", 102_000, 104_000, 0)
              + job(1, "perfbench-2", 103_000, 105_000, 1)
              + job(2, None, 106_000, 107_000, 2))
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events))
    log = EventLog.parse(str(path))
    by_span, unattributed = attribute(tracer, log)
    assert [j["start"] for j in unattributed] == [106.0]
    st = subtree_stats(tracer, log, by_span, outer)
    assert (st.jobs, st.stages, st.tasks, st.shuffle_bytes, st.input_bytes) == (2, 2, 2, 14, 6)
    assert st.task_s == pytest.approx(1.0)
    assert st.job_union_s == pytest.approx(3.0)  # [102, 105] overlaps
    assert len(log.jobs_in((100.0, 110.0))) == 3
