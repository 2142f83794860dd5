"""The benchmark's own tests; no Spark needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import run  # noqa: E402
import wl_analytics  # noqa: E402
import wl_churn  # noqa: E402


def _shape(ops):
    return [(o.idx, o.cls, o.params) for o in ops]


@pytest.mark.parametrize("make_ops", [wl_churn.make_ops, wl_analytics.make_ops])
def test_same_seed_same_ops_other_seed_other_ops(make_ops):
    ops = make_ops(7, 60)
    assert [o.idx for o in ops] == list(range(len(ops)))  # ids label each op's Spark jobs
    assert _shape(make_ops(7, 20)) == _shape(make_ops(7, 20))
    assert _shape(make_ops(7, 20)) != _shape(make_ops(8, 20))


def test_op_count_is_fixed_by_seconds_not_by_seed():
    for make_ops in (wl_churn.make_ops, wl_analytics.make_ops):
        assert len(make_ops(1, 20)) == len(make_ops(2, 20))
        assert len(make_ops(1, 60)) > len(make_ops(1, 20))


_TREE = textwrap.dedent(
    """
    import os, subprocess, sys, time

    def burn(s):
        t = time.process_time()
        while time.process_time() - t < s:
            pass

    if sys.argv[1] == "child":
        # like the JVM: starts a worker that exits and is reaped, and one that stays
        subprocess.run([sys.executable, __file__, "reaped"], check=True)
        w = subprocess.Popen([sys.executable, __file__, "worker"], stdout=subprocess.PIPE)
        w.stdout.readline()
        print("ready", flush=True)
        sys.stdin.readline()
        w.kill()
        w.wait()
    elif sys.argv[1] == "reaped":
        burn(0.4)
    else:
        block = bytearray(64 << 20)  # resident: touched by the zero fill
        burn(0.4)
        print("ready", flush=True)
        time.sleep(60)
    """
)


def test_proc_accounting_covers_children_grandchildren_and_reaped_workers(tmp_path):
    script = tmp_path / "tree.py"
    script.write_text(_TREE)
    me = os.getpid()
    cpu0 = harness.tree_cpu_s(me)
    rss0 = harness.tree_peak_rss_mb(me)
    child = subprocess.Popen(
        [sys.executable, str(script), "child"], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
    )
    try:
        assert child.stdout.readline().strip() == "ready"
        pids = harness.tree_pids(me)
        assert child.pid in pids
        assert len(pids) >= 3  # this process, the child, its live worker
        # both burners ran 0.4 s; the reaped one counts through cutime
        assert harness.tree_cpu_s(me) - cpu0 >= 0.7
        assert harness.tree_peak_rss_mb(me) - rss0 >= 60
    finally:
        child.stdin.write("\n")
        child.stdin.flush()
        child.wait(timeout=30)


def test_declared_metrics_match_the_printed_ones():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        decl = json.load(f)
    assert {m["name"]: m["unit"] for m in decl["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in decl["per_layer"]} == run.layer_units()
    assert [w["name"] for w in decl["workloads"]] == list(run.WORKLOADS)


class _FakeRun:
    trace = False
    failures: list = []

    def __init__(self):
        op = harness.Op(0, "create", {})
        op.ok = True
        self.ops = [op]


def test_emit_refuses_undeclared_or_missing_metrics():
    metrics = {k: (1.0, u) for k, u in run.END_TO_END.items()}
    out = harness.emit(_FakeRun(), metrics)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert all(v["unit"] == run.END_TO_END[k] for k, v in out["metrics"].items())
    with pytest.raises(RuntimeError, match="undeclared"):
        harness.emit(_FakeRun(), dict(metrics, bogus_ms=(1.0, "ms")))
    with pytest.raises(RuntimeError, match="missing"):
        harness.emit(_FakeRun(), {k: v for k, v in metrics.items() if k != "setup_s"})


def test_run_refuses_a_checkout_without_the_library(tmp_path):
    # a directory holding only the benchmark exits non-zero and prints no result
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_text(open(os.path.join(HERE, name)).read())
    (tmp_path / "BENCHMARK.json").write_text(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")).read())
    t = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "churn", "--seed", "1", "--seconds", "20", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""
    assert time.time() - t < 60
