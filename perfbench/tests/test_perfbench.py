"""The benchmark's own tests: result schema, generator determinism, and a
smoke run of every workload on tiny inputs.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402
from perfbench.harness import Outcome  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def test_benchmark_json_matches_the_code():
    assert BENCH["command"] == ["python3", "perfbench/run.py"]
    assert BENCH["paths"] == ["perfbench"]
    assert {w["name"] for w in BENCH["workloads"]} == set(run.NAMED)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.PER_LAYER
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in BENCH["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in BENCH["end_to_end"])


def _outcome() -> Outcome:
    out = Outcome(setup_rounds=[3.0, 1.0, 2.0], session_start=[2.0, 0.1, 0.2],
                  pass_s=[4.0, 5.0], e2e={"pass_s": 4.5, "latency_p50_s": 0.6})
    out.detail["peak_rss_mb"] = 900.0
    out.op(True)
    out.check("oracle", True)
    return out


@pytest.mark.parametrize("trace,expected", [(False, run.END_TO_END), (True, run.PER_LAYER)])
def test_result_names_every_metric_with_its_unit(trace, expected):
    res = run.result(_outcome(), trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == expected
    assert res["correct"] is True and res["attempted"] == 2 and res["failed"] == 0
    if not trace:
        assert res["metrics"]["setup_s"]["value"] == 2.0
        assert res["metrics"]["latency_p50_s"]["value"] == 0.6


def test_a_failed_check_makes_the_result_incorrect():
    out = _outcome()
    out.check("target_equals_batch_twin", False)
    res = run.result(out, False)
    assert res["correct"] is False and res["failed"] == 1


def test_table_generator_is_deterministic(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.write_tables(str(a), 0.001, seed=7)
    gen.write_tables(str(b), 0.001, seed=7)
    gen.write_tables(str(c), 0.001, seed=8)
    for name in ("lineitem", "events", "documents", "embeddings"):
        ta, tb = pq.read_table(a / f"{name}.parquet"), pq.read_table(b / f"{name}.parquet")
        assert ta.equals(tb), name
        assert not ta.equals(pq.read_table(c / f"{name}.parquet")), name


def test_stream_generators_are_deterministic():
    kw = dict(n_files=5, rows_per_file=40, n_locations=8, first_late_file=2)
    s1, s2, s3 = gen.covid_stream(3, **kw), gen.covid_stream(3, **kw), gen.covid_stream(4, **kw)
    assert s1 == s2 and s1.files != s3.files
    assert s1.late == [0, 0, 1, 1, 1] and s1.malformed == [1] * 5
    assert all(len(f) == len(o) + m + lt for f, o, m, lt in zip(s1.files, s1.on_time, s1.malformed, s1.late))
    kw = dict(n_files=3, rows_per_file=50, n_users=100)
    u1, u2, u3 = gen.user_event_stream(3, **kw), gen.user_event_stream(3, **kw), gen.user_event_stream(4, **kw)
    assert u1 == u2 and u1.files != u3.files
    ts = [r["ts"] for f in u1.files for r in f]
    assert ts == sorted(ts)


def _run(args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", sorted(run.NAMED))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run(workload, trace):
    p = _run(["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", trace, "--smoke"])
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] is True, p.stdout[-3000:]
    assert res["failed"] == 0 and res["attempted"] >= 1
    expected = run.PER_LAYER if trace == "1" else run.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == expected


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    p = _run(["--workload", "batch_train", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=tmp_path)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
