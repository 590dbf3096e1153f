"""Self-tests of the benchmark: input determinism, the metric contract,
and a tiny-input smoke run of every workload.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark in a subprocess each (about half a minute
per workload)."""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import gen, layers, run, trace, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _files(d):
    return sorted(
        os.path.relpath(os.path.join(r, f), d)
        for r, _, fs in os.walk(d) for f in fs
    )


@pytest.mark.parametrize("make", [gen.gen_kos, gen.gen_text])
def test_generator_is_deterministic(tmp_path, make):
    a, b, c = (str(tmp_path / x) for x in "abc")
    make(7, a, gen.TINY)
    make(7, b, gen.TINY)
    make(8, c, gen.TINY)
    names = _files(a)
    assert names and names == _files(b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert mismatch, "another seed must give other inputs"


def test_text_ground_truth_is_consistent(tmp_path):
    t = gen.gen_text(3, str(tmp_path), gen.TINY)
    for dup, src in t.exact_src.items():
        assert src < dup and t.texts[src] == t.texts[dup]
    for dup, src in t.near_src.items():
        a, b = t.texts[src].split(), t.texts[dup].split()
        assert src < dup and len(a) == len(b)
        assert 1 <= sum(x != y for x, y in zip(a, b)) <= 2
    assert sorted(t.stream_file_of) == sorted(t.texts)
    assert len(os.listdir(t.stream_dir)) == gen.TINY.stream_files


def test_end_to_end_metrics_match_spec():
    spec = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert spec == run.END_TO_END
    assert spec["setup_s"] == "s"
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25


def test_per_layer_metrics_match_spec():
    empty = trace.SparkTrace({}, [], [])
    names = set(layers.layer_metrics(trace.Tracer(), empty, {}, 0.0, []))
    names.add("ops.failed_ratio")
    assert names == {m["name"] for m in SPEC["per_layer"]}


def test_workloads_match_spec():
    assert {w["name"] for w in SPEC["workloads"]} == set(workloads.WORKLOADS)


def test_survivors_reference():
    pd = gen.pd
    texts = {1: "a b c", 2: "a b c", 3: "x y z", 4: "x y q", 5: "m n o", 6: "p q r"}
    # 2 is an exact copy of 1; 3 and 4 agree on band 0, 6 and 3 on band 1
    sig = {1: [1, 1, 1, 1], 2: [1, 1, 1, 1], 3: [5, 5, 6, 6],
           4: [5, 5, 7, 7], 5: [8, 8, 9, 9], 6: [0, 1, 6, 6]}
    sigs = pd.DataFrame([(d, i, v) for d, vs in sig.items() for i, v in enumerate(vs)],
                        columns=["doc_id", "sig_idx", "minhash"])
    assert workloads._survivors(set(texts), texts, sigs) == {1, 3, 5}


def test_sql_metric_parser():
    p = trace.parse_sql_metric
    assert p("3,219") == 3219
    assert p("0 ms") == 0
    assert p("total (min, med, max (stageId: taskId))\n1.9 s (1 ms, 2 ms, "
             "5 ms (stage 65.0: task 86))") == pytest.approx(1.9)
    assert p("482.9 KiB") == pytest.approx(482.9 * 1024)
    assert trace._watched("BroadcastHashJoin", "[band#1, band_sig#2], ...") == trace.BAND_JOIN
    assert trace._watched("FlatMapGroupsInPandas", "") == "FlatMapGroupsInPandas"
    assert trace._watched("Filter", "isnotnull(doc_a#5L)") is None


def test_numpy_theta_reference():
    phi = gen.np.array([[0.5, 0.1], [0.5, 0.9]])
    th = workloads._numpy_theta(phi, gen.np.array([3.0, 1.0]), 5)
    assert th.sum() == pytest.approx(1.0) and th[0] > th[1]


def _run(args, cwd):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload,trace_flag", [
    ("kos_offline", "0"), ("kos_offline", "1"),
    ("text_dedup", "0"), ("text_dedup", "1"),
])
def test_tiny_smoke_run(workload, trace_flag):
    r = _run(["--workload", workload, "--seed", "5", "--seconds", "1",
              "--trace", trace_flag, "--tiny"], ROOT)
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer"] if trace_flag == "1" else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    if trace_flag == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())
    elif workload == "kos_offline":
        assert out["metrics"]["artm.jobs_per_pass"]["value"] > 0
        assert out["metrics"]["estep.kernel_python_s"]["value"] > 0
    else:
        assert out["metrics"]["dedup.candidate_pairs"]["value"] > 0
        assert out["metrics"]["streaming.state_rows"]["value"] > 0
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_fails_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = _run(["--workload", "kos_offline", "--seed", "1", "--seconds", "1",
              "--trace", "0"], str(tmp_path))
    assert r.returncode != 0
    assert r.stdout.strip() == ""
