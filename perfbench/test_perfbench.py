"""The benchmark's own checks.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

Inputs must be byte-identical per seed, every workload must pass all its
correctness checks at a tiny size (traced and untraced), the checks must
catch a wrong answer, and the command must refuse to run without the
engine next to it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import gen, workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(HERE, "spec.json")) as f:
        return json.load(f)


def _tiny(workload: str) -> dict:
    return _spec()["workloads"][workload]["sizes"]["tiny"]


def _serve(seed: int) -> gen.ServeInputs:
    s = _tiny("serve")
    return gen.serve_inputs(seed, s["docs"], s["clusters"], s["batch_queries"], s["batch_docs"],
                            s["rare_per_value"], s["dup_fraction"], s["near_fraction"])


def _dedup(seed: int) -> gen.DedupInputs:
    s = _tiny("dedup")
    return gen.dedup_inputs(seed, s["docs"], s["exact_groups"], s["near_groups"],
                            s["passages"], s["passage_words"], s["passage_fraction"])


def test_inputs_are_byte_identical_per_seed():
    assert _serve(7).digest(40, 3) == _serve(7).digest(40, 3)
    assert _serve(7).digest(40, 3) != _serve(8).digest(40, 3)
    assert _dedup(7).digest() == _dedup(7).digest()
    assert _dedup(7).digest() != _dedup(8).digest()


def test_planted_duplicates_are_recorded():
    d = _dedup(3)
    assert len(d.exact_groups) >= _tiny("dedup")["exact_groups"]
    for g in d.exact_groups:
        assert len({d.text[i] for i in g}) == 1
    for g in d.near_groups:
        assert len(g) >= 2 and len({d.text[i] for i in g}) == len(g)


def test_dedup_check_rejects_wrong_output(tmp_path):
    wl = workloads.Dedup(None, None, str(tmp_path), _tiny("dedup"), 3)
    wl.inputs = _dedup(3)
    ids, texts = wl.inputs.doc_id.tolist(), wl.inputs.text
    with pytest.raises(workloads.CheckFailed, match="exact-duplicate group"):
        wl._check(ids, texts)  # nothing removed
    grouped = {i for g in wl.inputs.exact_groups for i in g[1:]}
    kept = [i for i in ids if i not in grouped]
    with pytest.raises(workloads.CheckFailed, match="boilerplate"):
        wl._check(kept, [texts[i] for i in kept])


def test_mix_figures_take_each_kinds_median():
    from perfbench.run import mix_figures

    samples = [{"kind": "q", "cpu_s": c, "items": 1} for c in (1.0, 1.0, 9.0)]
    samples.append({"kind": "w", "cpu_s": 4.0, "items": 0})
    per_op, items_per_s = mix_figures(samples, ["q", "q", "w"], "cpu_s")
    assert per_op == pytest.approx(2.0)  # geometric mean of 1 and 4
    assert items_per_s == pytest.approx(2 / 6)  # two queries per 1 + 1 + 4 s


def test_spec_matches_benchmark_json():
    spec = _spec()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["end_to_end"] == spec["end_to_end"]
    assert bench["per_layer"] == spec["per_layer"]
    assert {w["name"]: w["why"] for w in bench["workloads"]} == {
        k: v["why"] for k, v in spec["workloads"].items()
    }


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload,trace", [("serve", 0), ("serve", 1), ("dedup", 0), ("dedup", 1)])
def test_tiny_run_is_correct(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = _spec()
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in wanted]
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    elif workload == "serve":
        # construction fires the schema-inference job of every query
        assert res["metrics"]["context.query.build_jobs"]["value"] >= 1


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "serve", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
