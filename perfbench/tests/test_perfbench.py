"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q

The first group needs no Spark: the output checks reject deliberately
wrong results, and a wrong result counts as failed. The second group
runs every workload at the tiny scale, which runs every op and every
output check once per pass.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench.corpus import Corpus  # noqa: E402
from perfbench.gedi import SCALES, Truth  # noqa: E402
from perfbench.harness import Recorder, covered, plan_nodes, tail  # noqa: E402
from perfbench.lakehouse import Model, fingerprint  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402


class _NoSession:
    def peak_rss_mb(self) -> float:
        return 0.0


def test_wrong_result_counts_as_failed():
    rec = Recorder(_NoSession())
    rec.run_pass(lambda: (
        rec.op("right", "write", lambda: 42, check=lambda out: out == 42),
        rec.op("wrong", "read", lambda: 41, check=lambda out: out == 42),
        rec.op("raises", "read", lambda: 1 / 0),
    ), rows=1)
    ok = {o.kind: o.ok for o in rec.ops}
    assert ok == {"right": True, "wrong": False, "raises": False}
    wrong = [o for o in rec.ops if o.info.get("wrong")]
    assert [o.kind for o in wrong] == ["wrong"]
    rec.ref = [0.5, 2.0, 4.0]  # reference job times: the median divides
    m = rec.end_to_end(setup_s=1.0)
    assert m["ok_share"][0] == pytest.approx(1 / 3)
    assert m["pass_vs_ref"][0] == pytest.approx(rec.passes[0]["wall"] / 2.0)


def test_lakehouse_fingerprint_catches_a_changed_row():
    m = Model()
    rows = [(k, k % 3, float(k * 7 % 1000), f"n{k:09d}") for k in range(50)]
    m.rows.update((r[0], r) for r in rows)
    fp = m.fp()
    assert fp == fingerprint(rows)
    m.rows[7] = (7, 1, 8.0, "n000000007")  # one value differs
    assert m.fp() != fp
    m.rows[7] = rows[7]
    m.rows[8] = (8, 2, 56.0, "n000000009")  # one note differs
    assert m.fp() != fp


def test_corpus_check_rejects_a_kept_duplicate():
    c = Corpus(seed=5, n_docs=200)
    splits = [{"doc_id": d, "split": "train"} for d in sorted(c.survivors)]
    clusters = [{"doc_id": i, "cluster_id": min(g)} for g in c.near_groups for i in g]
    assert c.check((splits, clusters))
    loser = max(c.exact_groups[0])
    assert not c.check((splits + [{"doc_id": loser, "split": "train"}], clusters))
    g = c.near_groups[0]
    broken = [dict(r, cluster_id=-1) if r["doc_id"] == max(g) else r for r in clusters]
    assert not c.check((splits, broken))


def test_gedi_checks_reject_wrong_counts(tmp_path):
    import pandas as pd

    s = SCALES["tiny"]
    t = Truth(tmp_path, 3, s["granules"], s["shots"], s["res"])
    assert t.aoi_rows["L2A"] and t.aoi_rows["L2B"]
    assert "far_away" not in t.aoi_rows["L2B"]  # the disjoint AOI keeps no shot
    g = t.grid
    rows, cols = np.divmod(g["cells"], 1_000_003)
    pdf = pd.DataFrame({"row": rows, "col": cols, "n_shots": g["n_shots"],
                        "avg_rh98": g["avg_rh98"], "avg_rh100": g["avg_rh100"]})
    assert t.check_grid(pdf.sample(frac=1.0, random_state=0))
    bad = pdf.copy()
    bad.loc[0, "n_shots"] += 1
    assert not t.check_grid(bad)
    name, n = next(iter(t.aoi_rows["L2A"].items()))
    good = [{"aoi_name": a, "n": k, "acq": t.aoi_acq["L2A"][a], "x": t.aoi_x["L2A"][a]}
            for a, k in t.aoi_rows["L2A"].items()]
    assert t.check_readback("L2A", good)
    assert not t.check_readback("L2A", [dict(r, n=r["n"] + (r["aoi_name"] == name))
                                        for r in good])


def test_helpers():
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert tail(list(range(11))) == 0 and tail(list(range(30))) == 19
    assert tail([1.0] * 10) == 0.0
    plan = ("AdaptiveSparkPlan isFinalPlan=true\n+- == Final Plan ==\n   *(2) Project [a]\n"
            "   +- ArrowEvalPython [f(a)]\n      +- MapInPandas g(a)\n"
            "+- == Initial Plan ==\n   ArrowEvalPython [f(a)]\n")
    assert plan_nodes(plan).count("ArrowEvalPython") == 1
    assert "MapInPandas" in plan_nodes(plan)


def test_metric_lists_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_dedup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert "correct" not in p.stdout


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_tiny_run_of_all_workloads_checks_every_output():
    results = _run("all", trace=0)
    assert set(results) == {"gedi_extract", "lakehouse_mixed", "corpus_dedup"}
    for workload, r in results.items():
        assert set(r) == {"correct", "attempted", "failed", "metrics"}
        assert r["correct"] is True
        assert {k: v["unit"] for k, v in r["metrics"].items()} == dict(END_TO_END)
        assert all(v["value"] > 0 for v in r["metrics"].values())
        if workload == "gedi_extract":
            # the GeoParquet read-back raises (acq_time re-encoded by the
            # footer stamp): both read-back ops of every pass fail
            assert r["failed"] * 2 == r["attempted"]
        else:
            assert r["failed"] == 0


def test_tiny_traced_run_reports_every_layer_metric():
    r = _run("lakehouse_mixed", trace=1)
    assert r["correct"] is True
    m = r["metrics"]
    assert {k: v["unit"] for k, v in m.items()} == dict(PER_LAYER)
    assert m["versioned.append_jobs"]["value"] > 0
    assert m["cdc.mirror_jobs"]["value"] > 0
    assert m["hdf5.build_jobs"]["value"] == 0  # layer not called: flat
    assert 0.9 < m["trace.accounted_share"]["value"] <= 1.0
