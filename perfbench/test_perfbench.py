"""Self-test of the benchmark at tiny size.

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that request streams and generated inputs follow the seed, that
every workload runs end to end from a foreign working directory and
prints every metric BENCHMARK.json names with its unit, and that the
command fails without the package under test.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import data  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize("name", ["image_dense", "query_wide", "interactive"])
def test_request_stream_follows_seed(name):
    a = workloads.request_stream(name, 1, 3)
    assert a == workloads.request_stream(name, 1, 3)
    assert a != workloads.request_stream(name, 2, 3)
    # whole blocks repeat the same request classes
    n = len(a) // 3
    assert [r["kind"] for r in a[:n]] == [r["kind"] for r in a[n : 2 * n]]


def test_pipeline_corpus_follows_seed(tmp_path):
    cfg = workloads.SIZES["tiny"]["corpus"]
    for d, seed in (("a", 1), ("b", 1), ("c", 2)):
        data.write_testdata(str(tmp_path / d), seed, **cfg)
    docs = [str(tmp_path / d / "documents.parquet") for d in "abc"]
    assert filecmp.cmp(docs[0], docs[1], shallow=False)
    assert not filecmp.cmp(docs[0], docs[2], shallow=False)


def test_spec_matches_runner():
    import run

    assert {w["name"] for w in SPEC["workloads"]} <= set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER


def _run(root, cwd, *args, timeout=300):
    """``perfbench/run.py`` of checkout ``root``, run from ``cwd``."""
    return subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_tiny_run_prints_every_metric(tmp_path, name, trace):
    out = _run(
        ROOT, str(tmp_path), "--workload", name, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
        "--trace-out", str(tmp_path / "trace.json"),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    detail = json.loads(out.stdout.strip().splitlines()[-2])
    if name == "pipeline_batch":
        # every timed pass started with the process-global memos empty,
        # so it paid its own memo builds, and the passes filled them
        assert detail["memo_entries"]["pass_start"] == [0] * detail["blocks"]
        assert detail["memo_entries"]["after_pass"] > 0
    if trace:
        record = json.loads((tmp_path / "trace.json").read_text())
        assert len(record["records"]) == detail["requests"]
        for row in record["accounting"]:
            assert row["overlap.s"] >= -1e-9
            assert row["driver.self_s"] <= row["wall_s"]
        if name in ("image_dense", "interactive"):
            # jobs are attributed by call site: every /image request runs
            # resolve, extrema and line-raster jobs
            for row in record["accounting"]:
                if row["kind"] == "image":
                    assert min(row["resolve.s"], row["extrema.s"], row["rasterline.s"]) > 0
            assert "store" in detail["rasterline_share"]


def test_clear_memos_empties_session_independent_memos():
    from web_maxiv_hdbppviewer_spark.plans import extensions

    extensions._NB_ARTIFACTS_MEMO[("sf", 0)] = ({}, None)
    assert workloads.memo_entries() > 0
    workloads.clear_memos()
    assert extensions._NB_ARTIFACTS_MEMO == {}
    assert workloads.memo_entries() == 0


def test_fails_without_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), str(tmp_path), "--workload", "query_wide", "--seed", "1", "--seconds", "1", timeout=170)
    assert out.returncode != 0
    assert not out.stdout.strip()
