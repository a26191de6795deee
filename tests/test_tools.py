"""The measurement tools: the scale ladder's row contract and the A/B
summary arithmetic."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)

import ab  # noqa: E402

TESTDATA = "/root/testdata"


@pytest.mark.skipif(not os.path.isdir(f"{TESTDATA}/sf0.01"), reason="no test data")
def test_ladder_row_keys_and_resume(tmp_path):
    # a subprocess: the ladder stops and restarts its session per row,
    # which must not touch the shared test session
    out = tmp_path / "ladder.json"
    cmd = [
        sys.executable,
        os.path.join(TOOLS, "ladder.py"),
        f"{TESTDATA}/sf0.01",
        "10",
        str(out),
        "q08_pricing_summary",
    ]
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": f"{TESTDATA}/sf0.001"}
    env.pop("SPARK_GRAFT_DRIVER_MEM", None)
    subprocess.run(cmd, env=env, check=True, capture_output=True)
    doc = json.loads(out.read_text())
    row = doc["factor10"]["queries"]["q08_pricing_summary"]
    for key in (
        "base_sec",
        "scaled_sec",
        "ratio",
        "base_rows",
        "scaled_rows",
        "gc_sec",
        "heap_mb",
        "code_cache_mb",
        "drain",
    ):
        assert key in row, key
    assert row["drain"] == "noop"
    assert "err" not in row
    assert row["base_rows"] == row["scaled_rows"] > 0  # one row per flag/status
    assert set(doc["factor10"]["_calibration"]) == {"base", "scaled"}

    subprocess.run(cmd, env=env, check=True, capture_output=True)
    assert json.loads(out.read_text()) == doc


def test_ab_summary_on_synthetic_timings():
    a = [2.0, 4.0, 3.0, 5.0, 1.0]
    b = [1.0, 4.0, 1.5, 2.5, 2.0]
    s = ab.summarize(a, b, [1.0] * 5, [2.0] * 5)
    assert s["a"] == {"median": 3.0, "q1": 2.0, "q3": 4.0}
    assert s["b"] == {"median": 2.0, "q1": 1.5, "q3": 2.5}
    # pair 1 is a tie and counts for neither side
    assert (s["a_wins"], s["b_wins"]) == (1, 3)
    assert s["ratio"] == pytest.approx(2.0 / 3.0, abs=1e-3)
    # b's runs saw a box twice as slow per job: normalized, b is 1/3
    assert s["ratio_job_norm"] == pytest.approx(1.0 / 3.0, abs=1e-3)
