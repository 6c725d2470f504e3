"""Self-test of the benchmark (not part of the engine's test suite):
each workload, at a tiny size, run twice with one seed must replay the
same op sequence and the same counts (written bytes within 0.1%), with
every check passing; another seed must give another sequence. Run from
the repository root:

    python -m pytest perfbench/test_determinism.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from run import WORKLOADS, per_layer_names  # noqa: E402

COUNT_PREFIXES = ("spark.jobs.", "store.", "prune.")
# Merge-on-read delete deltas store data-file names, which carry random
# UUIDs, so the bytes a run writes can differ by a byte or two from one
# run to the next. These two agree within BYTES_RTOL; every other count
# must repeat exactly.
BYTE_METRICS = ("store.bytes_written", "store.write_amp")
BYTES_RTOL = 1e-3


def _run(workload: str, seed: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1",
         "--size", "tiny"],
        capture_output=True, text=True, timeout=600, cwd=HERE.parent)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["report"]


def _counts(result: dict) -> dict:
    return {k: v["value"] for k, v in result["metrics"].items()
            if k.startswith(COUNT_PREFIXES) and k not in BYTE_METRICS}


def _bytes(result: dict) -> list[float]:
    return [result["metrics"][k]["value"] for k in BYTE_METRICS]


def test_benchmark_json_lists_the_traced_metrics():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["per_layer"]] == per_layer_names()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_sequence_and_counts(workload):
    a, a_rep = _run(workload, 7)
    b, b_rep = _run(workload, 7)
    assert a_rep["sequence"] == b_rep["sequence"]
    assert _counts(a) == _counts(b)
    assert _bytes(a) == pytest.approx(_bytes(b), rel=BYTES_RTOL)
    assert set(a["metrics"]) == set(per_layer_names())
    for res, rep in ((a, a_rep), (b, b_rep)):
        assert res["correct"], rep["failures"] + rep["trace_sanity"]
        assert res["failed"] == 0 and rep["named"]["fail_frac"]["value"] == 0
    c, c_rep = _run(workload, 8)
    assert c_rep["sequence"] != a_rep["sequence"]
