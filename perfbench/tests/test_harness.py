"""Tests for the benchmark harness: its output contract, seeded inputs,
the span arithmetic, and a smoke run of every workload at tiny size.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark (about a minute each); set
PERFBENCH_SKIP_SMOKE=1 to run only the fast ones.
"""

from __future__ import annotations

import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, ROOT)

from harness import inputs  # noqa: E402
from harness.observe import Tracer  # noqa: E402

_spec = importlib.util.spec_from_file_location("perfbench_run", os.path.join(BENCH_DIR, "run.py"))
run = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(run)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_shape():
    b = _contract()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


@pytest.mark.parametrize("trace", [0, 1])
def test_result_line_names_every_metric_with_a_unit(trace):
    specs = _contract()["per_layer" if trace else "end_to_end"]
    values = {s["name"]: 1.5 for s in specs}
    values["not_a_metric"] = 9.0
    line = run.result_line(values, trace, attempted=7, failed=1)
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is False and out["attempted"] == 7 and out["failed"] == 1
    assert set(out["metrics"]) == {s["name"] for s in specs}
    for s in specs:
        assert out["metrics"][s["name"]] == {"value": 1.5, "unit": s["unit"]}


def test_result_line_refuses_a_missing_metric():
    with pytest.raises(KeyError):
        run.result_line({}, 0, attempted=1, failed=0)


@pytest.mark.parametrize("workload", ["extract_mixed", "job_resume", "curate_chain"])
def test_same_seed_same_digest_other_seed_other_digest(workload):
    a, planted_a = inputs.generate(workload, 3, smoke=True)
    b, planted_b = inputs.generate(workload, 3, smoke=True)
    c, _ = inputs.generate(workload, 4, smoke=True)
    assert inputs.digest(a) == inputs.digest(b)
    assert planted_a == planted_b
    assert inputs.digest(a) != inputs.digest(c)


def test_planted_arms():
    rows, planted = inputs.generate("job_resume", 1, smoke=True)
    bad = [r for r in rows if r["text"] is None or r["turn_idx"] is None]
    assert len(bad) == planted["error_rows"] > 0
    assert sum(r["conv_id"] == planted["mega_conv"] for r in rows) == inputs.SMOKE_SIZES["job_resume"]["mega_turns"]
    rows, planted = inputs.generate("curate_chain", 1, smoke=True)
    by_conv: dict[str, list] = {}
    for r in rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    for dup in planted["exact_dups"]:
        src = inputs.conv_id(1, int(dup.split("-c")[1]) - 800_000)
        assert [r["text"] for r in by_conv[dup]] == [r["text"] for r in by_conv[src]]
    for loop in planted["loops"]:
        texts = [r["text"] for r in by_conv[loop]]
        assert texts[2] == texts[3] == texts[4] == texts[5]


def test_materialize_caches_by_seed(tmp_path):
    t1 = inputs.materialize(ROOT, str(tmp_path), "extract_mixed", 5, smoke=True)
    mtime = os.path.getmtime(os.path.join(t1.path, "_META.json"))
    t2 = inputs.materialize(ROOT, str(tmp_path), "extract_mixed", 5, smoke=True)
    assert (t1.path, t1.digest) == (t2.path, t2.digest)
    assert os.path.getmtime(os.path.join(t2.path, "_META.json")) == mtime
    t3 = inputs.materialize(ROOT, str(tmp_path), "extract_mixed", 6, smoke=True)
    assert t3.path != t1.path and t3.digest != t1.digest


def test_self_time_is_span_minus_children():
    tr = Tracer("r")
    with tr.span("root"):
        with tr.span("a"):
            with tr.span("b"):
                pass
        with tr.span("a"):
            pass
    s = tr.spans
    dur = {sp.sid: sp.end - sp.start for sp in s}
    self_s = tr.self_times(0)
    assert self_s["root"] == pytest.approx(dur[0] - dur[1] - dur[3])
    assert self_s["a"] == pytest.approx(dur[1] - dur[2] + dur[3])
    assert sum(self_s.values()) == pytest.approx(dur[0])
    assert s[2].parent == 1 and s[3].parent == 0 and {sp.run_id for sp in s} == {"r"}
    off = Tracer("r", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    harness exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    cmd = _contract()["command"] + ["--workload", "extract_mixed", "--seed", "1", "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _smoke(workload: str, trace: int) -> dict:
    cmd = _contract()["command"] + [
        "--workload", workload, "--seed", "2", "--seconds", "1", "--trace", str(trace), "--smoke",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(os.environ.get("PERFBENCH_SKIP_SMOKE") == "1", reason="PERFBENCH_SKIP_SMOKE=1")
@pytest.mark.parametrize(
    "workload,trace",
    # the traced run also probes the job over the job_resume table and
    # the curation chain, so these three cover every workload and layer
    [("extract_mixed", 0), ("curate_chain", 0), ("extract_mixed", 1)],
)
def test_smoke(workload, trace):
    out = _smoke(workload, trace)
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    specs = _contract()["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {s["name"] for s in specs}
    for v in out["metrics"].values():
        assert isinstance(v["value"], (int, float))
