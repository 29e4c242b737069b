"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q -m "not slow"   # fast checks
    python3 -m pytest perfbench/tests -q                 # + smoke runs (minutes)
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
sys.path.insert(0, str(ROOT))

import inputs  # noqa: E402
import spans  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_same_seed_same_inputs():
    a = inputs.crawl_inputs(5, 300, 8, 500, 0.9)
    b = inputs.crawl_inputs(5, 300, 8, 500, 0.9)
    assert inputs.digest(a) == inputs.digest(b)
    assert inputs.digest(inputs.page_batch(5, 6)) == inputs.digest(inputs.page_batch(5, 6))
    assert inputs.digest(inputs.documents(5, 80)) == inputs.digest(inputs.documents(5, 80))
    assert inputs.digest(inputs.embeddings(5, 40)) == inputs.digest(inputs.embeddings(5, 40))
    assert inputs.digest(a) != inputs.digest(inputs.crawl_inputs(6, 300, 8, 500, 0.9))


def test_checkpoint_holds_no_disallowed_url():
    data = inputs.crawl_inputs(3, 500, 8, 10, 0.9)
    rules = {h: d for h, d, _, _ in data["robots"]}
    assert any(rules.values())
    for url in data["checkpoint"]:
        host, path = url.split("/")[2], "/" + url.split("/", 3)[3]
        assert not any(path.startswith(p) for p in rules[host])


def _span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "parent": parent, "start": start, "end": end}


def test_self_time_nets_out_overlapping_children():
    recs = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, 1),
        _span(3, 3.0, 5.0, 1),   # overlaps span 2: union 1..5
        _span(4, 9.0, 12.0, 1),  # clipped to the parent: 9..10
        _span(5, 2.0, 3.0, 2),
    ]
    st = spans.self_times(recs)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(2.0)
    assert st[5] == pytest.approx(1.0)


def test_tracer_parents_worker_thread_spans_to_the_open_span():
    import threading

    t = spans.Tracer("r", enabled=True)
    got = []

    def worker():
        with t.span("inner") as rec:
            got.append(rec)

    with t.span("outer") as outer:
        th = threading.Thread(target=worker)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
        with t.span("child") as child:
            pass
    assert got[0]["parent"] == outer["id"]
    assert child["parent"] == outer["id"]
    assert {s["name"] for s in t.spans} == {"outer", "inner", "child"}
    off = spans.Tracer("r", enabled=False)
    with off.span("x") as rec:
        assert rec is None
    assert off.spans == []


def test_parse_epoch_trace():
    line = (
        "EPOCH_TRACE epoch=3 n_sched=40 read_state=0.21s bloom_exact=1.26s "
        "sibling[frontier=2.15 images=3.95]=0.00s sibling_writes=4.72s commit=0.05s"
    )
    assert spans.parse_epoch_trace(line) == [
        ("read_state", 0.21), ("bloom_exact", 1.26), ("sibling_writes", 4.72), ("commit", 0.05)
    ]
    assert spans.parse_epoch_trace("something else") == []


def test_benchmark_json_names_and_units():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    assert {"setup_s"} <= {m["name"] for m in spec["end_to_end"]}
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_refuses_a_directory_without_the_engine(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in BENCH.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["recrawl_resume", "corpus_build"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_size_runs(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
