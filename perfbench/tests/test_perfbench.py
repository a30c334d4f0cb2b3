"""Tests of the benchmark itself: seeded generators, metric names, and the
correctness check.  They start Spark, so they take a few minutes:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from gen_crm import CrmGenerator, CrmSpec  # noqa: E402
from gen_docs import DocSpec, DocStream  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def _crm(root: str, seed: int):
    gen = CrmGenerator(root, seed, CrmSpec(contacts=300))
    days = [gen.next_day() for _ in range(3)]
    return _tree(root), [d.truth for d in days], gen.owner_counts(), gen.deals_by_company()


def test_crm_generator_is_deterministic(tmp_path):
    a = _crm(str(tmp_path / "a"), 7)
    assert a == _crm(str(tmp_path / "b"), 7)
    assert a[0] != _crm(str(tmp_path / "c"), 8)[0]


def test_crm_truth_follows_the_change_mix(tmp_path):
    gen = CrmGenerator(str(tmp_path), 3, CrmSpec(contacts=1000))
    day0, day1 = gen.next_day(), gen.next_day()
    assert day0.truth["node_changes"]["HUBSPOT_Contact"] == {"new": 1000}
    contacts = day1.truth["node_changes"]["HUBSPOT_Contact"]
    assert contacts == {"deleted": 10, "updated": 50, "new": 20}
    assert day1.truth["stats"]["HUBSPOT_Contact"] == {"live": 1010, "deleted": 10}
    assert set(day1.truth["edge_changes"]) == {"added", "removed"}


def test_doc_stream_is_deterministic():
    def batches(seed):
        s = DocStream(seed, DocSpec(batch_docs=60))
        return [(b.docs, b.duplicates, b.deletes) for b in (s.next_batch() for _ in range(4))]

    assert batches(5) == batches(5)
    assert batches(5) != batches(6)


def test_doc_stream_truth():
    s = DocStream(1, DocSpec(batch_docs=200))
    seen: set[str] = set()
    for _ in range(3):
        b = s.next_batch()
        dups = set()
        for i, t in b.docs:
            if t in seen:
                dups.add(i)
            seen.add(t)
        assert b.duplicates == dups
        assert bool(b.deletes) == (b.index % 2 == 1)  # delete_every=2
        seen -= {t for _, t in b.deletes}
    live = {i for i, _ in s.survivors()}
    assert not live & {i for b in s.batches for i, _ in b.deletes}


def _bench_names() -> tuple[set[str], set[str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["end_to_end"]}, {m["name"] for m in spec["per_layer"]}


def _run(workload: str, trace: int) -> tuple[int, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    return proc.returncode, json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["crm", "dedup_stream"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_exactly_the_benchmark_metrics(workload, trace):
    code, result = _run(workload, trace)
    assert code == 0 and result["correct"] and result["failed"] == 0
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["metrics"].keys() == _bench_names()[trace]
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["unit"]


def test_span_counts_each_job_once_across_reset(tmp_path):
    import run
    from spans import Recorder

    spark = run._start_session(str(tmp_path))
    try:
        rec = Recorder(spark, True, 1)
        df = spark.range(100)
        with rec.span("count"):
            df.count()
        first = rec.spans[0].jobs
        rec.reset()
        with rec.span("count"):
            df.count()
        assert first >= 1
        assert [s.jobs for s in rec.spans] == [first]
    finally:
        run._stop_session(spark)


def test_corrupted_expected_count_fails(monkeypatch, capsys):
    import run

    real = CrmGenerator._truth

    def corrupted(self):
        truth = real(self)
        truth["stats"]["HUBSPOT_Deal"]["live"] += 1
        return truth

    monkeypatch.setattr(CrmGenerator, "_truth", corrupted)
    code = run.main(["--workload", "crm", "--seed", "3", "--seconds", "1",
                     "--scale", "0.1"])
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 1 and result["correct"] is False and result["failed"] == 0


def test_clock_counts_cpu_of_child_processes():
    from clock import Clock

    with Clock() as c:
        subprocess.run(
            [sys.executable, "-c",
             "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"],
            check=True,
        )
    assert c.cpu >= 0.25 and c.wall >= 0.25
